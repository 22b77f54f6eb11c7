package perfbench

import org.apache.spark.sql.SparkSession
import java.io.File
import scala.collection.mutable

/** Benchmark process for one run of one workload.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --data DIR
  *
  * One driver thread runs the workload closed-loop on `local[nproc]`.
  * The last stdout line is `PERFBENCH_RESULT {...}` holding the raw
  * metric values and the check counts; `run.py` turns it into the
  * result line.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = new File(opt("work"))
    work.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors
    val run = new Run
    if (workload == Retail.workload)
      retail(run, seed, seconds, trace, work, cores)
    else if (workload == "registry_fitloops")
      registry(run, opt("data"), seed, seconds, trace, work, cores)
    else {
      System.err.println(s"unknown workload $workload")
      sys.exit(2)
    }
    run.metrics("failed_frac") = Stats.ratio(run.failed, run.attempted)
    val fields = run.metrics.map { case (k, v) => k -> Json.num(v) }
    println("PERFBENCH_RESULT " + Json.obj(Seq(
      "attempted" -> run.attempted.toString,
      "failed" -> run.failed.toString,
      "metrics" -> Json.obj(fields.toSeq))))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** Counts and metrics of one run. */
  final class Run {
    var attempted = 0
    var failed = 0
    val metrics = mutable.LinkedHashMap.empty[String, Double]

    /** Runs one checked unit of work; any exception or failed check
      * counts it as failed.
      */
    def attempt[A](what: String)(body: => (A, Seq[String])): Option[A] = {
      attempted += 1
      try {
        val (out, fails) = body
        if (fails.nonEmpty) {
          failed += 1
          System.err.println(s"[perfbench] $what failed: ${fails.mkString("; ")}")
        }
        Some(out)
      } catch { case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] $what raised: $e")
        None
      }
    }
  }

  def session(cores: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def retail(run: Run, seed: Long, seconds: Double, trace: Boolean,
      work: File, cores: Int): Unit = {
    val in = Retail.generate(work, seed, cores)
    System.err.println(s"[perfbench] ${Retail.workload} seed $seed: ${in.rows} rows, " +
      s"${in.bytes} bytes in $cores parts")
    val results = new File(work, "results").getPath
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val cold = run.attempt("cold iteration")(
      (Retail.iteration(spark, in, results), Nil))
    val setupS = since(t0)
    val expected = Retail.expectedSeries(spark, in)
    val pinned = Pins.retail.get(seed)
    var firstHash: Option[String] = None
    def checked(it: Retail.Iter): Seq[String] = {
      val (hash, fails) = Retail.check(spark, results, it, expected)
      System.err.println(f"[perfbench] pipeline ${it.pipelineS}%.3f s, " +
        f"report ${it.reportS}%.3f s, results $hash")
      if (firstHash.isEmpty) firstHash = Some(hash)
      fails ++ firstHash.filter(_ != hash).map(h =>
        s"results hash $hash differs from the first iteration's $h") ++
        pinned.filter(_ != hash).map(p => s"results hash $hash != pinned $p")
    }
    cold.foreach(it => if (checked(it).nonEmpty) run.failed += 1)

    if (trace) {
      val (n, fails) = Retail.traced(spark, in, work, seed, cores, seconds,
        run.metrics)
      run.attempted += n
      if (fails.nonEmpty) {
        run.failed += 1
        System.err.println(s"[perfbench] traced run failed: ${fails.mkString("; ")}")
      }
    } else {
      // untimed warm-up iterations while the JIT settles, then the
      // measured window
      for (_ <- 1 to 2)
        run.attempt("warm-up")(((), checked(Retail.iteration(spark, in, results))))
      val warm = mutable.ArrayBuffer.empty[Retail.Iter]
      val w0 = System.nanoTime()
      do run.attempt("iteration") {
        val it = Retail.iteration(spark, in, results)
        warm += it
        ((), checked(it))
      } while (since(w0) < seconds)
      run.metrics("job_s") = Stats.median(warm.map(_.totalS).toSeq)
      run.metrics("setup_s") = setupS
      System.err.println(f"[perfbench] ${warm.size} warm iterations: " +
        f"pipeline_s ${Stats.median(warm.map(_.pipelineS).toSeq)}%.3f, " +
        f"report_s ${Stats.median(warm.map(_.reportS).toSeq)}%.3f, " +
        f"setup_s $setupS%.3f")
    }
  }

  def registry(run: Run, data: String, seed: Long, seconds: Double,
      trace: Boolean, work: File, cores: Int): Unit = {
    val order = Registry.order(seed)
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    // the cold pass collects every output and checks its hash
    order.foreach(q => run.attempt(q)(((), Registry.checked(spark, data, q).toSeq)))
    val setupS = since(t0)

    if (trace) Registry.traced(spark, data, work, seed, cores, seconds, run.metrics)
    else {
      val samples = order.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
      val w0 = System.nanoTime()
      var passes = 0
      do {
        order.foreach(q => run.attempt(q)(
          (samples(q) += Registry.timeQuery(spark, data, q), Nil)))
        passes += 1
      } while (since(w0) < seconds)
      val medians = order.map(q => q -> Stats.median(samples(q).toSeq))
      run.metrics("job_s") = medians.map(_._2).sum
      run.metrics("setup_s") = setupS
      System.err.println(s"[perfbench] $passes warm passes; " + medians.map {
        case (q, s) => f"$q $s%.3f" }.mkString(", ") + f"; setup_s $setupS%.3f")
    }
  }
}
