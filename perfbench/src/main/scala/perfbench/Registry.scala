package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}
import java.io.File
import scala.collection.mutable

/** The registry workload: fit-loop queries from `SparkEntry.queries`,
  * each materialised in full by a `noop` write as `graft.Bench` does.
  * Input is the committed copy of the `documents` and `embeddings`
  * tables under `data/`, written as several part files so no scan is a
  * single task.
  */
object Registry {

  /** Fit loops from four families: Bradley-Terry (Preference), k-means
    * (Similarity), unigram EM (TextAnalysis), and connected components
    * with its per-round pins (Dedup).
    */
  val queries: Seq[String] = Seq("bradley_terry", "ivf_kmeans",
    "unigram_em_vocab", "dedup_clusters")

  /** Canonical hash of a query's rows: columns in name order, cells
    * rendered to strings, rows sorted. For the pinned queries this is
    * the same value `compare.py --strict-hash` prints.
    */
  def canonicalHash(rows: Array[Row]): String = {
    def cell(x: Any): String = x match {
      case null => "<null>"
      case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
      case v => v.toString
    }
    val lines = rows.map { r =>
      val names = r.schema.fieldNames
      names.indices.sortBy(names(_)).map(i => cell(r.get(i))).mkString("|")
    }
    Stats.sha256(lines.toSeq.sorted)
  }

  /** Seeded permutation of the query set. */
  def order(seed: Long): Seq[String] =
    new scala.util.Random(seed).shuffle(queries)

  /** Runs one query, materialised by a noop write; returns wall seconds. */
  def timeQuery(spark: SparkSession, data: String, name: String): Double = {
    val t0 = System.nanoTime()
    SparkEntry.queries(name)(spark, data).write.format("noop")
      .mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Runs one query with its output collected, and checks the output's
    * canonical hash against the pinned one. Returns a failure message.
    */
  def checked(spark: SparkSession, data: String, name: String): Option[String] = {
    val got = canonicalHash(SparkEntry.queries(name)(spark, data).collect())
    val want = Pins.registry.getOrElse(name, "")
    if (got == want) None else Some(s"$name hash $got != pinned $want")
  }

  /** Traced run: every query of one pass in its own span, bracketed by
    * untraced passes for the tracing overhead.
    */
  def traced(spark: SparkSession, data: String, work: File, seed: Long,
      cores: Int, seconds: Double, m: mutable.LinkedHashMap[String, Double])
      : Unit = {
    val names = order(seed)
    val tracer = new Tracer(spark.sparkContext)
    def tracedPass(): Seq[Span] = names.map(n =>
      tracer.span(s"q.$n", "registry")(timeQuery(spark, data, n))._2)
    val on = mutable.ArrayBuffer(tracedPass())
    val offPasses = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    do {
      tracer.pause()
      offPasses += names.map(timeQuery(spark, data, _)).sum
      tracer.resume()
      on += tracedPass()
    } while ((System.nanoTime() - t0) / 1e9 < seconds)
    tracer.pause()

    val spans = on.head
    val wall = spans.map(_.wallS).sum
    val cpu = spans.map(_.usage.cpuS).sum
    m("registry.jobs") = spans.map(_.usage.jobs).sum
    m("registry.stages") = spans.map(_.usage.stages.size).sum
    m("registry.tasks") = spans.map(_.usage.tasks.size).sum
    m("registry.executor_cpu_s") = cpu
    m("registry.cpu_util") = Stats.ratio(cpu, wall * cores)
    m("registry.driver_gap_s") =
      spans.map(s => s.usage.driverGapS(s.startMs, s.endMs)).sum
    m("registry_s") = Stats.median(offPasses.toSeq)
    m("trace.overhead_frac") =
      Stats.ratio(Stats.median(on.map(_.map(_.wallS).sum).toSeq), m("registry_s")) - 1.0
    spans.zipWithIndex.foreach { case (s, i) =>
      m(s"${s.name}.wall_s") = Stats.median(on.map(_(i).wallS).toSeq)
      m(s"${s.name}.jobs") = s.usage.jobs
    }
    tracer.write(new File(work, s"trace-seed$seed.json"))
  }
}
