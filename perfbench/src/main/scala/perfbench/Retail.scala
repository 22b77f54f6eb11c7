package perfbench

import graft.ForecastJob
import graft.engine.{Clean, Ingest, Inventory, PipelineConfig, Resample, Schemas}
import graft.engine.forecast.{Kernel, Models}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.io.File
import scala.collection.mutable

/** The retail workload: a seeded `ventas` CSV run through the
  * PRACTICA3 job (`ForecastJob.run`, which writes the results CSV and
  * renders the in-process report) and then the generador job (re-read
  * the results CSV, `ForecastJob.report`).
  */
object Retail {

  val workload = "retail_long_history"

  /** Intermittent long-tail demand: 30 one-row sale weeks spread over
    * 150-260 weeks, so ~85% of densified weeks are gap zeros and every
    * series takes the seasonal Holt-Winters path.
    */
  val shape = VentasGen.Shape(series = 1000, minSpan = 150, maxSpan = 260,
    saleWeeks = 30, returnFrac = 0.02)

  private val cfg = PipelineConfig()
  private val sectionMark = "Análisis Detallado de SKU"

  final case class Input(csv: String, bytes: Long, rows: Long)

  def generate(work: File, seed: Long, parts: Int): Input = {
    val dir = new File(work, "ventas")
    if (dir.exists()) dir.listFiles().foreach(_.delete())
    val rows = VentasGen.write(dir, shape, seed, parts)
    Input(dir.getPath, dir.listFiles().map(_.length).sum, rows)
  }

  /** Times one run of the nightly chain. Returns the wall time of the
    * PRACTICA3 job, of the generador job, and both report texts.
    */
  final case class Iter(pipelineS: Double, reportS: Double,
      runText: String, reportText: String) {
    def totalS: Double = pipelineS + reportS
  }

  def iteration(spark: SparkSession, in: Input, results: String): Iter = {
    val t0 = System.nanoTime()
    val (_, runText) = ForecastJob.run(spark, in.csv, Some(results))
    val t1 = System.nanoTime()
    val reportText = reportJob(spark, results)
    val t2 = System.nanoTime()
    Iter((t1 - t0) / 1e9, (t2 - t1) / 1e9, runText, reportText)
  }

  /** The generador job: results CSV → report text. */
  def reportJob(spark: SparkSession, results: String): String =
    ForecastJob.report(readResults(spark, results))

  private def readResults(spark: SparkSession, results: String): DataFrame =
    spark.read.schema(Schemas.forecastResults).option("header", "true")
      .csv(results)

  /** Independent count of the series the forecast gates keep: W-SUN
    * weeks from a Monday week-truncation, span ≥ minWeeks and total
    * units ≥ minTotalSales after dropping returns.
    */
  def expectedSeries(spark: SparkSession, in: Input): Long = {
    Ingest.readVentasCsv(spark, in.csv).createOrReplaceTempView("bench_ventas")
    spark.sql(
      s"""SELECT count(*) FROM (
         |  SELECT datediff(max(wk), min(wk)) DIV 7 + 1 AS span,
         |         sum(Quantity) AS units
         |  FROM (SELECT StockCode, Country, Quantity,
         |               date_add(to_date(date_trunc('WEEK', InvoiceDate)), 6) AS wk
         |        FROM bench_ventas
         |        WHERE Quantity >= 0 AND StockCode IS NOT NULL
         |          AND Country IS NOT NULL AND InvoiceDate IS NOT NULL)
         |  GROUP BY StockCode, Country)
         |WHERE span >= ${cfg.minWeeks} AND units >= ${cfg.minTotalSales}
         |""".stripMargin).head().getLong(0)
  }

  /** Output checks of one iteration. Returns the canonical results
    * hash (Runtime_sec excluded) and the list of failed checks.
    */
  def check(spark: SparkSession, results: String, it: Iter,
      expected: Long): (String, Seq[String]) = {
    val rows = readResults(spark, results).drop("Runtime_sec").collect()
    val fails = mutable.ArrayBuffer.empty[String]
    if (rows.length != expected)
      fails += s"rows ${rows.length} != gate count $expected"
    val bad = rows.count { r =>
      val fc = Option(r.getAs[String]("Forecast")).map(parseArray)
        .getOrElse(Array.empty[Double])
      val ss = r.getAs[Int]("Safety_Stock")
      val rop = r.getAs[Int]("Reorder_Point")
      val qty = r.getAs[Int]("Qty_to_Order")
      !(fc.length == cfg.horizonWeeks && fc.forall(_ >= 0) &&
        r.getAs[Double]("MAPE") >= 0 && rop >= ss && qty <= rop)
    }
    if (bad > 0) fails += s"$bad rows break the kernel invariants"
    val shown = math.min(rows.length, 1000)
    for ((name, text) <- Seq("run" -> it.runText, "report" -> it.reportText)) {
      val n = sectionMark.r.findAllMatchIn(text).size
      if (n != shown) fails += s"$name report has $n sections, want $shown"
    }
    val hash = Stats.sha256(rows.map(_.toSeq.map(String.valueOf).mkString("|"))
      .toSeq.sorted)
    (hash, fails.toSeq)
  }

  private def parseArray(s: String): Array[Double] =
    s.stripPrefix("[").stripSuffix("]").split(",").map(_.trim)
      .filter(_.nonEmpty).map(_.toDouble)

  // ---- traced run ----

  /** The plan prefixes `ForecastJob.forecast` composes, one per layer
    * boundary: the scan with the columns the job reads, then the
    * cleaned sales rows that enter the kernel.
    */
  private def prefixes(spark: SparkSession, csv: String): (DataFrame, DataFrame) = {
    val renamed = Ingest.rename(Ingest.readVentasCsv(spark, csv),
      Ingest.ventasRenames)
    val ingest = renamed.select(
      col("Product_ID").as("sku"), col("Store_ID").as("store"),
      col("InvoiceDate").as("ts"), col("Units_Sold").cast("double").as("units"))
    val sales = Clean.nonNegative(
      ingest.filter(col("sku").isNotNull && col("store").isNotNull), "units")
    (ingest, sales)
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Per-layer metrics from spans around each layer's public function,
    * plus driver-side micro-timings of the per-series functions. The
    * window repeats rounds of every span, each round followed by an
    * untraced run of the chain for the tracing overhead; span times
    * are medians over the rounds.
    */
  def traced(spark: SparkSession, in: Input, work: File, seed: Long,
      cores: Int, seconds: Double, m: mutable.LinkedHashMap[String, Double])
      : (Int, Seq[String]) = {
    val results = new File(work, "results").getPath
    val sinkOut = new File(work, "results_sink").getPath
    val expected = expectedSeries(spark, in)
    val fails = mutable.ArrayBuffer.empty[String]
    val off = mutable.ArrayBuffer.empty[Iter]
    def untraced(): Unit = {
      off += iteration(spark, in, results)
      fails ++= check(spark, results, off.last, expected)._2
    }
    untraced() // warm-up, before the listener is attached

    val tracer = new Tracer(spark.sparkContext)
    val (ingestDf, sales) = prefixes(spark, in.csv)
    val weekly = Resample.weeklySparse(sales, Seq("sku", "store"), "ts", "units")
    val layers: Seq[(String, String, () => Any)] = Seq(
      ("ingest", "job", () => noop(ingestDf)),
      ("clean", "job", () => noop(sales)),
      ("resample", "job", () => noop(weekly)),
      ("kernel", "job", () => noop(Kernel.run(sales, cfg).toDF())),
      ("forecast_frame", "job", () =>
        noop(ForecastJob.forecast(spark, in.csv, None, cfg))),
      ("sink", "job", () => ForecastJob.forecast(spark, in.csv, Some(sinkOut), cfg)),
      ("report", "", () => reportJob(spark, sinkOut)),
      ("job", "", () => ForecastJob.run(spark, in.csv, Some(results), cfg)))
    val rounds = mutable.ArrayBuffer.empty[Map[String, Span]]
    val t0 = System.nanoTime()
    do {
      rounds += layers.map { case (name, parent, f) =>
        name -> tracer.span(name, parent)(f())._2 }.toMap
      tracer.pause()
      untraced()
      tracer.resume()
    } while ((System.nanoTime() - t0) / 1e9 < seconds)
    tracer.pause()

    def wall(name: String): Double = Stats.median(rounds.map(_(name).wallS).toSeq)
    def self(name: String, prefix: String): Double =
      Stats.median(rounds.map(r => r(name).wallS - r(prefix).wallS).toSeq)
    val last = rounds.last
    val ingest = last("ingest").usage
    val resample = last("resample").usage
    val kernel = last("kernel").usage
    val report = last("report")
    val job = last("job")

    // counts, outside every span
    val rawRows = Ingest.readVentasCsv(spark, in.csv).count().toDouble
    val salesRows = sales.count().toDouble
    val perKey = weekly.groupBy("sku", "store")
      .agg((datediff(max("week"), min("week")) / 7 + 1).cast("long").as("cells"))
      .agg(count(lit(1)), sum("cells")).head()
    val seriesIn = perKey.getLong(0).toDouble
    val seriesOut = readResults(spark, results).count().toDouble

    m("ingest.self_s") = wall("ingest")
    m("ingest.rows_in") = ingest.recordsRead.toDouble
    m("ingest.bytes_read") = ingest.bytesRead.toDouble
    m("ingest.tasks") = ingest.tasks.size
    m("ingest.scan_passes") = Stats.ratio(job.usage.bytesRead, in.bytes)
    m("clean.self_s") = self("clean", "ingest")
    m("clean.kept_ratio") = Stats.ratio(salesRows, rawRows)
    m("resample.self_s") = self("resample", "clean")
    m("resample.rows_out") = weekly.count().toDouble
    m("resample.combine_ratio") = Stats.ratio(resample.shuffleWriteRecords, salesRows)
    m("resample.shuffle_write_bytes") = resample.shuffleWriteBytes.toDouble
    m("resample.task_skew") = Usage.skew(resample.heaviestStage)
    m("kernel.self_s") = self("kernel", "resample")
    m("kernel.series_in") = seriesIn
    m("kernel.series_out") = seriesOut
    m("kernel.gate_pass_ratio") = Stats.ratio(seriesOut, seriesIn)
    m("kernel.dense_cells") = perKey.getLong(1).toDouble
    m("kernel.collapse_shuffle_bytes") =
      (kernel.shuffleWriteBytes - resample.shuffleWriteBytes).toDouble
    m("kernel.executor_cpu_s") = kernel.cpuS - resample.cpuS
    m("kernel.gc_s") = kernel.gcS
    // the kernel's own work is the flatMap in the span's last stage
    m("kernel.task_skew") = Usage.skew(kernel.lastStage)
    m("kernel.stage_tasks") = kernel.lastStage.size
    m("sink.self_s") = self("sink", "forecast_frame")
    m("sink.bytes_written") = last("sink").usage.outputBytes.toDouble
    m("sink.files") = Option(new File(sinkOut).listFiles()).getOrElse(Array.empty)
      .count(_.getName.startsWith("part-"))
    m("report.self_s") = wall("report")
    m("report.rows_collected") =
      sectionMark.r.findAllMatchIn(off.last.reportText).size.toDouble
    m("report.driver_s") = report.usage.driverGapS(report.startMs, report.endMs)
    jobMetrics(m, "job", job, cores)
    m("job.wall_s") = wall("job")
    m("pipeline_s") = Stats.median(off.map(_.pipelineS).toSeq)
    m("report_s") = Stats.median(off.map(_.reportS).toSeq)
    // traced job spans against the untraced runs that follow them
    m("trace.overhead_frac") = Stats.ratio(wall("job"),
      Stats.median(off.drop(1).map(_.pipelineS).toSeq)) - 1.0

    micro(spark, sales, seed, seriesIn, m)
    tracer.write(new File(work, s"trace-seed$seed.json"))
    (off.size, fails.toSeq)
  }

  def jobMetrics(m: mutable.Map[String, Double], prefix: String, s: Span,
      cores: Int): Unit = {
    val u = s.usage
    m(s"$prefix.spark_jobs") = u.jobs
    m(s"$prefix.stages") = u.stages.size
    m(s"$prefix.tasks") = u.tasks.size
    m(s"$prefix.executor_cpu_s") = u.cpuS
    m(s"$prefix.cpu_util") = Stats.ratio(u.cpuS, s.wallS * cores)
    m(s"$prefix.gc_s") = u.gcS
    m(s"$prefix.shuffle_write_bytes") = u.shuffleWriteBytes.toDouble
    m(s"$prefix.spill_bytes") = u.spillBytes.toDouble
    m(s"$prefix.peak_exec_mem_mb") = u.peakExecMemMb
    m(s"$prefix.driver_gap_s") = u.driverGapS(s.startMs, s.endMs)
    m(s"$prefix.wall_s") = s.wallS
  }

  /** Driver-side micro-timings on one thread over a seeded sample of
    * about 2,000 of the workload's own series, collapsed the way
    * `Kernel.run` collapses them. Model timings use the unwinsorized
    * training slice, which has the same length as the kernel's.
    */
  private def micro(spark: SparkSession, sales: DataFrame, seed: Long,
      seriesIn: Double, m: mutable.Map[String, Double]): Unit = {
    import spark.implicits._
    val sample = Resample.weeklySparse(sales, Seq("sku", "store"), "ts", "units")
      .groupBy($"sku", $"store")
      .agg(sort_array(collect_list(struct($"week", $"units"))).as("entries"))
      .orderBy(xxhash64($"sku", $"store", lit(seed)))
      .limit(2000)
      .as[Kernel.SeriesRow].collect()
    val h = cfg.horizonWeeks
    val names = Seq("densify", "process", "hw", "ts", "ma", "ensemble", "inventory")
    val samples = names.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
    var modelNs = 0L
    def timed[A](name: String, record: Boolean)(f: => A): A = {
      val t0 = System.nanoTime()
      val out = f
      val ns = System.nanoTime() - t0
      if (record) samples(name) += ns / 1e3
      if (record && name != "densify" && name != "process" &&
        name != "inventory") modelNs += ns
      out
    }
    for (record <- Seq(false, true); row <- sample) {
      val dense = timed("densify", record)(Kernel.densify(row.entries, cfg.maxSpanWeeks))
      timed("process", record)(Kernel.processSeries(row.sku, row.store, dense, cfg))
      if (dense.length >= cfg.minWeeks && dense.sum >= cfg.minTotalSales) {
        val train = dense.dropRight(h)
        val ts = timed("ts", record)(Models.trendSeasonal(train, h, minTrain = cfg.minWeeks))
        val hw = timed("hw", record)(Models.holtWinters(train, h))
        val ma = timed("ma", record)(Models.movingAverage(train, h))
        val fc = timed("ensemble", record)(Models.ensemble(ts.toSeq ++ hw.toSeq :+ ma, train, h))
        blackhole += timed("inventory", record)(Inventory.compute(train, fc, cfg)).qty
      }
    }
    def p(name: String, q: Double) = Stats.quantile(samples(name).toSeq, q)
    m("kernel.micro_samples") = sample.length
    m("kernel.densify_us_p50") = p("densify", 0.5)
    m("kernel.process_series_us_p50") = p("process", 0.5)
    m("kernel.process_series_us_p99") = p("process", 0.99)
    m("models.micro_samples") = samples("hw").size
    m("models.hw_us_p50") = p("hw", 0.5)
    m("models.hw_us_p99") = p("hw", 0.99)
    m("models.ts_us_p50") = p("ts", 0.5)
    m("models.ts_us_p99") = p("ts", 0.99)
    m("models.ma_us_p50") = p("ma", 0.5)
    m("models.ensemble_us_p50") = p("ensemble", 0.5)
    // model fit CPU time of one kernel pass, extrapolated from the
    // sample to every series
    m("models.est_cpu_s") =
      Stats.ratio(modelNs / 1e9 * seriesIn, sample.length.toDouble)
    m("inventory.compute_us_p50") = p("inventory", 0.5)
  }

  /** Keeps timed results observable so the JIT cannot drop the calls. */
  @volatile private var blackhole = 0.0
}
