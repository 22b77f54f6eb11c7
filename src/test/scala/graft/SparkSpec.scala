package graft

import graft.engine._
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted,
  SparkListenerTaskEnd, StageInfo}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Date
import scala.jdk.CollectionConverters._

/** Shared local SparkSession for DataFrame-level specs. */
object TestSpark {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", tempDir("graft_wh"))
    .getOrCreate()

  private val tempDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]
  sys.addShutdownHook(tempDirs.forEach(d =>
    org.apache.commons.io.FileUtils.deleteQuietly(d)))

  /** A new empty directory under `java.io.tmpdir`, deleted with
    * everything in it when the test JVM exits.
    */
  def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs.add(dir)
    dir.toString
  }

  /** What the Spark work of one block did: its completed stages and
    * the input bytes its tasks read.
    */
  final case class Observed(stages: Seq[StageInfo], bytesRead: Long)

  /** Runs `f` with a listener attached and returns its result with
    * the stages and input bytes of the jobs it ran. The listener bus
    * is drained on both sides, so earlier events stay out and every
    * event of `f` is in.
    */
  def observe[A](f: => A): (A, Observed) = {
    val sc = spark.sparkContext
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.add(e.stageInfo)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = f
      TestListenerBus.drain(sc)
      (out, Observed(stages.asScala.toSeq, bytes.get))
    } finally sc.removeSparkListener(listener)
  }
}

/** DataFrame-level semantic pins (SURVEY §5.1): W-SUN bucketing incl.
  * intraday Sunday, densify zeros, winsorize, bround ties, parse
  * fallback.
  */
class SparkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def salesDf(rows: (String, String, String, Double)*): DataFrame =
    rows.toSeq
      .map { case (sku, store, ts, u) =>
        (sku, store, java.sql.Timestamp.valueOf(ts), u)
      }
      .toDF("sku", "store", "ts", "units")

  test("W-SUN bucketing: Mon..Sun label to the ending Sunday, incl. intraday Sunday") {
    val df = salesDf(
      ("a", "x", "2024-01-01 09:00:00", 1.0), // Mon -> Sun 2024-01-07
      ("a", "x", "2024-01-07 00:00:00", 2.0), // Sun midnight -> same Sun
      ("a", "x", "2024-01-07 10:30:00", 4.0), // intraday Sun -> same Sun
      ("a", "x", "2024-01-08 00:00:00", 8.0)) // next Mon -> Sun 01-14
    val wk = Resample.weeklySparse(df, Seq("sku", "store"), "ts", "units")
      .orderBy("week").collect()
    assert(wk.length === 2)
    assert(wk(0).getAs[Date]("week") === Date.valueOf("2024-01-07"))
    assert(wk(0).getAs[Double]("units") === 7.0)
    assert(wk(1).getAs[Date]("week") === Date.valueOf("2024-01-14"))
    assert(wk(1).getAs[Double]("units") === 8.0)
  }

  test("densify materializes explicit zero weeks between min and max") {
    val df = salesDf(
      ("a", "x", "2024-01-01 00:00:00", 5.0), // week 01-07
      ("a", "x", "2024-01-24 00:00:00", 3.0)) // week 01-28
    val dense = Resample.weeklyDense(df, Seq("sku", "store"), "ts", "units")
      .orderBy("week").collect()
    assert(dense.map(_.getAs[Double]("units")).toSeq
      === Seq(5.0, 0.0, 0.0, 3.0))
  }

  test("dailyDense fills missing days with zeros (pandas resample('D'))") {
    val df = salesDf(
      ("a", "x", "2024-01-01 09:00:00", 3.0),
      ("a", "x", "2024-01-04 01:00:00", 5.0))
    val d = Resample.dailyDense(df, Seq("sku"), "ts", "units")
      .orderBy("day").collect().map(_.getAs[Double]("units"))
    assert(d.toSeq === Seq(3.0, 0.0, 0.0, 5.0))
  }

  test("weeklySparse drops null timestamps (pandas NaT-drop)") {
    val df = salesDf(("a", "x", "2024-01-01 00:00:00", 5.0))
      .union(Seq(("a", "x", null.asInstanceOf[java.sql.Timestamp], 9.0))
        .toDF("sku", "store", "ts", "units"))
    val wk = Resample.weeklyDense(df, Seq("sku", "store"), "ts", "units")
      .collect()
    assert(wk.length === 1 && wk(0).getAs[Double]("units") === 5.0)
  }

  test("eligible gate counts densified zero weeks") {
    // 2 sale weeks spanning 13 -> densified 13 bins >= 12 passes
    val pass = salesDf(
      ("a", "x", "2024-01-01 00:00:00", 6.0),
      ("a", "x", "2024-03-25 00:00:00", 6.0))
    val weekly = Resample.weeklyDense(pass, Seq("sku", "store"), "ts", "units")
    assert(Series.eligible(weekly, Seq("sku", "store")).count() === 13)
    // same total in 11 bins -> rejected
    val fail = salesDf(
      ("a", "x", "2024-01-01 00:00:00", 6.0),
      ("a", "x", "2024-03-11 00:00:00", 6.0))
    val weekly2 = Resample.weeklyDense(fail, Seq("sku", "store"), "ts", "units")
    assert(Series.eligible(weekly2, Seq("sku", "store")).count() === 0)
  }

  test("winsorize raises zeros to q01 of positives when > 5 positive weeks") {
    val units = Seq(10.0, 0.0, 12.0, 11.0, 0.0, 13.0, 10.0, 12.0, 9.0)
    val df = units.zipWithIndex.map { case (u, i) => ("a", "x", i, u) }
      .toDF("sku", "store", "wk", "units")
    val w = Series.winsorize(df, Seq("sku", "store"))
      .orderBy("wk").collect().map(_.getAs[Double]("units"))
    val pos = units.filter(_ > 0).sorted.toArray
    val q01 = graft.engine.forecast.Kernel.quantile(pos, 0.01)
    // Spark percentile may differ from the kernel formula in the last
    // ulp — tolerance, not equality (outputs are rounded to 6 dp
    // before any exact compare)
    assert(math.abs(w(1) - q01) < 1e-9 && math.abs(w(4) - q01) < 1e-9)
    assert(w(0) === 10.0)
  }

  test("bround ties: 2.5 -> 2, 3.5 -> 4 via Clean.roundToInt") {
    val df = Seq(2.5, 3.5, -1.0).toDF("x")
      .select(Clean.roundToInt(col("x")).as("r"))
    assert(df.collect().map(_.getInt(0)).toSeq === Seq(2, 4, 0))
  }

  test("parseDoubleArray: bracketed form parses; malformed -> empty array") {
    val df = Seq("[1.0, 2.5]", "[1.0,2.5]", "garbage", "[]", null)
      .toDF("s")
      .select(Clean.parseDoubleArray(col("s")).as("a"),
        Clean.arrayTotal(Clean.parseDoubleArray(col("s"))).as("tot"))
    val rows = df.collect()
    assert(rows(0).getSeq[Double](0) === Seq(1.0, 2.5))
    assert(rows(1).getSeq[Double](0) === Seq(1.0, 2.5))
    assert(rows(2).getSeq[Double](0) === Seq())
    assert(rows(2).getDouble(1) === 0.0)
    assert(rows(3).getSeq[Double](0) === Seq())
    assert(rows(4).getSeq[Double](0) === Seq())
  }

  test("expandStruct star-expands computed fields without positional concat") {
    val df = Seq(("[1.0, 2.0]", "x")).toDF("fc", "k")
    val parsed = Clean.parseDoubleArray(col("fc"))
    val out = Clean.expandStruct(df,
      struct(Clean.arrayTotal(parsed).as("total"),
        Clean.arrayWeeks(parsed).as("weeks")), "__s")
    assert(out.columns.toSeq === Seq("fc", "k", "total", "weeks"))
    val r = out.collect()(0)
    assert(r.getAs[Double]("total") === 3.0)
    assert(r.getAs[Int]("weeks") === 2)
  }

  test("stddev_pop vs stddev: engine uses population form") {
    val df = Seq(2.0, 4.0).toDF("x")
    val r = df.agg(stddev_pop(col("x")).as("p"), stddev(col("x")).as("s"))
      .collect()(0)
    assert(r.getDouble(0) === 1.0) // ddof=0, the numpy default
    assert(math.abs(r.getDouble(1) - math.sqrt(2.0)) < 1e-12)
  }

  test("readVentasCsv: explicit schema + timestamp parse (A1)") {
    val dir = TestSpark.tempDir("ventas")
    val csv = new java.io.PrintWriter(s"$dir/ventas.csv")
    csv.println("InvoiceNo,StockCode,Description,Quantity,InvoiceDate,UnitPrice,CustomerID,Country")
    csv.println("536365,85123A,HOLDER,6,2010-12-01 08:26:00,2.55,17850,United Kingdom")
    csv.println("536366,71053,LANTERN,-2,2010-12-01 08:28:00,3.39,,France")
    csv.close()
    val df = Ingest.readVentasCsv(spark, s"$dir/ventas.csv")
    assert(df.schema("Quantity").dataType.typeName === "long")
    assert(df.schema("InvoiceDate").dataType.typeName === "timestamp")
    val rows = df.orderBy("InvoiceNo").collect()
    assert(rows(0).getAs[java.sql.Timestamp]("InvoiceDate")
      === java.sql.Timestamp.valueOf("2010-12-01 08:26:00"))
    assert(rows(1).getAs[Long]("Quantity") === -2L)
    assert(rows(1).getAs[String]("CustomerID") === null)
  }

  test("lastByTime (max_by) picks the latest row's value per group (D11)") {
    val df = salesDf(
      ("a", "x", "2024-01-01 00:00:00", 5.0),
      ("a", "x", "2024-02-01 00:00:00", 9.0),
      ("b", "x", "2024-01-15 00:00:00", 2.0))
    val r = df.groupBy("sku")
      .agg(Series.lastByTime("units", "ts").as("last_units"))
      .orderBy("sku").collect()
    assert(r.map(_.getDouble(1)).toSeq === Seq(9.0, 2.0))
  }

  test("tableIfExists: Some for a real table, None for a missing path (A2 precheck)") {
    assert(Ingest.tableIfExists(spark,
      "/root/testdata/sf0.001/lineitem.parquet").isDefined)
    assert(Ingest.tableIfExists(spark, "/tmp/definitely/not/here.parquet")
      .isEmpty)
  }

  test("csv roundtrip keeps pandas-style '[a, b]' array format") {
    val dir = TestSpark.tempDir("csvrt")
    val df = Seq(("k1", Seq(1.0, 2.5))).toDF("k", "fc")
    Ingest.writeCsvCompat(df, s"$dir/out")
    val back = spark.read.option("header", "true").csv(s"$dir/out")
      .select(col("k"), col("fc"),
        Clean.parseDoubleArray(col("fc")).as("parsed"))
      .collect()(0)
    assert(back.getString(1) === "[1.0, 2.5]")
    assert(back.getSeq[Double](2) === Seq(1.0, 2.5))
  }
}
