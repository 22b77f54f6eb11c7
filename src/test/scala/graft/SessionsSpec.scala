package graft

import graft.engine.Sessions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
// round-6: funnel + retention specs live here with the other
// event-analytics pins

/** Session-window semantics pins: exact-gap boundary, window bounds,
  * and streaming/batch parity of the SAME operator code.
  */
class SessionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("k", StringType),
    StructField("ts", TimestampType),
    StructField("v", DoubleType)))

  private def events(rows: (String, String, Double)*) =
    rows.toSeq
      .map { case (k, ts, v) => (k, java.sql.Timestamp.valueOf(ts), v) }
      .toDF("k", "ts", "v")

  test("exact-gap events merge; strictly-beyond starts a new session") {
    val df = events(
      ("u", "2024-01-01 00:00:00", 1.0),
      ("u", "2024-01-01 00:30:00", 2.0), // exactly the gap -> merges
      ("u", "2024-01-01 01:00:01", 4.0), // 30m01s -> new session
      ("w", "2024-01-01 00:00:00", 8.0))
    val out = Sessions.sessionAgg(df, Seq("k"), "ts", "v", "30 minutes")
      .orderBy("k", "s_start").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString,
        r.getTimestamp(2).toString, r.getLong(3), r.getDouble(4)))
    assert(out.toSeq === Seq(
      ("u", "2024-01-01 00:00:00.0", "2024-01-01 01:00:00.0", 2L, 3.0),
      ("u", "2024-01-01 01:00:01.0", "2024-01-01 01:30:01.0", 1L, 4.0),
      ("w", "2024-01-01 00:00:00.0", "2024-01-01 00:30:00.0", 1L, 8.0)))
  }

  test("streaming session_window equals batch once the watermark closes") {
    val dir = TestSpark.tempDir("sess_in")
    val ckpt = TestSpark.tempDir("sess_ck")
    events(("u", "2024-01-01 00:00:00", 1.0),
      ("u", "2024-01-01 00:10:00", 2.0))
      .write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(schema).parquet(dir)
      .withWatermark("ts", "1 hour")
    val q = Sessions.sessionAgg(stream, Seq("k"), "ts", "v", "30 minutes")
      .writeStream.format("memory").queryName("sess_out")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    // advance event time far enough that the watermark closes session 1
    events(("u", "2024-01-05 00:00:00", 4.0))
      .write.mode("append").parquet(dir)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sess_out")
      .select("k", "s_start", "s_end", "n_events", "total")
      .collect().map(r => (r.getString(0), r.getTimestamp(1).toString,
        r.getLong(3), r.getDouble(4))).toSet
    // the closed first session matches the batch result exactly
    val batch = Sessions.sessionAgg(
      spark.read.schema(schema).parquet(dir), Seq("k"), "ts", "v",
      "30 minutes").orderBy("s_start").collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString,
        r.getLong(3), r.getDouble(4)))
    assert(streamed.contains(batch(0)))
  }

  test("funnel: order matters — out-of-order stages do not count") {
    def ev(u: Long, t: String, ty: String) =
      (u, java.sql.Timestamp.valueOf(t), ty)
    val df = Seq(
      // u1 completes all three in order
      ev(1, "2024-01-01 10:00:00", "view"),
      ev(1, "2024-01-01 10:05:00", "click"),
      ev(1, "2024-01-01 10:10:00", "purchase"),
      // u2 clicks BEFORE its first view -> stops at view
      ev(2, "2024-01-01 09:00:00", "click"),
      ev(2, "2024-01-01 09:30:00", "view"),
      // u3 views then clicks, never purchases
      ev(3, "2024-01-01 08:00:00", "view"),
      ev(3, "2024-01-01 08:30:00", "click"),
      // u4 purchases only -> counted nowhere
      ev(4, "2024-01-01 07:00:00", "purchase"))
      .toDF("user_id", "ts", "event_type")
    val out = Sessions.funnel(df, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))
      .orderBy("stage").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out === Array((1L, "view", 3L), (2L, "click", 2L),
      (3L, "purchase", 1L)))
  }

  test("retention: cohort by first week, offsets count returning users") {
    def ev(u: Long, t: String) =
      (u, java.sql.Timestamp.valueOf(t))
    val df = Seq(
      ev(1, "2024-01-01 10:00:00"), // Mon wk0 cohort
      ev(1, "2024-01-09 10:00:00"), // wk1 return
      ev(1, "2024-01-16 10:00:00"), // wk2 return
      ev(2, "2024-01-03 10:00:00"), // wk0 cohort
      ev(2, "2024-01-10 10:00:00"), // wk1 return
      ev(3, "2024-01-08 10:00:00")) // wk1 cohort, never returns
      .toDF("user_id", "ts")
    val out = Sessions.retentionCohorts(df, "user_id", "ts")
      .orderBy("cohort_week", "week_offset").collect()
      .map(r => (r.getTimestamp(0).toString.take(10), r.getLong(1),
        r.getLong(2)))
    assert(out === Array(
      ("2024-01-01", 0L, 2L), ("2024-01-01", 1L, 2L),
      ("2024-01-01", 2L, 1L), ("2024-01-08", 0L, 1L)))
  }
}
