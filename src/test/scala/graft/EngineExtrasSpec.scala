package graft

import graft.engine.{Metrics, Report, Skew}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the Aggregator UDAF surface, skew utilities, and the
  * driver-side report render (A5).
  */
class EngineExtrasSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("Canon.stringifyArrays: %.6f doubles, -0.0 normalized, ints cast, scalars untouched") {
    val df = Seq(
      (1L, Seq(1.5, -0.0, 12.125), Seq(3L, 14L), "keep"))
      .toDF("id", "ds", "ls", "s")
    val out = graft.queries.Canon.stringifyArrays(df).collect()(0)
    assert(out.getLong(0) === 1L)
    assert(out.getString(1) === "1.500000,0.000000,12.125000")
    assert(out.getString(2) === "3,14")
    assert(out.getString(3) === "keep")
    // schema: every array column became a string column
    val schema = graft.queries.Canon.stringifyArrays(df).schema
    assert(schema.fields.count(_.dataType.typeName == "string") === 3)
  }

  test("SafeMapeAgg matches the kernel safeMape on grouped pairs") {
    val pairs = Seq(
      ("g1", 10.0, 11.0), ("g1", 0.0, 5.0), ("g1", 20.0, 18.0),
      ("g2", 0.0, 3.0), ("g2", 0.0, 5.0)) // all-zero -> MAE fallback
    val ds = pairs.toDS()
    val agg = ds.groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(Metrics.SafeMapeAgg.toColumn.name("mape"))
      .collect().toMap
    assert(math.abs(agg("g1") -
      Metrics.safeMape(Array(10.0, 0.0, 20.0), Array(11.0, 5.0, 18.0)))
      < 1e-12)
    assert(agg("g2") === 4.0) // plain MAE of (3, 5)
  }

  test("saltedJoin equals plain join; salted aggregation equals plain sum") {
    val big = (1 to 500).map(i => (i % 3, i.toDouble)).toDF("k", "v")
    val small = Seq((0, "a"), (1, "b"), (2, "c")).toDF("k", "name")
    val plain = big.join(small, "k")
    val salted = Skew.saltedJoin(big, small, "k", 4)
    assert(salted.count() === plain.count())
    assert(salted.agg(sum("v")).collect()(0).getDouble(0)
      === plain.agg(sum("v")).collect()(0).getDouble(0))
    val sums = Skew.saltedSum(big, Seq("k"), "v", 4)
      .orderBy("k").collect().map(_.getDouble(1))
    val expect = big.groupBy("k").agg(sum("v")).orderBy("k")
      .collect().map(_.getDouble(1))
    assert(sums.toSeq === expect.toSeq)
  }

  test("rangeJoinBinned: inclusive bounds, bin-spanning intervals, no nested loop") {
    val points = Seq((1L, 0.0), (2L, 5.0), (3L, 7.5), (4L, 12.0))
      .toDF("pid", "x")
    // interval [4.9, 12.0] spans bins 0/1/2 at width 5; [0,0] degenerate
    val intervals = Seq((10L, 4.9, 12.0), (20L, 0.0, 0.0))
      .toDF("iid", "lo", "hi")
    val out = graft.engine.Joins
      .rangeJoinBinned(points, intervals, "x", "lo", "hi", 5.0)
      .select("pid", "iid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    // both endpoints inclusive: x=5.0 and x=12.0 match [4.9, 12.0];
    // x=0.0 matches the degenerate [0, 0]
    assert(out.toSeq === Seq((1L, 20L), (2L, 10L), (3L, 10L), (4L, 10L)))
    val plan = graft.engine.Joins
      .rangeJoinBinned(points, intervals, "x", "lo", "hi", 5.0)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("hotKeys surfaces the dominant key with its share") {
    val df = (Seq.fill(90)("UK") ++ Seq.fill(10)("DE")).toDF("country")
    val hot = Skew.hotKeys(df, "country", 1).collect()(0)
    assert(hot.getString(0) === "UK")
    assert(hot.getAs[Double]("share") === 0.9)
  }

  test("graft_* SQL functions usable after registration") {
    GraftExtensions.register(spark)
    Seq(("spark engines", 0L)).toDF("text", "z")
      .createOrReplaceTempView("gx_docs")
    val r = spark.sql(
      """SELECT graft_fingerprint(text) AS f,
        |  size(graft_shingle_hashes(text, 5)) AS ns,
        |  size(graft_token_hashes(text)) AS nt,
        |  size(graft_minhash(text)) AS nm,
        |  graft_simhash(text) AS sh,
        |  graft_text_stats(text).n_tokens AS ntok
        |FROM gx_docs""".stripMargin).collect()(0)
    assert(r.getLong(0) > 0)
    assert(r.getInt(1) === "spark engines".length - 4)
    assert(r.getInt(2) === 2)
    assert(r.getInt(3) === graft.llm.HashConstants.minhashA.size)
    assert(r.getLong(5) === 2L)
    // SQL surface values equal the Column-API native expressions
    val viaCols = Seq(("spark engines", 0L)).toDF("text", "z")
      .select(graft.llm.PolyHashColumns.fingerprint(col("text")))
      .collect()(0).getLong(0)
    assert(viaCols ===
      spark.sql("SELECT graft_fingerprint('spark engines')")
        .collect()(0).getLong(0))
  }

  test("bucketed tables join without a shuffle") {
    import graft.engine.Ingest
    val a = (1 to 1000).map(i => (i.toLong % 50, i.toDouble))
      .toDF("k", "v")
    val b = (1 to 1000).map(i => (i.toLong % 50, s"n$i")).toDF("k", "s")
    spark.sql("DROP TABLE IF EXISTS bk_a")
    spark.sql("DROP TABLE IF EXISTS bk_b")
    Ingest.writeBucketed(a, "bk_a", 8, Seq("k"))
    Ingest.writeBucketed(b, "bk_b", 8, Seq("k"))
    // force a sort-merge join (broadcast would hide the bucketing)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("bk_a").join(spark.table("bk_b"), "k")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange") &&
        !plan.contains("Exchange hashpartitioning"),
        s"bucketed join should be shuffle-free:\n$plan")
      assert(plan.contains("Bucketed: true"), plan)
      assert(joined.count() === 50L * 20 * 20)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
  }

  test("partitioned sink prunes partitions on filtered reads") {
    import graft.engine.Ingest
    val dir = TestSpark.tempDir("part_out")
    val df = (1 to 300).map(i => (s"store${i % 3}", i.toLong, i * 1.5))
      .toDF("store", "id", "v")
    Ingest.writePartitioned(df, s"$dir/t", Seq("store"))
    val filtered = spark.read.parquet(s"$dir/t")
      .filter(col("store") === "store1")
    val scan = filtered.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(store"), scan)
    assert(filtered.count() === 100)
  }

  test("Profile: null, distinct, and row counts; HLL mode keeps schema") {
    import graft.engine.Profile
    val df = Seq(
      (Some(1L), Some("x")), (Some(1L), None),
      (None, Some("y")), (Some(3L), Some("x")))
      .toDF("a", "b")
    val out = Profile.profile(df, Seq("a", "b"))
      .orderBy("col_name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // (col, n_rows, n_nonnull, n_distinct, n_null); distinct counts
    // exclude nulls, matching SQL COUNT(DISTINCT)
    assert(out === Array(("a", 4L, 3L, 2L, 1L), ("b", 4L, 3L, 2L, 1L)))
    val approx = Profile.profile(df, Seq("a", "b"), exact = false)
      .orderBy("col_name").collect()
    assert(approx.map(_.getString(0)).toSeq === Seq("a", "b"))
    assert(approx.forall(_.getLong(3) >= 2L)) // HLL exact at this size
  }

  test("writeSorted: output files cover disjoint key ranges") {
    import graft.engine.Ingest
    val dir = TestSpark.tempDir("sorted_out")
    val df = (1 to 10000).map(i => ((i * 37) % 10007, i.toLong))
      .toDF("k", "v")
    Ingest.writeSorted(df, s"$dir/t", numFiles = 4, Seq("k"))
    val ranges = spark.read.parquet(s"$dir/t")
      .groupBy(input_file_name().as("f"))
      .agg(min(col("k")).as("lo"), max(col("k")).as("hi"))
      .collect().map(r => (r.getInt(1), r.getInt(2))).sortBy(_._1)
    assert(ranges.length === 4)
    // disjoint, ordered intervals: every file's lo exceeds the
    // previous file's hi — parquet min/max stats can skip whole
    // files for any key range predicate
    ranges.sliding(2).foreach { case Array((_, hi1), (lo2, _)) =>
      assert(lo2 > hi1, s"overlap: $hi1 vs $lo2")
    }
    // row totals survive the layout
    assert(spark.read.parquet(s"$dir/t").count() === 10000)
  }

  test("scd2Apply: closes current rows, appends versions, keeps closed history; as-of works") {
    import graft.engine.Joins
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val hist = Seq(
      // k=1 has a closed old version + an open current one
      (1L, "old", ts("2024-01-01 00:00:00"),
        Option(ts("2024-02-01 00:00:00"))),
      (1L, "cur", ts("2024-02-01 00:00:00"), None),
      (2L, "keep", ts("2024-01-15 00:00:00"), None))
      .toDF("k", "v", "valid_from", "valid_to")
    val upd = Seq((1L, "new", ts("2024-03-01 00:00:00")),
      (9L, "ins", ts("2024-03-02 00:00:00")))
      .toDF("k", "v", "ts")
    val out = Joins.scd2Apply(hist, upd, "k", "ts")
      .orderBy("k", "valid_from").collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.getTimestamp(3)).map(_.toString)))
    assert(out === Array(
      (1L, "old", Some("2024-02-01 00:00:00.0")), // untouched
      (1L, "cur", Some("2024-03-01 00:00:00.0")), // closed at update
      (1L, "new", None),                          // new open version
      (2L, "keep", None),                         // no update
      (9L, "ins", None)))                         // fresh key
    // as-of 2024-02-15: k=1 resolves to "cur"
    val asOf = Joins.scd2Apply(hist, upd, "k", "ts")
      .filter(col("valid_from") <= lit(ts("2024-02-15 00:00:00")) &&
        (col("valid_to").isNull ||
          col("valid_to") > lit(ts("2024-02-15 00:00:00"))))
      .filter(col("k") === 1L).collect()
    assert(asOf.map(_.getString(1)).toSeq === Seq("cur"))
  }

  test("scd2Lookup: each fact gets the version valid at its own ts") {
    import graft.engine.Joins
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val hist = Seq(
      (1L, "old", ts("2024-01-01 00:00:00"),
        Option(ts("2024-02-01 00:00:00"))),
      (1L, "cur", ts("2024-02-01 00:00:00"), None),
      (2L, "keep", ts("2024-01-15 00:00:00"), None))
      .toDF("k", "v", "valid_from", "valid_to")
    val facts = Seq(
      (1L, ts("2024-01-20 00:00:00")), // inside the closed version
      (1L, ts("2024-02-01 00:00:00")), // boundary: valid_from inclusive
      (1L, ts("2024-05-01 00:00:00")), // open version
      (2L, ts("2024-01-01 00:00:00")), // before first version -> null
      (7L, ts("2024-01-01 00:00:00"))) // no history at all -> null
      .toDF("k", "fact_ts")
    val out = Joins.scd2Lookup(hist, facts, "k", "fact_ts")
      .orderBy("k", "fact_ts").collect()
      .map(r => (r.getLong(0), Option(r.getString(2))))
    assert(out.toSeq === Seq(
      (1L, Some("old")), (1L, Some("cur")), (1L, Some("cur")),
      (2L, None), (7L, None)))
  }

  test("intervalJoin: overlaps found across bucket boundaries, emitted once") {
    import graft.engine.Joins
    def d(s: String) = java.sql.Date.valueOf(s)
    val a = Seq(
      (1L, d("2024-01-01"), d("2024-01-20")), // long: spans 3+ buckets
      (2L, d("2024-02-01"), d("2024-02-02")), // short, no partner
      (3L, d("2024-03-10"), d("2024-03-12")))
      .toDF("aid", "a_start", "a_end")
    val b = Seq(
      (10L, d("2024-01-15"), d("2024-01-25")), // overlaps 1 (tail)
      (11L, d("2023-12-20"), d("2024-01-01")), // touches 1 at boundary
      (12L, d("2024-03-12"), d("2024-03-15")), // touches 3 at boundary
      (13L, d("2024-02-10"), d("2024-02-20")))  // overlaps nothing
      .toDF("bid", "b_start", "b_end")
    val out = Joins.intervalJoin(a, b, "a_start", "a_end",
        "b_start", "b_end")
      .select("aid", "bid").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    // each overlapping pair exactly once — no duplicates from the
    // multi-bucket explode
    assert(out.toSeq === Seq((1L, 10L), (1L, 11L), (3L, 12L)))
  }

  test("global top-k compiles to TakeOrderedAndProject, not a global sort") {
    val df = (1L to 10000L).map(i => (i, (i * 7919) % 1000))
      .toDF("k", "v")
      .orderBy(col("v").desc, col("k")).limit(100)
    val plan = df.queryExecution.executedPlan.toString
    // per-partition heaps + driver merge of k rows — the only global
    // top-k shape that survives an arbitrarily large input
    assert(plan.contains("TakeOrderedAndProject"), plan.take(500))
    assert(df.collect().length === 100)
  }

  test("cdcDiff: insert/delete/update classified; null-safe compare") {
    import graft.engine.Joins
    val old = Seq((1L, Option("a"), 10.0), (2L, Option("b"), 20.0),
      (3L, Option("c"), 30.0), (4L, None: Option[String], 40.0))
      .toDF("k", "s", "v")
    val neu = Seq((1L, Option("a"), 10.0),          // unchanged
      (2L, Option("b2"), 20.0),                     // update s
      (4L, Option("now"), 41.0),                    // update null->val + v
      (9L, Option("new"), 90.0))                    // insert; 3 deleted
      .toDF("k", "s", "v")
    val out = Joins.cdcDiff(old, neu, Seq("k"))
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getString(2))).toMap
    assert(out.keySet === Set(2L, 3L, 4L, 9L)) // 1 unchanged: dropped
    assert(out(2L) === (("update", "s")))
    assert(out(3L) === (("delete", "")))
    assert(out(4L) === (("update", "s,v"))) // null->value counts
    assert(out(9L) === (("insert", "")))
  }

  test("madOutliers: median baseline immune to the spike it flags") {
    import graft.engine.Retail
    def wk(i: Int) = java.sql.Date.valueOf(
      java.time.LocalDate.of(2024, 1, 7).plusWeeks(i.toLong))
    // 19 calm weeks at 10 + one 500 spike: stddev-based z would be
    // dragged by the spike itself; median/MAD flags exactly it
    val rows = (0 until 19).map(i => (1L, wk(i), 10.0 + (i % 3))) :+
      ((1L, wk(19), 500.0))
    val weekly = rows.toDF("l_partkey", "week", "units")
    val out = Retail.madOutliers(weekly, Seq("l_partkey"))
      .collect()
    assert(out.length === 1)
    assert(out.head.getDouble(2) === 500.0)
    // constant series + one differing value: MAD 0 branch, mz null
    val const = ((0 until 9).map(i => (2L, wk(i), 5.0)) :+
      ((2L, wk(9), 6.0))).toDF("l_partkey", "week", "units")
    val out2 = Retail.madOutliers(const, Seq("l_partkey")).collect()
    assert(out2.length === 1 && out2.head.getDouble(2) === 6.0)
    assert(out2.head.isNullAt(5))
  }

  test("writeZOrdered: per-file boxes stay narrow in BOTH dims; single-key sort does not") {
    import graft.engine.Ingest
    val dir = TestSpark.tempDir("z_out")
    // uniform 2-D grid of keys
    val df = (0 until 4096).map(i => ((i * 73) % 256L, (i * 149) % 256L))
      .toDF("ka", "kb")
    Ingest.writeZOrdered(df, s"$dir/z", 8, "ka", "kb")
    Ingest.writeSorted(df, s"$dir/s", 8, Seq("ka"))
    def boxes(p: String) = spark.read.parquet(p)
      .groupBy(input_file_name())
      .agg(min(col("ka")).as("alo"), max(col("ka")).as("ahi"),
        min(col("kb")).as("blo"), max(col("kb")).as("bhi"))
      .collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // the differentiating query filters ONLY the second key: the
    // ka-sorted layout leaves kb spanning [0,255] in every file, so
    // ALL 8 files intersect kb in [0,63]; z-order keeps kb boxes
    // narrow too, so only a fraction of files can contain it
    def hits(bs: Array[(Long, Long, Long, Long)]) = bs.count {
      case (_, _, blo, bhi) => blo <= 63 && bhi >= 0
    }
    val z = boxes(s"$dir/z"); val s1 = boxes(s"$dir/s")
    assert(z.length === 8 && s1.length === 8)
    assert(hits(s1) === 8, s"sorted layout should be skip-free: ${s1.toSeq}")
    assert(hits(z) < hits(s1),
      s"z=${hits(z)} files vs sorted=${hits(s1)}")
    assert(hits(z) <= 4, s"z-order should bound the kb stripe: ${z.toSeq}")
    // both layouts preserve the data
    assert(spark.read.parquet(s"$dir/z").count() === 4096)
  }

  test("zValueExpr: INT keys with bit 15 set interleave identically to BIGINT keys") {
    import graft.engine.Ingest
    // 0xFFFF in both dims exercises the top bit: shiftleft(...,31)
    // on an un-widened INT would overflow into the sign bit
    val df = Seq((65535, 65535), (32768, 0), (0, 32768), (7, 11))
      .toDF("ia", "ib")
      .withColumn("la", col("ia").cast("long"))
      .withColumn("lb", col("ib").cast("long"))
      .withColumn("zi", Ingest.zValueExpr("ia", "ib"))
      .withColumn("zl", Ingest.zValueExpr("la", "lb"))
    val rows = df.select("zi", "zl").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.forall { case (zi, zl) => zi == zl && zi >= 0L })
    // full interleave of (0xFFFF, 0xFFFF) = 0xFFFFFFFF
    assert(rows(0)._1 === 0xFFFFFFFFL)
  }

  test("ewma: first-obs seed, exact recursion, per-series isolation") {
    import graft.engine.Series
    val df = Seq(
      ("a", 1, 1.0), ("a", 2, 2.0), ("a", 3, 3.0),
      ("b", 1, 10.0))
      .toDF("k", "t", "v")
    val out = Series.ewma(df, Seq("k"), "t", "v",
      alpha = BigDecimal("0.5"))
      .orderBy("k", "t").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getDouble(3)))
    // a: 1, .5*2+.5*1 = 1.5, .5*3+.5*1.5 = 2.25; b seeds fresh
    assert(out === Array(("a", 1, 1.0), ("a", 2, 1.5),
      ("a", 3, 2.25), ("b", 1, 10.0)))
  }

  test("dqChecks: one scan, exact pass/fail split, null counts as fail") {
    import graft.engine.Profile
    val df = Seq[(java.lang.Integer, java.lang.Double)](
      (1, 5.0), (60, 5.0), (3, null), (4, -1.0))
      .toDF("q", "p")
    val out = Profile.dqChecks(df, Seq(
      "q_band" -> col("q").between(1, 50),
      "p_pos" -> (col("p") > 0)))
      .orderBy("rule").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))
    assert(out === Array(
      ("p_pos", 4L, 2L, 2L, 0.5),     // null p is a fail
      ("q_band", 4L, 3L, 1L, 0.75)))
  }

  test("corrPairs: exact closed-form Pearson r on a known fixture") {
    import graft.engine.Profile
    val df = Seq((1.0, 2.0, 1.0), (2.0, 4.0, 3.0), (3.0, 6.0, 2.0))
      .toDF("x", "y", "z")
    val out = Profile.corrPairs(df, Seq("x", "y", "z"))
      .orderBy("col_x", "col_y").collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    // y = 2x exactly -> r = 1; corr(x, z) = corr(y, z) = 0.5
    assert(out === Array(("x", "y", 1.0), ("x", "z", 0.5),
      ("y", "z", 0.5)))
  }

  test("compact: shuffle-free rewrite hits the target file count, keeps rows") {
    import graft.engine.Ingest
    val dir = TestSpark.tempDir("cpt")
    val df = (1 to 1000).map(i => (i.toLong, s"r$i")).toDF("k", "v")
    df.repartition(32).write.mode("overwrite").parquet(s"$dir/frag")
    def files(p: String) = new java.io.File(p).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files(s"$dir/frag") === 32)
    Ingest.compact(spark, s"$dir/frag", s"$dir/comp", targetFiles = 4)
    assert(files(s"$dir/comp") === 4)
    assert(spark.read.parquet(s"$dir/comp").count() === 1000)
    assert(spark.read.parquet(s"$dir/comp")
      .agg(sum(col("k"))).head.getLong(0) === 500500L)
  }

  test("mergeUpsert: updates override, new keys insert, base rows survive") {
    import graft.engine.Joins
    val base = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("k", "tag", "v")
    val upd = Seq((2L, "B", 99.0), (9L, "new", 1.0))
      .toDF("k", "tag", "v")
    val out = Joins.mergeUpsert(base, upd, Seq("k"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(out === Array((1L, "a", 10.0), (2L, "B", 99.0),
      (3L, "c", 30.0), (9L, "new", 1.0)))
    intercept[IllegalArgumentException] {
      Joins.mergeUpsert(base, upd.select("k", "v", "tag"), Seq("k"))
    }
  }

  test("asOfJoin: latest at-or-before value, inclusive ties, null when none") {
    import graft.engine.Joins
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val left = Seq(
      ("u1", ts("2024-01-10 00:00:00"), 100L), // after two quotes
      ("u1", ts("2024-01-05 00:00:00"), 101L), // exactly at a quote (tie)
      ("u1", ts("2024-01-01 00:00:00"), 102L), // before any quote
      ("u2", ts("2024-01-10 00:00:00"), 103L)) // no quotes for key
      .toDF("k", "ts", "eid")
    val right = Seq(
      ("u1", ts("2024-01-03 00:00:00"), 3.0),
      ("u1", ts("2024-01-05 00:00:00"), 5.0))
      .toDF("k", "ts", "v")
    val out = Joins.asOfJoin(left, right, Seq("k"), "ts", Seq("v"))
      .orderBy("eid").collect()
      .map(r => r.getAs[Long]("eid") ->
        Option(r.getAs[java.lang.Double]("matched_v")).map(_.toDouble))
      .toMap
    assert(out(100L) === Some(5.0)) // latest of the two
    assert(out(101L) === Some(5.0)) // same-instant quote matches
    assert(out(102L) === None)      // nothing at-or-before
    assert(out(103L) === None)      // key has no right rows
  }

  test("renderText (A5) produces per-SKU paragraphs driver-side") {
    val df = Seq(
      ("S1", "UK", 5.0, 3, 2, true, 10, 7, 4),
      ("S2", "DE", 80.0, 2, 1, false, 5, 3, 0))
      .toDF("StockCode", "StoreID", "MAPE", "Forecast_Total",
        "Forecast_Weeks", "Need_Reorder", "Reorder_Point",
        "Safety_Stock", "Qty_to_Order")
    val text = Report.renderText(df)
    assert(text.contains("Análisis Detallado de SKU: S1 en UK"))
    assert(text.contains("pedido de 4 unidades"))
    assert(text.contains("No se requiere realizar"))
    assert(text.contains("alta precisión"))
    assert(text.contains("baja precisión"))
  }

  test("renderForecastSvg (A6): deterministic SVG — forecast " +
      "polyline, actual points, ticks, category labels") {
    import spark.implicits._
    val series = Seq(
      ("2024-01-01", Some(10.0), 12.0),
      ("2024-01-02", Some(20.0), 18.0),
      ("2024-01-03", None, 19.0),
      ("2024-01-04", None, 21.0)).toDF("ds", "y", "yhat")
    val svg = graft.engine.Report.renderForecastSvg(
      series, "ds", "y", "yhat")
    assert(svg.startsWith("<svg xmlns=\"http://www.w3.org/2000/svg\""))
    assert(svg.endsWith("</svg>"))
    // the forecast polyline has all 4 vertices; actuals only 2 dots
    val poly = "points=\"([^\"]*)\"".r
      .findFirstMatchIn(svg).get.group(1)
    assert(poly.split(" ").length === 4)
    assert("<circle ".r.findAllIn(svg).length === 2)
    // spot-pin the first vertex against independent math:
    // vals 10..21, pad 0.55 -> lo 9.45, hi 21.55; x0 = 50;
    // y(12) = 10 + (21.55-12)/12.1*280
    val y12 = 10 + (21.55 - 12.0) / 12.1 * 280
    assert(poly.split(" ").head === "50.00," + String.format(
      java.util.Locale.ROOT, "%.2f", java.lang.Double.valueOf(y12)))
    // 5 horizontal ticks with value labels; first/last date labels
    assert("<line ".r.findAllIn(svg).length === 5)
    assert(svg.contains("2024-01-01</text>") &&
      svg.contains("2024-01-04</text>"))
    // byte-deterministic
    assert(svg === graft.engine.Report.renderForecastSvg(
      series, "ds", "y", "yhat"))
  }

  test("renderDocument (A5): self-contained document in the " +
      "reference's paragraph order, every paragraph equal to its " +
      "oracled engine column") {
    import spark.implicits._
    val df = Seq(
      ("S1", "UK", 5.0, 3, 2, true, 10, 7, 4, 1.5, 0.25),
      ("S2", "DE", 80.0, 2, 1, false, 5, 3, 0, 2.0, 0.1))
      .toDF("StockCode", "StoreID", "MAPE", "Forecast_Total",
        "Forecast_Weeks", "Need_Reorder", "Reorder_Point",
        "Safety_Stock", "Qty_to_Order", "RMSE", "Duracion_sec")
    val doc = Report.renderDocument(df, "2026-08-15 00:00:00")
    val lines = doc.split('\n')
    // header block: title, date, resumen, global MAPE — the
    // generador.py:170-183 story prefix
    assert(lines(0).contains("Informe de Optimización de Inventario"))
    assert(lines(1) === "<para>Fecha de Generación: 2026-08-15 00:00:00</para>")
    assert(lines(2) === "<para>Resumen: Se analizaron 2 combinaciones " +
      "SKU/Tienda. <b>1</b> requieren un pedido de reabastecimiento.</para>")
    assert(lines(3) === "<para>MAPE Promedio Global: <b>42.50%</b></para>")
    // per-series block: <hr/> then the four paragraphs, text equal to
    // the oracled Para_* columns in reference order
    val paras = Report.withReportParas(Report.withInterpretation(df))
      .orderBy("StockCode").collect()
    var at = 4
    for (r <- paras) {
      assert(lines(at) === "<hr/>")
      for ((c, i) <- Seq("Para_Header", "Para_Pedido", "Para_Logistica",
          "Para_Precision").zipWithIndex)
        assert(lines(at + 1 + i) === s"<para>${r.getAs[String](c)}</para>")
      at += 5
    }
    assert(at === lines.length)
    // band content: S1 (MAPE 5) green/alta with RMSE 1.50; S2
    // (MAPE 80) red/baja — the F5 ladder inside the precision para
    assert(doc.contains("<font color=\"green\"> El modelo muestra una " +
      "<b>alta precisión</b> (MAPE: 5.00%). Las predicciones son muy " +
      "fiables. (RMSE: 1.50).</font>"))
    assert(doc.contains("<font color=\"red\"> El modelo tuvo una " +
      "<b>baja precisión</b> (MAPE: 80.00%)"))
    assert(doc.contains("Duración del procesamiento: 0.25 segundos"))
    assert(doc.contains("La demanda pronosticada para las 2 semanas " +
      "siguientes es de <b>3 unidades</b>."))
  }
}
