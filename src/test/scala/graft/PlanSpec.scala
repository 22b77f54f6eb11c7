package graft

import org.apache.spark.sql.catalyst.plans.logical.Window
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.scalatest.funsuite.AnyFunSuite

/** Registry-wide physical-shape guards.
  *
  * The repo-wide posture after round 16 is "zero unpartitioned
  * WindowExec anywhere, including bounded frames" — every global
  * rank/prefix-sum either rides [[graft.engine.Dist]]'s range-
  * partitioned prefix sum, a [[graft.engine.Dist.topFrameRank]]
  * broadcast predecessor join, or a window partitioned by a real
  * key. Round 16 established that posture by hand audit; this spec
  * keeps it as the registry grows: it builds EVERY registered query
  * against sf0.001 and fails on any logical Window whose partition
  * spec is empty or all-foldable (a literal-only spec is folded out
  * by the optimizer, leaving the same single-task sort).
  *
  * A `localCheckpoint()` inside a query builder truncates the
  * downstream plan at a LogicalRDD, so windows in pinned subtrees
  * are invisible to a downstream `queryExecution` probe — the
  * round-21 blind spot (VERDICT r21 #3): a whole-source window
  * reintroduced UPSTREAM of a `Dist.prefixSum` pin would have passed
  * this suite. Round 22 closes it: every pin in the Dist machinery
  * and the round-22 query-path pins route through
  * [[graft.engine.Pin.point]], which (only when a test installs
  * [[graft.engine.Pin.auditBuffer]]) records each pinned frame's own
  * optimized plan before checkpointing. The registry sweep below
  * asserts the posture on those captured PRE-PIN subtrees too, and a
  * negative control proves the probe sees a planted whole-group
  * window through the pin.
  */
class PlanSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark

  private type LPlan = org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

  /** Build a query with pin-audit capture installed; returns the
    * downstream frame plus every (site, pre-pin plan) its eager
    * pins recorded.
    */
  private def buildAudited(fn: (org.apache.spark.sql.SparkSession,
      String) => org.apache.spark.sql.DataFrame, sfDir: String)
      : (org.apache.spark.sql.DataFrame, Seq[(String, LPlan)]) = {
    val buf = scala.collection.mutable.Buffer.empty[(String, LPlan)]
    graft.engine.Pin.auditBuffer = Some(buf)
    val df = try fn(spark, sfDir)
      finally graft.engine.Pin.auditBuffer = None
    (df, buf.toSeq)
  }

  private def unpartitionedWindows(plan: LPlan): Seq[Window] =
    plan.collect {
      case w: Window if !w.partitionSpec.exists(!_.foldable) => w
    }

  test("no registered query plans an unpartitioned window — " +
      "including pre-pin subtrees (round 22)") {
    val sfDir = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val (df, pins) = buildAudited(fn, sfDir)
        val downstream = unpartitionedWindows(
          df.queryExecution.optimizedPlan).map { w =>
            s"$name: Window(${w.windowExpressions.map(_.name).mkString(",")})"
          }
        val prePin = pins.flatMap { case (site, p) =>
          unpartitionedWindows(p).map { w =>
            s"$name [pre-pin $site]: Window(" +
              s"${w.windowExpressions.map(_.name).mkString(",")})"
          }
        }
        downstream ++ prePin
    }
    assert(offenders.isEmpty,
      s"unpartitioned windows:\n${offenders.mkString("\n")}")
  }

  /** A window partitioned by `key` without a `__pid` alongside it —
    * the whole-group single-task-sort shape the grouped-rank
    * rewrites removed.
    */
  private def wholeKeyWindows(plan: LPlan, key: String): Seq[Window] =
    plan.collect {
      case w: Window
          if w.partitionSpec.exists(
              _.references.exists(_.name == key)) &&
            !w.partitionSpec.exists(
              _.references.exists(_.name == "__pid")) => w
    }

  test("negative control: the pin-audit probe SEES a whole-group " +
      "window planted upstream of a Dist pin (round-21 blind spot)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq(("a", 1L), ("a", 2L), ("b", 3L))
      .toDF("src", "v")
    val planted = df.withColumn("r",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("src").orderBy("v")))
    val buf = scala.collection.mutable.Buffer.empty[(String, LPlan)]
    graft.engine.Pin.auditBuffer = Some(buf)
    val out = try graft.engine.Dist.groupedRank(
        planted, "src", Seq(col("v")), "rk")
      finally graft.engine.Pin.auditBuffer = None
    // downstream probe is blind (the pin truncated lineage)...
    assert(wholeKeyWindows(
      out.queryExecution.optimizedPlan, "src").isEmpty)
    // ...the pre-pin capture is not
    val seen = buf.flatMap { case (_, p) => wholeKeyWindows(p, "src") }
    assert(seen.nonEmpty,
      "pin-audit probe failed to surface the planted whole-src window")
  }

  /** Round-21 extension of the posture to LOW-CARDINALITY partition
    * keys: interleave_schedule's per-source rank used to be a window
    * partitioned by `source` — cardinality = the mixture-weight map,
    * so ONE task sorted each source's entire corpus slice. After the
    * Dist.groupedRank rewrite, every window the query plans must be
    * partition-local (a `__pid` spark_partition_id attribute in its
    * partition spec): no single task ever sorts a whole source.
    * kmv_distinct / kmv_sample keep their per-source windows but
    * feed them through the sketchOverlap hash-threshold prefilter —
    * asserted here as a Filter on __h strictly below the window.
    */
  test("interleave_schedule plans no whole-source window; kmv windows " +
      "sit above the hash-threshold prefilter") {
    val sfDir = "/root/testdata/sf0.001"
    val (isdf, isPins) = buildAudited(
      SparkEntry.queries("interleave_schedule"), sfDir)
    val wins = isdf.queryExecution.optimizedPlan
      .collect { case w: Window => w }
    assert(wins.nonEmpty, "expected partition-local rank windows")
    wins.foreach { w =>
      assert(w.partitionSpec.exists(
        _.references.exists(_.name == "__pid")),
        s"window not partition-local: ${w.partitionSpec}")
    }
    // round-21 wave 2 + round-22 pre-pin closure: the grouped-rank
    // sweep's low-cardinality windows — any window partitioned by
    // the corpus-sized grouping key (source / pred_lang) must be
    // partition-local (__pid alongside it); windows on other keys
    // (bounded frames, high-cardinality ids) are exempt. Round 22
    // extends the assertion to captured PRE-PIN subtrees, so a
    // whole-key window inserted upstream of a Dist pin fails here
    // (negative control above proves the probe sees it).
    for ((q, key) <- Seq("interleave_schedule" -> "source",
        "ppl_buckets" -> "pred_lang",
        "quality_pct_rank" -> "source")) {
      val (df, pins) =
        if (q == "interleave_schedule") (isdf, isPins)
        else buildAudited(SparkEntry.queries(q), sfDir)
      val offenders =
        wholeKeyWindows(df.queryExecution.optimizedPlan, key) ++
          pins.flatMap { case (_, p) => wholeKeyWindows(p, key) }
      assert(offenders.isEmpty,
        s"$q: whole-$key window: ${offenders.map(_.partitionSpec)}")
    }
    for (q <- Seq("kmv_distinct", "kmv_sample")) {
      val plan = SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.optimizedPlan
      val winsQ = plan.collect { case w: Window => w }
      assert(winsQ.nonEmpty, s"$q: expected a per-group window")
      // every window's child subtree must contain the __h threshold
      // predicate (as a Filter, or pushed into the counts join), so
      // the sorted set is the ~4k-row survivor frame, never the corpus
      winsQ.foreach { w =>
        val conds = w.child.collect {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            f.condition.toString
          case j: org.apache.spark.sql.catalyst.plans.logical.Join =>
            j.condition.map(_.toString).getOrElse("")
        }
        assert(conds.exists(c => c.contains("__h") && c.contains("<")),
          s"$q: window sorts an unfiltered per-group frame")
      }
    }
  }

  test("Kernel.run runs processSeries on one task per core, with the " +
      "same two shuffle exchanges") {
    import spark.implicits._
    // 8 series of 20 weekly sales each: a collapse shuffle of a few
    // KB, which adaptive execution would coalesce to one partition
    val sales = (for (s <- 0 until 8; k <- 0 until 20) yield (s"sku$s",
      "UK", java.sql.Timestamp.valueOf(
        java.time.LocalDateTime.of(2024, 1, 7, 10, 0).plusWeeks(k)),
      10.0 + (s * k) % 7)).toDF("sku", "store", "ts", "units")
    val ds = graft.engine.forecast.Kernel.run(sales,
      graft.engine.PipelineConfig(useTrendSeasonal = false,
        useHoltWinters = false))
    val (rows, obs) = TestSpark.observe(ds.collect())
    assert(rows.length === 8)
    // the result stage is the flatMap over collapsed series
    assert(obs.stages.maxBy(_.stageId).numTasks ===
      spark.sparkContext.defaultParallelism)
    // AdaptiveSparkPlanHelper.collect descends into query stages
    val exchanges = collect(ds.queryExecution.executedPlan) {
      case e: ShuffleExchangeLike => e
    }
    assert(exchanges.size === 2, ds.queryExecution.executedPlan.toString)
  }
}
