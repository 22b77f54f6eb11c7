package graft.engine.forecast

import graft.engine.{Inventory, Metrics, PipelineConfig, SkuResult}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import java.sql.Date

/** The typed per-series forecasting kernel (SURVEY §2 row D2 / §3.1
  * stage 7) — Spark translation of the reference's
  * `Pool.imap_unordered(process_sku, groups)` (ref: PRACTICA3.py:85-175,
  * 197-203).
  *
  * Scale design: the reference materializes every (SKU, store) group in
  * driver memory and pickles sub-frames to worker processes — a cliff at
  * ~RAM. Here the heavy lifting is relational: the weekly resample is a
  * partial-aggregating `groupBy(sku, store, week)` (map-side combine
  * shrinks the shuffle to #groups × #weeks rows regardless of input
  * size), then ONE row per series — `(keys, sorted array of (week,
  * units))`, bounded by the calendar, not data volume — feeds a plain
  * `Dataset.flatMap`. No `groupByKey` re-shuffle, no driver
  * materialization, no per-group pickling.
  *
  * Kernel width: the collapse shuffle is hash-partitioned on
  * (sku, store) into `defaultParallelism` partitions — one per core —
  * rather than sized by bytes. The collapsed rows are small (one
  * calendar-bounded array per series), so adaptive execution would
  * coalesce a bytes-sized collapse into a single partition and run
  * every `processSeries` call on one core, yet the kernel's cost is
  * per-series model-fit CPU. An explicit-count repartition is never
  * coalesced, and the collapse aggregate reuses its partitioning, so
  * the plan keeps the same number of exchanges.
  */
object Kernel {

  case class SeriesEntry(week: Date, units: Double)
  case class SeriesRow(sku: String, store: String,
      entries: Seq[SeriesEntry])

  /** pandas-style exact quantile with linear interpolation
    * (ref: PRACTICA3.py:103-106; verified q(.99) of 1..10 = 9.91).
    * `oracleCompat` switches to Spark `percentile`'s product order
    * ((ceil(h)-h)*lo + (h-floor(h))*hi) — same real value, ≤1 ulp
    * apart from numpy's `lo + frac*(hi-lo)`.
    */
  def quantile(sorted: Array[Double], q: Double,
      oracleCompat: Boolean = false): Double = {
    val n = sorted.length
    if (n == 1) return sorted(0)
    val h = (n - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, n - 1)
    if (lo == hi) sorted(lo)
    else if (oracleCompat) (hi - h) * sorted(lo) + (h - lo) * sorted(hi)
    else sorted(lo) + (h - lo) * (sorted(hi) - sorted(lo))
  }

  /** Densified weekly series: explicit zeros between min and max week
    * (pandas `resample("W-SUN").sum().fillna(0)`, ref: PRACTICA3.py:94).
    * Entries must already be W-SUN labeled and sorted.
    */
  def densify(entries0: Seq[SeriesEntry],
      maxSpanWeeks: Int = PipelineConfig.DefaultMaxSpanWeeks)
      : Array[Double] = {
    val entries = entries0.filter(_.week != null) // pandas NaT-drop
    if (entries.isEmpty) return Array.empty
    val first = entries.head.week.toLocalDate
    val last = entries.last.week.toLocalDate
    val byWeek = entries.map(e => e.week.toLocalDate -> e.units).toMap
    val nWeeks = (java.time.temporal.ChronoUnit.DAYS
      .between(first, last) / 7).toInt + 1
    // same calendar bound as the relational form (e2eSlice): one
    // corrupted timestamp must not inflate a series into ~400k
    // gap-zero cells on an executor
    require(nWeeks <= maxSpanWeeks,
      s"densify: series span $nWeeks weeks exceeds maxSpanWeeks=" +
        s"$maxSpanWeeks ($first..$last) — corrupted timestamps?")
    Array.tabulate(nWeeks)(i => byWeek.getOrElse(first.plusDays(7L * i), 0.0))
  }

  /** The per-series pipeline 7c-7i (ref: PRACTICA3.py:96-175): gates →
    * winsorize → split → models → ensemble → MAPE → inventory.
    * Returns None when a gate rejects the series (group emits no row).
    */
  def processSeries(sku: String, store: String, series0: Array[Double],
      cfg: PipelineConfig = PipelineConfig()): Option[SkuResult] = {
    val t0 = System.nanoTime()
    var series = series0

    // gates (C4) — densified length and total units
    if (series.length < cfg.minWeeks) return None
    if (series.sum < cfg.minTotalSales) return None

    // winsorize (D8/D10): bounds from POSITIVE values, clip whole series
    val pos = series.filter(_ > 0).sorted
    if (pos.length > 5) {
      val lo = quantile(pos, 0.01, cfg.oracleCompat)
      val hi = quantile(pos, 0.99, cfg.oracleCompat)
      series = series.map(x => math.min(math.max(x, lo), hi))
    }

    // split (E5)
    val train = series.dropRight(cfg.horizonWeeks)
    val test = series.takeRight(cfg.horizonWeeks)

    // models (J1-J3); each may drop out, MA always present
    val preds = Seq.newBuilder[Array[Double]]
    if (cfg.useTrendSeasonal)
      Models.trendSeasonal(train, cfg.horizonWeeks,
        minTrain = cfg.minWeeks).foreach(preds += _)
    if (cfg.useHoltWinters)
      Models.holtWinters(train, cfg.horizonWeeks).foreach(preds += _)
    preds += Models.movingAverage(train, cfg.horizonWeeks)

    // ensemble (J4), metrics (G1), inventory (H1-H5)
    val fc0 = Models.ensemble(preds.result(), train, cfg.horizonWeeks)
    // oracle-compat: 6dp half-up via BigDecimal — the exact code path
    // of Spark `round(_, 6)` on doubles, so MAPE inputs match the SQL
    // form bit-for-bit
    val fc = if (cfg.oracleCompat) fc0.map(v =>
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    else fc0
    val mape = Metrics.safeMape(test, fc)
    val inv = Inventory.compute(train, fc, cfg)
    val elapsed = (System.nanoTime() - t0) / 1e9

    // ref rounds mape to 3 dp banker's (Python round). math.rint on
    // x*1000 matches it; oracleCompat instead goes through BigDecimal
    // 12dp→3dp HALF_EVEN — bit-deterministic and mirrored exactly by
    // the oracle's round_even(CAST(x AS DECIMAL(28,12)), 3), where
    // float round_even is unpredictable within an ulp of a .0005 tie
    val mape3 =
      if (cfg.oracleCompat)
        BigDecimal(mape).setScale(12, BigDecimal.RoundingMode.HALF_EVEN)
          .setScale(3, BigDecimal.RoundingMode.HALF_EVEN).toDouble
      else math.rint(mape * 1000) / 1000
    Some(SkuResult(
      sku = sku, store = store,
      mape = mape3,
      forecast = fc, test = test,
      safety_stock = inv.safetyStock,
      reorder_point = inv.reorderPoint,
      qty_to_order = inv.qty,
      runtime_sec = math.rint(elapsed * 100) / 100))
  }

  /** Full distributed pipeline over cleaned sales rows with columns
    * (sku: string, store: string, ts: timestamp/date, units: double).
    */
  def run(sales: DataFrame, cfg: PipelineConfig = PipelineConfig())
      : Dataset[SkuResult] = {
    val spark = sales.sparkSession
    import spark.implicits._
    // after the weekly partial-aggregate, so its two-phase combine
    // and the order of the weekly sums stay as they are
    val weekly = graft.engine.Resample
      .weeklySparse(sales, Seq("sku", "store"), "ts", "units")
      .repartition(spark.sparkContext.defaultParallelism, $"sku", $"store")
    val perSeries = weekly
      .groupBy($"sku", $"store")
      .agg(sort_array(collect_list(struct($"week", $"units")))
        .as("entries"))
      .as[SeriesRow]
    perSeries.flatMap { row =>
      processSeries(row.sku, row.store,
        densify(row.entries, cfg.maxSpanWeeks), cfg)
    }
  }
}
