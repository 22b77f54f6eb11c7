package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.LocalDate
import java.util.SplittableRandom

/** Seeded generator of `ventas` CSV input in the `Schemas.ventas`
  * (UCI Online Retail) shape:
  * `InvoiceNo,StockCode,Description,Quantity,InvoiceDate,UnitPrice,CustomerID,Country`.
  *
  * Every (StockCode, Country) pair is one series. A series has a span
  * of calendar weeks and a number of sale weeks inside it; the first
  * and last week of the span always hold a sale, so the densified
  * length equals the span. Rows carry the shapes the forecast job must
  * handle: Sunday-midnight and intraday-Sunday timestamps (the W-SUN
  * week edge), return rows with negative quantity, and empty
  * CustomerID. The same seed always writes the same bytes.
  */
object VentasGen {

  /** Shape of one retail workload: the number of series, the range
    * of their spans in weeks, the sale weeks in each span (one row
    * each) and the share of sale rows followed by a return row.
    */
  case class Shape(series: Int, minSpan: Int, maxSpan: Int, saleWeeks: Int,
      returnFrac: Double)

  private val countries = Array(
    "United Kingdom", "Germany", "France", "EIRE", "Spain", "Netherlands",
    "Belgium", "Switzerland", "Portugal", "Australia", "Norway", "Italy",
    "Channel Islands", "Finland", "Cyprus", "Sweden", "Austria", "Denmark",
    "Japan", "Poland", "Israel", "USA", "Hong Kong", "Singapore",
    "Iceland", "Canada", "Greece", "Malta", "United Arab Emirates",
    "European Community", "RSA", "Lebanon", "Lithuania", "Brazil",
    "Czech Republic", "Bahrain", "Saudi Arabia", "Unspecified")

  /** First Sunday of the calendar the series live on. */
  private val epochSunday = LocalDate.of(2016, 1, 3)

  /** Writes `parts` CSV part files under `dir` and returns the total
    * number of data rows written.
    */
  def write(dir: File, shape: Shape, seed: Long, parts: Int): Long = {
    dir.mkdirs()
    val rnd = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    val outs = Array.tabulate(parts) { p =>
      val w = new BufferedWriter(new OutputStreamWriter(
        new FileOutputStream(new File(dir, f"part-$p%05d.csv")),
        StandardCharsets.UTF_8), 1 << 16)
      w.write("InvoiceNo,StockCode,Description,Quantity,InvoiceDate," +
        "UnitPrice,CustomerID,Country\n")
      w
    }
    var rows = 0L
    var invoice = 500000L
    val calendarWeeks = shape.maxSpan + 52
    var s = 0
    var sku = 0
    while (s < shape.series) {
      // each SKU is sold in one to three distinct stores
      val stores = 1 + rnd.nextInt(3)
      val firstStore = rnd.nextInt(countries.length)
      var k = 0
      while (k < stores && s < shape.series) {
        val country = countries((firstStore + k) % countries.length)
        val out = outs(s % parts)
        val span = shape.minSpan + rnd.nextInt(shape.maxSpan - shape.minSpan + 1)
        val start = rnd.nextInt(calendarWeeks - span + 1)
        val weeks = pickWeeks(rnd, span, math.min(shape.saleWeeks, span))
        // a few low-volume series fall under the total-units gate
        val lowVolume = rnd.nextDouble() < 0.04
        val price = (1 + rnd.nextInt(1500)) / 100.0
        val code = f"${20000 + sku}%05d"
        var wi = 0
        while (wi < weeks.length) {
          val sunday = epochSunday.plusWeeks((start + weeks(wi)).toLong)
          val qty = if (lowVolume) rnd.nextInt(2) else 1 + geometric(rnd, 0.3)
          invoice += 1
          out.write(line(rnd, invoice.toString, code, qty, sunday, price,
            country))
          rows += 1
          if (rnd.nextDouble() < shape.returnFrac) {
            out.write(line(rnd, "C" + invoice, code, -(1 + rnd.nextInt(3)),
              sunday, price, country))
            rows += 1
          }
          wi += 1
        }
        s += 1
        k += 1
      }
      sku += 1
    }
    outs.foreach(_.close())
    rows
  }

  /** Sorted distinct week offsets in [0, span) of size n, always
    * holding 0 and span - 1.
    */
  private def pickWeeks(rnd: SplittableRandom, span: Int, n: Int)
      : Array[Int] = {
    if (n >= span) return Array.tabulate(span)(identity)
    val chosen = new java.util.BitSet(span)
    chosen.set(0); chosen.set(span - 1)
    var have = math.min(2, n)
    while (have < n) {
      val w = rnd.nextInt(span)
      if (!chosen.get(w)) { chosen.set(w); have += 1 }
    }
    chosen.stream().toArray
  }

  private def line(rnd: SplittableRandom, invoice: String, code: String,
      qty: Int, sunday: LocalDate, price: Double, country: String)
      : String = {
    // day 0..6 = Monday..Sunday of the week that ends on `sunday`;
    // Sunday rows are either exactly midnight or intraday, both of
    // which belong to the week ending that Sunday
    val day = rnd.nextInt(7)
    val date = sunday.minusDays(6L - day)
    val time =
      if (day == 6 && rnd.nextInt(3) == 0) "00:00:00"
      else f"${8 + rnd.nextInt(12)}%02d:${rnd.nextInt(60)}%02d:00"
    val customer =
      if (rnd.nextInt(4) == 0) "" else (12346 + rnd.nextInt(6000)).toString
    s"$invoice,$code,ITEM $code,$qty,$date $time,$price,$customer,$country\n"
  }

  private def geometric(rnd: SplittableRandom, p: Double): Int =
    (math.log(1.0 - rnd.nextDouble()) / math.log(1.0 - p)).toInt
}
