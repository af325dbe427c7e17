package perfbench

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.security.MessageDigest
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.model.Schemas

/** Seeded generator of CoinGecko-shaped payloads for N assets.
  *
  * Hour `h` (1-based) is the instant `Start + h hours`, where `Start` is
  * 90 days before `T0`. The backfill covers hours 1..2160 (90 days
  * hourly, ending at `T0`). Day `d` of the daily loop is the batch the
  * reference's cron fetches: the trailing 25 hourly points ending at
  * `T0 + d days`, so its first point repeats the previous run's last
  * one, plus, for every 7th asset, 4 revised prices from 2 days before.
  *
  * Every value is a pure function of (seed, asset, hour), so the same
  * seed gives byte-identical payloads and the expected table state is
  * known without running the program. Prices carry 6 decimals and
  * market values 2, so the ETL's decimal casts are exact.
  */
final case class Gen(seed: Long, assets: Int) {
  import Gen._

  def assetId(i: Int): String = f"coin-$i%05d"

  /** coins_markets rows: (id, symbol, name). */
  def markets: Seq[(String, String, String)] =
    (0 until assets).map(i => (assetId(i), f"c$i%05d", f"Coin $i%05d"))

  private def rng(i: Int): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + 1)

  /** Original (unrevised) price, market cap and volume per hour
    * 1..`hours` of asset `i`; index 0 is unused. Market cap is missing
    * (NaN) on about 1% of hours. */
  def series(i: Int, hours: Int): (Array[Double], Array[Double], Array[Double]) = {
    val r = rng(i)
    val supply = math.floor(1e5 + r.nextDouble() * 1e8)
    var logP = math.log(0.05) + r.nextDouble() * math.log(2e5)
    val price = new Array[Double](hours + 1)
    val mc = new Array[Double](hours + 1)
    val vol = new Array[Double](hours + 1)
    var h = 1
    while (h <= hours) {
      logP += (r.nextDouble() - 0.5) * 0.02
      val p = round(math.exp(logP), 6)
      price(h) = p
      mc(h) = if (r.nextInt(100) == 0) Double.NaN else round(p * supply, 2)
      vol(h) = round(p * supply * (0.01 + r.nextDouble() * 0.09), 2)
      h += 1
    }
    (price, mc, vol)
  }

  /** The hours day `d` revises for asset `i` (empty unless `i % 7 == 0`). */
  def revisedHours(i: Int, d: Int): Seq[Int] =
    if (i % 7 != 0 || d < 1) Nil
    else Seq(3, 7, 11, 15).map(o => BackfillHours + 24 * d - 48 + o)

  def revisedPrice(p: Double): Double = round(p * 1.0025, 6)

  /** The hours one payload carries: the backfill (day 0) or day `d`. */
  def payloadHours(d: Int): Range =
    if (d == 0) 1 to BackfillHours
    else (BackfillHours + 24 * (d - 1)) to (BackfillHours + 24 * d)

  /** market_chart payload of asset `i` for day `d` (0 = backfill): three
    * parallel `[[ms, v], …]` arrays sorted by ms. */
  def chart(i: Int, d: Int): (Array[Array[Double]], Array[Array[Double]], Array[Array[Double]]) = {
    val hours = (revisedHours(i, d) ++ payloadHours(d)).distinct.sorted
    val (price, mc, vol) = series(i, hours.max)
    val revised = revisedHours(i, d).toSet
    def pair(h: Int, v: Double) = Array(msOf(h).toDouble, v)
    (hours.map(h => pair(h, if (revised(h)) revisedPrice(price(h)) else price(h))).toArray,
      hours.filterNot(h => mc(h).isNaN).map(h => pair(h, mc(h))).toArray,
      hours.map(h => pair(h, vol(h))).toArray)
  }

  /** The batch's run instant: ten minutes after its last point. */
  def runTs(d: Int): Timestamp = new Timestamp(msOf(payloadHours(d).last) + 10 * 60 * 1000L)

  /** `prices` partition values (UTC days) a day-`d` payload touches. */
  def priceDays(d: Int): Set[String] =
    (0 until assets).flatMap(i => revisedHours(i, d) ++ payloadHours(d))
      .map(h => java.time.Instant.ofEpochMilli(msOf(h)).toString.take(10)).toSet

  /** Live `prices` rows after the backfill and `days` daily batches. */
  def expectedPriceRows(days: Int): Long = assets.toLong * (BackfillHours + 24L * days)

  /** Expected latest (ts ms, price) of asset `i` after `days` batches:
    * the last hour is never revised. */
  def expectedLatest(i: Int, days: Int): (Long, java.math.BigDecimal) = {
    val last = BackfillHours + 24 * days
    val (price, _, _) = series(i, last)
    (msOf(last), new java.math.BigDecimal(java.lang.Double.toString(price(last))))
  }

  def marketsFrame(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      markets.map { case (a, b, c) => Row(a, b, c) }, 1), Schemas.coinsMarkets)

  /** The day-`d` chart payloads of all assets as a frame, generated on
    * the executors (`slices` tasks) so no payload passes the driver. */
  def chartFrame(spark: SparkSession, d: Int, slices: Int): DataFrame = {
    val g = this
    val rows = spark.sparkContext.parallelize(0 until assets, slices).map { i =>
      val (p, m, v) = g.chart(i, d)
      Row(g.assetId(i), p.map(_.toSeq).toSeq, m.map(_.toSeq).toSeq, v.map(_.toSeq).toSeq)
    }
    spark.createDataFrame(rows, Schemas.marketChart)
  }

  /** SHA-256 over a canonical byte encoding of the markets rows and the
    * day-`d` payloads of every asset. */
  def digest(d: Int): String = {
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    markets.foreach { case (a, b, c) => out.writeUTF(a); out.writeUTF(b); out.writeUTF(c) }
    (0 until assets).foreach { i =>
      val (p, m, v) = chart(i, d)
      out.writeUTF(assetId(i))
      Seq(p, m, v).foreach { s =>
        out.writeInt(s.length)
        s.foreach(pair => pair.foreach(out.writeDouble))
      }
    }
    out.flush()
    MessageDigest.getInstance("SHA-256").digest(bytes.toByteArray).map("%02x".format(_)).mkString
  }
}

object Gen {
  val BackfillHours: Int = 90 * 24
  /** Instant of the backfill's last point. */
  val T0Ms: Long = java.time.Instant.parse("2024-04-11T00:00:00Z").toEpochMilli
  val StartMs: Long = T0Ms - BackfillHours * 3600000L

  def msOf(h: Int): Long = StartMs + h * 3600000L

  def round(v: Double, places: Int): Double =
    java.math.BigDecimal.valueOf(v).setScale(places, java.math.RoundingMode.HALF_UP).doubleValue
}
