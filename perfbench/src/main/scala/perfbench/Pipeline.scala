package perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Incremental
import graft.ops.{AsOfSnapshots, IncrementalLatest}
import graft.plans.LatestRegistry
import graft.views.CryptoViews

/** The reference pipeline on one directory: the three ETL tables, the
  * maintained latest-price view and the as-of snapshot store, driven
  * only through the program's public functions. */
final class Pipeline(spark: SparkSession, val root: String, val gen: Gen) {
  val base = s"$root/tables"
  val pricesPath = s"$base/prices"
  val latestPath = s"$root/latest_prices"
  val asofPath = s"$root/asof_prices"
  val tablePaths: Seq[String] =
    Seq(s"$base/assets", pricesPath, s"$base/daily_metrics", latestPath, asofPath)

  val Keys = Seq("asset_id")
  val Ord = Seq("ts")

  /** Monthly snapshot periods over the `yyyy-MM-dd` day partitions. */
  val period: String => String = _.take(7)

  /** Batches committed so far (0 = only the backfill). */
  var day = 0
  def asOf: Timestamp = gen.runTs(day)

  private val slices = spark.sparkContext.defaultParallelism

  /** The day-`d` payload frames (0 = backfill): (markets, chart). */
  def payload(d: Int): (DataFrame, DataFrame) =
    (gen.marketsFrame(spark), gen.chartFrame(spark, d, slices))

  /** One `runOnManifest` batch: three upserts, one commit per table. */
  def ingest(d: Int, markets: DataFrame, chart: DataFrame): Unit = {
    Incremental.runOnManifest(spark, markets, chart, base, gen.runTs(d),
      knownParts = Some(Incremental.KnownParts(Incremental.allAssetBuckets(),
        gen.priceDays(d), Incremental.dailyPartOf(gen.runTs(d)))))
    day = d
  }

  def refreshLatest(): IncrementalLatest.RefreshResult =
    IncrementalLatest.refresh(spark, pricesPath, latestPath, Keys, Ord)

  def refreshAsOf(): AsOfSnapshots.RefreshResult =
    AsOfSnapshots.refresh(spark, pricesPath, asofPath, Keys, Ord, period)

  def register(): Unit = LatestRegistry.register(spark, pricesPath, latestPath, Keys, Ord)
  def unregister(): Unit = LatestRegistry.unregister(spark, pricesPath)

  /** The frames a view reads, resolved from the current manifests. */
  final case class Inputs(prices: DataFrame, assets: DataFrame, daily: DataFrame)

  def resolve(view: String): Inputs = {
    val assets = Incremental.readAssets(spark, base)
    if (view == "ohlc") Inputs(null, assets, Incremental.readDaily(spark, base))
    else Inputs(Incremental.readPrices(spark, base), assets, null)
  }

  /** The dashboard's six reads, in page order. */
  val Views: Seq[String] = Seq("latest", "change24h", "ohlc", "spark7d", "overview", "kpis")

  /** Views whose plan holds a latest-per-key window over `prices`. */
  val RewriteEligible: Set[String] = Set("latest", "change24h", "overview", "kpis")

  def build(view: String, in: Inputs): DataFrame = {
    val now = lit(asOf)
    view match {
      case "latest" => CryptoViews.vLatestPrices(in.prices, in.assets)
      case "change24h" => CryptoViews.vPriceChange24h(in.prices, in.assets, now)
      case "ohlc" => CryptoViews.vDailyOhlc(in.daily, in.assets)
      case "spark7d" => CryptoViews.vSparkline7d(in.prices, in.assets, now)
      case "overview" => CryptoViews.overview(in.prices, in.assets, now)
      case "kpis" => CryptoViews.kpis(CryptoViews.overview(in.prices, in.assets, now))
    }
  }

  def read(view: String): Array[Row] = build(view, resolve(view)).collect()
}
