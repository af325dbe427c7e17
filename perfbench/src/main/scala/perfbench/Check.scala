package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.Incremental
import graft.ops.{IncrementalLatest, ManifestTable, Ops}

/** End-of-run correctness check. Each named check either passes or
  * yields a failure message; the run is correct only if none fails. */
object Check {

  val GraftRules: Seq[String] = Seq(
    "spark.graft.latestRewrite.enabled", "spark.graft.mvRewrite.enabled",
    "spark.graft.statsAgg.enabled", "spark.graft.joinPrune.enabled")

  def withRulesOff[T](spark: SparkSession)(body: => T): T = {
    val saved = GraftRules.map(k => k -> spark.conf.getOption(k))
    GraftRules.foreach(spark.conf.set(_, "false"))
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Rows as a sorted multiset of their string forms. */
  def canon(rows: Array[Row]): Seq[String] = rows.map(_.toString).sorted.toSeq

  /** Runs every check against the pipeline after `p.day` batches.
    * `served` holds the last rows each view returned in the timed loop.
    * Returns (checks attempted, failure messages). */
  def run(spark: SparkSession, p: Pipeline,
          served: Map[String, Array[Row]]): (Int, Seq[String]) = {
    val results = Seq.newBuilder[(String, Option[String])]
    def check(name: String)(ok: => Option[String]): Unit =
      results += name -> (try ok catch {
        case e: Exception => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      })

    for (v <- p.Views) check(s"view $v equals the rules-off answer") {
      val off = withRulesOff(spark)(p.read(v))
      served.get(v) match {
        case None => Some("no served rows")
        case Some(rows) if canon(rows) != canon(off) =>
          Some(s"${rows.length} served rows vs ${off.length} rules-off rows differ")
        case _ => None
      }
    }

    for (path <- p.tablePaths) check(s"fsck ${path.split('/').last}") {
      val issues = ManifestTable.fsck(spark, path).collect()
      if (issues.isEmpty) None else Some(issues.take(3).mkString("; "))
    }

    check("live prices rows equal the generated count") {
      val n = Incremental.readPrices(spark, p.base).count()
      val want = p.gen.expectedPriceRows(p.day)
      if (n == want) None else Some(s"$n rows, expected $want")
    }

    val cols = Seq("asset_id", "ts", "price", "market_cap", "volume", "source", "inserted_at")
    val view = IncrementalLatest.read(spark, p.latestPath).select(cols.map(col): _*).collect()
    check("latest view equals latestPerKey over the base, rules off") {
      val truth = withRulesOff(spark)(Ops.latestPerKey(
        Incremental.readPrices(spark, p.base), p.Keys, Seq(col("ts")))
        .select(cols.map(col): _*).collect())
      if (canon(view) == canon(truth)) None
      else Some(s"${view.length} view rows vs ${truth.length} recomputed rows differ")
    }

    check("latest view equals the generator's latest prices") {
      val got = view.map(r => r.getString(0) ->
        (r.getTimestamp(1).getTime, r.getDecimal(2))).toMap
      val bad = (0 until p.gen.assets).filterNot { i =>
        val (ms, price) = p.gen.expectedLatest(i, p.day)
        got.get(p.gen.assetId(i)).exists { case (t, v) => t == ms && v.compareTo(price) == 0 }
      }
      if (bad.isEmpty && got.size == p.gen.assets) None
      else Some(s"${bad.size} assets wrong, ${got.size} rows for ${p.gen.assets} assets")
    }

    val all = results.result()
    (all.size, all.collect { case (n, Some(msg)) => s"$n: $msg" })
  }
}
