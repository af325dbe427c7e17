package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.GraftSession
import graft.ops.ManifestTable

/** Tests of the benchmark's own code. Run with
  * `python3 perfbench/run.py --self-test`; exits non-zero on a failure. */
object SelfTest {

  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"PASS $name") }
    catch {
      case e: Throwable =>
        failures += 1
        println(s"FAIL $name: $e")
    }

  private def expect(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  def main(args: Array[String]): Unit = {
    val work = args.sliding(2).collectFirst { case Array("--work", w) => w }
      .getOrElse(sys.error("missing --work"))

    test("generator: the same seed gives byte-identical payloads, another seed differs") {
      for (d <- Seq(0, 1, 2))
        expect(Gen(7, 30).digest(d) == Gen(7, 30).digest(d), s"day $d digests differ")
      expect(Gen(7, 30).digest(0) != Gen(8, 30).digest(0), "seeds 7 and 8 give one payload")
      expect(Gen(7, 30).digest(1) != Gen(7, 30).digest(2), "days 1 and 2 give one payload")
    }

    test("generator: a daily batch overlaps the previous by one hour and revises 4 points " +
      "of every 7th asset") {
      val g = Gen(3, 15)
      expect(g.payloadHours(1).head == g.payloadHours(0).last, "day 1 does not overlap the backfill")
      expect(g.payloadHours(2).head == g.payloadHours(1).last, "day 2 does not overlap day 1")
      expect(g.payloadHours(1).size == 25, "a day is not 25 points")
      val revised = (0 until g.assets).filter(i => g.revisedHours(i, 1).nonEmpty)
      expect(revised == Seq(0, 7, 14), s"revised assets $revised")
      val (p, _, _) = g.chart(7, 1)
      expect(p.length == 29, s"asset 7 day 1 carries ${p.length} prices, not 25 + 4")
      expect(p.map(_(0)).toSeq == p.map(_(0)).toSeq.sorted, "chart not sorted by time")
    }

    test("percentile rule: the highest percentile with at least ten samples beyond it") {
      val cases = Seq(0 -> None, 19 -> None, 20 -> Some(0.5), 99 -> Some(0.5),
        100 -> Some(0.9), 999 -> Some(0.9), 1000 -> Some(0.99), 10000 -> Some(0.999))
      for ((n, want) <- cases) {
        val got = Stats.tailPercentile(n)
        expect(got == want, s"n=$n: got $got, want $want")
      }
      expect(Stats.median(Seq(5.0, 1.0, 3.0)) == 3.0, "odd median")
      expect(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5, "even median")
      expect(Stats.quantile((1 to 11).map(_.toDouble), 0.9) == 10.0, "p90 of 1..11")
    }

    val spark = GraftSession.create("2", "perfbench-selftest")
    try {
      test("correctness check passes on a clean pipeline and fails on a corrupted view") {
        val p = new Pipeline(spark, s"$work/check", Gen(5, 12))
        val (markets, chart) = p.payload(0)
        p.ingest(0, markets, chart)
        p.refreshLatest()
        p.refreshAsOf()
        p.register()
        def served(): Map[String, Array[Row]] = p.Views.map(v => v -> p.read(v)).toMap
        val (n, clean) = Check.run(spark, p, served())
        expect(n > 0 && clean.isEmpty, s"clean pipeline failed: $clean")

        // one wrong price in the maintained view, committed with the
        // view's own properties so the planner still treats it as fresh
        val bad = ManifestTable.read(spark, p.latestPath)
          .filter(col("asset_id") === p.gen.assetId(0))
          .withColumn("price", (col("price") + lit(1)).cast(DecimalType(20, 8)))
        ManifestTable.merge(spark, p.latestPath, bad, keys = p.Keys,
          partitionCol = graft.ops.IncrementalLatest.PartitionColName,
          props = ManifestTable.readProps(spark, p.latestPath))
        val (_, corrupt) = Check.run(spark, p, served())
        expect(corrupt.exists(_.startsWith("view latest equals")),
          s"served latest view not caught: $corrupt")
        expect(corrupt.exists(_.startsWith("latest view equals latestPerKey")),
          s"view vs recompute not caught: $corrupt")
        p.unregister()
      }
    } finally spark.stop()

    println(if (failures == 0) "self-test passed" else s"self-test: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
