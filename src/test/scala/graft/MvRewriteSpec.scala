package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{IncrementalAgg, ManifestTable}
import graft.plans.MvRegistry

/** Automatic materialized-view rewrite (MvRewriteRule): a grouped
  * count/sum over a REGISTERED base table must be answered from its
  * IncrementalAgg-maintained view — when and only when the view is
  * provably fresh — with values identical to the full scan. Staleness,
  * non-rewritable aggregates, non-group filters, subset scans and the
  * kill switch must all fall back.
  */
class MvRewriteSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def fresh(tag: String): (String, String) = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_mv_$tag").toString
    (d + "/base", d + "/view")
  }

  /** 3 day-partitions × 2 types; v long. */
  private def seed(base: String): Unit = {
    val rows = (1L to 60L).map { i =>
      (i, s"d${i % 3}", if (i % 2 == 0) "click" else "view", i % 10, i * 7L)
    }.toDF("id", "day", "etype", "u10", "v")
    ManifestTable.merge(spark, base, rows, Seq("id"), "day")
  }

  /** Collect every scanned table root in the optimized plan. */
  private def roots(df: DataFrame): Set[String] =
    df.queryExecution.optimizedPlan.collect {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.head.toString
      }
    }.toSet

  private def run(df: DataFrame): (Int, Set[String], Seq[org.apache.spark.sql.Row]) = {
    val b = MvRegistry.rewrites.get
    val rows = df.collect().toSeq
    (MvRegistry.rewrites.get - b, roots(df), rows)
  }

  private def truth(df: => DataFrame): Seq[org.apache.spark.sql.Row] = {
    spark.conf.set("spark.graft.mvRewrite.enabled", "false")
    try df.collect().toSeq
    finally spark.conf.set("spark.graft.mvRewrite.enabled", "true")
  }

  test("a grouped count+sum over a registered, fresh base answers from the " +
    "view — the base is never scanned — with scan-identical values") {
    val (base, view) = fresh("basic")
    seed(base)
    IncrementalAgg.refresh(spark, base, view, Seq("etype", "u10"), Seq("v"))
    MvRegistry.register(spark, base, view, Seq("etype", "u10"), Seq("v"))
    try {
      def q = ManifestTable.read(spark, base)
        .groupBy(col("etype"), col("u10"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
        .orderBy(col("etype"), col("u10"))
      val (delta, rs, rows) = run(q)
      assert(delta == 1, s"expected one MV rewrite, saw $delta")
      assert(rs.exists(_.contains("/view")) && !rs.exists(_.contains("/base")),
        s"the rewritten plan must scan the view only: $rs")
      assert(rows == truth(q), "view answer must equal the scan answer")
    } finally MvRegistry.unregister(spark, base)
  }

  test("roll-up over a grouping SUBSET re-aggregates the view; a group-column " +
    "filter translates onto the view; the global count coalesces to 0") {
    val (base, view) = fresh("rollup")
    seed(base)
    IncrementalAgg.refresh(spark, base, view, Seq("etype", "u10"), Seq("v"))
    MvRegistry.register(spark, base, view, Seq("etype", "u10"), Seq("v"))
    try {
      def roll = ManifestTable.read(spark, base)
        .where(col("u10") >= 3).groupBy(col("etype"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
        .orderBy(col("etype"))
      val (d1, r1, rows1) = run(roll)
      assert(d1 == 1 && !r1.exists(_.contains("/base")))
      assert(rows1 == truth(roll))
      // global: no grouping at all
      def glob = ManifestTable.read(spark, base)
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      val (d2, _, rows2) = run(glob)
      assert(d2 == 1 && rows2 == truth(glob))
      // global over an IMPOSSIBLE group filter: count must be 0, not null
      def none = ManifestTable.read(spark, base)
        .where(col("etype") === "nosuch").agg(count(lit(1)).as("n"))
      val (d3, _, rows3) = run(none)
      assert(d3 == 1 && rows3.head.getLong(0) == 0L,
        s"count over zero surviving view rows must coalesce to 0: $rows3")
    } finally MvRegistry.unregister(spark, base)
  }

  test("a filtered roll-up still rewrites under ANSI mode and a DST session " +
    "time zone, with rules-off rows") {
    val (base, view) = fresh("ansi_tz")
    seed(base)
    IncrementalAgg.refresh(spark, base, view, Seq("etype", "u10"), Seq("v"))
    MvRegistry.register(spark, base, view, Seq("etype", "u10"), Seq("v"))
    try SparkTestSession.withConf(SparkTestSession.AnsiLosAngeles) {
      def roll = ManifestTable.read(spark, base)
        .where(col("u10") >= 3).groupBy(col("etype"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
        .orderBy(col("etype"))
      val (d, r, rows) = run(roll)
      assert(d == 1 && !r.exists(_.contains("/base")), s"delta=$d roots=$r")
      assert(rows == truth(roll))
    } finally MvRegistry.unregister(spark, base)
  }

  test("staleness is transactional: a base merge un-rewrites the query until " +
    "refresh() folds the delta back in") {
    val (base, view) = fresh("stale")
    seed(base)
    IncrementalAgg.refresh(spark, base, view, Seq("etype"), Seq("v"))
    MvRegistry.register(spark, base, view, Seq("etype"), Seq("v"))
    try {
      def q = ManifestTable.read(spark, base).groupBy(col("etype"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv")).orderBy(col("etype"))
      assert(run(q)._1 == 1)
      // new rows land; the view is now one version behind
      ManifestTable.merge(spark, base,
        Seq((100L, "d0", "click", 1L, 500L), (101L, "d9", "scroll", 2L, 600L))
          .toDF("id", "day", "etype", "u10", "v"), Seq("id"), "day")
      val (d2, r2, rows2) = run(q)
      assert(d2 == 0 && r2.exists(_.contains("/base")),
        "a stale view must NOT answer; the base scans")
      assert(rows2.map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .exists(_ == (("scroll", 1L, 600L))), "post-merge rows visible")
      IncrementalAgg.refresh(spark, base, view, Seq("etype"), Seq("v"))
      val (d3, _, rows3) = run(q)
      assert(d3 == 1 && rows3 == rows2, "refresh restores the rewrite, same values")
    } finally MvRegistry.unregister(spark, base)
  }

  test("back-offs: unregistered base, non-sum column, avg, non-group filter, " +
    "partition-filtered scan, countDistinct, double sums, kill switch") {
    val (base, view) = fresh("backoff")
    seed(base)
    IncrementalAgg.refresh(spark, base, view, Seq("etype"), Seq("v"))
    def q(df: DataFrame): DataFrame =
      df.groupBy(col("etype")).agg(count(lit(1)).as("n")).orderBy(col("etype"))
    // unregistered: nothing happens
    assert(run(q(ManifestTable.read(spark, base)))._1 == 0)
    MvRegistry.register(spark, base, view, Seq("etype"), Seq("v"))
    try {
      val t = ManifestTable.read(spark, base)
      // sum of a non-maintained column
      val (d1, r1, _) = run(t.groupBy(col("etype")).agg(sum(col("u10")).as("s")))
      assert(d1 == 0 && r1.exists(_.contains("/base")))
      // avg backs off WITHOUT the metadata exactness proof (this base
      // committed no zone maps / null counts for v) — the positive
      // avg path has its own test below
      assert(run(t.groupBy(col("etype")).agg(avg(col("v")).as("a")))._1 == 0)
      // filter on a NON-group column cannot translate
      assert(run(q(t.where(col("u10") > 5)))._1 == 0)
      // a partition-filtered read is not the full table
      assert(run(q(ManifestTable.read(spark, base, partitionFilter = _ == "d0")))._1 == 0)
      // count distinct of a NON-group column is not re-aggregable
      // from the view (group-column distincts are — own test below)
      assert(run(t.groupBy(col("etype")).agg(countDistinct(col("v"))))._1 == 0)
      // kill switch
      spark.conf.set("spark.graft.mvRewrite.enabled", "false")
      try assert(run(q(ManifestTable.read(spark, base)))._1 == 0)
      finally spark.conf.set("spark.graft.mvRewrite.enabled", "true")
      // still rewrites when nothing disqualifies (the guards above
      // backed off for their own reasons, not collateral state)
      assert(run(q(ManifestTable.read(spark, base)))._1 == 1)
    } finally MvRegistry.unregister(spark, base)
  }

  test("EXPRESSION groupings over group columns roll up onto the view: " +
    "GROUP BY f(groupCol) is constant within each view row-group") {
    val (base, view) = fresh("exprgrp")
    seed(base)
    IncrementalAgg.refresh(spark, base, view, Seq("etype", "u10"), Seq("v"),
      minMaxCols = Seq("v"))
    MvRegistry.register(spark, base, view, Seq("etype", "u10"), Seq("v"),
      minMaxCols = Seq("v"))
    try {
      // substring of a group col + arithmetic bucket of another
      def q = ManifestTable.read(spark, base)
        .groupBy(substring(col("etype"), 1, 1).as("e1"), (col("u10") % 3).as("ub"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"), max(col("v")).as("mx"))
        .orderBy(col("e1"), col("ub"))
      val (d1, r1, rows1) = run(q)
      assert(d1 == 1 && !r1.exists(_.contains("/base")),
        s"an expression grouping must rewrite onto the view: $r1")
      assert(rows1 == truth(q))
      // a grouping expression referencing a NON-group column backs off
      def qbad = ManifestTable.read(spark, base)
        .groupBy((col("id") % 2).as("parity")).agg(count(lit(1)).as("n"))
      val (d2, r2, _) = run(qbad)
      assert(d2 == 0 && r2.exists(_.contains("/base")),
        "f(non-group col) is NOT constant within a view row-group")
      // a nondeterministic grouping expression backs off
      def qrand = ManifestTable.read(spark, base)
        .groupBy((col("u10") + (rand() * 0)).as("g")).agg(count(lit(1)).as("n"))
      val (d3, _, _) = run(qrand)
      assert(d3 == 0, "nondeterministic groupings must not rewrite")
    } finally MvRegistry.unregister(spark, base)
  }

  test("the SQL parser path: a GROUP BY substring(...) roll-up through " +
    "spark.sql text rewrites onto the view") {
    val (base, view) = fresh("sqlexpr")
    seed(base)
    IncrementalAgg.refresh(spark, base, view, Seq("etype", "u10"), Seq("v"))
    MvRegistry.register(spark, base, view, Seq("etype", "u10"), Seq("v"))
    try {
      ManifestTable.read(spark, base).createOrReplaceTempView("mv_sqlexpr")
      def q = spark.sql("""SELECT substring(etype, 1, 2) AS e2,
        count(*) AS n, sum(v) AS sv
        FROM mv_sqlexpr WHERE u10 < 8 GROUP BY substring(etype, 1, 2)
        ORDER BY e2""")
      val (d, r, rows) = run(q)
      assert(d == 1 && !r.exists(_.contains("/base")),
        s"the parsed expression grouping must rewrite: $r")
      assert(rows == truth(q))
    } finally MvRegistry.unregister(spark, base)
  }

  test("several views per base: the rewrite picks the FIRST matching view " +
    "in registration order, and each query lands on a view that can serve it") {
    val (base, viewA) = fresh("multi")
    val viewB = viewA + "_coarse"
    seed(base)
    // viewA groups by (etype, u10); viewB by etype only
    IncrementalAgg.refresh(spark, base, viewA, Seq("etype", "u10"), Seq("v"))
    IncrementalAgg.refresh(spark, base, viewB, Seq("etype"), Seq("v"))
    MvRegistry.register(spark, base, viewA, Seq("etype", "u10"), Seq("v"))
    MvRegistry.register(spark, base, viewB, Seq("etype"), Seq("v"))
    try {
      // grouping by u10 matches ONLY viewA
      def qa = ManifestTable.read(spark, base).groupBy(col("u10"))
        .agg(count(lit(1)).as("n")).orderBy(col("u10"))
      val (d1, r1, rows1) = run(qa)
      assert(d1 == 1 && r1.exists(_.endsWith("/view")) &&
        !r1.exists(_.endsWith("_coarse")), s"u10 must land on viewA: $r1")
      assert(rows1 == truth(qa))
      // grouping by etype matches BOTH; first registered (viewA) wins
      def qb = ManifestTable.read(spark, base).groupBy(col("etype"))
        .agg(sum(col("v")).as("sv")).orderBy(col("etype"))
      val (d2, r2, rows2) = run(qb)
      assert(d2 == 1 && r2.exists(_.endsWith("/view")) &&
        !r2.exists(_.endsWith("_coarse")),
        s"first-registered view wins a tie: $r2")
      assert(rows2 == truth(qb))
      // a STALE first view falls through to the second: refresh only
      // viewB after a merge — the etype query must land on viewB
      ManifestTable.merge(spark, base,
        Seq((300L, "d9", "tap", 4L, 11L)).toDF("id", "day", "etype", "u10", "v"),
        Seq("id"), "day")
      IncrementalAgg.refresh(spark, base, viewB, Seq("etype"), Seq("v"))
      val (d3, r3, rows3) = run(qb)
      assert(d3 == 1 && r3.exists(_.endsWith("_coarse")) &&
        !r3.exists(_.endsWith("/base")),
        s"the stale viewA must fall through to the fresh viewB: $r3")
      assert(rows3 == truth(qb))
    } finally MvRegistry.unregister(spark, base)
  }

  test("maintained min/max: additive deltas FOLD incrementally, a retraction " +
    "forces the full rebuild, and the rewrite answers min/max incl. roll-up") {
    val (base, view) = fresh("minmax")
    seed(base)
    val r0 = IncrementalAgg.refresh(spark, base, view,
      Seq("etype", "u10"), Seq("v"), minMaxCols = Seq("v", "id"))
    assert(!r0.incremental && r0.committed, "first build is full")
    MvRegistry.register(spark, base, view, Seq("etype", "u10"), Seq("v"),
      minMaxCols = Seq("v", "id"))
    try {
      def q = ManifestTable.read(spark, base).groupBy(col("etype"))
        .agg(count(lit(1)).as("n"), min(col("v")).as("mnv"),
          max(col("v")).as("mxv"), max(col("id")).as("mxi"))
        .orderBy(col("etype"))
      val (d1, r1, rows1) = run(q)
      assert(d1 == 1 && !r1.exists(_.contains("/base")))
      assert(rows1 == truth(q))
      // an APPEND into brand-new partitions folds incrementally
      ManifestTable.merge(spark, base,
        Seq((200L, "d7", "click", 1L, 1000L), (201L, "d8", "view", 2L, 1L))
          .toDF("id", "day", "etype", "u10", "v"), Seq("id"), "day")
      val r2 = IncrementalAgg.refresh(spark, base, view,
        Seq("etype", "u10"), Seq("v"), minMaxCols = Seq("v", "id"))
      assert(r2.incremental && r2.committed,
        "a purely additive delta must fold, not rebuild")
      val (d3, _, rows3) = run(q)
      assert(d3 == 1 && rows3 == truth(q),
        "folded bounds must equal the recompute (new max 1000, new min 1)")
      // a RETRACTION (rewriting an existing partition) forces a full
      // rebuild — the retracted rows might have held the bounds
      ManifestTable.deleteWhere(spark, base, "day", col("id") === 200L)
      val r4 = IncrementalAgg.refresh(spark, base, view,
        Seq("etype", "u10"), Seq("v"), minMaxCols = Seq("v", "id"))
      assert(!r4.incremental && r4.committed,
        "a retraction under maintained min/max must rebuild")
      val (d5, _, rows5) = run(q)
      assert(d5 == 1 && rows5 == truth(q),
        "the rebuilt bounds must drop the retracted max")
      assert(!rows5.exists(_.getLong(3) == 1000L),
        "v=1000 was deleted; its max must not survive")
    } finally MvRegistry.unregister(spark, base)
  }

  test("DURABLE registration: the catalog prop on the base manifest re-arms " +
    "the rewrite after the in-memory registry clears (fresh-session " +
    "simulation); durable unregister removes it for good") {
    val (base, view) = fresh("durable")
    seed(base)
    // refresh FIRST, register durably AFTER — the catalog write is a
    // metadata-only commit and freshness bridges it by data-entry
    // identity, so the registration order is irrelevant
    IncrementalAgg.refresh(spark, base, view, Seq("etype"), Seq("v"))
    MvRegistry.register(spark, base, view, Seq("etype"), Seq("v"),
      durable = true)
    def q = ManifestTable.read(spark, base).groupBy(col("etype"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv")).orderBy(col("etype"))
    val t = truth(q)
    assert(run(q)._1 == 1,
      "register-after-refresh must still fire (metadata-only bridge)")
    MvRegistry.clearInMemory()
    val (d2, r2, rows2) = run(q)
    assert(d2 == 1 && !r2.exists(_.contains("/base")),
      s"the durable catalog must re-arm the rewrite with no in-memory state: $r2")
    assert(rows2 == t, "durable-path answer identical to the scan")
    // a SESSION-LOCAL unregister shadows the durable catalog: no
    // fallthrough, the base scans — but the catalog prop survives
    MvRegistry.unregister(spark, base)
    val (dS, rS, _) = run(q)
    assert(dS == 0 && rS.exists(_.contains("/base")),
      "session unregister must shadow the durable catalog, not fall through")
    assert(ManifestTable.readProps(spark, base)
      .exists(_._1.startsWith(ManifestTable.MvAggDefPropPrefix)),
      "the catalog prop must survive a session-local unregister")
    MvRegistry.clearInMemory() // lift the shadow: the catalog re-arms
    assert(run(q)._1 == 1)
    // durable unregister: prop gone, no rewrite even via the fallback
    MvRegistry.unregister(spark, base, durable = true)
    MvRegistry.clearInMemory()
    IncrementalAgg.refresh(spark, base, view, Seq("etype"), Seq("v"))
    val (d3, r3, rows3) = run(q)
    assert(d3 == 0 && r3.exists(_.contains("/base")),
      "after durable unregister the base must scan again")
    assert(rows3 == t)
    // re-register durably twice: the slot is reused, not duplicated
    MvRegistry.register(spark, base, view, Seq("etype"), Seq("v"), durable = true)
    MvRegistry.register(spark, base, view, Seq("etype"), Seq("v"), durable = true)
    assert(ManifestTable.readProps(spark, base)
      .count(_._1.startsWith(ManifestTable.MvAggDefPropPrefix)) == 1,
      "re-registering the same view must replace its prop slot in place")
    MvRegistry.unregister(spark, base, durable = true)
  }

  test("count(DISTINCT groupCol) answers from the view — one row per group " +
    "tuple, so group-column distincts are exact over O(groups) rows") {
    val (base, view) = fresh("cntd")
    seed(base)
    IncrementalAgg.refresh(spark, base, view, Seq("etype", "u10"), Seq("v"))
    MvRegistry.register(spark, base, view, Seq("etype", "u10"), Seq("v"))
    try {
      def g = ManifestTable.read(spark, base)
        .agg(countDistinct(col("u10")).as("nd"), count(lit(1)).as("n"))
      val (d1, r1, rows1) = run(g)
      assert(d1 == 1 && !r1.exists(_.contains("/base")),
        s"global count(DISTINCT groupCol) must answer from the view: $r1")
      assert(rows1 == truth(g))
      // grouped: distinct u10 PER etype — view rows partition the base
      def q = ManifestTable.read(spark, base).groupBy(col("etype"))
        .agg(countDistinct(col("u10")).as("nd")).orderBy(col("etype"))
      val (d2, _, rows2) = run(q)
      assert(d2 == 1 && rows2 == truth(q))
      // a group-column filter composes (keeps whole row-groups both sides)
      def qf = ManifestTable.read(spark, base).where(col("u10") >= 5)
        .agg(countDistinct(col("etype")).as("nd"))
      val (d3, _, rows3) = run(qf)
      assert(d3 == 1 && rows3 == truth(qf))
    } finally MvRegistry.unregister(spark, base)
  }

  test("avg(long) rewrites to Σsum/Σcnt under the metadata double-exactness " +
    "proof — bit-equal to the scan, nulls included (the view maintains " +
    "count(v) per group) — and backs off on an unprovable bound") {
    val (base, view) = fresh("avg")
    val rows = (1L to 60L).map { i =>
      (i, s"d${i % 3}", if (i % 2 == 0) "click" else "view", i % 10, i * 7L)
    }.toDF("id", "day", "etype", "u10", "v")
    // zone maps + null counts on v: the proof's inputs
    ManifestTable.merge(spark, base, rows, Seq("id"), "day",
      statsColumns = Seq("v"))
    IncrementalAgg.refresh(spark, base, view, Seq("etype"), Seq("v"))
    MvRegistry.register(spark, base, view, Seq("etype"), Seq("v"))
    try {
      def q = ManifestTable.read(spark, base).groupBy(col("etype"))
        .agg(avg(col("v")).as("a"), count(lit(1)).as("n")).orderBy(col("etype"))
      val (d1, r1, rows1) = run(q)
      assert(d1 == 1 && !r1.exists(_.contains("/base")),
        s"avg must rewrite under the proof: $r1")
      assert(rows1 == truth(q), "view avg must be BIT-equal to the scan avg")
      // global avg too (NULL over an empty fold matches avg-of-nothing)
      def g = ManifestTable.read(spark, base).agg(avg(col("v")).as("a"))
      val (d2, _, rows2) = run(g)
      assert(d2 == 1 && rows2 == truth(g))
    } finally MvRegistry.unregister(spark, base)
    // UNPROVABLE BOUND: one value at 2^53 makes maxAbs × rows > 2^53
    val (base2, view2) = fresh("avgbig")
    ManifestTable.merge(spark, base2,
      (Seq((0L, "d0", "click", 0L, 1L << 53)) ++
        (1L to 9L).map(i => (i, s"d${i % 3}", "click", i % 10, i)))
        .toDF("id", "day", "etype", "u10", "v"),
      Seq("id"), "day", statsColumns = Seq("v"))
    IncrementalAgg.refresh(spark, base2, view2, Seq("etype"), Seq("v"))
    MvRegistry.register(spark, base2, view2, Seq("etype"), Seq("v"))
    try {
      val (d3, r3, _) = run(ManifestTable.read(spark, base2)
        .groupBy(col("etype")).agg(avg(col("v")).as("a")))
      assert(d3 == 0 && r3.exists(_.contains("/base")),
        "a bound the metadata cannot prove must fall back to the scan")
      // count/sum still rewrite on the same table (the bound only
      // gates avg — long sums are exact at any magnitude)
      val (d4, _, _) = run(ManifestTable.read(spark, base2)
        .groupBy(col("etype")).agg(sum(col("v")).as("s")))
      assert(d4 == 1)
    } finally MvRegistry.unregister(spark, base2)
    // PLANTED NULLS: avg divides by count(v) — exactly the view's
    // maintained Σcnt — so the rewrite fires and stays bit-equal;
    // count(v) itself rewrites off the same column
    val (base3, view3) = fresh("avgnull")
    ManifestTable.merge(spark, base3,
      (1L to 20L).map(i => (i, s"d${i % 2}", "t",
        if (i % 5 == 0) None else Some(i * 3L)))
        .toDF("id", "day", "etype", "v"),
      Seq("id"), "day", statsColumns = Seq("v"))
    IncrementalAgg.refresh(spark, base3, view3, Seq("etype"), Seq("v"))
    MvRegistry.register(spark, base3, view3, Seq("etype"), Seq("v"))
    try {
      def qn = ManifestTable.read(spark, base3).groupBy(col("etype"))
        .agg(avg(col("v")).as("a"), count(col("v")).as("nv"),
          sum(col("v")).as("sv"))
      val (d5, r5, rows5) = run(qn)
      assert(d5 == 1 && !r5.exists(_.contains("/base")),
        "nulls in the measure rewrite exactly through the maintained count(v)")
      assert(rows5 == truth(qn))
    } finally MvRegistry.unregister(spark, base3)
  }

  test("DECIMAL sum/avg rewrite onto the view: exact fixed-point " +
    "re-aggregation cast to the scan's own result types — bit-equal to the " +
    "scan, nulls included — and an incrementally-maintained view keeps its " +
    "canonical schema and NULL-correct sums across retractions") {
    val (base, view) = fresh("decmv")
    def mk(ids: Seq[Long]) = ids.map { i =>
      (i, s"d${i % 3}", if (i % 2 == 0) "click" else "view",
        if (i % 5 == 0) Option.empty[BigDecimal]
        else Some(BigDecimal(i * 7).setScale(3) / 4))
    }.toDF("id", "day", "etype", "dv")
      .select(col("id"), col("day"), col("etype"),
        col("dv").cast("decimal(12,3)").as("dv"))
    ManifestTable.merge(spark, base, mk(1L to 60L), Seq("id"), "day")
    IncrementalAgg.refresh(spark, base, view, Seq("etype"), Seq("dv"))
    MvRegistry.register(spark, base, view, Seq("etype"), Seq("dv"))
    try {
      def q = ManifestTable.read(spark, base).groupBy(col("etype"))
        .agg(sum(col("dv")).as("s"), avg(col("dv")).as("a"),
          count(col("dv")).as("nv"))
        .orderBy(col("etype"))
      val (d1, r1, rows1) = run(q)
      assert(d1 == 1 && !r1.exists(_.contains("/base")),
        s"decimal sum/avg must rewrite: $d1 $r1")
      assert(q.schema("s").dataType.sql == "DECIMAL(22,3)" &&
        q.schema("a").dataType.sql == "DECIMAL(16,7)",
        s"the rewrite must keep the scan's result types: ${q.schema}")
      assert(rows1 == truth(q), "decimal view answers must be BIT-equal")
      def g = ManifestTable.read(spark, base).agg(
        sum(col("dv")).as("s"), avg(col("dv")).as("a"))
      val (d2, _, rows2) = run(g)
      assert(d2 == 1 && rows2 == truth(g))
      // INCREMENTAL refresh keeps the canonical decimal(22,3) sum
      // type (each fold casts back — no one-digit-per-refresh drift)
      ManifestTable.merge(spark, base,
        mk(Seq(61L, 62L, 63L)), Seq("id"), "day")
      val r = IncrementalAgg.refresh(spark, base, view, Seq("etype"), Seq("dv"))
      assert(r.incremental, "the second refresh must be the delta path")
      val viewSchema = IncrementalAgg.read(spark, view).schema
      assert(viewSchema("sum_dv").dataType.sql == "DECIMAL(22,3)",
        s"incremental folds must not widen the maintained type: $viewSchema")
      val (d3, _, rows3) = run(q)
      assert(d3 == 1 && rows3 == truth(q))
    } finally MvRegistry.unregister(spark, base)
  }

  test("a retraction that leaves a group ALL-NULL folds its sum to SQL NULL, " +
    "not 0 — the maintained non-null count disambiguates, and the rewrite " +
    "serves the scan's answer exactly") {
    val (base, view) = fresh("nullfold")
    // group 'g': one non-null row (id 1, v=5) + one null row (id 2);
    // group 'h': plain values (keeps the view non-degenerate)
    ManifestTable.merge(spark, base,
      Seq((1L, "d1", "g", Some(5L)), (2L, "d2", "g", Option.empty[Long]),
        (3L, "d1", "h", Some(7L)), (4L, "d2", "h", Some(9L)))
        .toDF("id", "day", "etype", "v"),
      Seq("id"), "day")
    IncrementalAgg.refresh(spark, base, view, Seq("etype"), Seq("v"))
    MvRegistry.register(spark, base, view, Seq("etype"), Seq("v"))
    try {
      // retract the ONE non-null 'g' row (a d1 rewrite): the remaining
      // 'g' row is null-only — sum over it is SQL NULL in the scan
      ManifestTable.merge(spark, base,
        Seq((1L, "d1", "gone", Option.empty[Long]),
          (3L, "d1", "h", Some(7L))).toDF("id", "day", "etype", "v"),
        Seq("id"), "day", replaceTouched = true)
      val r = IncrementalAgg.refresh(spark, base, view, Seq("etype"), Seq("v"))
      assert(r.incremental, "the retraction must fold incrementally")
      def q = ManifestTable.read(spark, base).groupBy(col("etype"))
        .agg(sum(col("v")).as("sv"), count(col("v")).as("nv"))
        .orderBy(col("etype"))
      val (d1, rts, rows) = run(q)
      assert(d1 == 1 && !rts.exists(_.contains("/base")))
      assert(rows == truth(q), "post-retraction fold must match the scan")
      val gRow = rows.find(_.getString(0) == "g").get
      assert(gRow.isNullAt(1) && gRow.getLong(2) == 0L,
        s"an all-null group's sum is SQL NULL, its count(v) 0: $gRow")
    } finally MvRegistry.unregister(spark, base)
  }

  test("a view from before per-measure counts (no cnt_ columns) upgrades by " +
    "a ONE-TIME full rebuild on the next refresh, then folds incrementally " +
    "and rewrites again") {
    val (base, view) = fresh("cntup")
    ManifestTable.merge(spark, base,
      (1L to 20L).map(i => (i, s"d${i % 2}", "t", i * 3L))
        .toDF("id", "day", "etype", "v"),
      Seq("id"), "day")
    // build the LEGACY (pre-cnt) view shape directly: group cols, n,
    // sum_<c>, bucket — plus the watermark props a refresh commits
    val baseV = {
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      graft.ops.ManifestTable.history(spark, base).last.version
    }
    val legacy = ManifestTable.read(spark, base).groupBy(col("etype"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"))
      .withColumn("__gbucket",
        pmod(xxhash64(col("etype")), lit(16L)).cast("string"))
    ManifestTable.merge(spark, view, legacy, keys = Seq("etype"),
      partitionCol = "__gbucket",
      props = Map(IncrementalAgg.BaseVersionProp -> baseV.toString,
        IncrementalAgg.BucketsProp -> "16", IncrementalAgg.MinMaxProp -> ""))
    // a base commit arrives; the refresh must detect the missing
    // count column and FULL-rebuild (re-adding it), not fold blindly
    ManifestTable.merge(spark, base,
      Seq((21L, "d1", "t", 999L)).toDF("id", "day", "etype", "v"),
      Seq("id"), "day")
    val r1 = IncrementalAgg.refresh(spark, base, view, Seq("etype"), Seq("v"))
    assert(!r1.incremental && r1.committed,
      "a cnt-less legacy view must upgrade via full rebuild")
    assert(IncrementalAgg.read(spark, view).columns.contains("cnt_v"))
    MvRegistry.register(spark, base, view, Seq("etype"), Seq("v"))
    try {
      def q = ManifestTable.read(spark, base).groupBy(col("etype"))
        .agg(sum(col("v")).as("s"), count(col("v")).as("nv"))
      val (d1, r, rows) = run(q)
      assert(d1 == 1 && !r.exists(_.contains("/base")) && rows == truth(q))
      // and the NEXT refresh is incremental again
      ManifestTable.merge(spark, base,
        Seq((22L, "d0", "t", 5L)).toDF("id", "day", "etype", "v"),
        Seq("id"), "day")
      val r2 = IncrementalAgg.refresh(spark, base, view, Seq("etype"), Seq("v"))
      assert(r2.incremental && r2.committed)
      val (d2, _, rows2) = run(q)
      assert(d2 == 1 && rows2 == truth(q))
    } finally MvRegistry.unregister(spark, base)
  }

  test("double sums never rewrite (floating addition is not associative — " +
    "the view's fold order would leak into results)") {
    val (base, view) = fresh("dbl")
    val rows = (1L to 20L).map(i => (i, s"d${i % 2}", "t", i * 0.1)).toDF("id", "day", "etype", "dv")
    ManifestTable.merge(spark, base, rows, Seq("id"), "day")
    IncrementalAgg.refresh(spark, base, view, Seq("etype"), Seq("dv"))
    MvRegistry.register(spark, base, view, Seq("etype"), Seq("dv"))
    try {
      val (d, r, _) = run(ManifestTable.read(spark, base)
        .groupBy(col("etype")).agg(sum(col("dv")).as("s")))
      assert(d == 0 && r.exists(_.contains("/base")),
        "a DOUBLE sum column must fall back to the scan")
    } finally MvRegistry.unregister(spark, base)
  }
}
