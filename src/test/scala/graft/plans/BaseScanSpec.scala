package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{GraftFileIndex, ManifestTable}

/** [[BaseScan.resolve]] — the absorption walk the view rewrites and
  * the metadata-only aggregates share: which shapes reach a bare,
  * un-narrowed graft scan, what each absorbed node records, and which
  * shapes decline. */
class BaseScanSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestSession.spark
  import spark.implicits._

  private lazy val dir =
    java.nio.file.Files.createTempDirectory("graft_basescan").toString

  /** The bare relation of a 3-partition manifest table. */
  private lazy val scan: LogicalRelation = {
    val base = s"$dir/base"
    ManifestTable.merge(spark, base,
      (1L to 12L).map(i => (i, s"d${i % 3}", i * 1.5)).toDF("id", "day", "price"),
      Seq("id"), "day")
    ManifestTable.read(spark, base).queryExecution.optimizedPlan
      .collectFirst { case lr: LogicalRelation => lr }.get
  }

  private def attr(n: String): Attribute = scan.output.find(_.name == n).get

  test("SubqueryAlias and an alias-of-attribute Project absorb with identity") {
    val px = Alias(attr("price"), "px")()
    val s = BaseScan.resolve(Project(Seq(attr("id"), px), SubqueryAlias("t", scan))).get
    assert(s.identity && s.computed.isEmpty && s.filters.isEmpty)
    assert(s.root.toString.endsWith("/base"))
    assert(s.colOf(px.exprId) == ("price", DoubleType))
    assert(s.colOf(attr("id").exprId)._1 == "id")
  }

  test("a computed deterministic alias is recorded down to scan attributes " +
    "and clears identity") {
    val p2 = Alias(Multiply(attr("price"), Literal(2.0)), "p2")()
    val p4 = Alias(Multiply(p2.toAttribute, Literal(2.0)), "p4")()
    val s = BaseScan.resolve(Project(Seq(p4), Project(Seq(attr("id"), p2), scan))).get
    assert(!s.identity)
    assert(s.computed(p2.exprId) == p2.child)
    assert(s.computed(p4.exprId).references.map(_.exprId).toSet ==
      Set(attr("price").exprId), "nested computed aliases inline to the scan")
    assert(!s.colOf.contains(p2.exprId))
  }

  test("deterministic Filters absorb innermost first; a nondeterministic " +
    "Filter declines") {
    val inner = GreaterThan(attr("id"), Literal(2L))
    val outer = EqualTo(attr("day"), Literal("d1"))
    assert(BaseScan.resolve(Filter(outer, Filter(inner, scan))).get.filters ==
      Seq(inner, outer))
    assert(BaseScan.resolve(
      Filter(GreaterThan(Rand(Literal(1L)), Literal(0.5)), scan)).isEmpty)
  }

  test("a join-narrowed index and a plain parquet relation decline") {
    val fs = scan.relation.asInstanceOf[HadoopFsRelation]
    val narrowed = fs.location.asInstanceOf[GraftFileIndex].joinNarrow("day", Nil).get
    assert(narrowed.isNarrowed)
    assert(BaseScan.resolve(
      scan.copy(relation = fs.copy(location = narrowed)(fs.sparkSession))).isEmpty)
    spark.range(5).write.parquet(s"$dir/plain")
    val plain = spark.read.parquet(s"$dir/plain").queryExecution.analyzed
      .collectFirst { case lr: LogicalRelation => lr }.get
    assert(BaseScan.resolve(plain).isEmpty)
  }
}
