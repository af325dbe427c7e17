package graft.plans

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.DataType

import graft.ops.{GraftFileIndex, ManifestTable}

/** What [[BaseScan.resolve]] found below a candidate operator.
  *
  * ABSORPTION CONTRACT — shared by [[LatestRewriteRule]],
  * [[MvRewriteRule]], [[MvJoinRewriteRule]] and each [[StatsAggRule]]
  * branch. The walk descends through `SubqueryAlias`, `Project` and
  * DETERMINISTIC `Filter` nodes ONLY, down to a bare, full,
  * un-narrowed [[GraftFileIndex]] scan. Any other operator, a
  * nondeterministic filter, a join-narrowed index ([[JoinPruneRule]]:
  * its dir set is valid only under its join) or a non-graft relation
  * answers None. The reader composes DV anti-joins, shared-dir row
  * filters and MoR appendix unions into the plan whenever they apply,
  * so reaching the scan through these nodes alone certifies that the
  * index's entries describe exactly the rows the operator sees.
  *
  *   - `colOf`: every resolvable exprId → the scan's (physical column
  *     name, type), carried through alias-of-attribute Projects (the
  *     reader's rename layer). Mappings MERGE, never replace: a filter
  *     below a Project references scan-level ids that must stay
  *     resolvable (exprIds are globally unique).
  *   - `computed`: each DETERMINISTIC non-attribute alias →
  *     its defining expression, pre-inlined down to scan-level
  *     attributes (the optimizer's `_groupingexpression` pull-outs).
  *   - `filters`: the absorbed filter conditions, innermost first —
  *     each rule adjudicates and translates them itself.
  *   - `identity`: false once a Project with any entry other than an
  *     attribute or an alias of one has been absorbed. */
private[plans] final case class BaseScan(root: Path, idx: GraftFileIndex,
                                         colOf: Map[ExprId, (String, DataType)],
                                         computed: Map[ExprId, Expression],
                                         filters: Seq[Expression],
                                         identity: Boolean)

private[plans] object BaseScan {
  def resolve(p: LogicalPlan): Option[BaseScan] = p match {
    case lr: LogicalRelation => lr.relation match {
      case h: HadoopFsRelation => h.location match {
        case g: GraftFileIndex if !g.isNarrowed =>
          Some(BaseScan(g.rootPaths.head, g,
            lr.output.map(a => a.exprId -> (a.name, a.dataType)).toMap,
            Map.empty, Nil, identity = true))
        case _ => None
      }
      case _ => None
    }
    case Project(projList, child) => resolve(child).map { s =>
      s.copy(
        colOf = s.colOf ++ projList.collect {
          case al @ Alias(ar: AttributeReference, _) if s.colOf.contains(ar.exprId) =>
            al.exprId -> s.colOf(ar.exprId)
        },
        computed = s.computed ++ projList.collect {
          case al @ Alias(e, _) if !e.isInstanceOf[AttributeReference] && e.deterministic =>
            al.exprId -> e.transform {
              case ar: AttributeReference => s.computed.getOrElse(ar.exprId, ar)
            }
        },
        identity = s.identity && projList.forall {
          case _: AttributeReference | Alias(_: AttributeReference, _) => true
          case _ => false
        })
    }
    case f: Filter if f.condition.deterministic =>
      resolve(f.child).map(s => s.copy(filters = s.filters :+ f.condition))
    case SubqueryAlias(_, child) => resolve(child)
    case _ => None
  }
}

private[plans] object RewriteSupport {
  /** A base table a view folds: its registered path, the scan that
    * must be its complete current data, and the view prop recording
    * the base version the view folded. */
  final case class PinBase(path: String, idx: GraftFileIndex, stateProp: String)

  /** FRESHNESS PIN — the view rewrites' one freshness check. A view
    * version is pinned only when ALL of:
    *   - each scan is CURRENT and COMPLETE: its dir set equals its
    *     base's latest manifest ([[ManifestTable.dataDirs]]). A
    *     time-travel read, a partition-filtered read or a pending-MoR
    *     plan (appendix dirs surface as extra index dirs) fails this;
    *   - the view's latest committed props satisfy `viewOk` (each
    *     family's recorded-semantics check);
    *   - for each base, the version the view recorded under
    *     `stateProp` holds the same data entries as the base's current
    *     version ([[ManifestTable.sameDataEntries]]). This bridges
    *     metadata-only commits — constraints, sort order, the durable
    *     catalog write itself — so registration order vs refresh is
    *     irrelevant, while any data commit since the refresh declines.
    * Returns the pinned view version with its props: the rewrite READS
    * exactly that version, so a refresh racing the planner can neither
    * serve an unverified snapshot nor tear between check and read.
    * Manifest reads run in this order (base versions, dir identities,
    * view version and props, data-entry identities) and stop at the
    * first failed check; driver-side metadata only, no job. Any read
    * error declines. */
  def pin(spark: SparkSession, viewPath: String, bases: Seq[PinBase])(
      viewOk: Map[String, String] => Boolean): Option[(Long, Map[String, String])] = try {
    val hc = spark.sparkContext.hadoopConfiguration
    def latest(p: String): Option[Long] =
      ManifestTable.versions(new Path(p).getFileSystem(hc), p).lastOption
    val curs = bases.flatMap(b => latest(b.path))
    if (curs.size < bases.size || bases.lazyZip(curs).exists((b, cur) =>
        b.idx.relDirs.toSet != ManifestTable.dataDirs(spark, b.path, cur))) None
    else for {
      vv <- latest(viewPath)
      props = ManifestTable.readPropsAt(spark, viewPath, vv)
      if viewOk(props)
      states = bases.flatMap(b => props.get(b.stateProp))
      if states.size == bases.size && bases.lazyZip(states).lazyZip(curs).forall(
        (b, state, cur) => ManifestTable.sameDataEntries(spark, b.path, state.toLong, cur))
    } yield (vv, props)
  } catch { case scala.util.control.NonFatal(_) => None }

  /** `e` with every attribute replaced through `to`; None when any
    * attribute does not map. */
  def onto(e: Expression)(to: ExprId => Option[Attribute]): Option[Expression] = {
    var ok = true
    val t = e.transform {
      case ar: AttributeReference => to(ar.exprId).getOrElse { ok = false; ar }
    }
    if (ok) Some(t) else None
  }

  /** The view column standing for a scan-level id: same physical
    * name, identical type. */
  def byNameType(view: LogicalPlan, colOf: Map[ExprId, (String, DataType)])(
      id: ExprId): Option[Attribute] =
    colOf.get(id).flatMap { case (n, dt) =>
      view.output.find(_.name == n).filter(_.dataType == dt)
    }
}

/** A view registry: which maintained views stand for which base
  * tables, held in memory per session and, on request, durably on the
  * owner table's manifest. `K` is the in-memory key (a qualified base
  * path, or a qualified (fact, dim) pair) and `ownerOf` its qualified
  * owner path; `slotOf` is a definition's identity (its view path).
  *
  * IN-MEMORY LAYER: definitions win over the durable catalog,
  * including the EMPTY SHADOW [[unregister]] leaves — a session that
  * unregisters a durably cataloged base really disables the rewrite
  * locally instead of falling through to the manifest. An in-memory
  * hit skips the durable probe.
  *
  * DURABLE-CATALOG CONTRACT: a definition persists as a zero-padded
  * `<prefix>NNNN` prop on the owner's manifest. Re-registering the
  * same slot identity reuses its slot, so the prop-key sort IS the
  * registration try order. [[lookup]] runs in the optimizer for every
  * candidate plan shape, so the owner's latest-version listing is
  * cached for [[ProbeTtlMs]] and the decoded defs are memoized per
  * (owner, version); only SUCCESSFUL reads are memoized, so a
  * transient read failure degrades one lookup and is retried on the
  * next. A durable register/unregister invalidates the probe, so a
  * session reads its own catalog writes immediately; a FOREIGN
  * process's catalog commit is discovered within the TTL. A stale
  * probe only delays a rewrite — the query scans, correct by
  * construction — never serves stale data: freshness is decided
  * against pinned view versions ([[RewriteSupport.pin]]). An
  * undecodable prop is skipped on lookup and swept on durable
  * unregister, never a planner crash. */
private[plans] final class DefRegistry[K, D](
    prefix: String,
    ownerOf: K => String,
    slotOf: D => String,
    encode: D => String,
    decode: (String, String) => Option[D]) {

  private val ProbeTtlMs = 10000L
  private val defs = new java.util.concurrent.ConcurrentHashMap[K, Vector[D]]
  private val versionProbe =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Option[Long])]
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), Vector[D]]

  /** Test instrument: successful rewrites. */
  val rewrites = new java.util.concurrent.atomic.AtomicInteger

  private def decoded(owner: String, value: String): Option[D] =
    try decode(owner, value) catch { case scala.util.control.NonFatal(_) => None }

  private def ownerProps(spark: SparkSession, owner: String): Map[String, String] =
    try ManifestTable.readProps(spark, owner).filter(_._1.startsWith(prefix))
    catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** Add `d` under `key` (replacing the def with its slot identity in
    * place); `durable` also commits it into its slot on `owner`'s
    * manifest with the `retainVersions` horizon. */
  def register(spark: SparkSession, key: K, owner: String, d: D,
               durable: Boolean, retainVersions: Int): Unit = {
    defs.compute(key, (_, old) =>
      Option(old).getOrElse(Vector.empty).filterNot(slotOf(_) == slotOf(d)) :+ d)
    if (durable) {
      val existing = ownerProps(spark, owner)
      val slot = existing.collectFirst {
        case (k, v) if decoded(owner, v).exists(slotOf(_) == slotOf(d)) => k
      }.getOrElse {
        val used = existing.keys.flatMap(_.stripPrefix(prefix).toIntOption)
        f"$prefix${if (used.isEmpty) 0 else used.max + 1}%04d"
      }
      ManifestTable.updateMvDefProps(spark, owner,
        adds = Map(slot -> encode(d)), removeKeys = _ == slot,
        retainVersions = retainVersions)
      versionProbe.remove(ownerOf(key))
    }
  }

  /** Shadow `key` with no defs; `durable` also removes every catalog
    * def on `owner` matching `matches` (undecodable props too). */
  def unregister(spark: SparkSession, key: K, owner: String, durable: Boolean,
                 retainVersions: Int, matches: D => Boolean = (_: D) => true): Unit = {
    defs.put(key, Vector.empty)
    if (durable) {
      val drop = ownerProps(spark, owner).collect {
        case (k, v) if decoded(owner, v).forall(matches) => k
      }.toSet
      ManifestTable.updateMvDefProps(spark, owner,
        adds = Map.empty, removeKeys = drop, retainVersions = retainVersions)
      versionProbe.remove(ownerOf(key))
    }
  }

  /** The in-memory defs under `key`; on a true miss, the catalog defs
    * on `owner`'s latest version that satisfy `keep`, prop-key order. */
  def lookup(spark: SparkSession, key: K, owner: String,
             keep: D => Boolean = (_: D) => true): Seq[D] = {
    val mem = defs.get(key)
    if (mem != null) mem else catalog(spark, owner, ownerOf(key)).filter(keep)
  }

  /** Test hook: a fresh-session simulation — the in-memory layer
    * (shadows included) empties, so every lookup takes the durable
    * path. */
  def clearInMemory(): Unit = defs.clear()

  private def catalog(spark: SparkSession, owner: String, ownerQ: String): Vector[D] =
    latestVersion(spark, owner, ownerQ) match {
      case None => Vector.empty
      case Some(v) =>
        val k = (ownerQ, v)
        val cached = memo.get(k)
        if (cached != null) cached
        else {
          val read =
            try Some(ManifestTable.readPropsAt(spark, owner, v).toVector
              .filter(_._1.startsWith(prefix)).sortBy(_._1)
              .flatMap { case (_, value) => decoded(owner, value) })
            catch { case scala.util.control.NonFatal(_) => None }
          read match {
            case Some(ds) =>
              if (memo.size > 512) memo.clear()
              memo.put(k, ds)
              ds
            case None => Vector.empty
          }
        }
    }

  private def latestVersion(spark: SparkSession, owner: String,
                            ownerQ: String): Option[Long] = {
    val now = System.currentTimeMillis()
    val cached = versionProbe.get(ownerQ)
    if (cached != null && now - cached._1 < ProbeTtlMs) cached._2
    else {
      val v =
        try ManifestTable.versions(new Path(owner).getFileSystem(
          spark.sparkContext.hadoopConfiguration), owner).lastOption
        catch { case scala.util.control.NonFatal(_) => None }
      if (versionProbe.size > 1024) versionProbe.clear()
      versionProbe.put(ownerQ, (now, v))
      v
    }
  }
}

private[plans] object DefRegistry {
  /** The qualified form of `p` — the in-memory registry key. */
  def qualified(spark: SparkSession, p: Path): String =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p).toString

  /** Prop-value field codec: paths URL-encoded, column lists
    * ','-joined (registration refuses ',' and '|' in names). */
  def enc(s: String): String = java.net.URLEncoder.encode(s, "UTF-8")
  def dec(s: String): String = java.net.URLDecoder.decode(s, "UTF-8")
  def cols(parts: Array[String], i: Int): Seq[String] =
    if (i >= parts.length || parts(i).isEmpty) Nil else parts(i).split(',').toSeq
}
