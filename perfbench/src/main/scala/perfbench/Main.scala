package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.lit

import graft.GraftSession
import graft.etl.ChartAlign

/** A workload: `assets` assets backfilled over 90 days hourly, set up
  * `setups` times (the last set-up is served); then `days` daily
  * ingest→refresh cycles, each followed by one dashboard page, and more
  * pages up to the run's page count. */
final case class Workload(name: String, assets: Int, days: Int, setups: Int)

object Main extends AdaptiveSparkPlanHelper {

  val Workloads: Seq[Workload] = Seq(
    Workload("ref10_serve", assets = 10, days = 0, setups = 3),
    Workload("a50_daily", assets = 50, days = 3, setups = 2))

  /** `--seconds` buys one timed page per this many seconds. The count is
    * fixed rather than timed so that every run measures the same pages at
    * the same point of the JVM's warm-up; a `ref10_serve` page takes about
    * 3 s on 4 CPUs at the seed commit. */
  val SecondsPerPage = 2.5

  final case class Args(workload: Workload, seed: Long, seconds: Double,
                        trace: Boolean, work: String, traceOut: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}") }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val wl = Workloads.find(_.name == need("workload"))
      .getOrElse(sys.error(s"unknown workload ${need("workload")}; " +
        s"known: ${Workloads.map(_.name).mkString(", ")}"))
    Args(wl, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), m.getOrElse("trace-out", s"${need("work")}/trace.json"))
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** What one view read did, for the traced per-layer metrics. */
  final case class ReadRecord(view: String, wallMs: Double, resolveMs: Double,
                              analysisMs: Double, optimizerMs: Double, physicalMs: Double,
                              graftRulesMs: Double, jobs: Long, stages: Long, tasks: Long,
                              taskMs: Long, driverMs: Double, shuffleBytes: Long,
                              scanFiles: Long, scanBytes: Long, rows: Long,
                              rewriteHit: Option[Boolean])

  /** One ingest batch and the refreshes that followed it. */
  final case class BatchRecord(etlS: Double, latestS: Double, asofS: Double, lagS: Double,
                               latestIncremental: Boolean, latestKeyed: Boolean,
                               asofPeriods: Int, filesWritten: Long, bytesWritten: Long,
                               alignS: Double)

  def main(argv: Array[String]): Unit = {
    val a = try parse(argv) catch {
      case e: Exception => System.err.println(e.getMessage); sys.exit(2)
    }
    val code = try run(a) catch {
      case e: Throwable =>
        e.printStackTrace()
        3
    }
    sys.exit(code)
  }

  /** Files (path → bytes) under `dir`. */
  def files(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Map.empty
    else {
      val s = java.nio.file.Files.walk(root)
      try {
        val out = mutable.Map.empty[String, Long]
        s.forEach { p =>
          if (java.nio.file.Files.isRegularFile(p)) out(p.toString) = java.nio.file.Files.size(p)
        }
        out.toMap
      } finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root)) {
      val s = java.nio.file.Files.walk(root)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally s.close()
    }
  }

  def run(a: Args): Int = {
    val wl = a.workload
    val gen = Gen(a.seed, wl.assets)

    val t0 = System.nanoTime()
    val spark = GraftSession.create(Runtime.getRuntime.availableProcessors.toString, "perfbench")
    val sessionS = secs(t0)
    val (exec, queries) = Listeners.install(spark, a.trace)
    val tracer = new Tracer(a.trace)
    var tracing = a.trace
    var attempted = 0L
    var failed = 0L

    val reads = mutable.ArrayBuffer.empty[(String, Double)]
    val pageMs = mutable.ArrayBuffer.empty[Double]
    val records = mutable.ArrayBuffer.empty[ReadRecord]
    val served = mutable.Map.empty[String, Array[Row]]
    var readSeq = 0

    def traceRead(p: Pipeline, view: String, wallMs: Double, fromMs: Long, toMs: Long,
                  resolveMs: Double, df: org.apache.spark.sql.DataFrame, rows: Long): Unit = {
      Listeners.drain(spark)
      val c = exec.take()
      val qes = queries.take()
      def phase(n: String) = qes.flatMap(_.tracker.phases.get(n)).map(_.durationMs).sum.toDouble
      val graftNs = qes.flatMap(_.tracker.rules.collect {
        case (rule, s) if rule.startsWith("graft.plans.") => s.totalTimeNs
      }).sum
      val scans = qes.flatMap(q => collectWithSubqueries(q.executedPlan) {
        case s: FileSourceScanExec => s
      })
      def scanMetric(n: String) = scans.flatMap(_.metrics.get(n)).map(_.value).sum
      val hit =
        if (!p.RewriteEligible(view)) None
        else Some(df.queryExecution.optimizedPlan.collect {
          case lr: LogicalRelation => lr.relation match {
            case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
            case _ => Nil
          }
        }.flatten.exists(_.endsWith(p.latestPath.split('/').last)))
      records += ReadRecord(view, wallMs, resolveMs, phase("analysis"), phase("optimization"),
        phase("planning"), graftNs / 1e6, c.jobs, c.stages, c.tasks, c.taskMs,
        wallMs - c.coveredMs(fromMs, toMs), c.shuffleBytes,
        scanMetric("numFiles"), scanMetric("filesSize"), rows, hit)
    }

    /** One dashboard page: the six reads, each timed build through collect. */
    def page(p: Pipeline, timed: Boolean): Unit = {
      val n = reads.size
      p.Views.foreach(v => viewRead(p, v, timed))
      if (timed) pageMs += reads.drop(n).map(_._2).sum
    }

    def viewRead(p: Pipeline, v: String, timed: Boolean): Unit = {
      if (timed && tracing) { // drop what ran since the last traced read
        Listeners.drain(spark); exec.take(); queries.take()
      }
      readSeq += 1
      tracer.req = s"read$readSeq"
      val fromMs = System.currentTimeMillis()
      val r0 = System.nanoTime()
      try {
        var resolveMs = 0.0
        var df: org.apache.spark.sql.DataFrame = null
        val rows = tracer.span(s"views.$v") {
          val in = tracer.span("storage.resolve") {
            val s0 = System.nanoTime(); val in = p.resolve(v)
            resolveMs = (System.nanoTime() - s0) / 1e6; in
          }
          df = tracer.span("views.build")(p.build(v, in))
          tracer.span("exec.collect")(df.collect())
        }
        val wallMs = (System.nanoTime() - r0) / 1e6
        if (timed) {
          attempted += 1
          reads += v -> wallMs
          served(v) = rows
          if (tracing) traceRead(p, v, wallMs, fromMs, System.currentTimeMillis(),
            resolveMs, df, rows.length)
        }
      } catch {
        case e: Exception =>
          if (!timed) throw e
          attempted += 1; failed += 1
          System.err.println(s"read $v failed: $e")
      }
    }

    /** Ingest day `d`, then both refreshes; returns the batch record. */
    def batch(p: Pipeline, d: Int): BatchRecord = {
      tracer.req = s"day$d"
      val before = if (a.trace) files(p.root) else Map.empty[String, Long]
      val (markets, chart) = p.payload(d)
      val b0 = System.nanoTime()
      tracer.span("etl.ingest")(p.ingest(d, markets, chart))
      val etlS = secs(b0)
      val l0 = System.nanoTime()
      val rl = tracer.span("refresh.latest")(p.refreshLatest())
      val latestS = secs(l0)
      val s0 = System.nanoTime()
      val ra = tracer.span("refresh.asof")(p.refreshAsOf())
      val asofS = secs(s0)
      val lagS = secs(b0)
      var alignS = 0.0
      var (nFiles, nBytes) = (0L, 0L)
      if (a.trace) {
        val written = files(p.root).filter { case (f, _) => !before.contains(f) }
        nFiles = written.size; nBytes = written.values.sum
        val al0 = System.nanoTime()
        tracer.span("etl.align")(ChartAlign.align(chart, lit(p.gen.runTs(d)))
          .write.format("noop").mode("overwrite").save())
        alignS = secs(al0)
      }
      BatchRecord(etlS, latestS, asofS, lagS, rl.incremental, rl.keyedRetraction,
        ra.periodsFolded, nFiles, nBytes, alignS)
    }

    // ---- set-up, several times; the last one is served -----------------
    val dataSetupS = mutable.ArrayBuffer.empty[Double]
    val setupBatches = mutable.ArrayBuffer.empty[BatchRecord]
    var p: Pipeline = null
    for (r <- 1 to wl.setups) {
      if (p != null) { p.unregister(); deleteTree(p.root) }
      val s0 = System.nanoTime()
      p = new Pipeline(spark, s"${a.work}/setup$r", gen)
      setupBatches += batch(p, 0)
      p.register()
      dataSetupS += secs(s0)
    }
    val w0 = System.nanoTime()
    page(p, timed = false)
    val warmupS = secs(w0)

    // ---- the measured loop: daily cycles, then pages -------------------
    val days = mutable.ArrayBuffer.empty[BatchRecord]
    val loop0 = System.nanoTime()
    for (d <- 1 to wl.days) {
      attempted += 1
      try days += batch(p, d)
      catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"day $d failed: $e")
      }
      page(p, timed = true)
    }
    // then pages up to the run's page count
    val pages = math.max(1, math.round(a.seconds / SecondsPerPage).toInt)
    while (pageMs.size < pages) page(p, timed = true)
    val loopS = secs(loop0)

    // ---- traced-run overhead: the same pages untraced, then traced ----
    var overheadMs = 0.0
    if (a.trace) {
      val overheadPages = 2
      def pagesP50(traced: Boolean): Double = {
        val (n, nr, att) = (reads.size, records.size, attempted)
        tracing = traced
        tracer.enabled = traced
        exec.perRequest = traced
        if (!traced) spark.listenerManager.unregister(queries)
        else spark.listenerManager.register(queries)
        (1 to overheadPages).foreach(_ => page(p, timed = true))
        val xs = reads.drop(n).map(_._2).toSeq
        reads.remove(n, reads.size - n)
        pageMs.remove(pageMs.size - overheadPages, overheadPages)
        records.remove(nr, records.size - nr)
        attempted = att
        Stats.median(xs)
      }
      val plain = pagesP50(traced = false)
      overheadMs = pagesP50(traced = true) - plain
    }

    // ---- correctness, outside the timed region ------------------------
    val c0 = System.nanoTime()
    val (checks, failures) = Check.run(spark, p, served.toMap)
    failures.foreach(f => System.err.println(s"CHECK FAILED $f"))
    val checkS = secs(c0)
    attempted += checks
    failed += failures.size

    Listeners.drain(spark)
    val stored = files(p.root).values.sum
    val liveRows = gen.expectedPriceRows(p.day)
    val latencies = reads.map(_._2).toSeq
    val tail = Stats.tailPercentile(latencies.size)
    // a serve workload's only ingest batches are its set-up backfills; the
    // served (last) set-up is the one furthest from the JVM's cold start
    val batches = if (days.nonEmpty) days.toSeq else Seq(setupBatches.last)

    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val e2e = mutable.LinkedHashMap(
      "setup_s" -> (sessionS + Stats.median(dataSetupS.toSeq) + warmupS, "s"),
      "page_p50_ms" -> (med(pageMs.toSeq), "ms"),
      "fresh_lag_p50_s" -> (med(batches.map(_.lagS)), "s"),
      "stored_bytes_per_row" -> (stored.toDouble / liveRows, "B"),
      "cache_peak_mb" -> (exec.peakStorageBytes / 1e6, "MB"))

    val layer = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (a.trace) {
      val rs = records.toSeq
      def mean(f: ReadRecord => Double) = if (rs.isEmpty) 0.0 else rs.map(f).sum / rs.size
      def medR(f: ReadRecord => Double) = med(rs.map(f))
      for (v <- p.Views)
        layer(s"views.$v.p50_ms") = (med(rs.filter(_.view == v).map(_.wallMs)), "ms")
      layer("storage.resolve_ms") = (medR(_.resolveMs), "ms")
      layer("scan.files") = (mean(_.scanFiles.toDouble), "count")
      layer("scan.bytes") = (mean(_.scanBytes.toDouble), "B")
      layer("table.files") = (graft.etl.Incremental.readPrices(spark, p.base).inputFiles.length.toDouble, "count")
      layer("commit.files_written") = (med(batches.map(_.filesWritten.toDouble)), "count")
      layer("commit.bytes_written") = (med(batches.map(_.bytesWritten.toDouble)), "B")
      layer("plan.analysis_ms") = (medR(_.analysisMs), "ms")
      layer("plan.optimizer_ms") = (medR(_.optimizerMs), "ms")
      layer("plan.physical_ms") = (medR(_.physicalMs), "ms")
      layer("plans.graft_rules_ms") = (medR(_.graftRulesMs), "ms")
      val eligible = rs.flatMap(_.rewriteHit)
      layer("plans.rewrite_hit_ratio") =
        (if (eligible.isEmpty) 0.0 else eligible.count(identity).toDouble / eligible.size, "ratio")
      layer("exec.jobs") = (mean(_.jobs.toDouble), "count")
      layer("exec.stages") = (mean(_.stages.toDouble), "count")
      layer("exec.tasks") = (mean(_.tasks.toDouble), "count")
      layer("exec.task_ms") = (medR(_.taskMs.toDouble), "ms")
      layer("exec.driver_ms") = (medR(_.driverMs), "ms")
      layer("shuffle.bytes") = (mean(_.shuffleBytes.toDouble), "B")
      layer("result.rows") = (mean(_.rows.toDouble), "count")
      layer("etl.run_s") = (med(batches.map(_.etlS)), "s")
      layer("etl.align_s") = (med(batches.map(_.alignS)), "s")
      layer("refresh.latest_s") = (med(batches.map(_.latestS)), "s")
      layer("refresh.asof_s") = (med(batches.map(_.asofS)), "s")
      layer("refresh.latest_incremental_ratio") =
        (batches.count(_.latestIncremental).toDouble / batches.size, "ratio")
      layer("refresh.latest_keyed_ratio") =
        (batches.count(_.latestKeyed).toDouble / batches.size, "ratio")
      layer("refresh.asof_periods_folded") = (batches.map(_.asofPeriods).sum.toDouble, "count")
      layer("trace.overhead_ms") = (overheadMs, "ms")
      val readsJson = rs.map(r =>
        s"""{"view":"${r.view}","wall_ms":${fmt(r.wallMs)},"resolve_ms":${fmt(r.resolveMs)},""" +
          s""""jobs":${r.jobs},"tasks":${r.tasks},"task_ms":${r.taskMs},""" +
          s""""driver_ms":${fmt(r.driverMs)},"rows":${r.rows}}""")
      val w = new java.io.PrintWriter(a.traceOut)
      try w.write(s"""{"workload":"${wl.name}","seed":${a.seed},"metrics":${metricsJson(layer)},""" +
        s"""\n"reads":${readsJson.mkString("[\n", ",\n", "\n]")},\n"spans":${tracer.toJson}}\n""")
      finally w.close()
    }

    // ---- report --------------------------------------------------------
    System.out.println(s"workload ${wl.name}: ${wl.assets} assets, ${gen.expectedPriceRows(p.day)} " +
      s"live prices rows, ${p.day} daily batches, ${wl.setups} set-ups, seed ${a.seed}")
    System.out.println(f"phases: session $sessionS%.1f s, set-ups ${dataSetupS.map(x => f"$x%.1f").mkString("/")} s, " +
      f"warm-up page $warmupS%.1f s, loop $loopS%.1f s, check $checkS%.1f s")
    System.out.println(f"reads: ${latencies.size} in $loopS%.1f s; tail percentile with >= 10 " +
      s"samples beyond: ${tail.map(q => s"p${(q * 100).toString.stripSuffix(".0")}").getOrElse("none")}")
    System.out.println(s"page ms: ${pageMs.map(x => f"$x%.0f").mkString(" ")}; batch lag s: " +
      (setupBatches ++ days).map(b => f"${b.lagS}%.2f").mkString(" "))
    System.out.println(s"checks: $checks, failed operations $failed of $attempted")
    // printed but not reported: a single read's median sits between the
    // six views' latency clusters and swings with the run; the p90 needs
    // 100 reads; the backfill rate is one batch; the error rate is 0
    System.out.println("  printed only:")
    if (latencies.nonEmpty) {
      System.out.println(f"  read_p50_ms (${latencies.size} reads)              ${med(latencies)}%.6g ms")
      System.out.println(f"  read_p90_ms (the rule needs 100 reads)  ${Stats.quantile(latencies, 0.9)}%.6g ms")
    }
    System.out.println(f"  backfill_rows_per_s (last set-up)       " +
      f"${gen.expectedPriceRows(0) / setupBatches.last.etlS}%.6g 1/s")
    System.out.println(f"  error_rate                              ${failed.toDouble / math.max(1, attempted)}%.6g")
    System.out.println("  reported:")
    (e2e ++ layer).foreach { case (k, (v, u)) => System.out.println(f"  $k%-36s $v%.6g $u") }
    System.out.println(s"""{"correct": ${failures.isEmpty}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": ${metricsJson(if (a.trace) layer else e2e)}}""")
    spark.stop()
    0
  }

  def metricsJson(ms: collection.Map[String, (Double, String)]): String =
    ms.map { case (k, (v, u)) => s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
