package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Spans of one request (a view read or an ingest
  * day) share `req`; `parent` is the enclosing span's id, -1 at the top. */
final case class Span(id: Int, parent: Int, req: String, name: String,
                      startNs: Long, endNs: Long)

/** In-memory span recorder; a disabled tracer only runs the body. */
final class Tracer(var enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var req = ""

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, req, name, t0, System.nanoTime())
      }
    }

  def toJson: String = spans.map(s =>
    s"""{"id":${s.id},"parent":${s.parent},"req":"${s.req}","name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""").mkString("[\n", ",\n", "\n]")
}

/** Scheduler totals over one request. */
final class ExecCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleBytes = 0L
  val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Milliseconds of [from, to] during which at least one task ran. */
  def coveredMs(fromMs: Long, toMs: Long): Long = {
    var covered = 0L
    var end = fromMs
    taskSpans.map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    covered
  }
}

/** Spark listener: scheduler counts per request (when `perRequest`) and
  * the peak memory held by cached RDD blocks over the whole run. */
final class ExecListener(@volatile var perRequest: Boolean) extends SparkListener {
  @volatile private var cur = new ExecCounts
  private val blockBytes = mutable.HashMap.empty[String, Long]
  private var storage = 0L
  @volatile var peakStorageBytes = 0L

  /** The counts since the previous call; call only after [[Bus]] drained. */
  def take(): ExecCounts = { val c = cur; cur = new ExecCounts; c }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (perRequest) cur.jobs += 1
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (perRequest) cur.stages += 1
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (perRequest) {
    cur.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cur.taskMs += m.executorRunTime
      cur.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    }
    cur.taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val id = e.blockUpdatedInfo.blockId
    if (id.isRDD) {
      val now = e.blockUpdatedInfo.memSize
      storage += now - blockBytes.getOrElse(id.name, 0L)
      if (now == 0) blockBytes.remove(id.name) else blockBytes(id.name) = now
      peakStorageBytes = math.max(peakStorageBytes, storage)
    }
  }
}

/** Collects every finished query execution for attribution to a request. */
final class QueryCollector extends QueryExecutionListener {
  val done = new ConcurrentLinkedQueue[QueryExecution]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    done.add(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    done.add(qe)

  def take(): Seq[QueryExecution] = {
    val out = mutable.ArrayBuffer.empty[QueryExecution]
    var q = done.poll()
    while (q != null) { out += q; q = done.poll() }
    out.toSeq
  }
}

object Listeners {
  def install(spark: SparkSession, trace: Boolean): (ExecListener, QueryCollector) = {
    val exec = new ExecListener(trace)
    spark.sparkContext.addSparkListener(exec)
    val qc = new QueryCollector
    if (trace) spark.listenerManager.register(qc)
    (exec, qc)
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
}
