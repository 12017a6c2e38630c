package lifecyclebench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.lifecyclebench.SparkInternals
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval, times in epoch microseconds. `kind` is
  * `bench` (a layer call made by the benchmark), `job`, `stage` or
  * `task` (from the Spark listener); `req` is the request id all
  * spans of one request share. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    req: String, startUs: Long, endUs: Long,
    attrs: Map[String, Any] = Map.empty) {
  def durS: Double = (endUs - startUs) / 1e6
  def toJson: String = Json.render(ListMap("id" -> id, "parent" -> parent,
    "kind" -> kind, "name" -> name, "req" -> req, "start_us" -> startUs,
    "end_us" -> endUs, "attrs" -> attrs))
}

/** Spans and counters of the traced run, kept in memory and written
  * out when the run ends. Bench spans wrap each call into a layer;
  * the [[Listener]] adds job, stage and task spans; the
  * [[PlanMetrics]] listener reads the connector's scan counters off
  * every executed plan. Attached only for traced requests. */
final class Tracer(spark: SparkSession) {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private val ids = new AtomicLong(1)
  val spans = new ConcurrentLinkedQueue[Span]()
  @volatile var currentReq: String = ""
  @volatile var requestSpan: Long = 0L
  /** Connector counters summed per request. */
  val scanCounters = mutable.Map.empty[String, mutable.Map[String, Long]]

  def nowUs: Long = baseMs * 1000 + (System.nanoTime() - baseNs) / 1000
  def nextId(): Long = ids.getAndIncrement()

  /** Runs `f` as request `req` (listener events of its jobs carry the
    * id) inside a bench span `name`; drains the listener bus after, so
    * every event of the request is in before the next one starts. */
  def request[T](req: String, name: String)(f: => T): (T, Span) = {
    val sc = spark.sparkContext
    val id = nextId()
    currentReq = req
    requestSpan = id
    sc.setLocalProperty(Tracer.ReqProperty, req)
    sc.setLocalProperty(Tracer.SpanProperty, id.toString)
    val start = nowUs
    val out = try f finally {
      sc.setLocalProperty(Tracer.ReqProperty, null)
      sc.setLocalProperty(Tracer.SpanProperty, null)
    }
    val span = Span(id, 0L, "bench", name, req, start, nowUs)
    spans.add(span)
    SparkInternals.drainListeners(sc)
    (out, span)
  }

  /** A layer call inside the current request. */
  def span[T](name: String)(f: => T): T = {
    val id = nextId()
    val start = nowUs
    try f finally spans.add(Span(id, requestSpan, "bench", name, currentReq,
      start, nowUs))
  }

  val listener = new Listener
  val planMetrics = new PlanMetrics

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(planMetrics)
  }

  def detach(): Unit = {
    SparkInternals.drainListeners(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(planMetrics)
  }

  final class Listener extends SparkListener {
    private val jobSpan = mutable.Map.empty[Int, (Long, String, Long, Long)]
    private val stageJob = mutable.Map.empty[Int, Int]
    private val stageSpanId = mutable.Map.empty[Int, Long]
    private val stageReq = mutable.Map.empty[Int, String]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val req = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Tracer.ReqProperty))).getOrElse("")
      val parent = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Tracer.SpanProperty))).map(_.toLong).getOrElse(0L)
      jobSpan(e.jobId) = (nextId(), req, parent, e.time * 1000)
      e.stageIds.foreach { s =>
        stageJob(s) = e.jobId
        stageReq(s) = req
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.remove(e.jobId).foreach { case (id, req, parent, start) =>
        spans.add(Span(id, parent, "job", s"job ${e.jobId}", req, start,
          e.time * 1000, Map("job_id" -> e.jobId.toLong,
            "succeeded" -> (e.jobResult == JobSucceeded))))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        val scopes = si.rddInfos.flatMap(SparkInternals.scopeNames).distinct
        val job = stageJob.getOrElse(si.stageId, -1)
        val parent = jobSpan.get(job).map(_._1).getOrElse(0L)
        val id = stageSpanId.getOrElseUpdate(si.stageId, nextId())
        val start = si.submissionTime.getOrElse(0L) * 1000
        val end = si.completionTime.getOrElse(0L) * 1000
        spans.add(Span(id, parent, "stage", s"stage ${si.stageId}",
          stageReq.getOrElse(si.stageId, ""), start, end, Map(
            "stage_id" -> si.stageId.toLong, "job_id" -> job.toLong,
            "layer" -> Tracer.layerOf(scopes, si.parentIds.isEmpty),
            "scopes" -> scopes, "tasks" -> si.numTasks.toLong)))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val ti = e.taskInfo
      val m = e.taskMetrics
      val sid = stageSpanId.getOrElseUpdate(e.stageId, nextId())
      val attrs: Map[String, Any] =
        if (m == null) Map("stage_id" -> e.stageId.toLong)
        else Map("stage_id" -> e.stageId.toLong,
          "run_ms" -> m.executorRunTime, "gc_ms" -> m.jvmGCTime,
          "peak_mem" -> m.peakExecutionMemory,
          "spill_mem" -> m.memoryBytesSpilled,
          "spill_disk" -> m.diskBytesSpilled,
          "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
          "shuffle_write_records" -> m.shuffleWriteMetrics.recordsWritten,
          "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead,
          "shuffle_read_records" -> m.shuffleReadMetrics.recordsRead,
          "input" -> m.inputMetrics.bytesRead)
      spans.add(Span(nextId(), sid, "task", s"task ${ti.taskId}",
        stageReq.getOrElse(e.stageId, ""), ti.launchTime * 1000,
        ti.finishTime * 1000, attrs))
    }
  }

  /** Sums the connector's DSv2 counters (partitionsServed,
    * filesSkippedBloom, ...) over every scan of every executed plan,
    * per request. */
  final class PlanMetrics extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val counters = Tracer.scans(qe.executedPlan).flatMap(_.metrics)
        .map { case (k, v) => k -> v.value }
      Tracer.this.synchronized {
        val acc = scanCounters.getOrElseUpdate(currentReq, mutable.Map.empty)
        counters.foreach { case (k, v) => acc(k) = acc.getOrElse(k, 0L) + v }
        acc("plans") = acc.getOrElse("plans", 0L) + 1
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }
}

object Tracer {
  val ReqProperty = "lifecyclebench.request"
  val SpanProperty = "lifecyclebench.span"

  /** A stage's layer, from the physical operators it ran: the sink's
    * `MapGroups` encode, the merge's `Window`, a connector scan
    * (`BatchScan`, a leaf stage), else the aggregation that closes a
    * read request; `unattributed` when no rule matches. */
  def layerOf(scopes: Seq[String], leaf: Boolean): String =
    if (scopes.exists(_.startsWith("MapGroups"))) "sink"
    else if (scopes.exists(_.startsWith("Window"))) "merge"
    else if (scopes.exists(_.startsWith("BatchScan")) || leaf) "scan"
    else if (scopes.exists(s => s.contains("Aggregate") ||
      s.startsWith("WholeStageCodegen"))) "aggregate"
    else "unattributed"

  def scans(plan: SparkPlan): Seq[BatchScanExec] = plan match {
    case b: BatchScanExec => Seq(b)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case p => p.children.flatMap(scans) ++ p.subqueries.flatMap(scans)
  }

  /** Splits the request interval [start, end] among owners: at each
    * instant the highest-priority layer with a running stage (sink,
    * merge, scan, aggregate, unattributed), else `job_overhead` while
    * a job runs with no stage running, else `driver_gap`. The parts
    * sum to the request's wall time exactly. */
  def attribute(req: Span, jobs: Seq[Span], stages: Seq[Span])
      : Map[String, Double] = {
    val order = Seq("sink", "merge", "scan", "aggregate", "unattributed")
    def clip(s: Span) = (math.max(s.startUs, req.startUs),
      math.min(s.endUs, req.endUs))
    val stageIv = stages.map(s => (s.attrs("layer").toString, clip(s)))
      .filter { case (_, (a, b)) => b > a }
    val jobIv = jobs.map(clip).filter { case (a, b) => b > a }
    val points = (Seq(req.startUs, req.endUs) ++
      stageIv.flatMap(x => Seq(x._2._1, x._2._2)) ++
      jobIv.flatMap(x => Seq(x._1, x._2))).distinct.sorted
    val acc = mutable.Map.empty[String, Long].withDefaultValue(0L)
    points.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val mid = a + (b - a) / 2.0
        val active = stageIv.collect {
          case (l, (x, y)) if x <= mid && mid < y => l
        }
        val owner = order.find(active.contains).getOrElse(
          if (jobIv.exists { case (x, y) => x <= mid && mid < y })
            "job_overhead"
          else "driver_gap")
        acc(owner) += b - a
      case _ =>
    }
    acc.map { case (k, v) => k -> v / 1e6 }.toMap
  }
}

/** Heap occupancy right after each collection, from the JVM's GC
  * notifications (raw pool peaks swing with collection timing; the
  * after-GC level is the live set plus what survived). */
object HeapWatch {
  @volatile private var peak = 0L

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet

  /** Call once per JVM. */
  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener(new NotificationListener {
          def handleNotification(n: Notification, hb: Any): Unit =
            if (n.getType ==
              GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
              val info = GarbageCollectionNotificationInfo.from(
                n.getUserData.asInstanceOf[CompositeData])
              val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
                .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
              if (used > peak) peak = used
            }
        }, null, null)
      case _ =>
    }

  def reset(): Unit = peak = 0L
  def peakMb: Double = peak / 1048576.0
}
