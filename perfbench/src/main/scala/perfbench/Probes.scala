package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.util.QueryExecutionListener

/** Cumulative executor-side counters. */
final case class TaskTotals(tasks: Long = 0, runMs: Long = 0,
    cpuMs: Long = 0, gcMs: Long = 0, shuffleWriteBytes: Long = 0) {
  def -(o: TaskTotals): TaskTotals = TaskTotals(tasks - o.tasks,
    runMs - o.runMs, cpuMs - o.cpuMs, gcMs - o.gcMs,
    shuffleWriteBytes - o.shuffleWriteBytes)
}

final case class JobRec(id: Int, startMs: Long, endMs: Long,
    stages: Seq[Int])
final case class StageRec(id: Int, startMs: Long, endMs: Long)

/** Everything the benchmark reads from Spark's public listener APIs. */
final class SparkProbe extends SparkListener {
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int])]()
  private val jobsDone = new ConcurrentLinkedQueue[JobRec]()
  private val stagesDone = new ConcurrentLinkedQueue[StageRec]()
  @volatile private var totals = TaskTotals()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.put(e.jobId, (e.time, e.stageIds))
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStarts.remove(e.jobId)).foreach { case (t, st) =>
      jobsDone.add(JobRec(e.jobId, t, e.time, st))
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stagesDone.add(StageRec(i.stageId, s, c))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m => synchronized {
      totals = TaskTotals(totals.tasks + 1,
        totals.runMs + m.executorRunTime,
        totals.cpuMs + m.executorCpuTime / 1000000L,
        totals.gcMs + m.jvmGCTime,
        totals.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten)
    }}

  def taskTotals: TaskTotals = totals
  def jobs: Seq[JobRec] = jobsDone.asScala.toSeq.sortBy(_.startMs)
  def stages: Seq[StageRec] = stagesDone.asScala.toSeq
}

/** Micro-batch progress records of every streaming query. */
final class StreamProbe extends StreamingQueryListener {
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  def all: Seq[StreamingQueryProgress] = progress.asScala.toSeq
  def clear(): Unit = progress.clear()
}

/** One finished Dataset action: its planning time (analysis +
  * optimization + physical planning phases) and how many files its
  * scans read. */
final case class QeRec(planningMs: Double, filesRead: Long)

/** Records every finished Dataset action in delivery order. Delivery is
  * asynchronous: drain the listener bus before reading. */
final class QeProbe extends QueryExecutionListener {
  private val recs = mutable.ArrayBuffer[QeRec]()
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val planning = qe.tracker.phases.values
      .map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
    val r = QeRec(planning, QeProbe.filesRead(qe.executedPlan))
    synchronized { recs += r }
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
  def count: Int = synchronized(recs.size)
  /** The records delivered after the first `n`. */
  def since(n: Int): Seq[QeRec] = synchronized(recs.drop(n).toSeq)
}

object QeProbe {
  /** Sum of the `numFiles` metric over every file scan in the plan,
    * looking through adaptive wrappers and query stages. */
  def filesRead(plan: SparkPlan): Long = {
    def walk(p: SparkPlan): Long = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other =>
        other.metrics.get("numFiles").map(_.value).getOrElse(0L) +
          other.children.map(walk).sum +
          other.subqueries.map(walk).sum
    }
    try walk(plan) catch { case _: Throwable => 0L }
  }
}

/** Filesystem work through Hadoop's local (`file`) scheme — every table
  * read and write of the engine and of Spark's own scans: operation
  * counts from [[CountingLocalFs]], bytes from Hadoop's statistics. */
final case class FsTotals(readOps: Long, listOps: Long,
    writeOps: Long, bytesRead: Long, bytesWritten: Long) {
  def -(o: FsTotals): FsTotals = FsTotals(readOps - o.readOps,
    listOps - o.listOps, writeOps - o.writeOps,
    bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
}

object FsTotals {
  @annotation.nowarn("cat=deprecation")
  def now(): FsTotals = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    FsTotals(CountingLocalFs.reads.sum, CountingLocalFs.lists.sum,
      CountingLocalFs.writes.sum,
      st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }
}

/** The probes one run installs, plus helpers to read them. */
final class Probes(val spark: SparkSession, val tracer: Tracer) {
  val sparkProbe = new SparkProbe
  val streamProbe = new StreamProbe
  val qeProbe = new QeProbe
  val heap = new HeapPeak
  spark.sparkContext.addSparkListener(sparkProbe)
  spark.streams.addListener(streamProbe)
  spark.listenerManager.register(qeProbe)

  def drain(): Unit =
    org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)

  /** Hangs every Spark job and stage that ran inside a benchmark span
    * under the deepest such span. */
  def attachSparkSpans(): Unit = if (tracer.enabled) {
    drain()
    val bench = tracer.all.filter(s => s.kind == "bench" || s.kind == "batch")
    val stageById = sparkProbe.stages.map(s => s.id -> s).toMap
    sparkProbe.jobs.foreach { j =>
      val parent = tracer.enclosing(j.startMs * 1000, bench)
      val js = tracer.add("spark.job", "job", j.startMs * 1000,
        j.endMs * 1000, parent)
      j.stages.flatMap(stageById.get).foreach { st =>
        tracer.add("spark.stage", "stage", st.startMs * 1000,
          st.endMs * 1000, Some(js))
      }
    }
  }
}

/** The peak live heap of a run: the heap in use right after a full
  * collection, the largest such figure seen. Every full collection the
  * JVM makes on its own counts; `sample` forces one, and each workload
  * calls it at the end of every phase while that phase's state is still
  * held, outside every timed region. Young collections do not count:
  * what they leave behind includes old-generation garbage. */
final class HeapPeak extends NotificationListener {
  @volatile private var peakBytes = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(this, null, null)
    case _ =>
  }

  private def note(bytes: Long): Unit = synchronized {
    peakBytes = math.max(peakBytes, bytes)
  }

  override def handleNotification(n: Notification, hb: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[CompositeData])
      // forced collections are counted by `sample`, after the second
      if (info.getGcAction.contains("major") && info.getGcCause != "System.gc()")
        note(info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum)
    }

  /** Forces a full collection and counts the heap it leaves. */
  def sample(): Unit = {
    // twice: the first collection lets Spark's cleaner drop what it
    // releases on finalization before the second one measures
    System.gc(); Thread.sleep(100); System.gc()
    note(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def peakMb: Double = peakBytes / 1048576.0
}

/** A measured interval: Spark and filesystem counters from its start to
  * `close`, reported as the `spark.` and `core.` layers. */
final class Window(r: Run) {
  val startMs: Long = System.currentTimeMillis()
  private val tasks0 = { r.probes.drain(); r.probes.sparkProbe.taskTotals }
  private val jobs0 = r.probes.sparkProbe.jobs.size
  private val fs0 = FsTotals.now()

  def close(): Unit = {
    val endMs = System.currentTimeMillis()
    r.probes.drain()
    val p = r.probes.sparkProbe
    val t = p.taskTotals - tasks0
    val f = FsTotals.now() - fs0
    val jobs = p.jobs.filter(j => j.startMs >= startMs && j.startMs <= endMs)
    val driverOnly = Stats.driverOnlyMs(startMs, endMs,
      jobs.map(j => (j.startMs, j.endMs)))
    r.layers ++= Seq(
      "spark.jobs" -> (p.jobs.size - jobs0).toDouble,
      "spark.tasks" -> t.tasks.toDouble,
      "spark.executor_run_ms" -> t.runMs.toDouble,
      "spark.executor_cpu_ms" -> t.cpuMs.toDouble,
      "spark.shuffle_write_bytes" -> t.shuffleWriteBytes.toDouble,
      "spark.gc_ms" -> t.gcMs.toDouble,
      "spark.driver_only_ms" -> driverOnly.toDouble,
      "spark.driver_share" -> driverOnly.toDouble / math.max(1L, endMs - startMs),
      "core.fs_read_ops" -> f.readOps.toDouble,
      "core.fs_write_ops" -> f.writeOps.toDouble,
      "core.fs_list_ops" -> f.listOps.toDouble,
      "core.fs_bytes_read" -> f.bytesRead.toDouble,
      "core.fs_bytes_written" -> f.bytesWritten.toDouble)
  }
}
