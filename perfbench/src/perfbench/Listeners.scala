package perfbench

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Streaming progress as Spark's public listener reports it. */
final class StreamLog extends StreamingQueryListener {
  private val started = new ConcurrentLinkedQueue[UUID]()
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    started.add(e.id)
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  /** Ids of the queries started so far, in start order. */
  def startedIds: Seq[UUID] = started.asScala.toSeq

  /** Executed batches of one query that read input, in batch order. */
  def batches(id: UUID): Seq[StreamingQueryProgress] =
    progress.asScala.filter(p => p.id == id && p.numInputRows > 0).toSeq
      .groupBy(_.batchId).values.map(_.head).toSeq.sortBy(_.batchId)

  def all: Seq[StreamingQueryProgress] = progress.asScala.toSeq

  def rowsIn(id: UUID): Long = batches(id).map(_.numInputRows).sum
}

object StreamLog {
  def startMs(p: StreamingQueryProgress): Long =
    java.time.Instant.parse(p.timestamp).toEpochMilli
  def dur(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
  def endMs(p: StreamingQueryProgress): Long = startMs(p) + dur(p, "triggerExecution")
  def stateCommitMs(p: StreamingQueryProgress): Long =
    p.stateOperators.map(_.commitTimeMs).sum
}

/** Job, stage and task counters, attributed to whatever context the
  * benchmark has set when the event is delivered. Jobs run by a streaming
  * query carry its id as a local property; every other job is counted
  * again under `<ctx>.direct_jobs`.
  */
final class TaskLog extends SparkListener {
  @volatile var ctx: String = "setup"
  val c = new Counters

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val k = ctx
    c.add(s"$k.jobs", 1)
    val streaming = Option(e.properties)
      .exists(_.getProperty("sql.streaming.queryId") != null)
    if (!streaming) c.add(s"$k.direct_jobs", 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c.add(s"$ctx.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val k = ctx
    c.add(s"$k.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      c.add(s"$k.run_ms", m.executorRunTime)
      c.add(s"$k.cpu_ns", m.executorCpuTime)
      c.add(s"$k.gc_ms", m.jvmGCTime)
      c.add(s"$k.shuffle_write_b", m.shuffleWriteMetrics.bytesWritten)
      c.add(s"$k.spill_b", m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}

/** Process-level readings. */
object Proc {
  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** Heap still reachable after a full collection, MB: the program's
    * retained state (state stores, memory sinks, caches), whatever the
    * heap's size. A live-object class histogram forces the full collection,
    * whatever -XX:+ExplicitGCInvokesConcurrent makes of System.gc(). The
    * VM skips that collection while a JNI critical section holds the GC
    * locker, so it is retried until the full-collection count moves.
    */
  def liveHeapMb(): Double = {
    val full = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.find(_.getName == "G1 Old Generation").getOrElse(
        throw new IllegalStateException("no G1 full-collection bean"))
    val before = full.getCollectionCount
    var tries = 0
    while (full.getCollectionCount == before) {
      if (tries == 50) throw new IllegalStateException("no full collection in 50 tries")
      if (tries > 0) Thread.sleep(100)
      tries += 1
      java.lang.management.ManagementFactory.getPlatformMBeanServer.invoke(
        new javax.management.ObjectName("com.sun.management:type=DiagnosticCommand"),
        "gcClassHistogram", Array[AnyRef](Array.empty[String]),
        Array(classOf[Array[String]].getName))
    }
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      .getUsed / 1048576.0
  }
}
