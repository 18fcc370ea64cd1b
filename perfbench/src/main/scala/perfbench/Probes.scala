package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span recorder. A span is one call into a layer, timed from the
  * benchmark's side: name, start, end, the span that caused it and the
  * operation it belongs to. With tracing off `span` just runs its body, so
  * an untraced run pays nothing for it.
  */
final class Tracer(val on: Boolean) {
  private case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                          parent: Int, op: Long)
  private val spans = ArrayBuffer.empty[Span]
  private val ids = new AtomicInteger(0)
  private val open = new ThreadLocal[Integer] { override def initialValue: Integer = -1 }
  // one anchor converts nanoTime stamps to epoch milliseconds on output
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()

  def span[T](name: String, op: Long = -1L)(body: => T): T =
    if (!on) body
    else {
      val id = ids.getAndIncrement()
      val parent: Int = open.get
      open.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        open.set(parent)
        add(Span(id, name, t0, System.nanoTime(), parent, op))
      }
    }

  /** A span measured elsewhere (a listener event or a progress report),
    * given in epoch milliseconds.
    */
  def record(name: String, startMs: Long, endMs: Long, op: Long,
             parent: Int = -1): Int =
    if (!on) -1
    else {
      val id = ids.getAndIncrement()
      def ns(ms: Long) = anchorNs + (ms - anchorMs) * 1000000L
      add(Span(id, name, ns(startMs), ns(endMs), parent, op))
      id
    }

  private def add(s: Span): Unit = synchronized { spans += s; () }

  /** One JSON object per line: id, name, start/end in epoch ms, parent, op. */
  def write(path: java.nio.file.Path): Unit = synchronized {
    def ms(ns: Long) = anchorMs + (ns - anchorNs) / 1e6
    val lines = spans.sortBy(_.startNs).map { s =>
      f"""{"id":${s.id},"name":"${s.name}","start_ms":${ms(s.startNs)}%.3f,""" +
        f""""end_ms":${ms(s.endNs)}%.3f,"parent":${s.parent},"op":${s.op}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
    ()
  }
}

/** Counters from Spark's public listener interfaces, attached from outside
  * the engine: task, stage and job totals from a [[SparkListener]], and
  * analysis + optimization + planning time from a [[QueryExecutionListener]].
  * Listener events arrive asynchronously; [[quiesce]] waits until they stop
  * so a snapshot taken after it covers every operation run before it.
  */
final class SparkCounters(tracer: Tracer) extends SparkListener with QueryExecutionListener {
  private val c = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  @volatile private var lastEventNs = System.nanoTime()

  private def add(k: String, v: Long): Unit = {
    c.computeIfAbsent(k, _ => new AtomicLong()).addAndGet(v)
    lastEventNs = System.nanoTime()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("jobs", 1)
    val props = Option(e.properties)
    if (props.exists(_.getProperty("streaming.sql.batchId") != null)) add("stream_jobs", 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    add("stages", 1)
    val info = e.stageInfo
    for (s <- info.submissionTime; f <- info.completionTime)
      tracer.record("spark.stage", s, f, -1L)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val info = e.taskInfo
    val in = m.inputMetrics.recordsRead
    val shuffleIn = m.shuffleReadMetrics.recordsRead
    add("tasks", 1)
    if (in == 0 && shuffleIn == 0) add("empty_tasks", 1)
    add("task_duration_ms", info.duration)
    add("task_run_ms", m.executorRunTime)
    add("task_cpu_ns", m.executorCpuTime)
    add("task_gc_ms", m.jvmGCTime)
    add("scan_bytes", m.inputMetrics.bytesRead)
    add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
    add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
    add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    plan(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    plan(qe)

  private def plan(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    add("planned_queries", 1)
    add("plan_ms", phases.values.map(_.durationMs).sum)
  }

  /** Wait until no listener event arrived for 300 ms (at most 5 s). */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    while (System.nanoTime() - lastEventNs < 300000000L && System.nanoTime() < deadline)
      Thread.sleep(50)
  }

  def snapshot(): Map[String, Long] = c.asScala.map { case (k, v) => k -> v.get }.toMap
}

object SparkCounters {
  def attach(spark: SparkSession, tracer: Tracer): SparkCounters = {
    val l = new SparkCounters(tracer)
    spark.sparkContext.addSparkListener(l)
    spark.listenerManager.register(l)
    l
  }
}

/** Process-level readings that need no listener: JVM garbage collection,
  * heap, the bytes the process wrote (`wchar` in /proc/self/io: every local
  * write, including shuffle and spill files) and Hadoop's filesystem
  * statistics per scheme: `file` for checkpoints and state stores, [[LakeFs]]
  * for the lakes.
  */
object Process {
  def gc(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
  }

  def writtenBytes(): Long =
    try {
      val line = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/io"))
        .asScala.find(_.startsWith("wchar:"))
      line.map(_.stripPrefix("wchar:").trim.toLong).getOrElse(-1L)
    } catch { case _: java.io.IOException => -1L }

  /** (bytes written, bytes read) through Hadoop filesystems of a scheme. */
  def fsStats(scheme: String): (Long, Long) = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == scheme)
    (st.map(_.getBytesWritten).sum, st.map(_.getBytesRead).sum)
  }

  /** Heap in use after full collections, in MiB. */
  def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Every reading above as one map, for before/after deltas. */
  def readings(): Map[String, Long] = {
    val (gcMs, gcCount) = gc()
    val (fsW, fsR) = fsStats("file")
    val (lakeW, lakeR) = fsStats(LakeFs.Scheme)
    Map("jvm_gc_ms" -> gcMs, "jvm_gc_count" -> gcCount,
      "written_bytes" -> writtenBytes(), "fs_bytes_written" -> fsW, "fs_bytes_read" -> fsR,
      "lake_bytes_written" -> lakeW, "lake_bytes_read" -> lakeR)
  }
}

/** The local filesystem under a scheme of its own, so that Hadoop's
  * per-scheme statistics count the IO of the lakes the benchmark places
  * under it apart from checkpoint and state-store IO. The code path is the
  * local filesystem's, checksums included.
  */
final class LakeFs extends org.apache.hadoop.fs.LocalFileSystem(new LakeFs.Raw) {
  override def getScheme: String = LakeFs.Scheme
}

object LakeFs {
  val Scheme = "benchlake"

  final class Raw extends org.apache.hadoop.fs.RawLocalFileSystem {
    override def getUri: java.net.URI = java.net.URI.create(s"$Scheme:///")
    override def getScheme: String = Scheme
  }

  /** Register the scheme; call before the session is created. */
  def register(): Unit = {
    System.setProperty(s"spark.hadoop.fs.$Scheme.impl", classOf[LakeFs].getName)
    ()
  }

  def uri(p: java.nio.file.Path): String = s"$Scheme://${p.toAbsolutePath}"
}

/** Streaming-layer spans from Spark's public [[StreamingQueryListener]]: one
  * span per micro-batch, with its phases laid out in execution order as
  * child spans.
  */
final class StreamSpans(tracer: Tracer) extends StreamingQueryListener {
  import StreamingQueryListener._
  private val phases = Seq("latestOffset" -> "sources.latest_offset",
    "walCommit" -> "streaming.wal_commit", "getBatch" -> "sources.get_batch",
    "queryPlanning" -> "streaming.query_planning", "addBatch" -> "streaming.add_batch",
    "commitOffsets" -> "streaming.commit_offsets")

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val id = tracer.record("streaming.batch", start,
      start + d.get("triggerExecution").map(_.longValue).getOrElse(0L), p.batchId)
    var t = start
    phases.foreach { case (k, name) =>
      d.get(k).foreach { ms => tracer.record(name, t, t + ms, p.batchId, id); t += ms }
    }
  }
}
