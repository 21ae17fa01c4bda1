package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval around a call into an engine layer. Times are
  * wall-clock milliseconds (with sub-ms fraction) so they line up with
  * Spark's listener event times; `parent` is the span that was open on
  * the same thread when this one started (0 only for the run root).
  */
final case class Span(id: Long, parent: Long, name: String, startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** In-memory span recorder. Disabled, `span` only runs its body, so the
  * untraced run pays nothing but the closure call. A span opened on a
  * thread with no open span is parented to the run root.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val byName = new java.util.concurrent.ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  val rootId: Long = ids.incrementAndGet()
  private val rootStart = Tracer.nowMs()

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(rootId)
      stack.set(id :: stack.get)
      val t0 = Tracer.nowMs()
      try body
      finally {
        val sp = Span(id, parent, name, t0, Tracer.nowMs())
        spans.add(sp)
        byName.computeIfAbsent(name, _ => new ConcurrentLinkedQueue[Double]()).add(sp.durMs)
        stack.set(stack.get.tail)
      }
    }

  /** All spans, the root closed now. */
  def finish(): Seq[Span] =
    Span(rootId, 0L, "run", rootStart, Tracer.nowMs()) +: spans.asScala.toSeq

  /** Durations (ms) of every closed span called `name`, in closing order. */
  def durations(name: String): Seq[Double] =
    Option(byName.get(name)).map(_.asScala.toSeq).getOrElse(Nil)
}

object Tracer {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  /** Monotonic wall-clock milliseconds, anchored to the epoch once. */
  def nowMs(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Spark job/task counters from the public listener API. Events are
  * kept in memory and attributed to spans by time after the run.
  */
final class JobCounters extends SparkListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long)
  final case class Task(endMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long)

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.put(e.jobId, Job(e.jobId, e.time, -1L))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(Task(e.taskInfo.finishTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled))
    else tasks.add(Task(e.taskInfo.finishTime, 0L, 0L, 0L))
  }

  /** Jobs started inside [from, to], their count, the union of their
    * intervals (ms) clipped to the window, and the tasks that ended in it.
    */
  def window(fromMs: Double, toMs: Double): JobCounters.Window = {
    val js = jobs.values.asScala.toSeq
      .filter(j => j.startMs >= fromMs - 1 && j.startMs <= toMs)
      .map(j => (j.startMs.toDouble, math.min(if (j.endMs < 0) toMs else j.endMs.toDouble, toMs)))
      .sortBy(_._1)
    var union = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    js.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) union += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) union += curE - curS
    val ts = tasks.asScala.toSeq.filter(t => t.endMs >= fromMs - 1 && t.endMs <= toMs + 1)
    JobCounters.Window(js.size, ts.size, union,
      ts.map(_.shuffleWrite).sum, ts.map(_.shuffleRead).sum, ts.map(_.spill).sum)
  }
}

object JobCounters {
  final case class Window(jobs: Int, tasks: Int, jobUnionMs: Double,
      shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long)
}

/** File-system counters: metadata operations from [[CountingLocalFileSystem]]
  * (traced run only; Hadoop's own statistics count no operations for the
  * local scheme) and bytes from Hadoop's global storage statistics.
  */
object FsCounters {
  final case class Snap(readOps: Long, writeOps: Long, listOps: Long,
      bytesRead: Long, bytesWritten: Long) {
    def -(o: Snap): Snap = Snap(readOps - o.readOps, writeOps - o.writeOps,
      listOps - o.listOps, bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
  }

  val reads = new AtomicLong
  val writes = new AtomicLong
  val lists = new AtomicLong

  /** Makes every later `file:` FileSystem lookup of this JVM return a
    * counting instance: the instance seeded here is the one Hadoop's
    * cache hands out, whatever configuration later callers pass.
    */
  def install(): Unit = {
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("fs.file.impl", classOf[CountingLocalFileSystem].getName)
    FileSystem.get(java.net.URI.create("file:///"), conf)
  }

  def snap(): Snap = {
    val st = FileSystem.getGlobalStorageStatistics.get("file")
    def v(k: String): Long =
      if (st == null) 0L else Option(st.getLong(k)).map(_.longValue).getOrElse(0L)
    Snap(reads.get, writes.get, lists.get, v("bytesRead"), v("bytesWritten"))
  }
}

/** The local file system, counting the calls made on it. */
class CountingLocalFileSystem extends org.apache.hadoop.fs.LocalFileSystem {
  import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, Path}
  import org.apache.hadoop.fs.permission.FsPermission
  import org.apache.hadoop.util.Progressable
  import FsCounters.{lists, reads, writes}

  override def open(f: Path, bufferSize: Int) = { reads.incrementAndGet(); super.open(f, bufferSize) }
  override def getFileStatus(f: Path) = { reads.incrementAndGet(); super.getFileStatus(f) }
  override def listStatus(f: Path) = { lists.incrementAndGet(); super.listStatus(f) }
  override def listLocatedStatus(f: Path) = { lists.incrementAndGet(); super.listLocatedStatus(f) }
  override def create(f: Path, p: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.create(f, p, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, p: FsPermission, flags: java.util.EnumSet[CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    writes.incrementAndGet()
    super.createNonRecursive(f, p, flags, bufferSize, replication, blockSize, progress)
  }
  override def append(f: Path, bufferSize: Int, progress: Progressable) = {
    writes.incrementAndGet(); super.append(f, bufferSize, progress)
  }
  override def rename(src: Path, dst: Path) = { writes.incrementAndGet(); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean) = {
    writes.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path) = { writes.incrementAndGet(); super.mkdirs(f) }
}

/** Per-trigger `durationMs` of every streaming query, from the public
  * progress events, with the trigger's end on the wall clock.
  */
final class TriggerLog extends StreamingQueryListener {
  final case class Trigger(query: String, batchId: Long, startMs: Long, durations: Map[String, Long],
      inputRows: Long) {
    def endMs: Long = startMs + durations.getOrElse("triggerExecution", 0L)
  }

  private val triggers = new ConcurrentLinkedQueue[Trigger]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val start = java.time.Instant.parse(p.timestamp).toEpochMilli
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    triggers.add(Trigger(Option(p.name).getOrElse(p.id.toString), p.batchId, start, d, p.numInputRows))
  }

  def all: Seq[Trigger] = triggers.asScala.toSeq
}

/** Everything the traced run listens to, registered once per session. */
final class Probes(spark: SparkSession) {
  val jobs = new JobCounters
  val triggers = new TriggerLog
  spark.sparkContext.addSparkListener(jobs)
  spark.streams.addListener(triggers)

  /** Block until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
}
