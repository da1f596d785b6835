package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, TaskFailedReason}
import org.apache.spark.api.plugin.{DriverPlugin, ExecutorPlugin, SparkPlugin}
import org.apache.spark.scheduler._

/** One traced call into a layer. Times are milliseconds since the
  * tracer's epoch; `parent` is 0 for a root span. Spans of one client
  * form one tree; spans of the two read clients never share a parent. */
final class Span(val id: Long, val parent: Long, val name: String,
    val client: Int, val start: Double) {
  @volatile var end: Double = start
  @volatile var bytesWritten: Long = 0L
  @volatile var filesWritten: Long = 0L
  @volatile var driverReadBytes: Long = 0L
}

/** Listener-side counters of the Spark jobs one span launched. */
final class JobStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var inputBytes = 0L
  val taskIds = mutable.ArrayBuffer.empty[Long]
  val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
}

/** Per-task file bytes read through Hadoop's filesystem layer. Task
  * input metrics cannot tell a parquet scan from a cached-block read;
  * the thread-level Hadoop statistics count real file I/O only.
  * Registered through `spark.plugins`, it runs in the task thread, where
  * no TaskContext is set yet (start) or any more (end); the task id is
  * taken from the thread name Spark gives task threads, and the tracer's
  * listener maps it to a span. */
class FsBytesPlugin extends SparkPlugin {
  override def driverPlugin(): DriverPlugin = null
  override def executorPlugin(): ExecutorPlugin = new ExecutorPlugin {
    private val startRead = new ThreadLocal[java.lang.Long]
    override def onTaskStart(): Unit = startRead.set(FsBytes.threadRead())
    override def onTaskSucceeded(): Unit = finish()
    override def onTaskFailed(reason: TaskFailedReason): Unit = finish()
    private def finish(): Unit = {
      val s = startRead.get()
      val tid = FsBytes.taskId(Thread.currentThread.getName)
      if (s != null && tid >= 0) FsBytes.add(tid, FsBytes.threadRead() - s)
    }
  }
}

object FsBytes {
  /** The local property Spark stores the job group under. */
  val JobGroup = "spark.jobGroup.id"

  private val byTask = new ConcurrentHashMap[Long, Long]()
  private val Tid = """.*\(TID (\d+)\)$""".r

  def taskId(threadName: String): Long = threadName match {
    case Tid(t) => t.toLong
    case _ => -1L
  }

  @annotation.nowarn("cat=deprecation")
  def threadRead(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .map(_.getThreadStatistics.getBytesRead).sum

  def add(tid: Long, n: Long): Unit = if (n > 0) byTask.merge(tid, n, _ + _)

  def of(tid: Long): Long = byTask.getOrDefault(tid, 0L)
}

/** Spans plus the Spark listener that attributes jobs, tasks, shuffle,
  * spill and input bytes to them through the job group. When `enabled`
  * is false every call is a pass-through: the untraced run sets no job
  * group and registers no listener. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val epochNs = System.nanoTime()
  private val epochMs = System.currentTimeMillis().toDouble
  private val ids = new AtomicLong(0L)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  private val stats = new ConcurrentHashMap[String, JobStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val jobGroup = new ConcurrentHashMap[Int, (String, Double)]()
  private val spillTotal = new LongAdder
  @volatile private var lastJobEnd: Int = -1

  def now(): Double = (System.nanoTime() - epochNs) / 1e6

  // spans are recorded only while active: the timed phase
  @volatile private var active = false
  def tracing: Boolean = enabled && active

  private def statsOf(group: String): JobStats =
    stats.computeIfAbsent(group, _ => new JobStats)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty(FsBytes.JobGroup))).getOrElse("")
      jobGroup.put(e.jobId, (g, e.time - epochMs))
      e.stageIds.foreach(s => stageGroup.put(s, g))
      val st = statsOf(g)
      st.synchronized { st.jobs += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobGroup.remove(e.jobId)).foreach { case (g, t0) =>
        val st = statsOf(g)
        st.synchronized { st.jobIntervals += ((t0, e.time - epochMs)) }
      }
      lastJobEnd = e.jobId
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageGroup.get(e.stageInfo.stageId)).foreach { g =>
        val st = statsOf(g)
        st.synchronized { st.stages += 1 }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val st = statsOf(Option(stageGroup.get(e.stageId)).getOrElse(""))
      val spill = m.memoryBytesSpilled + m.diskBytesSpilled
      spillTotal.add(spill)
      st.synchronized {
        st.tasks += 1
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.spill += spill
        st.inputBytes += m.inputMetrics.bytesRead
        st.taskIds += e.taskInfo.taskId
      }
    }
  }

  /** Start recording: from here on every job is counted, and a job no
    * span claims is unattributed. */
  def start(): Unit = if (enabled) {
    sc.addSparkListener(listener)
    active = true
  }

  def stop(): Unit = active = false

  /** Run `body` as a span named `name`, nested under the calling
    * thread's open span. The job group is the span id, restored to the
    * enclosing span's on exit so its later jobs stay attributed. */
  def span[T](name: String, client: Int)(body: => T): T = {
    if (!tracing) return body
    val parent = stack.get().headOption
    val s = new Span(ids.incrementAndGet(), parent.map(_.id).getOrElse(0L), name,
      client, now())
    spans.add(s)
    stack.set(s :: stack.get())
    setGroup(Some(s))
    val readBefore = FsBytes.threadRead()
    try body
    finally {
      s.driverReadBytes = FsBytes.threadRead() - readBefore
      s.end = now()
      ended.set(Some(s))
      stack.set(stack.get().tail)
      setGroup(parent)
    }
  }

  private val ended = new ThreadLocal[Option[Span]] { override def initialValue() = None }

  /** The span this thread closed most recently. */
  def lastEnded: Option[Span] = ended.get()

  private def setGroup(s: Option[Span]): Unit = s match {
    case Some(sp) => sc.setJobGroup(sp.id.toString, sp.name, interruptOnCancel = false)
    case None => sc.clearJobGroup()
  }

  /** Wait until the listener bus has delivered every event up to now:
    * a marker job runs and its end event is awaited. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = if (enabled) {
    sc.setJobGroup("drain", "drain", interruptOnCancel = false)
    spark.range(1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    val marker = sc.statusTracker.getJobIdsForGroup("drain").max
    while (lastJobEnd < marker && System.nanoTime() < deadline) Thread.sleep(5)
    val idle = System.nanoTime() + 200L * 1000000L
    while (System.nanoTime() < idle) Thread.sleep(10)
  }

  def spillBytes: Long = spillTotal.sum

  /** Every span with its listener and filesystem counters. */
  def dump(): Seq[Map[String, Any]] = spans.asScala.toSeq.sortBy(_.id).map { s =>
    val st = Option(stats.get(s.id.toString)).getOrElse(new JobStats)
    st.synchronized {
      Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name, "client" -> s.client,
        "start" -> s.start, "end" -> s.end, "jobs" -> st.jobs, "stages" -> st.stages,
        "tasks" -> st.tasks, "shuffle_read" -> st.shuffleRead,
        "shuffle_write" -> st.shuffleWrite, "spill" -> st.spill,
        "input_bytes" -> st.inputBytes,
        "scan_exec" -> st.taskIds.iterator.map(FsBytes.of).sum, "scan_driver" -> s.driverReadBytes,
        "bytes_written" -> s.bytesWritten, "files_written" -> s.filesWritten,
        "job_intervals" -> st.jobIntervals.toSeq.map { case (a, b) => Seq(a, b) })
    }
  }

  /** Jobs no span claimed (launched outside any traced call). */
  def unattributedJobs: Long = Option(stats.get("")).map(_.jobs).getOrElse(0L)
}

/** Files and bytes under a directory tree, for before/after diffs. */
object FsTree {
  def snapshot(root: java.nio.file.Path): Map[String, Long] = {
    if (!java.nio.file.Files.exists(root)) return Map.empty
    val out = Map.newBuilder[String, Long]
    val it = java.nio.file.Files.walk(root)
    try it.iterator().asScala.foreach { p =>
      if (java.nio.file.Files.isRegularFile(p))
        try out += p.toString -> java.nio.file.Files.size(p)
        catch { case _: java.nio.file.NoSuchFileException => }
    }
    finally it.close()
    out.result()
  }

  /** (bytes, files) new or changed in `after` relative to `before`. */
  def written(before: Map[String, Long], after: Map[String, Long]): (Long, Long) = {
    val changed = after.filter { case (p, n) => !before.get(p).contains(n) }
    (changed.values.sum, changed.size.toLong)
  }

  def bytes(root: java.nio.file.Path): Long = snapshot(root).values.sum

  private val GenDir = """^(?:(.+)\.)?g(\d+)$""".r

  /** Bytes of the newest complete generation of every generational
    * table (`name.gN` or `gN` directories holding `_SUCCESS`) plus all
    * non-generational files: the live data a reader can reach. */
  def liveBytes(root: java.nio.file.Path): Long = {
    val snap = snapshot(root)
    val r = root.toString
    def genOf(path: String): Option[(String, Long)] = {
      val parts = path.stripPrefix(r).split('/').filter(_.nonEmpty)
      parts.indices.iterator.flatMap { i =>
        parts(i) match {
          case GenDir(base, g) =>
            Some((parts.take(i).mkString("/") + "/" + Option(base).getOrElse(""), g.toLong))
          case _ => None
        }
      }.toSeq.lastOption
    }
    val complete = snap.keys.filter(_.endsWith("/_SUCCESS")).flatMap(genOf)
      .groupBy(_._1).map { case (k, gs) => k -> gs.map(_._2).max }
    snap.iterator.map { case (p, n) =>
      genOf(p) match {
        case Some((k, g)) => if (complete.get(k).contains(g)) n else 0L
        case None => n
      }
    }.sum
  }
}

/** Driver heap after garbage collection, from GC notifications, and
  * total collection time. */
final class HeapMonitor {
  import java.lang.management.ManagementFactory
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import com.sun.management.GarbageCollectionNotificationInfo

  @volatile private var peakAfterGc = 0L
  @volatile private var active = false
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (active && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.iterator
          .filter { case (pool, _) => heapPools(pool) }
          .map(_._2.getUsed).sum
        synchronized { if (used > peakAfterGc) peakAfterGc = used }
      }
  }
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  beans.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  private var gcMsAtStart = 0L
  def start(): Unit = { gcMsAtStart = gcMs(); peakAfterGc = 0L; active = true }
  def stop(): Unit = { active = false }
  def gcMs(): Long = beans.map(b => math.max(0L, b.getCollectionTime)).sum
  def gcMsSinceStart: Long = gcMs() - gcMsAtStart
  def peakAfterGcMb: Double = peakAfterGc / 1048576.0

  /** Heap in use right after a full collection: the live set. The
    * second collection runs after Spark's context cleaner has released
    * what the first one found unreachable. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
