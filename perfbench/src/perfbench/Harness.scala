package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One completed call: its op class, the end-to-end group it feeds
  * (`read`, `report`, `write`, `reopen`, `clone`, `cycle`), the client,
  * its start (ms since the tracer epoch) and its wall time. */
final case class Sample(cls: String, kind: String, client: Int, start: Double,
    ms: Double, ok: Boolean)

/** Per-client closed-loop accounting: ops completed, wall time of the
  * timed phase, and time spent in untimed correctness checks. */
final class ClientClock {
  var ops = 0L
  var elapsedMs = 0.0
  var checkMs = 0.0
}

/** What every workload shares: the session, the tracer, the data
  * directory, the sample log and the failure count. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val dataDir: java.nio.file.Path, val seed: Long) {
  val samples = new ConcurrentLinkedQueue[Sample]()
  val failures = new ConcurrentLinkedQueue[String]()
  val attempted = new AtomicLong(0L)
  val failed = new AtomicLong(0L)
  @volatile var recording = false

  /** Time one call into a layer under span `cls`, then check its result
    * untimed with `verify` (None = correct). In the timed phase an
    * exception or a failed check counts as one failed op; during set-up
    * both abort the run. Write ops get their filesystem diff under the
    * data directory attached to the span when tracing. */
  def op[T](cls: String, kind: String, client: Int, clock: ClientClock,
      write: Boolean = false)(body: => T)(verify: T => Option[String]): Option[T] = {
    val before = if (tracer.tracing && write) FsTree.snapshot(dataDir) else null
    val t0 = tracer.now()
    val r =
      try Right(tracer.span(cls, client)(body))
      catch { case NonFatal(e) if recording => Left(e) }
    val t1 = tracer.now()
    if (before != null) tracer.lastEnded.foreach { s =>
      val (b, f) = FsTree.written(before, FsTree.snapshot(dataDir))
      s.bytesWritten = b
      s.filesWritten = f
    }
    val c0 = tracer.now()
    val problem = r match {
      case Left(e) => Some(s"$cls threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(v) =>
        try verify(v).map(m => s"$cls: $m")
        catch { case NonFatal(e) => Some(s"$cls check threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    if (recording) {
      clock.checkMs += tracer.now() - c0
      attempted.incrementAndGet()
      clock.ops += 1
      samples.add(Sample(cls, kind, client, t0, t1 - t0, problem.isEmpty))
      problem.foreach(fail)
    } else problem.foreach(m => throw new IllegalStateException(s"set-up check failed: $m"))
    r.toOption.filter(_ => problem.isEmpty)
  }

  /** A correctness check that is not part of any op; its time is
    * excluded from throughput. Counts as one attempted op. */
  def check(clock: ClientClock, what: String)(body: => Option[String]): Unit = {
    val problem = untimed(clock) {
      try body
      catch { case NonFatal(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    if (recording) {
      attempted.incrementAndGet()
      problem.foreach(m => fail(s"$what: $m"))
    } else problem.foreach(m => throw new IllegalStateException(s"set-up check failed: $what: $m"))
  }

  /** Harness work in the timed phase that is not an op, such as a check
    * or reading the state a later check compares against: like a
    * check's, its time is excluded from throughput. */
  def untimed[T](clock: ClientClock)(body: => T): T = {
    val c0 = tracer.now()
    try body
    finally if (recording) clock.checkMs += tracer.now() - c0
  }

  def cycle(kind: String, client: Int, start: Double): Unit =
    if (recording) samples.add(Sample("cycle", kind, client, start, tracer.now() - start, ok = true))

  def fail(msg: String): Unit = {
    failed.incrementAndGet()
    if (failures.size < 50) failures.add(msg)
  }

  def sampleList: Seq[Sample] = samples.asScala.toSeq
}

/** Result-check helpers: row count plus value checksum. */
object Check {
  def sumCount(rows: Array[org.apache.spark.sql.Row], valueIdx: Int,
      expect: (Long, Double)): Option[String] = {
    val s = rows.iterator.map(_.getDouble(valueIdx)).sum
    if (rows.length.toLong != expect._1) Some(s"rows ${rows.length} != ${expect._1}")
    else if (!Gen.close(s, expect._2)) Some(s"value sum $s != ${expect._2}")
    else None
  }

  def rows(n: Long, expect: Long): Option[String] =
    if (n == expect) None else Some(s"rows $n != $expect")
}
