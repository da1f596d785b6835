package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark JVM:
  *
  * {{{
  *   --workload W --seed N --seconds S --trace 0|1 --data DIR --out FILE
  * }}}
  *
  * Sets the workload up, runs its timed phase, and writes raw samples,
  * counters and (traced) spans as one JSON object to FILE.
  * perfbench/run.py turns it into metrics. The timed phase is a fixed
  * amount of work per workload, whatever the clock says, so that two
  * builds are always compared on the same work; S is only recorded. On
  * a 4-core machine the timed phase of every workload lasts longer than
  * the 10 s the benchmark file asks for. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val cores = Runtime.getRuntime.availableProcessors()
    val data = Paths.get(opts("data")).toAbsolutePath
    val traced = opts.get("trace").contains("1")
    val t0 = System.nanoTime()
    val spark = session(cores, data, traced)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val out =
      try run(spark, opts, data, traced, sessionS, cores)
      finally spark.stop()
    Files.writeString(Paths.get(opts("out")), Json.write(out))
  }

  private def session(cores: Int, data: Path, traced: Boolean): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", data.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", data.resolve("warehouse").toString)
    if (traced) b.config("spark.plugins", classOf[FsBytesPlugin].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def run(spark: SparkSession, opts: Map[String, String], data: Path,
      traced: Boolean, sessionS: Double, cores: Int): Map[String, Any] = {
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val tracer = new Tracer(spark.sparkContext, traced)
    val heap = new HeapMonitor

    val ctx = new Ctx(spark, tracer, data.resolve("work"), seed)
    val s0 = System.nanoTime()
    val (runLoop, finish) = setup(workload, ctx, data)
    val setupS = (System.nanoTime() - s0) / 1e9

    val heapAfterSetup = heap.liveHeapMb()
    val host0 = HostClock.sample()
    tracer.start()
    heap.start()
    ctx.recording = true
    runLoop()
    ctx.recording = false
    heap.stop()
    tracer.stop()
    val host = HostClock.since(host0)
    val gcMs = heap.gcMsSinceStart
    val heapEnd = heap.liveHeapMb()
    tracer.drain(spark)
    val fin = finish()

    Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "env" -> Map(
        "nproc" -> cores, "driver_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
        "master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "flush_policy" -> ("local filesystem through Hadoop LocalFileSystem defaults: " +
          "no fsync on close, .crc checksum sidecars")),
      "session_s" -> sessionS, "setup_s" -> setupS,
      "samples" -> ctx.sampleList.map(s => Seq(s.cls, s.kind, s.client, s.start, s.ms, s.ok)),
      "attempted" -> ctx.attempted.get, "failed" -> ctx.failed.get,
      "failures" -> ctx.failures.asScala.toSeq,
      "heap_live_mb" -> Seq(heapAfterSetup, heapEnd),
      "heap_after_gc_peak_mb" -> heap.peakAfterGcMb, "gc_ms" -> gcMs,
      "spill_bytes" -> tracer.spillBytes, "timed_host" -> host,
      "spans" -> tracer.dump(), "unattributed_jobs" -> tracer.unattributedJobs) ++ fin
  }

  /** Set the workload up; returns its timed loop and the function that
    * collects its end-of-run figures. */
  private def setup(workload: String, c: Ctx, data: Path): (() => Unit, () => Map[String, Any]) = {
    val dir = c.dataDir
    workload match {
      case "scenario_read" =>
        val (base, clients) = ScenarioRead.setup(c, dir.resolve("store").toString)
        (() => ScenarioRead.run(c, base, clients),
          () => storeFigures(dir, base.model.userBytes, 0L) ++ Map("sizes" -> ScenarioBase.sizes,
            "clients" -> clients.map(cl => clock(cl.clock))))
      case "scenario_edit" =>
        val st = ScenarioEdit.setup(c, dir.resolve("store").toString)
        (() => ScenarioEdit.run(c, st), () => {
          ScenarioEdit.verifyReopened(c, st, dir.resolve("store"), data.resolve("reopened"))
          // every clone is a full committed copy of the base run
          storeFigures(dir, (1L + st.clones) * st.base.model.userBytes, st.deltaBytes) ++ Map(
            "sizes" -> ScenarioBase.sizes, "clients" -> Seq(clock(st.clock)))
        })
      case "corpus_index" =>
        val st = CorpusIndex.setup(c)
        (() => CorpusIndex.run(c, st), () => Map(
          "stored_bytes" -> FsTree.bytes(dir.resolve("index")), "live_bytes" -> 0L,
          "user_bytes" -> st.corpus.userBytes, "delta_bytes" -> 0L,
          "recall" -> st.recall.toSeq, "sizes" -> CorpusIndex.sizes,
          "clients" -> Seq(clock(st.clock))))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }

  private def clock(c: ClientClock): Map[String, Any] =
    Map("ops" -> c.ops, "elapsed_ms" -> c.elapsedMs, "check_ms" -> c.checkMs)

  private def storeFigures(dir: Path, userBytes: Long, deltaBytes: Long): Map[String, Any] = {
    val store = dir.resolve("store")
    Map("stored_bytes" -> FsTree.bytes(store), "live_bytes" -> FsTree.liveBytes(store),
      "user_bytes" -> userBytes, "delta_bytes" -> deltaBytes)
  }
}

/** Process CPU time over the timed phase, the part of it the JIT
  * compiler's threads used, and the host's steal share: how much of the
  * run the machine's other tenants took. Thread and steal figures come
  * from /proc and are absent where it is not readable. */
object HostClock {
  final case class Sample(wallNs: Long, cpuNs: Long, jitMs: Option[Double],
      jiffies: Option[(Long, Long)])

  private val ClockTickMs = 10.0 // USER_HZ = 100 on Linux

  /** CPU ms of this process's JIT compiler threads (utime + stime). */
  private def jitCpuMs(): Option[Double] = {
    val tasks = new java.io.File("/proc/self/task")
    Option(tasks.listFiles()).map(_.iterator.flatMap { t =>
      try {
        val stat = Files.readString(t.toPath.resolve("stat"))
        val comm = stat.substring(stat.indexOf('(') + 1, stat.lastIndexOf(')'))
        if (!comm.contains("CompilerThre")) None
        else {
          // fields after "(comm) ": state is field 3, utime 14, stime 15
          val f = stat.substring(stat.lastIndexOf(')') + 2).split(" ")
          Some((f(11).toLong + f(12).toLong) * ClockTickMs)
        }
      } catch { case _: java.io.IOException => None }
    }.sum)
  }

  def sample(): Sample = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val stat = Paths.get("/proc/stat")
    val jiffies =
      if (!Files.isReadable(stat)) None
      else {
        // cpu user nice system idle iowait irq softirq steal ...
        val f = Files.readAllLines(stat).get(0).trim.split("\\s+").drop(1).map(_.toLong)
        Some((f.sum, if (f.length > 7) f(7) else 0L))
      }
    Sample(System.nanoTime(), os.getProcessCpuTime, jitCpuMs(), jiffies)
  }

  def since(a: Sample): Map[String, Any] = {
    val b = sample()
    val cpu = (b.cpuNs - a.cpuNs) / 1e6
    val jit = for (x <- a.jitMs; y <- b.jitMs) yield y - x
    Map("wall_ms" -> (b.wallNs - a.wallNs) / 1e6, "process_cpu_ms" -> cpu,
      "jit_cpu_ms" -> jit,
      "steal_share" -> (for ((t0, s0) <- a.jiffies; (t1, s1) <- b.jiffies if t1 > t0)
        yield (s1 - s0).toDouble / (t1 - t0)))
  }
}

/** Minimal JSON for the harness's own files: maps, sequences, strings,
  * numbers and booleans. */
object Json {
  def write(v: Any): String = {
    val sb = new StringBuilder
    def str(s: String): Unit = {
      sb += '"'
      s.foreach {
        case '"' => sb ++= "\\\""
        case '\\' => sb ++= "\\\\"
        case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
        case c => sb += c
      }
      sb += '"'
    }
    def go(x: Any): Unit = x match {
      case null | None => sb ++= "null"
      case Some(y) => go(y)
      case s: String => str(s)
      case b: Boolean => sb ++= b.toString
      case d: Double => sb ++= (if (d.isNaN || d.isInfinite) "null" else d.toString)
      case f: Float => go(f.toDouble)
      case n: Number => sb ++= n.toString
      case m: scala.collection.Map[_, _] =>
        sb += '{'
        m.iterator.zipWithIndex.foreach { case ((k, y), i) =>
          if (i > 0) sb += ','
          str(k.toString); sb += ':'; go(y)
        }
        sb += '}'
      case it: Iterable[_] =>
        sb += '['
        it.iterator.zipWithIndex.foreach { case (y, i) => if (i > 0) sb += ','; go(y) }
        sb += ']'
      case a: Array[_] => go(a.toSeq)
      case other => str(other.toString)
    }
    go(v)
    sb.toString
  }
}
