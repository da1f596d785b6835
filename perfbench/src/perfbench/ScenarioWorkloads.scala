package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Platform, Scenario}
import graft.io.ScenarioIO
import graft.report.Reporter

/** The base scenario every scenario workload starts from, in the shape
  * of the reference's `random_model_data` + `add_test_data` +
  * `random_ts_data` fixtures. */
final class ScenarioBase(val ctx: Ctx, val root: String) {
  val Model = "bench"
  val Name = "base"
  val elems: Int = ScenarioBase.Elems
  val tsRows: Int = ScenarioBase.TsRows
  val model = new ScenarioModel(ctx.seed, elems, tsRows)
  val reportKeys: Seq[String] = Seq("random_par:r0-r1", "random_par:r0", "random_par:r1",
    "random_par:", "x:t-y", "x:t", "x:y", "x:")
  private val spark = ctx.spark

  /** Generate the items, commit them as version 1 and make it default. */
  def create(): Platform = {
    val p = new Platform(spark, root)
    val s = p.newScenario(Model, Name)
    s.checkOut()
    s.initSet("random_set")
    s.addSetDf("random_set",
      spark.range(elems.toLong).select(Gen.elemCol(col("id")).as("random_set")))
    s.initPar("random_par", Seq("random_set", "random_set"), Seq("r0", "r1"))
    val seed = ctx.seed
    val value = udf((i: Long) => Gen.unit(seed, 1, i))
    s.addPar("random_par", spark.range(model.n.toLong).select(
      Gen.elemCol(floor(col("id") / elems)).as("r0"),
      Gen.elemCol(col("id") % elems).as("r1"),
      value(col("id")).as("value"), lit("GWa").as("unit")))
    s.initSet("t")
    s.addSet("t", ScenarioModel.T)
    s.initSet("y")
    s.addSet("y", ScenarioModel.Y)
    s.initPar("x", Seq("t", "y"))
    val xRows = for ((t, i) <- ScenarioModel.T.zipWithIndex; (y, j) <- ScenarioModel.Y.zipWithIndex)
      yield Row(t, y, model.x(i * ScenarioModel.Y.size + j), "kg")
    s.addPar("x", spark.createDataFrame(java.util.Arrays.asList(xRows: _*), StructType(Seq(
      StructField("t", StringType), StructField("y", StringType),
      StructField("value", DoubleType), StructField("unit", StringType)))))
    val tsValue = udf((i: Long) => Gen.unit(seed, 3, i))
    s.addTimeseries(spark.range(tsRows.toLong).select(lit("World").as("region"),
      concat(lit("foo|"), col("id").cast("string")).as("variable"), lit("GWa").as("unit"),
      lit(2020).as("year"), tsValue(col("id")).as("value")))
    s.commit("base")
    s.setAsDefault()
    p
  }

  /** Expected (rows, value sum) of a Reporter key. */
  def reportExpect(key: String, m: ScenarioModel): (Long, Double) = key match {
    case "random_par:r0-r1" => (m.n.toLong, m.parTotal)
    case "random_par:r0" | "random_par:r1" => (elems.toLong, m.parTotal)
    case "random_par:" => (1L, m.parTotal)
    case "x:t-y" => (m.x.length.toLong, m.xTotal)
    case "x:t" => (ScenarioModel.T.size.toLong, m.xTotal)
    case "x:y" => (ScenarioModel.Y.size.toLong, m.xTotal)
    case "x:" => (1L, m.xTotal)
  }

  def parRead(s: Scenario, dim: Int, keys: Seq[Int]): Array[Row] =
    s.par("random_par", Map((if (dim == 0) "r0" else "r1") -> keys.map(k => Gen.elem(k))))
      .select("value").collect()

  def tsRead(s: Scenario, vars: Seq[Int]): Array[Row] =
    s.timeseries(region = Seq("World"), variable = vars.map(i => Gen.tsVariable(i)))
      .select("value").collect()

  /** Force a Reporter key. The inner span isolates the `get` call itself,
    * so a quantity-cache hit shows as a get that launched no job. */
  def reportGet(r: Reporter, key: String, client: Int): Array[Row] = {
    val q = ctx.tracer.span("report.get.call", client)(r.get(key))
    q.df.select("value").collect()
  }
}

object ScenarioBase {
  /** `random_set` elements (`random_par` has Elems² rows) and
    * time-series rows. */
  val Elems = 300
  val TsRows = 20000
  def sizes: Map[String, Int] = Map("elems" -> Elems, "ts_rows" -> TsRows)
}

/** `scenario_read`: two closed-loop read-only clients on hot caches,
  * each making a fixed number of ops. */
object ScenarioRead {
  val Clients = 2
  val OpsPerClient = 100
  val ReopenEvery = 20

  final class Client(val id: Int, val scen: Scenario, val reporter: Reporter,
      val rng: Rng, val clock: ClientClock)

  def setup(ctx: Ctx, root: String): (ScenarioBase, Seq[Client]) = {
    val base = new ScenarioBase(ctx, root)
    val p = base.create()
    val clients = (0 until Clients).map { c =>
      val s = p.getScenario(base.Model, base.Name)
      new Client(c, s, Reporter.fromScenario(s), new Rng(ctx.seed * 31 + c), new ClientClock)
    }
    // warm-up: load every item into the item cache and every Reporter
    // key into each client's quantity cache
    clients.foreach { cl =>
      val k = Seq(0, 1, 2)
      base.reportKeys.foreach(key =>
        ctx.op("report.get", "report", cl.id, cl.clock)(base.reportGet(cl.reporter, key, cl.id))(
          rows => Check.sumCount(rows, 0, base.reportExpect(key, base.model))))
      ctx.op("core.par_read", "read", cl.id, cl.clock)(base.parRead(cl.scen, 0, k))(
        rows => Check.sumCount(rows, 0, base.model.parFiltered(0, k)))
      ctx.op("core.set_read", "read", cl.id, cl.clock)(cl.scen.set("random_set").collect())(
        rows => Check.rows(rows.length, base.elems))
      ctx.op("core.ts_read", "read", cl.id, cl.clock)(base.tsRead(cl.scen, k))(
        rows => Check.sumCount(rows, 0, base.model.tsFiltered(k)))
    }
    (base, clients)
  }

  def run(ctx: Ctx, base: ScenarioBase, clients: Seq[Client]): Unit = {
    val parZipf = new Zipf(base.elems, 1.1, new Rng(ctx.seed + 7))
    val tsZipf = new Zipf(base.tsRows, 1.1, new Rng(ctx.seed + 11))
    val m = base.model
    val threads = clients.map { cl =>
      new Thread(() => {
        val t0 = ctx.tracer.now()
        var scen = cl.scen
        var i = 0
        var cycleStart = t0
        ctx.tracer.span("client", cl.id) {
          while (i < OpsPerClient) {
            if (i > 0 && i % ReopenEvery == 0) {
              ctx.cycle("cycle", cl.id, cycleStart)
              cycleStart = ctx.tracer.now()
              ctx.op("core.get_scenario", "reopen", cl.id, cl.clock)(
                scen.platform.getScenario(base.Model, base.Name))(_ => None)
                .foreach(scen = _)
            } else {
              val u = cl.rng.nextDouble()
              if (u < 0.7) {
                val dim = cl.rng.nextInt(2)
                val keys = parZipf.distinct(cl.rng, 1 + cl.rng.nextInt(10))
                ctx.op("core.par_read", "read", cl.id, cl.clock)(base.parRead(scen, dim, keys))(
                  rows => Check.sumCount(rows, 0, m.parFiltered(dim, keys)))
              } else if (u < 0.8) {
                ctx.op("core.set_read", "read", cl.id, cl.clock)(scen.set("random_set").collect())(
                  rows => Check.rows(rows.length, base.elems))
              } else if (u < 0.9) {
                val vars = tsZipf.distinct(cl.rng, 1 + cl.rng.nextInt(10))
                ctx.op("core.ts_read", "read", cl.id, cl.clock)(base.tsRead(scen, vars))(
                  rows => Check.sumCount(rows, 0, m.tsFiltered(vars)))
              } else {
                val key = base.reportKeys(cl.rng.nextInt(base.reportKeys.size))
                ctx.op("report.get", "report", cl.id, cl.clock)(
                  base.reportGet(cl.reporter, key, cl.id))(
                  rows => Check.sumCount(rows, 0, base.reportExpect(key, m)))
              }
            }
            i += 1
          }
        }
        cl.clock.elapsedMs = ctx.tracer.now() - t0
      }, s"read-client-${cl.id}")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }
}

/** `scenario_edit`: one writer. Each cycle runs a transaction that
  * discards (check-out → add_par → add_ts → discard) and two that
  * commit (check-out → add_par → add_ts → commit), then reads the
  * edited par, forces a Reporter key, clones the scenario and reads the
  * clone, exports it and reopens it through a fresh Platform. Every op
  * follows a write, so the item and quantity caches are always cold. */
object ScenarioEdit {
  /** add_par delta sizes (the reference's test_perf sizes), taken in
    * turn. A run makes a fixed number of cycles, so every run sees the
    * same sizes. */
  val DeltaSizes: Seq[Int] = Seq(10000, 1000, 100)
  val Cycles = 1
  val TsDelta = 100
  val ReadsAfter = 5

  final class State(val base: ScenarioBase, var scen: Scenario,
      var reporter: Reporter, var model: ScenarioModel, val clock: ClientClock, val rng: Rng) {
    var txn = 0
    var cycles = 0
    val acked = mutable.ArrayBuffer.empty[String]
    val discarded = mutable.ArrayBuffer.empty[String]
    var clones = 0
    var deltaBytes = 0L
  }

  def setup(ctx: Ctx, root: String): State = {
    val base = new ScenarioBase(ctx, root)
    val p = base.create()
    val s = p.getScenario(base.Model, base.Name)
    new State(base, s, Reporter.fromScenario(s), base.model, new ClientClock,
      new Rng(ctx.seed * 17 + 1))
  }

  def run(ctx: Ctx, st: State): Unit = {
    val t0 = ctx.tracer.now()
    ctx.tracer.span("client", 0) {
      for (_ <- 0 until Cycles) cycle(ctx, st)
    }
    st.clock.elapsedMs = ctx.tracer.now() - t0
  }

  /** One transaction: (whether it committed, the par positions it
    * upserted). */
  private def transaction(ctx: Ctx, st: State, commit: Boolean): (Boolean, Seq[Int]) =
    ctx.tracer.span("txn", 0) {
      val base = st.base
      val rng = st.rng
      val spark = ctx.spark
      st.txn += 1
      val txn = st.txn
      val clock = st.clock
      val size = DeltaSizes((txn - 1) % DeltaSizes.size)
      val next = st.model.copy()
      val positions = distinctDraws(rng, size, next.n)
      val parRows = positions.zipWithIndex.map { case (pos, k) =>
        val v = Gen.unit(ctx.seed, 1000L + txn, k)
        next.par(pos) = v
        Row(Gen.elem(pos / base.elems), Gen.elem(pos % base.elems), v, "GWa")
      }
      val parDelta = spark.createDataFrame(java.util.Arrays.asList(parRows: _*), StructType(Seq(
        StructField("r0", StringType), StructField("r1", StringType),
        StructField("value", DoubleType), StructField("unit", StringType))))
      val tsRows = distinctDraws(rng, TsDelta, base.tsRows).zipWithIndex.map { case (v, k) =>
        val x = Gen.unit(ctx.seed, 500000L + txn, k)
        next.ts(v) = x
        Row("World", Gen.tsVariable(v), "GWa", 2020, x)
      }
      val tsDelta = spark.createDataFrame(java.util.Arrays.asList(tsRows: _*), StructType(Seq(
        StructField("region", StringType), StructField("variable", StringType),
        StructField("unit", StringType), StructField("year", IntegerType),
        StructField("value", DoubleType))))
      st.deltaBytes += size.toLong * (2 * Gen.elem(0).length + 8 + 3) +
        tsRows.map(r => 5 + r.getString(1).length + 3 + 4 + 4 + 8).sum

      val scen = st.scen
      val t0 = ctx.tracer.now()
      val staged = ctx.op("store.checkout", "write", 0, clock, write = true)(scen.checkOut())(
        _ => None).isDefined &&
        ctx.op("core.add_par", "write", 0, clock, write = true)(
          scen.addPar("random_par", parDelta))(_ => None).isDefined &&
        ctx.op("core.add_ts", "write", 0, clock, write = true)(
          scen.addTimeseries(tsDelta))(_ => None).isDefined
      val comment = s"txn-$txn"
      val committed =
        if (staged && commit)
          ctx.op("store.commit", "write", 0, clock, write = true)(scen.commit(comment))(
            _ => None).isDefined
        else {
          ctx.op("store.discard", "write", 0, clock, write = true)(scen.discard())(_ => None)
          false
        }
      if (committed) {
        st.model = next
        st.acked += comment
      } else st.discarded += comment
      ctx.cycle("txn", 0, t0)
      (committed, positions)
    }

  def cycle(ctx: Ctx, st: State): Unit = ctx.tracer.span("cycle", 0) {
    val base = st.base
    val clock = st.clock
    val rng = st.rng
    transaction(ctx, st, commit = false)
    transaction(ctx, st, commit = true)
    val (_, positions) = transaction(ctx, st, commit = true)
    val m = st.model
    val scen = st.scen

    // the first read after the write misses the item cache; the rest
    // read other keys of the reloaded item
    for (i <- 0 until ReadsAfter) {
      val keys = (if (i == 0) positions.take(5).map(_ / base.elems)
        else Seq.fill(5)(rng.nextInt(base.elems))).distinct
      ctx.op("core.par_read", "read", 0, clock)(base.parRead(scen, 0, keys))(
        rows => Check.sumCount(rows, 0, m.parFiltered(0, keys)))
    }
    ctx.op("report.get", "report", 0, clock)(base.reportGet(st.reporter, "random_par:r0", 0))(
      rows => Check.sumCount(rows, 0, base.reportExpect("random_par:r0", m)))
    // the whole edited item against the model; the time series is
    // checked in full when the store is reopened at the end
    ctx.check(clock, s"state after ${st.acked.lastOption.getOrElse("")}") {
      val p = scen.par("random_par").agg(count(lit(1)), sum("value")).head()
      if (p.getLong(0) != m.n || !Gen.close(p.getDouble(1), m.parTotal))
        Some(s"par ${p.getLong(0)}/${p.getDouble(1)} != ${m.n}/${m.parTotal}")
      else None
    }

    ctx.op("core.clone", "clone", 0, clock, write = true)(
      scen.cloneScenario(scenario = Some("clone")))(_ => None).foreach { c =>
      st.clones += 1
      val ck = Seq(positions.head / base.elems)
      ctx.op("core.par_read", "read", 0, clock)(base.parRead(c, 0, ck))(
        rows => Check.sumCount(rows, 0, m.parFiltered(0, ck)))
    }
    val export = ctx.dataDir.resolve("export").toString
    ctx.op("io.export", "write", 0, clock, write = true)(
      ScenarioIO.writeScenario(scen, export))(_ => exported(ctx, base, export, m))
    ctx.op("core.get_scenario", "reopen", 0, clock)(
      new Platform(ctx.spark, base.root).getScenario(base.Model, base.Name))(_ => None)
      .foreach { s =>
        st.scen = s
        st.reporter = Reporter.fromScenario(s)
      }
    st.cycles += 1
  }

  /** The export read back against the model: `random_par` and `x`
    * rows and value sums, `random_set` rows. */
  private def exported(ctx: Ctx, base: ScenarioBase, dir: String,
      m: ScenarioModel): Option[String] = {
    def item(name: String) = ctx.spark.read.option("header", true).csv(s"$dir/item=$name")
    def sumCount(name: String, expect: (Long, Double)): Option[String] = {
      val r = item(name).agg(count(lit(1)), sum(col("value").cast("double"))).head()
      if (r.getLong(0) == expect._1 && Gen.close(r.getDouble(1), expect._2)) None
      else Some(s"exported $name ${r.getLong(0)}/${r.getDouble(1)} != ${expect._1}/${expect._2}")
    }
    sumCount("random_par", (m.n.toLong, m.parTotal))
      .orElse(sumCount("x", (m.x.length.toLong, m.xTotal)))
      .orElse(Check.rows(item("random_set").count(), base.elems).map("exported random_set " + _))
  }

  private def distinctDraws(rng: Rng, k: Int, n: Int): Seq[Int] = {
    val out = mutable.LinkedHashSet.empty[Int]
    while (out.size < math.min(k, n)) out += rng.nextInt(n)
    out.toSeq
  }

  /** Durability check at the end of the run: hard-link every file of
    * the store under a new path and open that copy with a fresh
    * Platform. The copy's canonical path differs from the writer's, so
    * the reader shares none of the writer's in-memory state (store
    * mirrors, item cache, Spark cache) and sees only what reached the
    * disk. The base run's final state must equal the model, every
    * acknowledged commit must be in its commit log, and no discarded
    * one. Each check counts as one attempted op. */
  def verifyReopened(ctx: Ctx, st: State, store: java.nio.file.Path,
      copy: java.nio.file.Path): Unit = {
    val all = java.nio.file.Files.walk(store)
    try all.iterator().asScala.foreach { f =>
      val target = copy.resolve(store.relativize(f))
      if (java.nio.file.Files.isDirectory(f)) java.nio.file.Files.createDirectories(target)
      else java.nio.file.Files.createLink(target, f)
    }
    finally all.close()
    val clock = new ClientClock
    val m = st.model
    ctx.recording = true
    try {
      val p = new Platform(ctx.spark, copy.toString)
      val s = p.getScenario(st.base.Model, st.base.Name, Some(st.scen.version))
      ctx.check(clock, "reopened par") {
        val r = s.par("random_par").agg(count(lit(1)), sum("value")).head()
        if (r.getLong(0) == m.n && Gen.close(r.getDouble(1), m.parTotal)) None
        else Some(s"${r.getLong(0)}/${r.getDouble(1)} != ${m.n}/${m.parTotal}")
      }
      ctx.check(clock, "reopened time series") {
        val r = s.timeseries().agg(count(lit(1)), sum("value")).head()
        if (r.getLong(0) == m.tsRows && Gen.close(r.getDouble(1), m.tsTotal)) None
        else Some(s"${r.getLong(0)}/${r.getDouble(1)} != ${m.tsRows}/${m.tsTotal}")
      }
      val log = p.store.commitLog(Some(s.runId)).select("comment").collect()
        .map(_.getString(0)).toSet
      st.acked.foreach(c => ctx.check(clock, s"reopened commit $c") {
        if (log.contains(c)) None else Some("acknowledged commit missing from the commit log")
      })
      st.discarded.foreach(c => ctx.check(clock, s"reopened discard $c") {
        if (log.contains(c)) Some("discarded transaction present in the commit log") else None
      })
    } finally ctx.recording = false
  }
}
