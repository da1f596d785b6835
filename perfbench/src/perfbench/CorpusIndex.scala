package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops.{Dedup, IvfSq, Relevance}

/** `corpus_index`: one client driving the persisted-index lifecycle of
  * IVF-SQ, MinHash-LSH and BM25 over seeded vectors and documents. */
object CorpusIndex {
  val Vectors = 4000
  val Dim = 32
  val Docs = 2000
  val K = 5
  /** recall@5 of every IvfSq query against brute force must reach it. */
  val RecallFloor = 0.8
  val Appends = 2
  val Bm25Queries = 3
  /** BM25 results per query (the `queryIndex` default). */
  val Bm25TopK = 20
  /** Rounds per run: a fixed amount of work, whatever the clock says. */
  val Rounds = 1
  def sizes: Map[String, Int] = Map("vectors" -> Vectors, "dim" -> Dim, "docs" -> Docs)

  final class Corpus(val vectors: DataFrame, val queries: DataFrame,
      val exactTop: Map[Long, Set[Long]], val docs: DataFrame,
      val texts: IndexedSeq[String], val dupPairs: Set[(Long, Long)],
      val lshBuild: org.apache.spark.sql.Column,
      val bm25Terms: Seq[Seq[String]], val nVectors: Int, val nDocs: Int,
      val userBytes: Long)

  final class State(val corpus: Corpus, val clock: ClientClock) {
    var round = 0
    val recall = mutable.ArrayBuffer.empty[Double]
  }

  /** Clustered vectors (Vectors × Dim, 16 clusters) and documents
    * over a Zipf vocabulary, a tenth of them near-duplicates of another
    * document with one word replaced (word-3-gram Jaccard >= 0.85, so
    * 32 bands of 4 rows miss a pair with probability below 1e-10). */
  def generate(ctx: Ctx): Corpus = {
    val spark = ctx.spark
    import spark.implicits._
    val rng = new Rng(ctx.seed * 101)
    val nv = Vectors
    val dim = Dim
    val centers = Array.fill(16)(Array.fill(dim)(rng.nextDouble() * 2 - 1))
    val vecs = Array.tabulate(nv) { _ =>
      val c = centers(rng.nextInt(centers.length))
      c.map(x => x + (rng.nextDouble() - 0.5) * 0.6)
    }
    val qs = Array.tabulate(100) { _ =>
      vecs(rng.nextInt(nv)).map(x => x + (rng.nextDouble() - 0.5) * 0.05)
    }
    val units = vecs.map(unitVec)
    val exact = qs.zipWithIndex.map { case (q, i) =>
      val u = unitVec(q)
      val score = units.map(v => dot(u, v))
      val top = score.indices.sortBy(j => -score(j)).take(K).map(_.toLong).toSet
      (1000000L + i) -> top
    }.toMap
    val vectors = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toSeq) }.toSeq
      .toDF("id", "vec").persist(StorageLevel.MEMORY_AND_DISK)
    val queries = qs.zipWithIndex.map { case (q, i) => (1000000L + i, q.toSeq) }.toSeq
      .toDF("qid", "qvec").persist(StorageLevel.MEMORY_AND_DISK)

    val nd = Docs
    val vocab = 3000
    val wz = new Zipf(vocab, 1.0, rng)
    val nOrig = nd - nd / 10
    val texts = mutable.ArrayBuffer.empty[String]
    for (_ <- 0 until nOrig)
      texts += Seq.fill(40 + rng.nextInt(40))(s"w${wz.draw(rng)}").mkString(" ")
    val pairs = mutable.Set.empty[(Long, Long)]
    for (j <- 0 until nd - nOrig) {
      val o = rng.nextInt(nOrig)
      val mutated = texts(o).split(' ')
      mutated(rng.nextInt(mutated.length)) = s"x${rng.nextInt(vocab)}"
      pairs += ((o.toLong, (nOrig + j).toLong))
      texts += mutated.mkString(" ")
    }
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq
      .toDF("doc_id", "text").persist(StorageLevel.MEMORY_AND_DISK)
    vectors.count(); queries.count(); docs.count()
    // the LSH index holds 9 in 10 originals; the delta carries the
    // held-out originals plus every near-duplicate
    val lshBuild = col("doc_id") < nOrig && col("doc_id") % 10 =!= 9
    val terms = Seq.fill(Bm25Queries)(Seq.fill(3)(s"w${rng.nextInt(200)}").distinct)
    val userBytes = nv.toLong * (8 + 8 * dim) + texts.map(t => 8L + t.length).sum
    new Corpus(vectors, queries, exact, docs, texts.toIndexedSeq, pairs.toSet, lshBuild, terms,
      nv, nd, userBytes)
  }

  private def unitVec(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(dot(v, v)); v.map(_ / n)
  }
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Set-up only generates the inputs: the timed round is the first
    * of a fresh JVM, the cost a command-line user pays per invocation.
    * (A warm-up round would take longer than the timed one.) */
  def setup(ctx: Ctx): State = new State(generate(ctx), new ClientClock)

  def run(ctx: Ctx, st: State): Unit = {
    val t0 = ctx.tracer.now()
    ctx.tracer.span("client", 0) {
      while (st.round < Rounds) round(ctx, st)
    }
    st.clock.elapsedMs = ctx.tracer.now() - t0
  }

  /** The result of `queryIndex` against a driver-side BM25 over every
    * document (k1 = 1.2, b = 0.75, idf = ln(1 + (N - df + 0.5) /
    * (df + 0.5)), scores rounded to 4 places): each returned document
    * has its model score, and the returned scores are the model's top
    * scores (ties at the cut may pick either document). */
  def bm25Mismatch(c: Corpus, terms: Seq[String], rows: Array[Row]): Option[String] = {
    val (k1, b) = (1.2, 0.75)
    val words = c.texts.map(t => "[a-z0-9]+".r.findAllIn(t.toLowerCase).toArray)
    val avgdl = words.map(_.length.toLong).sum.toDouble / words.length
    val tfs = words.map(ws => terms.map(t => ws.count(_ == t)))
    val df = terms.indices.map(i => tfs.count(_(i) > 0))
    val model = words.indices.iterator.filter(d => tfs(d).exists(_ > 0)).map { d =>
      val score = terms.indices.map { i =>
        val tf = tfs(d)(i)
        if (tf == 0) 0.0
        else math.log(1.0 + (words.length - df(i) + 0.5) / (df(i) + 0.5)) *
          (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * words(d).length / avgdl))
      }.reduce(_ + _)
      d.toLong -> BigDecimal(score).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    val got = rows.map(r => r.getLong(0) -> r.getDouble(1))
    val want = model.values.toSeq.sorted(Ordering[Double].reverse).take(Bm25TopK)
    def near(x: Double, y: Double) = math.abs(x - y) <= 1e-4
    val wrong = got.filterNot { case (d, s) => model.get(d).exists(near(_, s)) }
    if (got.length != want.length) Some(s"${got.length} hits, model has ${want.length}")
    else if (wrong.nonEmpty) Some(s"${wrong.length} hits score off the model, e.g. ${wrong.head}")
    else if (!got.map(_._2).sorted(Ordering[Double].reverse).zip(want).forall((near _).tupled))
      Some("hits are not the model's top scores")
    else None
  }

  private def topK(rows: Array[Row]): Map[Long, Seq[Long]] =
    rows.groupBy(_.getAs[Long]("qid")).map { case (q, rs) =>
      q -> rs.sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("id")).toSeq
    }

  def round(ctx: Ctx, st: State): Unit = ctx.tracer.span("round", 0) {
    val spark = ctx.spark
    val c = st.corpus
    val clock = st.clock
    st.round += 1
    val r = st.round
    val root = ctx.dataDir.resolve("index")
    val ivf = root.resolve("ivfsq").toString
    val lsh = root.resolve("lsh").toString
    val bm = root.resolve("bm25").toString
    val t0 = ctx.tracer.now()
    val half = c.nVectors / 2
    val slice = (c.nVectors - half) / Appends

    ctx.op("ops.ivfsq.build", "write", 0, clock, write = true)(
      IvfSq.build(c.vectors.filter(col("id") < half)).save(ivf))(_ => None)
    for (a <- 0 until Appends) {
      val lo = half + a * slice
      val hi = if (a == Appends - 1) c.nVectors else lo + slice
      ctx.op("ops.ivfsq.append", "write", 0, clock, write = true)(
        IvfSq.append(c.vectors.filter(col("id") >= lo && col("id") < hi), ivf,
          tag = s"r$r-a$a"))(_ => None)
    }
    def query(): Option[Array[Row]] =
      ctx.op("ops.ivfsq.query", "read", 0, clock)({
        val idx = IvfSq.load(spark, ivf, persist = false)
        idx.query(c.queries, K).select("qid", "rank", "id").collect()
      })(rows => if (rows.length == 100 * K) None else Some(s"${rows.length} result rows"))
    def recallAtK(what: String, rows: Array[Row]): Unit = {
      val got = topK(rows)
      val hits = c.exactTop.iterator.map { case (q, ex) =>
        got.getOrElse(q, Nil).count(ex.contains) }.sum
      val recall = hits.toDouble / (K * c.exactTop.size)
      st.recall += recall
      ctx.check(clock, s"ivfsq recall@5 $what") {
        if (recall >= RecallFloor) None else Some(s"recall $recall below floor $RecallFloor")
      }
    }
    def centroids(): Set[Seq[Any]] =
      IvfSq.load(spark, ivf, persist = false).ivf.centroids.collect().map(_.toSeq).toSet
    val before = query()
    before.foreach(recallAtK("after appends", _))
    ctx.op("ops.ivfsq.compact", "write", 0, clock, write = true)(
      IvfSq.compact(spark, ivf))(_ => None)
    val after = query()
    for (b <- before; a <- after)
      ctx.check(clock, "ivfsq top-k across compact") {
        if (topK(b) == topK(a)) None else Some("top-k changed by compact")
      }
    // the build saw half the vectors: a rebuild retrains the centroids
    // on all of them, and the index it leaves must still reach the floor
    val frozen = ctx.untimed(clock)(centroids())
    ctx.op("ops.ivfsq.rebuild", "write", 0, clock, write = true)(
      IvfSq.rebuild(spark, ivf))(_ => if (centroids() != frozen) None
      else Some("centroids unchanged by rebuild"))
    query().foreach(recallAtK("after rebuild", _))

    ctx.op("ops.lsh.build", "write", 0, clock, write = true)(
      Dedup.buildLshIndex(c.docs.filter(c.lshBuild), "doc_id", "text", lsh))(
      _ => None)
    ctx.op("ops.lsh.delta", "dedup", 0, clock)(
      Dedup.dedupDelta(c.docs.filter(!c.lshBuild), "doc_id", "text", lsh)
        .select("id_a", "id_b").collect())({ rows =>
      val found = rows.map(x => (x.getLong(0), x.getLong(1))).toSet
      val missed = c.dupPairs.count(p => !found.contains(p))
      if (missed == 0) None else Some(s"$missed of ${c.dupPairs.size} near-duplicates missed")
    })

    val split = c.nDocs * 3 / 4
    ctx.op("ops.bm25.build", "write", 0, clock, write = true)(
      Relevance.buildIndex(c.docs.filter(col("doc_id") < split), "doc_id", "text", bm))(
      _ => None)
    ctx.op("ops.bm25.append", "write", 0, clock, write = true)(
      Relevance.appendToIndex(c.docs.filter(col("doc_id") >= split), "doc_id", "text", bm,
        tag = s"r$r"))(_ => None)
    def bm25(): Seq[Option[Array[Row]]] = c.bm25Terms.map { terms =>
      ctx.op("ops.bm25.query", "read", 0, clock)(
        Relevance.queryIndex(spark, bm, terms, topK = Bm25TopK)
          .select("doc_id", "score").collect())(rows => bm25Mismatch(c, terms, rows))
    }
    val bmBefore = bm25()
    ctx.op("ops.bm25.compact", "write", 0, clock, write = true)(
      Relevance.compactIndex(spark, bm))(_ => None)
    val bmAfter = bm25()
    bmBefore.zip(bmAfter).foreach {
      case (Some(b), Some(a)) =>
        ctx.check(clock, "bm25 ranking across compact") {
          val sb = b.map(x => x.getLong(0) -> x.getDouble(1)).toMap
          val sa = a.map(x => x.getLong(0) -> x.getDouble(1)).toMap
          if (sb.keySet == sa.keySet && sb.forall { case (d, s) => Gen.close(s, sa(d)) }) None
          else Some("results changed by compact")
        }
      case _ =>
    }
    ctx.cycle("cycle", 0, t0)
  }
}
