package perfbench

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Seeded, stateless value generation shared by the Spark-side data
  * generators and the driver-side models that check results. */
object Gen {
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform double in [0, 1) for element `i` of stream `stream`. */
  def unit(seed: Long, stream: Long, i: Long): Double =
    (mix(mix(seed * 1000003L + stream) + i) >>> 11) * (1.0 / (1L << 53))

  def elem(i: Long): String = f"e$i%04d"
  def elemCol(i: Column): Column = concat(lit("e"), lpad(i.cast("long").cast("string"), 4, "0"))

  def tsVariable(i: Long): String = s"foo|$i"

  /** Relative-tolerance equality for sums computed in another order. */
  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}

/** splitmix64 stream; one per client, derived from the run seed. */
final class Rng(seed: Long) {
  private var s = Gen.mix(seed)
  def nextLong(): Long = { s += 0x9E3779B97F4A7C15L; Gen.mix(s) }
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
  def nextInt(n: Int): Int = ((nextLong() >>> 1) % n).toInt
  def shuffle[T](xs: Seq[T]): Seq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }
}

/** Zipf(s) over `n` ranks, mapped to items through a seeded permutation
  * so that which keys are hot changes with the seed. */
final class Zipf(n: Int, s: Double, rng: Rng) {
  private val cdf = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
  }
  private val perm = rng.shuffle(0 until n).toArray
  def draw(r: Rng): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    perm(math.min(n - 1, if (i >= 0) i else -i - 1))
  }
  /** `k` distinct draws. */
  def distinct(r: Rng, k: Int): Seq[Int] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (out.size < math.min(k, n)) out += draw(r)
    out.toSeq
  }
}

/** The committed contents of one scenario run as the generator made it
  * and the acknowledged edits changed it: `random_par[r0,r1]` over the
  * full `elems`² cross product, `x[t,y]`, and `tsRows` time-series rows
  * (one per variable, year 2020). */
final class ScenarioModel private (val seed: Long, val elems: Int, val tsRows: Int,
    val par: Array[Double], val ts: Array[Double]) {
  def this(seed: Long, elems: Int, tsRows: Int) = this(seed, elems, tsRows,
    Array.tabulate(elems * elems)(i => Gen.unit(seed, 1, i)),
    Array.tabulate(tsRows)(i => Gen.unit(seed, 3, i)))

  val n: Int = elems * elems
  val x: Array[Double] = Array.tabulate(ScenarioModel.T.size * ScenarioModel.Y.size)(
    i => Gen.unit(seed, 2, i))

  def copy(): ScenarioModel = new ScenarioModel(seed, elems, tsRows, par.clone(), ts.clone())

  /** (rows, value sum) of `random_par` filtered on `dim` (0 = r0,
    * 1 = r1) to the given element indices. */
  def parFiltered(dim: Int, keys: Seq[Int]): (Long, Double) = {
    val p = par
    var s = 0.0
    keys.foreach { k =>
      var j = 0
      while (j < elems) {
        s += (if (dim == 0) p(k * elems + j) else p(j * elems + k))
        j += 1
      }
    }
    (keys.size.toLong * elems, s)
  }

  def parTotal: Double = par.sum
  def tsFiltered(vars: Seq[Int]): (Long, Double) = (vars.size.toLong, vars.map(ts(_)).sum)
  def tsTotal: Double = ts.sum
  def xTotal: Double = x.sum

  /** Logical bytes of the user rows: key strings, 8-byte values, unit
    * strings, and for time series the 4-byte year. */
  def userBytes: Long = {
    val parRow = 2 * Gen.elem(0).length + 8 + "GWa".length
    val setBytes = elems.toLong * Gen.elem(0).length +
      ScenarioModel.T.map(_.length).sum + ScenarioModel.Y.map(_.length).sum
    val xBytes = (for (t <- ScenarioModel.T; y <- ScenarioModel.Y)
      yield t.length + y.length + 8 + "kg".length).sum
    val tsBytes = (0 until tsRows).map(i =>
      "World".length + Gen.tsVariable(i).length + "GWa".length + "Year".length + 4 + 8).sum
    n.toLong * parRow + setBytes + xBytes + tsBytes
  }
}

object ScenarioModel {
  val T: Seq[String] = Seq("foo1", "foo2", "foo3", "bar4", "bar5", "bar6")
  val Y: Seq[String] = (2000 to 2050 by 10).map(_.toString)
}
