package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded Gaussian-mixture corpus. Vector `id` is a pure function of
  * (seed, id), so Spark generates the corpus in parallel while the bench
  * regenerates the identical floats in memory for the oracle.
  */
final case class Corpus(seed: Long, n: Int, dim: Int, clusters: Int,
    spread: Double = 0.35) {
  private val centers: Array[Array[Float]] = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 1)
    Array.fill(clusters)(Array.fill(dim)(Gauss.next(r).toFloat))
  }

  def vector(id: Long): Array[Float] = {
    val r = new SplittableRandom(Gauss.mix(seed, id))
    val c = centers(r.nextInt(clusters))
    Array.tabulate(dim)(j => (c(j) + spread * Gauss.next(r)).toFloat)
  }

  /** (id, embedding) rows `from until to`, generated on the executors. */
  def frame(spark: SparkSession, from: Long, to: Long, parts: Int): DataFrame = {
    import spark.implicits._
    val self = this
    spark.range(from, to, 1, parts).as[Long]
      .map(id => (id, self.vector(id))).toDF("id", "embedding")
  }

  /** Flat row-major copy of rows `0 until n` for brute-force search. */
  def flat(): Array[Float] = {
    val out = new Array[Float](n * dim)
    var i = 0
    while (i < n) { System.arraycopy(vector(i), 0, out, i * dim, dim); i += 1 }
    out
  }
}

object Gauss {
  def mix(seed: Long, id: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + id * 0xBF58476D1CE4E5B9L + 7
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Box-Muller from the generator's own doubles (no JDK-version drift). */
  def next(r: SplittableRandom): Double = {
    val u = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** A noisy copy of `v`: the query shape of every workload. */
  def noisy(v: Array[Float], r: SplittableRandom, sigma: Double): Array[Double] =
    v.map(x => x + sigma * next(r))
}

/** Zipf(s) over ranks 0 until n: rank 0 is the most frequent. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
  }
  def draw(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}
