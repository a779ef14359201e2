package perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.lsh.LshConfig
import graft.store.VectorStore

/** The oracle must accept the engine's answers and fail a run that is
  * fed a corrupted one.
  */
class OracleSpec extends AnyFunSuite {
  private val dim = 8
  private val corpus = Corpus(seed = 5, n = 400, dim = dim, clusters = 6)
  private val flat = corpus.flat()
  private val q = Gauss.noisy(corpus.vector(17), new java.util.SplittableRandom(3), 0.05)
  private val want = Oracle.topK(flat, dim, q, 10)
  private val right = want.map(h => (h.id, h.dist)).toSeq
  private def trueDist(id: Long) =
    if (id >= 0 && id < corpus.n) Some(Oracle.dist(flat, id.toInt * dim, q)) else None

  test("brute force breaks distance ties by id") {
    val model = Map(7L -> Array(1f, 0f), 3L -> Array(0f, 1f), 5L -> Array(0f, 0f))
    val got = Oracle.topK(model, Array(0.0, 0.0), 3).map(_.id).toSeq
    assert(got == Seq(5L, 3L, 7L))
  }

  test("the oracle's own answer passes and the generator is deterministic") {
    val chk = new Checker
    assert(chk.exact("exact", right, want))
    assert(chk.approx("approx", right.take(5), 10, want, trueDist))
    assert(chk.failed == 0 && chk.attempted == 2)
    assert(chk.recalls == Seq((5, 10)) && chk.meanRecall == 0.5)
    assert(corpus.vector(123).sameElements(Corpus(5, 400, dim, 6).vector(123)))
  }

  test("every corrupted exact answer is a failed operation") {
    val swapped = right.updated(0, right(1)).updated(1, right(0))
    val offDist = right.updated(3, (right(3)._1, right(3)._2 + 1e-3))
    val foreign = right.updated(9, (999L, right(9)._2))
    val chk = new Checker
    Seq(swapped, offDist, foreign, right.dropRight(1), right :+ right.last)
      .foreach(a => assert(!chk.exact("exact", a, want)))
    assert(chk.failed == 5 && chk.attempted == 5)
    assert(chk.firstMismatch.exists(_.startsWith("exact: rank 0")))
  }

  test("approximate answers must be valid, true and ascending") {
    val chk = new Checker
    val wrongDist = right.take(3).updated(2, (right(2)._1, 0.0))
    val descending = right.take(3).reverse
    val unknownId = Seq((100000L, 1.0))
    val dup = Seq(right(0), right(0))
    Seq(wrongDist, descending, unknownId, dup)
      .foreach(a => assert(!chk.approx("approx", a, 10, want, trueDist)))
    assert(chk.failed == 4 && chk.recalls.isEmpty)
  }

  test("one corrupted answer makes the run's result incorrect") {
    val chk = new Checker
    (1 to 20).foreach(_ => chk.exact("ok", right, want))
    chk.exact("corrupted", right.updated(4, (right(4)._1 + 1, right(4)._2)), want)
    val line = Main.resultLine(chk, Seq(("latency_ms", 1.5, "ms")))
    assert(line.startsWith("""{"correct":false,"attempted":21,"failed":1,"""))
    assert(line.contains(""""latency_ms":{"value":1.5,"unit":"ms"}"""))
  }

  test("the oracle agrees with the engine's exact search, and flags a corrupted row") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
    try {
      val dir = java.nio.file.Files.createTempDirectory("oracle-spec").toString
      val store = VectorStore.build(spark, corpus.frame(spark, 0, corpus.n, 2),
        s"$dir/lsh", LshConfig(numHashTables = 4, dim = dim))
      val got = store.search(q, 10, store.model.numBuckets).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val chk = new Checker
      assert(chk.exact("engine", got, want), chk.firstMismatch)
      assert(!chk.exact("engine corrupted", got.updated(0, (got(0)._1, got(0)._2 * 1.01)), want))
      assert(chk.failed == 1)
    } finally spark.stop()
  }
}
