package perfbench

import scala.collection.mutable.ArrayBuffer

final case class Hit(id: Long, dist: Double)

/** Brute-force exact top-k in plain Scala, ties broken by id. */
object Oracle {
  private val order: Ordering[Hit] =
    Ordering.by[Hit, (Double, Long)](h => (h.dist, h.id))

  def dist(v: Array[Float], off: Int, q: Array[Double]): Double = {
    var acc = 0.0
    var j = 0
    while (j < q.length) { val d = v(off + j) - q(j); acc += d * d; j += 1 }
    acc
  }

  private final class TopK(k: Int) {
    private val heap = new java.util.PriorityQueue[Hit](k + 1, order.reverse)
    def offer(id: Long, d: Double): Unit =
      if (heap.size < k) heap.add(Hit(id, d))
      else {
        val top = heap.peek()
        if (d < top.dist || (d == top.dist && id < top.id)) {
          heap.poll(); heap.add(Hit(id, d))
        }
      }
    def result: Array[Hit] = heap.toArray(Array.empty[Hit]).sorted(order)
  }

  /** Top-k over rows `0 until flat.length / dim`, id = row index. */
  def topK(flat: Array[Float], dim: Int, q: Array[Double], k: Int): Array[Hit] = {
    val t = new TopK(k)
    val n = flat.length / dim
    var i = 0
    while (i < n) { t.offer(i, dist(flat, i * dim, q)); i += 1 }
    t.result
  }

  /** Top-k over an id → vector model. */
  def topK(model: collection.Map[Long, Array[Float]], q: Array[Double],
      k: Int): Array[Hit] = {
    val t = new TopK(k)
    model.foreach { case (id, v) => t.offer(id, dist(v, 0, q)) }
    t.result
  }
}

/** Checks every answer and counts attempted and failed operations. A
  * wrong answer is a failed operation; the first mismatch is kept for
  * the report.
  */
final class Checker {
  var attempted = 0L
  var failed = 0L
  var firstMismatch: Option[String] = None
  /** (true neighbours found, neighbours expected) at min(k, 10), per
    * approximate answer.
    */
  val recalls = ArrayBuffer[(Int, Int)]()

  private def tolOk(got: Double, want: Double): Boolean =
    math.abs(got - want) <= 1e-6 * math.max(1.0, math.abs(want))

  def fail(what: String, msg: String): Unit = {
    attempted += 1
    failed += 1
    if (firstMismatch.isEmpty) firstMismatch = Some(s"$what: $msg")
  }

  def pass(): Unit = attempted += 1

  private def verdict(what: String, problem: Option[String]): Boolean =
    problem match {
      case Some(p) => fail(what, p); false
      case None => pass(); true
    }

  /** An exact answer must equal the oracle: same ids in the same order,
    * distances within float tolerance.
    */
  def exact(what: String, got: Seq[(Long, Double)], want: Array[Hit]): Boolean =
    verdict(what,
      if (got.size != want.length)
        Some(s"${got.size} rows, oracle has ${want.length}")
      else got.zip(want).zipWithIndex.collectFirst {
        case (((id, d), h), i) if id != h.id || !tolOk(d, h.dist) =>
          s"rank $i: got ($id, $d), oracle (${h.id}, ${h.dist})"
      })

  /** An approximate answer must hold valid, distinct ids with their true
    * distances in ascending order; it then adds to recall.
    */
  def approx(what: String, got: Seq[(Long, Double)], k: Int,
      want: Array[Hit], trueDist: Long => Option[Double]): Boolean = {
    val problem =
      if (got.size > k) Some(s"${got.size} rows for k=$k")
      else if (got.map(_._1).distinct.size != got.size) Some("duplicate ids")
      else got.sliding(2).collectFirst {
        case Seq((_, a), (_, b)) if b < a => s"distances not ascending ($a, $b)"
      }.orElse(got.collectFirst {
        case (id, d) if !trueDist(id).exists(tolOk(d, _)) =>
          s"id $id: distance $d, true ${trueDist(id)}"
      })
    val ok = verdict(what, problem)
    if (ok) recalls += Checker.hits(got.map(_._1), want, k)
    ok
  }

  def count(what: String, got: Long, want: Long): Boolean =
    verdict(what, if (got == want) None else Some(s"count $got, model $want"))

  /** Neighbours found over neighbours expected, across all approximate
    * answers (a k=1 answer weighs a tenth of a k≥10 one).
    */
  def meanRecall: Double =
    if (recalls.isEmpty) 0.0
    else recalls.map(_._1).sum.toDouble / recalls.map(_._2).sum
}

object Checker {
  /** (true neighbours among the first m, m) with m = min(k, 10, oracle size). */
  def hits(got: Seq[Long], want: Array[Hit], k: Int): (Int, Int) = {
    val m = math.min(math.min(k, 10), want.length)
    (got.take(m).toSet.intersect(want.take(m).map(_.id).toSet).size, m)
  }

  def recall(got: Seq[Long], want: Array[Hit], k: Int): Double = {
    val (h, m) = hits(got, want, k)
    if (m == 0) 1.0 else h.toDouble / m
  }
}
