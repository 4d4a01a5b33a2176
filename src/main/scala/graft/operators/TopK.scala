package graft.operators

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Per-group top-k as a mergeable bounded-heap aggregate.
  *
  * The window formulation (`row_number() OVER (PARTITION BY g ORDER BY v
  * DESC) <= k`) is exact but sorts ENTIRE groups after the shuffle — at
  * 100 TB a hot group is millions of rows buffered and sorted on one task
  * for a 3-row answer. This [[Aggregator]] keeps a k-bounded buffer,
  * combines map-side like any partial aggregate, and ships at most k
  * entries per group per map partition through the exchange.
  * `TakeOrderedAndProject` does the same trick for GLOBAL top-k; Spark has
  * no built-in per-GROUP analog (reference top-k loops:
  * search_housing.py:128-143, main.py:466-475).
  *
  * Determinism: ordering is (score DESC, id ASC) — ties cannot reorder
  * results between runs or cluster sizes.
  */
object TopK {

  /** One candidate: `id` is the payload key, `score` the ranking value. */
  final case class Scored(id: Long, score: Double)

  /** The one bounded top-k aggregator, over entries of any type `E` that
    * carry an id and a score (plus whatever payload rides along: the
    * embedding in [[Quantize.pqJoinIndexed]], the exact similarity in the
    * dial sweeps' pages, [[AnnIndex.gridPass]]).
    *
    * Buffer invariant: an indexed buffer sorted by (score DESC, id ASC),
    * length ≤ k. Once the buffer is full, `reduce` rejects an entry no
    * better than the last in O(1); an accepted entry finds its slot by
    * binary search. `merge` is a linear sorted merge-take. Both keep
    * insertion order among full ties (the earlier entry, or the left
    * buffer's, first), so the result equals a stable sort of the input
    * by (score DESC, id ASC), cut at k. */
  final class TopKAgg[E: TypeTag](k: Int, id: E => Long, score: E => Double)
      extends Aggregator[E, Seq[E], Seq[E]] {
    require(k >= 1, s"k must be >= 1, got $k")

    private def beats(a: E, b: E): Boolean =
      score(a) > score(b) || (score(a) == score(b) && id(a) < id(b))

    // a buffer decoded from the exchange may be any Seq; our own are Vectors
    private def indexed(buf: Seq[E]): Vector[E] = buf match {
      case v: Vector[E @unchecked] => v
      case o => o.toVector
    }

    override def zero: Seq[E] = Vector.empty

    override def reduce(buf: Seq[E], a: E): Seq[E] = {
      val b = indexed(buf)
      if (b.length >= k && !beats(a, b.last)) b
      else {
        // first slot whose entry `a` beats: `beats(a, b(i))` is monotone
        // along the sorted buffer
        var (lo, hi) = (0, b.length)
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (beats(a, b(mid))) hi = mid else lo = mid + 1
        }
        val out = b.patch(lo, Seq(a), 0)
        if (out.length > k) out.init else out
      }
    }

    override def merge(b1: Seq[E], b2: Seq[E]): Seq[E] = {
      val (x, y) = (indexed(b1), indexed(b2))
      val out = Vector.newBuilder[E]
      var (i, j, n) = (0, 0, 0)
      while (n < k && (i < x.length || j < y.length)) {
        if (j == y.length || (i < x.length && !beats(y(j), x(i)))) {
          out += x(i); i += 1
        } else { out += y(j); j += 1 }
        n += 1
      }
      out.result()
    }

    override def finish(buf: Seq[E]): Seq[E] = buf

    override def bufferEncoder: Encoder[Seq[E]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[E]] = ExpressionEncoder()
  }

  object TopKAgg {
    /** [[TopKAgg]] over bare (id, score) entries — [[topK]]'s aggregator. */
    def apply(k: Int): TopKAgg[Scored] = new TopKAgg[Scored](k, _.id, _.score)

    /** [[TopKAgg]] over (id, score, payload) entries; the result is
      * `array<struct<_1: id, _2: score, _3: payload>>`. */
    def withPayload[P: TypeTag](k: Int): TopKAgg[(Long, Double, P)] =
      new TopKAgg[(Long, Double, P)](k, _._1, _._2)
  }

  /** Column form: `agg(TopK.topK(3)(col("id"), col("score")).as("tk"))` —
    * result is `array<struct<id:bigint,score:double>>` in rank order. */
  def topK(k: Int): (Column, Column) => Column = {
    val fn = udaf(TopKAgg(k), ExpressionEncoder[Scored]())
    (id: Column, score: Column) => fn(id, score)
  }

  /** Column form of [[TopKAgg.withPayload]]: `(id, score, payload)` to the
    * group's page in rank order. */
  def topKWithPayload[P: TypeTag](k: Int): (Column, Column, Column) => Column = {
    val fn = udaf(TopKAgg.withPayload[P](k), ExpressionEncoder[(Long, Double, P)]())
    (id: Column, score: Column, payload: Column) => fn(id, score, payload)
  }
}
