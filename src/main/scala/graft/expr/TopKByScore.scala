package graft.expr

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Exact top-k aggregate (SURVEY §7.6's optional TypedImperativeAggregate
  * path, via the public `Aggregator` + `udaf` surface): each partition
  * keeps a bounded k-buffer, partial buffers merge map-side, and only
  * k rows per partition ever move — distributed top-k with NO sort and
  * no TakeOrderedAndProject dependency (useful as a grouped top-k:
  * `groupBy(g).agg(topk(...))`, which sort+limit can't express).
  *
  * Ordering: lexicographic DESC on the full tuple — matches the
  * total-order tie-break convention used by the ordered-limit queries.
  */
case class ScoredRow(score: Double, k1: Long, k2: Long, k3: Long, k4: Long,
                     payload: Double)

class TopKByScore(k: Int)
    extends Aggregator[ScoredRow, Seq[ScoredRow], Seq[ScoredRow]] {

  private val ord: Ordering[ScoredRow] =
    Ordering.by(r => (-r.score, r.k1, r.k2, r.k3, r.k4, r.payload))

  override def zero: Seq[ScoredRow] = Vector.empty

  override def reduce(buf: Seq[ScoredRow], in: ScoredRow): Seq[ScoredRow] =
    insert(buf, in)

  override def merge(a: Seq[ScoredRow], b: Seq[ScoredRow]): Seq[ScoredRow] =
    (a ++ b).sorted(ord).take(k)

  override def finish(buf: Seq[ScoredRow]): Seq[ScoredRow] = buf.sorted(ord)

  private def insert(buf: Seq[ScoredRow], in: ScoredRow): Seq[ScoredRow] =
    if (buf.length < k) (buf :+ in).sorted(ord)
    else if (ord.lt(in, buf.last)) (buf.init :+ in).sorted(ord)
    else buf

  override def bufferEncoder: Encoder[Seq[ScoredRow]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[ScoredRow]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
}
