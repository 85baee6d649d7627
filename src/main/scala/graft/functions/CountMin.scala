package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Count-Min sketch (Cormode & Muthukrishnan, J.Algorithms 2005):
  * frequency estimation in O(d·w) space with one-sided error —
  * estimates never undercount, and overcount ≤ εN with probability
  * 1−δ (w = ⌈e/ε⌉, d = ⌈ln 1/δ⌉). The buffer is a flat d×w long
  * array: reduce is d hashed increments, merge is element-wise add —
  * the fully mergeable partial-aggregate shape (ClickHouse -State
  * algebra; Agarwal et al., PODS'12 mergeable summaries).
  *
  * Hashes are seeded MurmurHash3 rows — deterministic across JVMs and
  * partitionings, so the sketch (and its estimates) are reproducible.
  */
class CountMin(val depth: Int, val width: Int)
    extends Aggregator[String, Array[Long], Array[Long]] {

  override def zero: Array[Long] = new Array[Long](depth * width)

  override def reduce(b: Array[Long], x: String): Array[Long] = {
    // NULL rows are skipped, not hashed (the sketch-aggregate norm —
    // stringHash(null) would NPE the stage)
    if (x == null) return b
    var r = 0
    while (r < depth) {
      b(r * width + CountMin.bucket(x, r, width)) += 1
      r += 1
    }
    b
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def finish(b: Array[Long]): Array[Long] = b
  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Array[Long]] = bufferEncoder
}

object CountMin {
  private[graft] def bucket(x: String, row: Int, width: Int): Int = {
    val h = scala.util.hashing.MurmurHash3.stringHash(x, row * 0x9e3779b9)
    java.lang.Math.floorMod(h, width)
  }

  /** Point estimate: min over the d counters — never undercounts. */
  def estimate(sketch: Seq[Long], depth: Int, width: Int, x: String): Long = {
    var best = Long.MaxValue
    var r = 0
    while (r < depth) {
      val v = sketch(r * width + bucket(x, r, width))
      if (v < best) best = v
      r += 1
    }
    best
  }
}
