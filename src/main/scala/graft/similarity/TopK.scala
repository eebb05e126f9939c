package graft.similarity

import scala.collection.immutable.ArraySeq
import scala.reflect.ClassTag
import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Encoder, Row}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

// The ranking pieces of the similarity tiers: the top-k merge aggregator,
// and the per-partition heaps and routing table of the partition kernel
// (see the Similarity object).

/** One scored candidate; public so encoder codegen can reach it. */
case class Scored[T](sim: Double, id: T)

/** Bounded top-k accumulator: keeps at most k (sim desc, id asc) entries.
  * Registered via `functions.udaf`, so Spark runs it as a partial+final
  * ObjectHashAggregate — each map task retains only k rows per query and
  * the final merge is k-sized. This is the scale-correct replacement for
  * `Window.partitionBy(query)` ranking, which ships EVERY scored candidate
  * for a query to a single task. Instantiated at Long (integral corpus
  * ids) or String (uuid/string ids). Buffers stay sorted, so `reduce`
  * inserts by binary search and `merge` is a linear two-way merge; both
  * equal sort-then-take (a spec property). */
private[graft] class TopKAgg[T: TypeTag](k: Int)(implicit idOrd: Ordering[T])
    extends Aggregator[Scored[T], Seq[Scored[T]], Seq[Scored[T]]] {
  private val tag: ClassTag[Scored[T]] = ClassTag(classOf[Scored[T]])
  /** `Ordering.by((-sim, id))` without its Tuple2 and boxed Double: the
    * Double total order on the NEGATED sim (NaN last, 0.0 before -0.0). */
  private val ord: Ordering[Scored[T]] = (a: Scored[T], b: Scored[T]) => {
    val c = java.lang.Double.compare(-a.sim, -b.sim)
    if (c != 0) c else idOrd.compare(a.id, b.id)
  }
  override def zero: Seq[Scored[T]] = Nil
  override def reduce(b0: Seq[Scored[T]], a: Scored[T]): Seq[Scored[T]] = {
    val b = b0.toIndexedSeq
    if (b.length >= k && ord.gteq(a, b.last)) b // a ranks at/after the kth
    else {
      val at = b.search(a)(ord).insertionPoint
      ArraySeq.unsafeWrapArray((b.iterator.take(at) ++ Iterator.single(a) ++
        b.iterator.drop(at)).take(k).toArray(tag))
    }
  }
  override def merge(b1: Seq[Scored[T]], b2: Seq[Scored[T]]): Seq[Scored[T]] = {
    val (x, y) = (b1.iterator.buffered, b2.iterator.buffered)
    // b1 first on ties, as the stable sort of (b1 ++ b2) kept them
    ArraySeq.unsafeWrapArray(Iterator.continually(
      if (!y.hasNext || (x.hasNext && ord.lteq(x.head, y.head))) x.next() else y.next())
      .take(math.min(k, b1.length + b2.length)).toArray(tag))
  }
  override def finish(r: Seq[Scored[T]]): Seq[Scored[T]] = r
  override def bufferEncoder: Encoder[Seq[Scored[T]]] = ExpressionEncoder()
  override def outputEncoder: Encoder[Seq[Scored[T]]] = ExpressionEncoder()
}

/** The per-query top-k heaps of one kernel partition: binary heaps with
  * the worst kept entry at the root, grown on demand, so inserts are
  * O(log k) and a partition holds no more entries than it scored (a
  * rerank shortlist 10^5 deep stays bounded). Entries rank as in
  * [[TopKAgg]], on the score rounded HALF_UP first — ranking and the id
  * tie-break are defined on the ROUNDED score. */
private final class TopKHeaps(nq: Int, k: Int, roundTo: Int) {
  private val sims = new Array[Array[Double]](nq)
  private val ids = new Array[Array[Long]](nq)
  private val sizes = new Array[Int](nq)
  private val touched = new Array[Int](nq)
  private var row = 0
  private val nullQs = Array.newBuilder[Int]
  private val nullIds = Array.newBuilder[Long]
  // HALF_UP inclusion at scale s needs x ≥ R − 0.5·10⁻ˢ (> for negative
  // R): a raw score under (worst − 0.6·10⁻ˢ) provably rounds below the
  // worst kept score and skips the BigDecimal rounding
  private val margin = 0.6 * math.pow(10.0, -roundTo)

  def nextRow(): Unit = row += 1
  /** True the first time query slot `qi` is asked within the current row. */
  def firstInRow(qi: Int): Boolean =
    touched(qi) != row && { touched(qi) = row; true }

  private def before(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
    val c = java.lang.Double.compare(-s1, -s2)
    c < 0 || (c == 0 && i1 < i2)
  }

  /** Offer heap `qi` the corpus row `id` at unrounded score `raw`. */
  def offer(qi: Int, id: Long, raw: Double): Unit = {
    val sz = sizes(qi)
    if (sz == k && raw < sims(qi)(0) - margin) return
    val sim = Similarity.roundHalfUp(raw, roundTo)
    if (sz < k && (sims(qi) == null || sz == sims(qi).length)) {
      val cap = math.min(k, math.max(16, 2 * sz))
      sims(qi) = java.util.Arrays.copyOf(Option(sims(qi)).getOrElse(Array.emptyDoubleArray), cap)
      ids(qi) = java.util.Arrays.copyOf(Option(ids(qi)).getOrElse(Array.emptyLongArray), cap)
    }
    val hs = sims(qi); val hd = ids(qi)
    var pos = sz
    if (sz < k) { // append, then sift up past every parent ranking before it
      while (pos > 0 && before(hs((pos - 1) / 2), hd((pos - 1) / 2), sim, id)) {
        hs(pos) = hs((pos - 1) / 2); hd(pos) = hd((pos - 1) / 2); pos = (pos - 1) / 2
      }
      sizes(qi) = sz + 1
    } else if (before(sim, id, hs(0), hd(0))) { // replace the root, sift down
      pos = 0
      var c = 1
      while (c < k) {
        if (c + 1 < k && before(hs(c), hd(c), hs(c + 1), hd(c + 1))) c += 1
        if (before(sim, id, hs(c), hd(c))) {
          hs(pos) = hs(c); hd(pos) = hd(c); pos = c; c = 2 * c + 1
        } else c = k
      }
    } else return
    hs(pos) = sim; hd(pos) = id
  }

  /** A null score (Spark's `x / 0.0` outside ANSI mode) bypasses the
    * heap: the merge ranks it exactly as it ranked the join form's nulls
    * (the heap merge reads 0.0, the large-k window merge ranks it last). */
  def offerNull(qi: Int, id: Long): Unit = { nullQs += qi; nullIds += id }

  /** The kept entries as (query_id, nn_id, sim) rows. */
  def rows(qIds: Array[Long]): Iterator[Row] =
    Iterator.range(0, nq).flatMap(qi => Iterator.range(0, sizes(qi))
      .map(p => Row(qIds(qi), ids(qi)(p), sims(qi)(p)))) ++
      nullQs.result().iterator.zip(nullIds.result()).map { case (qi, id) =>
        Row(qIds(qi), id, null) }
}

/** The kernel's routing table, built on the driver from (key, query row)
  * pairs: for each key — an IVF cell, an LSH bucket, a corpus id — the
  * query rows a corpus row with that key is scored against, in the order
  * they were added. Sorted distinct keys with CSR offsets: primitive
  * arrays only, so a deep rerank map ships as a few flat blocks. */
private final class Routes private (keys: Array[Long], val starts: Array[Int],
    val queries: Array[Int]) extends Serializable {
  /** Position of `key` — its queries are `queries(starts(p) until
    * starts(p + 1))` — or -1 when no query routes to it. */
  def find(key: Long): Int = math.max(-1, java.util.Arrays.binarySearch(keys, key))
}

private object Routes {
  def apply(pairKeys: Array[Long], pairQueries: Array[Int]): Routes = {
    val keys = { val u = pairKeys.clone(); java.util.Arrays.sort(u); u.distinct }
    val pos = pairKeys.map(java.util.Arrays.binarySearch(keys, _))
    val starts = new Array[Int](keys.length + 1)
    pos.foreach(p => starts(p + 1) += 1)
    for (p <- keys.indices) starts(p + 1) += starts(p)
    val fill = starts.clone()
    val queries = new Array[Int](pairKeys.length)
    for (i <- pos.indices) { queries(fill(pos(i))) = pairQueries(i); fill(pos(i)) += 1 }
    new Routes(keys, starts, queries)
  }
}
