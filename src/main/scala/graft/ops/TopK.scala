package graft.ops

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** The one bounded top-k selection in `graft.ops`. A buffer holds at most
  * k entries (score, a, b) as parallel arrays, best first, in the order
  * score desc, then a asc, then b asc. k ≤ 0 keeps nothing: `insert`
  * returns the buffer unchanged, so every caller's answer is empty — the
  * `row_number() <= k` oracle's answer.
  *
  * Insertion is O(k) worst case but O(1) (a single compare against the
  * current k-th) for the overwhelming majority of rows once the buffer
  * fills. Callers:
  *   - [[TopKIds]], the typed aggregator whose partial top-k runs
  *     MAP-SIDE (partial + merge phases of the hash aggregate), so each
  *     reducer absorbs at most `numPartitions × k` candidates instead of
  *     the full scored set: `SimilarityOps.rankTopK` (and every op built
  *     on it), `GraphAnnOps.topKFromVisitedSweep`, `PqOps`, and the
  *     `SparkEntry`/`RelationalQueries` cost top-k queries;
  *   - `SimilarityOps.topPairs`: the brute kernel's per-partition top-k
  *     pairs, and the collapsed kernel's pass-1 class-score boundary;
  *   - `CorpusOps.domainCap`: per-source partial and merge, with
  *     (0.0, −n_chars, doc_id) so the order is n_chars desc, doc_id asc.
  */
object TopK {

  type Buf = (Array[Double], Array[Long], Array[Long])
  val emptyBuf: Buf = (Array.empty, Array.empty, Array.empty)

  /** Insert (s, a, b) into `buf`, bounded at k. Returns the (possibly
    * new) buffer; `buf` itself is never modified. */
  def insert(k: Int, buf: Buf, s: Double, a: Long, b: Long): Buf = {
    val (ss, as, bs) = buf
    val n = ss.length
    @inline def beats(i: Int): Boolean =
      s > ss(i) || (s == ss(i) && (a < as(i) || (a == as(i) && b < bs(i))))
    if (k <= 0 || (n >= k && !beats(n - 1))) return buf
    var pos = n
    while (pos > 0 && beats(pos - 1)) pos -= 1
    val m = math.min(n + 1, k)
    val ns = new Array[Double](m); val na = new Array[Long](m); val nb = new Array[Long](m)
    System.arraycopy(ss, 0, ns, 0, pos)
    System.arraycopy(as, 0, na, 0, pos)
    System.arraycopy(bs, 0, nb, 0, pos)
    ns(pos) = s; na(pos) = a; nb(pos) = b
    val tail = m - pos - 1
    if (tail > 0) {
      System.arraycopy(ss, pos, ns, pos + 1, tail)
      System.arraycopy(as, pos, na, pos + 1, tail)
      System.arraycopy(bs, pos, nb, pos + 1, tail)
    }
    (ns, na, nb)
  }

  private def mergeBufs(k: Int, x: Buf, y: Buf): Buf = {
    var acc = x
    var i = 0
    while (i < y._1.length) {
      acc = insert(k, acc, y._1(i), y._2(i), y._3(i))
      i += 1
    }
    acc
  }

  /** Per-group top-k single ids by (score desc, id asc). Input rows:
    * (groupKey, id, score) — groupKey is ignored (carried by groupByKey). */
  class TopKIds(k: Int) extends Aggregator[(Long, Long, Double), Buf, Seq[Long]] {
    def zero: Buf = emptyBuf
    def reduce(b: Buf, in: (Long, Long, Double)): Buf =
      insert(k, b, in._3, in._2, 0L)
    def merge(x: Buf, y: Buf): Buf = mergeBufs(k, x, y)
    def finish(b: Buf): Seq[Long] = b._2.toSeq
    def bufferEncoder: Encoder[Buf] = ExpressionEncoder()
    def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
  }
}
