package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** The ENTIRE per-doc TextRank over a [[TrSurvPairs]] struct:
  * `tr_rank(sp, rounds, top_k, scale, base)` returns the doc's
  * top-`top_k` `struct(tok, rnk, rank_pm)` keywords. The whole K184
  * rank pipeline is doc-keyed at every operator (symmetrize+weight
  * aggregate, wdeg window, the per-round join+aggregate, the top-K
  * window), so nothing about it ever needs to cross docs — the
  * distributed form paid a symmetrize exchange, a persisted
  * repartition, `rounds` join+aggregate barriers and a rank window
  * for work this kernel does in one in-memory pass per doc (doc
  * co-occurrence graphs are survivor-sized by construction).
  *
  * Bit-exactness contract (vs the relational tail, pinned by the
  * full-corpus sequential-replay spec + the oracle): edge weights =
  * counts over pairs ∪ reversed pairs; wdeg = Σ outgoing weight;
  * connected nodes start at `scale`, each round r'(v) = base +
  * (85 · Σ_{u→v} w·(r(u) div wdeg(u))) div 100 in 64-bit integer
  * arithmetic (Java `/` on non-negative longs ≡ SQL `div`);
  * isolated survivors (distinct toks with no pair) sit at `base`;
  * top-k ordered by (rank DESC, token ASC) — survivors are
  * `[a-z]+` by the gate, so Java string order, UTF8 binary order
  * and DuckDB collation coincide. `rnk` is 1-based like the
  * row_number it replaces.
  *
  * The node universe is the distinct `toks` plus any pair endpoint
  * not among them, indexed alike, so the kernel is total over its
  * struct shape; on [[TrSurvPairs]] output every endpoint is a
  * survivor and the universe is exactly the distinct `toks`.
  *
  * All four config args must be positive literals. */
object TrRank {

  def compute(sp: InternalRow, rounds: Int, topK: Int,
              scale: Long, base: Long): GenericArrayData = {
    val toksArr = sp.getArray(0)
    val pairsArr = sp.getArray(1)
    // node universe: distinct survivors plus any pair endpoint not
    // among them (order irrelevant — sorted at the end); index them
    // for dense arrays
    val idx = new java.util.LinkedHashMap[String, Integer]()
    def index(u: UTF8String): Int = {
      val prev = idx.putIfAbsent(u.toString, idx.size)
      if (prev == null) idx.size - 1 else prev.intValue()
    }
    var i = 0
    while (i < toksArr.numElements()) {
      index(toksArr.getUTF8String(i))
      i += 1
    }
    // symmetric weighted edges: counts over pairs ∪ reversed pairs
    val w = new java.util.HashMap[Long, Long]() // (src << 32 | dst) -> count
    def bump(a: Int, b: Int): Unit = {
      val k = (a.toLong << 32) | (b.toLong & 0xffffffffL)
      w.put(k, w.getOrDefault(k, 0L) + 1L)
      ()
    }
    i = 0
    while (i < pairsArr.numElements()) {
      val p = pairsArr.getStruct(i, 2)
      val a = index(p.getUTF8String(0))
      val b = index(p.getUTF8String(1))
      bump(a, b); bump(b, a)
      i += 1
    }
    val n = idx.size
    val names = new Array[String](n)
    val it = idx.entrySet().iterator()
    while (it.hasNext) { val e = it.next(); names(e.getValue) = e.getKey }
    val wdeg = new Array[Long](n)
    val we = w.entrySet().iterator()
    while (we.hasNext) {
      val e = we.next()
      wdeg((e.getKey >> 32).toInt) += e.getValue
    }
    // connected nodes start at `scale`; `rounds` mass steps
    val r = new Array[Long](n)
    i = 0
    while (i < n) { r(i) = if (wdeg(i) > 0L) scale else base; i += 1 }
    var round = 0
    while (round < rounds) {
      val m = new Array[Long](n)
      val it2 = w.entrySet().iterator()
      while (it2.hasNext) {
        val e = it2.next()
        val src = (e.getKey >> 32).toInt
        val dst = (e.getKey & 0xffffffffL).toInt
        m(dst) += e.getValue * (r(src) / wdeg(src))
      }
      i = 0
      while (i < n) {
        if (wdeg(i) > 0L) r(i) = base + (85L * m(i)) / 100L
        i += 1
      }
      round += 1
    }
    // top-k by (rank DESC, token ASC); rnk 1-based
    val order = (0 until n).sortBy(i0 => (-r(i0), names(i0)))
    val k = math.min(topK, n)
    val out = new Array[AnyRef](k)
    i = 0
    while (i < k) {
      val v = order(i)
      out(i) = new GenericInternalRow(Array[Any](
        UTF8String.fromString(names(v)), i + 1, r(v)))
      i += 1
    }
    new GenericArrayData(out)
  }
}
