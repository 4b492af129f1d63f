package graft.functions

import java.util.function.IntBinaryOperator

/** The clipped-gram kernel under [[ChrFStats]] (code points) and
  * [[TokenGramStats]] (tokens). A row's candidate and reference sit
  * back to back in one typed element array — candidate at `[0, la)`,
  * reference at `[la, la + lb)` — and `elem(i, j)` compares the
  * elements at positions `i` and `j`, so the kernel never boxes an
  * element. A gram is its start position.
  *
  * Per order n it emits `m_n, dc_n, dr_n`: the clipped match count
  * (Σ over distinct grams of min(count_cand, count_ref)) and the two
  * gram totals. Each side's gram starts are sorted by gram content
  * (O(L log L) per order, no per-gram allocation) and a two-pointer
  * merge over the sorted lists adds min(run length A, run length B)
  * per shared distinct gram.
  */
private[functions] object ClippedGrams {

  def stats(la: Int, lb: Int, maxN: Int, elem: IntBinaryOperator): Array[Long] = {
    val out = new Array[Long](3 * maxN)
    var n = 1
    while (n <= maxN) {
      val dc = math.max(la - n + 1, 0)
      val dr = math.max(lb - n + 1, 0)
      out(3 * (n - 1)) =
        if (dc > 0 && dr > 0) clipped(sorted(0, dc, n, elem), sorted(la, dr, n, elem), n, elem)
        else 0L
      out(3 * (n - 1) + 1) = dc.toLong
      out(3 * (n - 1) + 2) = dr.toLong
      n += 1
    }
    out
  }

  private def cmp(x: Int, y: Int, n: Int, elem: IntBinaryOperator): Int = {
    var t = 0
    while (t < n) {
      val d = elem.applyAsInt(x + t, y + t)
      if (d != 0) return d
      t += 1
    }
    0
  }

  /** The `k` gram starts from `from` on, sorted by gram content. */
  private def sorted(from: Int, k: Int, n: Int, elem: IntBinaryOperator): Array[Integer] = {
    val idx = new Array[Integer](k)
    var i = 0
    while (i < k) { idx(i) = Integer.valueOf(from + i); i += 1 }
    java.util.Arrays.sort(idx, (x: Integer, y: Integer) => cmp(x, y, n, elem))
    idx
  }

  private def clipped(ia: Array[Integer], ib: Array[Integer], n: Int,
      elem: IntBinaryOperator): Long = {
    var i = 0
    var j = 0
    var m = 0L
    while (i < ia.length && j < ib.length) {
      val d = cmp(ia(i), ib(j), n, elem)
      if (d < 0) i += 1
      else if (d > 0) j += 1
      else {
        var ri = i + 1
        while (ri < ia.length && cmp(ia(ri), ia(i), n, elem) == 0) ri += 1
        var rj = j + 1
        while (rj < ib.length && cmp(ib(rj), ib(j), n, elem) == 0) rj += 1
        m += math.min(ri - i, rj - j).toLong
        i = ri
        j = rj
      }
    }
    m
  }
}
