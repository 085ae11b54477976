package graft.functions

import graft.model.Delta
import scala.collection.mutable.ArrayBuffer

/** Myers O(ND) diff producing typed INSERT/DELETE/CHANGE deltas, the
  * behavioral spec being the reference's difflib usage
  * (io/WikiRevisionDiffInputFormat.java:139-154, io/RevisionDiff.java:52-69,
  * test/TestDiffPatch.java:16-76). Pure Scala — no third-party diff lib.
  */
object DiffFunctions {

  /** Shortest edit script between two token lists, as difflib chunks:
    * each maximal run of deletes+inserts between two aligned tokens is one
    * delta, a CHANGE when it both deletes and inserts.
    *
    * Time O((N+M)·D) and space O(N+M), for N and M tokens and D deleted
    * plus inserted tokens: the common prefix and suffix are trimmed, then
    * Myers' middle-snake divide and conquer (Myers 1986, §4b) aligns the
    * rest. Ties between equally short scripts go to the common prefix
    * before the suffix, and inside the middle-snake search to a delete
    * over an insert; so where the alignment is ambiguous (repeated
    * tokens), chunks may sit elsewhere than a full LCS table would put
    * them, with the same, minimal, number of edited tokens. */
  def diff(orig: Seq[String], rev: Seq[String]): Seq[Delta] = {
    val a = if (orig == null) IndexedSeq.empty[String] else orig.toIndexedSeq
    val b = if (rev == null) IndexedSeq.empty[String] else rev.toIndexedSeq
    val n = a.length; val m = b.length
    val matched = new Aligner(a, b).matched
    val out = ArrayBuffer.empty[Delta]
    var x = 0; var y = 0
    while (x < n || y < m) {
      if (x < n && matched(x) == y) { x += 1; y += 1 }
      else {
        val chunkX = x; val chunkY = y
        while (x < n && matched(x) < 0) x += 1
        y = if (x < n) matched(x) else m
        val op =
          if (x > chunkX && y > chunkY) "CHANGE"
          else if (x > chunkX) "DELETE"
          else "INSERT"
        out += Delta(op, chunkX, chunkY, a.slice(chunkX, x), b.slice(chunkY, y))
      }
    }
    out.toSeq
  }

  /** `matched(i)` is the index in `b` aligned with `a(i)`, or -1 where
    * `a(i)` is deleted, on one shortest edit path. */
  private final class Aligner(a: IndexedSeq[String], b: IndexedSeq[String]) {
    val matched: Array[Int] = Array.fill(a.length)(-1)
    // furthest-reaching x per diagonal, forward and reverse; sized by the
    // first (largest) subproblem and reused by the smaller ones
    private var vf: Array[Int] = _
    private var vb: Array[Int] = _
    private var splitX = 0
    private var splitY = 0
    align(0, a.length, 0, b.length)

    private def align(aLo0: Int, aHi0: Int, bLo0: Int, bHi0: Int): Unit = {
      var aLo = aLo0; var aHi = aHi0; var bLo = bLo0; var bHi = bHi0
      while (aLo < aHi && bLo < bHi && a(aLo) == b(bLo)) {
        matched(aLo) = bLo; aLo += 1; bLo += 1
      }
      while (aLo < aHi && bLo < bHi && a(aHi - 1) == b(bHi - 1)) {
        aHi -= 1; bHi -= 1; matched(aHi) = bHi
      }
      if (aLo < aHi && bLo < bHi && middle(aLo, aHi, bLo, bHi)) {
        val x = splitX; val y = splitY
        align(aLo, x, bLo, y)
        align(x, aHi, y, bHi)
      }
    }

    /** Finds where the forward and reverse furthest-reaching paths over
      * a[aLo, aHi) × b[bLo, bHi) first overlap, and stores that point of a
      * shortest path in (splitX, splitY). It is neither corner of the box,
      * as both ends differ after trimming, so both halves are smaller.
      * False when the ranges share no token, so every token is an edit. */
    private def middle(aLo: Int, aHi: Int, bLo: Int, bHi: Int): Boolean = {
      val n = aHi - aLo; val m = bHi - bLo
      val maxD = (n + m + 1) / 2
      val len = 2 * maxD + 2
      if (vf == null) { vf = new Array[Int](len); vb = new Array[Int](len) }
      java.util.Arrays.fill(vf, 0, len, -1)
      java.util.Arrays.fill(vb, 0, len, -1)
      vf(maxD + 1) = 0; vb(maxD + 1) = 0
      val delta = n - m
      val odd = (delta & 1) != 0
      // diagonals that left the box stop being extended
      var fLo = 0; var fHi = 0; var rLo = 0; var rHi = 0
      var d = 0
      while (d < maxD) {
        var k = -d + fLo
        while (k <= d - fHi) {
          val i = maxD + k
          var x =
            if (k == -d || (k != d && vf(i - 1) < vf(i + 1))) vf(i + 1)
            else vf(i - 1) + 1
          var y = x - k
          while (x < n && y < m && a(aLo + x) == b(bLo + y)) { x += 1; y += 1 }
          vf(i) = x
          if (x > n) fHi += 2
          else if (y > m) fLo += 2
          else if (odd) {
            val j = maxD + delta - k
            if (j >= 0 && j < len && vb(j) != -1 && x >= n - vb(j)) {
              splitX = aLo + x; splitY = bLo + y
              return true
            }
          }
          k += 2
        }
        k = -d + rLo
        while (k <= d - rHi) {
          val i = maxD + k
          var x =
            if (k == -d || (k != d && vb(i - 1) < vb(i + 1))) vb(i + 1)
            else vb(i - 1) + 1
          var y = x - k
          while (x < n && y < m && a(aHi - 1 - x) == b(bHi - 1 - y)) {
            x += 1; y += 1
          }
          vb(i) = x
          if (x > n) rHi += 2
          else if (y > m) rLo += 2
          else if (!odd) {
            val j = maxD + delta - k
            if (j >= 0 && j < len && vf(j) != -1 && vf(j) >= n - x) {
              splitX = aLo + vf(j); splitY = bLo + vf(j) - (delta - k)
              return true
            }
          }
          k += 2
        }
        d += 1
      }
      false
    }
  }

  /** Words present in `rev` but not in `orig` (multiset difference) — the
    * "patch words" of the BOW/concat extractors
    * (RevisionBOWInputFormat.java:162-187, RevisionConcatInputFormat.java). */
  def addedWords(orig: Seq[String], rev: Seq[String]): Seq[String] = {
    val counts = scala.collection.mutable.HashMap.empty[String, Int]
    if (orig != null) orig.foreach(w => counts.update(w, counts.getOrElse(w, 0) + 1))
    val out = ArrayBuffer.empty[String]
    if (rev != null) rev.foreach { w =>
      val c = counts.getOrElse(w, 0)
      if (c > 0) counts.update(w, c - 1) else out += w
    }
    out.toSeq
  }
}
