package graft

import graft.model.Delta
import scala.collection.mutable.ArrayBuffer

/** Test-side reference for [[graft.functions.DiffFunctions.diff]]: the full
  * (n+1)·(m+1) LCS table, walked into the same difflib chunks, plus the
  * replay that applies a delta list to its original. Quadratic in time and
  * space, so only for short inputs. */
object LcsOracle {

  private def table(a: IndexedSeq[String], b: IndexedSeq[String]): Array[Array[Int]] = {
    val n = a.length; val m = b.length
    val dp = Array.ofDim[Int](n + 1, m + 1)
    var i = n - 1
    while (i >= 0) {
      var j = m - 1
      while (j >= 0) {
        dp(i)(j) =
          if (a(i) == b(j)) dp(i + 1)(j + 1) + 1
          else math.max(dp(i + 1)(j), dp(i)(j + 1))
        j -= 1
      }
      i -= 1
    }
    dp
  }

  /** Length of a longest common subsequence. */
  def lcs(orig: Seq[String], rev: Seq[String]): Int =
    table(orig.toIndexedSeq, rev.toIndexedSeq)(0)(0)

  /** The deltas the LCS table gives: tokens that are equal where the walk
    * stands are aligned, and a tie deletes before it inserts. */
  def diff(orig: Seq[String], rev: Seq[String]): Seq[Delta] = {
    val a = orig.toIndexedSeq; val b = rev.toIndexedSeq
    val n = a.length; val m = b.length
    val dp = table(a, b)
    val out = ArrayBuffer.empty[Delta]
    var x = 0; var y = 0
    val delBuf = ArrayBuffer.empty[String]
    val insBuf = ArrayBuffer.empty[String]
    var chunkX = 0; var chunkY = 0
    def flush(): Unit = {
      if (delBuf.nonEmpty || insBuf.nonEmpty) {
        val op =
          if (delBuf.nonEmpty && insBuf.nonEmpty) "CHANGE"
          else if (delBuf.nonEmpty) "DELETE"
          else "INSERT"
        out += Delta(op, chunkX, chunkY, delBuf.toSeq, insBuf.toSeq)
        delBuf.clear(); insBuf.clear()
      }
    }
    while (x < n || y < m) {
      if (x < n && y < m && a(x) == b(y)) {
        flush(); x += 1; y += 1
      } else {
        if (delBuf.isEmpty && insBuf.isEmpty) { chunkX = x; chunkY = y }
        if (y >= m || (x < n && dp(x + 1)(y) >= dp(x)(y + 1))) {
          delBuf += a(x); x += 1
        } else {
          insBuf += b(y); y += 1
        }
      }
    }
    flush()
    out.toSeq
  }

  /** Applies `deltas` to `orig`, checking that each delta's deleted tokens
    * are the ones at its `origPos`. */
  def replay(orig: IndexedSeq[String], deltas: Seq[Delta]): Seq[String] = {
    val out = ArrayBuffer.empty[String]
    var i = 0
    deltas.foreach { d =>
      assert(d.origPos >= i, s"delta $d overlaps the one before it")
      assert(orig.slice(d.origPos, d.origPos + d.origLines.length) == d.origLines,
        s"delta $d deletes tokens that are not at its origPos")
      while (i < d.origPos) { out += orig(i); i += 1 }
      assert(out.length == d.revPos, s"delta $d does not start at its revPos")
      out ++= d.revLines
      i += d.origLines.length
    }
    while (i < orig.length) { out += orig(i); i += 1 }
    out.toSeq
  }
}
