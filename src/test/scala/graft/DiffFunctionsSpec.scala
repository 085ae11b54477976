package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.DiffFunctions
import graft.model.Delta

/** F16 spec — expected deltas mirror the reference's difflib behavior on
  * the TestDiffPatch fixtures (java/test/other/TestDiffPatch.java:16-76). */
class DiffFunctionsSpec extends AnyFunSuite {

  private val A = "The quick brown fox jumps over the lazy dog"
  private val B = "This sentence stays the same"
  private val C = "But this will be removed."
  private val D = "This will be the same."
  private val X = "And this has been added."
  private val Y = "That quick brown fox jumped over a lazy dog."
  private val Z = "And this has been newly added."

  test("sentence-level diff produces the reference's two CHANGE deltas") {
    val deltas = DiffFunctions.diff(Seq(A, B, C, D), Seq(X, Y, B, Z, D))
    assert(deltas.length == 2)
    assert(deltas(0) == Delta("CHANGE", 0, 0, Seq(A), Seq(X, Y)))
    assert(deltas(1) == Delta("CHANGE", 2, 3, Seq(C), Seq(Z)))
  }

  test("whole-insert from empty original is a single INSERT") {
    val rev = Seq("a", "b", "c")
    val deltas = DiffFunctions.diff(Seq.empty, rev)
    assert(deltas == Seq(Delta("INSERT", 0, 0, Seq.empty, rev)))
  }

  test("whole-delete to empty revision is a single DELETE") {
    val orig = Seq("a", "b")
    assert(DiffFunctions.diff(orig, Seq.empty) ==
      Seq(Delta("DELETE", 0, 0, orig, Seq.empty)))
  }

  test("identical inputs produce no deltas") {
    assert(DiffFunctions.diff(Seq("x", "y"), Seq("x", "y")).isEmpty)
    assert(DiffFunctions.diff(Seq.empty, Seq.empty).isEmpty)
  }

  test("pure insertion in the middle") {
    val deltas = DiffFunctions.diff(Seq("a", "d"), Seq("a", "b", "c", "d"))
    assert(deltas == Seq(Delta("INSERT", 1, 1, Seq.empty, Seq("b", "c"))))
  }

  test("null inputs treated as empty") {
    assert(DiffFunctions.diff(null, Seq("a")) ==
      Seq(Delta("INSERT", 0, 0, Seq.empty, Seq("a"))))
  }

  test("addedWords is a multiset difference") {
    assert(DiffFunctions.addedWords(Seq("a", "b", "b"), Seq("b", "b", "b", "c")) ==
      Seq("b", "c"))
    assert(DiffFunctions.addedWords(null, Seq("x")) == Seq("x"))
    assert(DiffFunctions.addedWords(Seq("x"), null) == Seq.empty)
  }

  test("60k tokens a side with 3 local edits: exact deltas, no n·m table") {
    // distinct tokens, so the alignment is unique; a full LCS table here
    // would be 60001² ints (~14 GB), past any test heap
    val orig = (0 until 60000).map(i => s"t$i")
    val rev = orig.slice(0, 10000) ++ Seq("u") ++ orig.slice(10001, 30000) ++
      orig.slice(30002, 50000) ++ Seq("v", "w") ++ orig.slice(50000, 60000)
    val deltas = DiffFunctions.diff(orig, rev)
    assert(deltas == Seq(
      Delta("CHANGE", 10000, 10000, Seq("t10000"), Seq("u")),
      Delta("DELETE", 30000, 30000, Seq("t30000", "t30001"), Seq.empty),
      Delta("INSERT", 50000, 49998, Seq.empty, Seq("v", "w"))))
    assert(LcsOracle.replay(orig, deltas) == rev)
  }

  test("disjoint vocabularies (D = N + M) give one CHANGE of everything") {
    val a = (0 until 2000).map(i => s"a$i")
    val b = (0 until 2000).map(i => s"b$i")
    assert(DiffFunctions.diff(a, b) == Seq(Delta("CHANGE", 0, 0, a, b)))
  }

  test("a repeated token is inserted after the common prefix, as the DP did") {
    val expect = Seq(Delta("INSERT", 1, 1, Seq.empty, Seq("s")))
    assert(DiffFunctions.diff(Seq("s"), Seq("s", "s")) == expect)
    assert(LcsOracle.diff(Seq("s"), Seq("s", "s")) == expect)
  }
}
