package graft

import org.scalatest.funsuite.AnyFunSuite

/** A ratchet on the Spark jobs query builders start before the returned
  * frame's action: each one is a scheduling round the driver runs
  * alone. The sweep builds every swept query once per test JVM, in name
  * order; a process-shared stage counts against whichever query builds
  * it first, and a spec that ran earlier in the JVM may already have
  * built it, so the total can only fall below a first-build count. */
class BuilderJobsSpec extends AnyFunSuite {
  /** The swept builders' job total at sf0.001 when the sweep builds every
    * shared stage itself. Lower it when a change removes builder jobs;
    * never raise it to let a change through. */
  private val PinnedTotal = 676

  test("the swept builders start no more jobs than pinned") {
    val jobs = Sweep.built.map { case (n, b) => n -> b.jobs }
    val total = jobs.map(_._2).sum
    assert(total <= PinnedTotal, s"$total builder jobs > $PinnedTotal; " +
      "most: " + jobs.sortBy(-_._2).take(15).mkString(", "))
  }

  test("the swept perfbench light rows build without a job") {
    val light = Seq("q3_top_revenue", "q18_large_orders", "p3_time_range_us",
      "o9_key_cap_audit", "j1_broadcast_join", "a14_rollup", "w6_sessionize")
    val built = Sweep.built.toMap
    assert(light.map(n => n -> built(n).jobs).filter(_._2 != 0).isEmpty)
  }
}
