package graft

import org.scalatest.funsuite.AnyFunSuite

/** The reference's straggler-mitigation story (cooler-MapReduce
  * WEEK2_SUMMARY.md:11 — the coordinator auto-creates backup tasks for
  * slow workers) on Spark's speculative execution — see
  * graft.tools.SpeculationDemo for the scenario.
  *
  * Spark only runs the speculation thread on a non-local master, and
  * never places a backup on the host that runs the original attempt —
  * so the demo child JVM spins up a real standalone master plus two
  * single-core workers on distinct loopback hosts (127.0.0.2/.3); this
  * spec forks it through `MiniCluster.runMain` (this test JVM's class
  * path and JDK17 opens) and asserts its one-line verdict: a
  * speculative backup attempt launched AND the answer stayed exact.
  * Sibling of FaultToleranceSpec (task failure → retry → same answer);
  * here the task is slow, not failing, and mitigation is a backup
  * copy, not a retry.
  */
class SpeculationSpec extends AnyFunSuite {

  test("a straggler task gets a speculative backup; the answer is unchanged") {
    val run = graft.tools.MiniCluster.runMain("graft.tools.SpeculationDemo", 300)
    val verdict = run.out.linesIterator.find(_.startsWith("SPECULATION"))
    assert(run.exit.nonEmpty, s"speculation demo timed out\n${run.tail}")
    assert(verdict.exists(v => v.contains("sum_ok=true")),
      s"straggler run did not produce the exact answer: $verdict\n${run.tail}")
    assert(verdict.exists(v => !v.contains("speculative=0")),
      s"no speculative backup attempt launched: $verdict\n${run.tail}")
    assert(run.exit.contains(0), s"demo exit ${run.exit}: $verdict")
  }
}
