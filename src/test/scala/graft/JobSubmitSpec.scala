package graft

import org.scalatest.funsuite.AnyFunSuite

/** Cluster shipping of a submitted job (see graft.tools.JobSubmitDemo):
  * the job jar is compiled at run time outside every class path, its
  * plan evaluates a UDF defined in the jar, and the two-host standalone
  * cluster's executors must load that class through `sc.addJar` and
  * give the exact sum. JobRunnerSpec proves the same submit path in
  * local mode, where the executor is the driver's own JVM.
  */
class JobSubmitSpec extends AnyFunSuite {

  test("a submitted jar's UDF runs on remote executors with the exact answer") {
    val run = graft.tools.MiniCluster.runMain("graft.tools.JobSubmitDemo", 300)
    val verdict = run.out.linesIterator.find(_.startsWith("JOBSUBMIT"))
    assert(run.exit.nonEmpty, s"job-submit demo timed out\n${run.tail}")
    assert(verdict.exists(_.contains("shipped_ok=true")),
      s"the job did not run on remote executors: $verdict\n${run.tail}")
    assert(verdict.exists(_.contains("sum_ok=true")),
      s"the submitted UDF gave a wrong sum: $verdict\n${run.tail}")
    assert(run.exit.contains(0), s"demo exit ${run.exit}: $verdict")
  }
}
