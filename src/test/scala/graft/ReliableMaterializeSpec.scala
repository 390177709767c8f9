package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

/** The materialize() convention under executor loss — the round-5
  * verdict's top scale risk: every self-join cut (dedup signatures,
  * LSH band tables, graph label rounds) rode `localCheckpoint`, whose
  * blocks die with their executor, converting routine cluster churn
  * into job failure. `graft.materialize.reliable=<dir>` flips every
  * cut to a reliable checkpoint.
  *
  *  - parity: reliable mode changes WHERE the cut rows live, never the
  *    rows — minhash LSH pairs and connected components are identical
  *    in both modes (in-process, local master).
  *  - fault injection: graft.tools.ReliableMaterializeDemo runs the
  *    real scenario on the two-host standalone cluster — materialize,
  *    kill every executor mid-query, re-consume: reliable mode serves
  *    the checkpoint files and matches the pre-kill count; default
  *    localCheckpoint mode fails (the defect, demonstrated).
  */
class ReliableMaterializeSpec extends AnyFunSuite {
  import TestSpark._

  private def withReliable[A](body: => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-reliable-spec").toString
    spark.conf.set(Materialize.ReliableDirKey, dir)
    try body
    finally spark.conf.unset(Materialize.ReliableDirKey)
  }

  test("reliable mode is a pure placement change: LSH pairs identical") {
    val docs = Tables.documents(spark, sf)
    val base = graft.operators.Dedup.minhashLsh(docs, "doc_id", "text")
      .collect().map(_.toString).sorted
    val rel = withReliable {
      graft.operators.Dedup.minhashLsh(docs, "doc_id", "text")
        .collect().map(_.toString).sorted
    }
    assert(rel.nonEmpty && (rel sameElements base))
  }

  test("reliable mode: iterative connected components identical") {
    val docs = Tables.documents(spark, sf)
    val base = graft.operators.Dedup.dedupClusters(docs, "doc_id", "text")
      .collect().map(_.toString).sorted
    val rel = withReliable {
      graft.operators.Dedup.dedupClusters(docs, "doc_id", "text")
        .collect().map(_.toString).sorted
    }
    assert(rel.nonEmpty && (rel sameElements base))
  }

  test("on a two-host cluster, killed executors: reliable survives, local fails") {
    val run = graft.tools.MiniCluster.runMain("graft.tools.ReliableMaterializeDemo", 420)
    val verdict = run.out.linesIterator.find(_.startsWith("RELIABLE_MAT"))
    assert(run.exit.nonEmpty, s"reliable-materialize demo timed out\n${run.tail}")
    assert(verdict.exists(_.contains("reliable_ok=true")),
      s"reliable materialize did not survive executor loss: $verdict\n${run.tail}")
    assert(verdict.exists(_.contains("local_failed=true")),
      s"localCheckpoint unexpectedly survived executor loss (defect not demonstrated): $verdict\n${run.tail}")
    assert(run.exit.contains(0), s"demo exit ${run.exit}: $verdict")
  }
}
