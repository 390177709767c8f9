package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** [[Run]] measures a registered query as a whole: every job of its
  * group, not only the tagged final action, and no job of a query
  * running beside it.
  */
class RunSpec extends AnyFunSuite {
  import TestSpark._

  test("an iterative query reports all its jobs; its engine span covers the final action") {
    val m = Run(spark, sf, "dedup_pagerank")(Run.noop).orThrow
    assert(m.jobs.size > 1, m.jobs)
    val q = m.query.getOrElse(fail("no tagged record for dedup_pagerank"))
    assert(q.name == "dedup_pagerank" && q.status == "ok" && q.rows > 0)
    assert(m.engineSec >= q.seconds, s"engine ${m.engineSec} < final action ${q.seconds}")
    assert(m.record.map(_.seconds).contains(m.engineSec))
  }

  test("two queries run concurrently get disjoint job ids") {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val runs = Seq("mr_grep", "mr_wordcount").map(name => Future(Run(spark, sf, name)(Run.noop)))
    val Seq(a, b) = runs.map(f => Await.result(f, 5.minutes).orThrow)
    assert(a.jobs.nonEmpty && b.jobs.nonEmpty)
    assert(a.jobs.map(_.id).intersect(b.jobs.map(_.id)).isEmpty)
    assert(a.query.map(_.name).contains("mr_grep") && b.query.map(_.name).contains("mr_wordcount"))
  }

  test("an unknown name throws an error that names it") {
    val e = intercept[NoSuchElementException](Run(spark, sf, "no_such_query")(Run.noop))
    assert(e.getMessage.contains("no_such_query"))
  }
}
