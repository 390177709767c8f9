package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.classic.GraftPlanFactory
import graft.sources.Tables

class MonitoringSpec extends AnyFunSuite {
  import TestSpark._

  test("listener records rows, scan bytes and duration per tagged query") {
    val profile = Profile.install(spark)
    try {
      val df = Monitoring.tag(Tables.orders(spark, sf).select("o_orderkey"), "probe_orders")
      df.write.format("noop").mode("overwrite").save()
      GraftPlanFactory.flushListeners(spark)
      val m = profile.snapshot.find(_.name == "probe_orders")
      assert(m.isDefined, s"metrics missing: ${profile.snapshot}")
      assert(m.get.rows > 0 && m.get.scanBytes > 0 && m.get.status == "ok")
      assert(m.get.seconds > 0.0)
      assert(profile.json.contains("probe_orders"))
    } finally profile.close()
  }
}
