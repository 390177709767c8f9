package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** graft's one way to run a registered query: Verify, Bench, Sf1Bench
  * and `Cli run` differ only in the sink and the loop around this.
  */
object Run {
  /** Build registered query `name` over `sfDir`, tag it and hand it to
    * `sink` inside [[Profile.measure]]: the measure holds the query's
    * job group, its tagged record and any exception. An unknown name
    * throws before anything runs.
    */
  def apply(spark: SparkSession, sfDir: String, name: String)(sink: DataFrame => Unit): Profile.Measure = {
    val build = SparkEntry.queries.getOrElse(name,
      throw new NoSuchElementException(s"unknown query '$name'"))
    Profile.measure(spark, name)(sink(Monitoring.tag(build(spark, sfDir), name)))
  }

  /** Evaluate every output column and keep nothing (a `count()` would
    * let Catalyst prune projected work out of map-only queries).
    */
  val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()
}
