package graft.tools

import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap

import graft.Json
import graft.Json.dec

/** Heavy-tail benchmark at sf1 (10× the driver's bench SF) — where the
  * linear-vs-quadratic claims get graded at scale: correctness is
  * proven at sf1 by the sweep (CORRECTNESS_sf1.json), this main
  * measures the top isolated ENGINE spans there, each min-of-2 in a
  * fresh-enough session, with the warm run's jobs, stages and SHUFFLE
  * WRITE volume from [[graft.Profile]] (the number that decides
  * whether a shape survives a 100× scale-up: a digest-shuffle stays
  * ≪ input, a pair explosion does not). With a query list it is also
  * the quick per-query probe at any scale (`sfDir q1,q2`).
  *
  * Usage: runjava.sh graft.tools.Sf1Bench [sfDir] [q1,q2,...]
  * Writes target/bench_sf1.json + prints the same line.
  */
object Sf1Bench {
  // the default pin set: the 15 heaviest isolated engine spans of the
  // round-14 full sweep, plus the linear-vs-quadratic queries the
  // round-13 verdict named (source_overlap, split_leakage already in
  // the top 15 there)
  val DefaultQueries: Seq[String] = Seq(
    "semantic_clusters", "semantic_dedup", "winnow_overlap",
    "knn_ivf_trained", "ngram_lm_backoff", "ngram_lm_perplexity",
    "line_dedup_incremental", "source_overlap", "split_leakage",
    "exact_substr_dedup", "corpus_dedup_best", "bm25_search",
    "crawl_pipeline", "curation_pipeline", "dedup_pagerank")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("target/testdata/sf1")
    val names = args.lift(1).map(_.split(',').toSeq).getOrElse(DefaultQueries)
    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    // at most 16 cores: the iterative heavies (semantic_clusters' CC
    // rounds) at sf1 drive long full-GC pauses when 32 concurrent
    // tasks share the heap — a >200 s pause trips the local-mode
    // heartbeat receiver (120 s default) and it KILLS the executor,
    // shutting the context down mid-measurement (observed first run);
    // the widened network timeout covers the residual pauses
    val spark = graft.GraftSession.getOrCreate(math.min(graft.GraftSession.cpus, 16),
      Map("spark.network.timeout" -> "600s"))
    // the same deterministic calibration span Bench uses, so sf1
    // engine numbers are machine-relative comparable across rounds
    val cal = graft.Bench.calibrate(spark, 32)
    System.err.println(f"[sf1bench] calibration span $cal%.3fs")
    val rows = names.map { name =>
      val b = graft.Bench.minOf2(spark, sfDir, name, "[sf1bench]")
      // give the next query a clean footprint: dead shuffle files and
      // cached blocks from this one must not inflate its successor
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc()
      val warm = b.warm // volume and counts reported from the warm run
      System.err.println(f"[sf1bench] $name%-26s wall " +
        s"${b.wall.fold("FAILED")(s => f"$s%7.2fs")} engine " +
        s"${b.engine.fold("n/a")(s => f"$s%7.2fs")} " +
        f"shuffle ${warm.shuffleWriteBytes / 1e6}%9.1f MB jobs ${warm.jobs.size}%4d stages ${warm.stages.size}%4d")
      name -> b
    }
    val json = Json(ListMap("metric" -> "sf1_heavy_tail", "sf" -> sfDir, "n" -> rows.size,
      "cal_sec" -> dec(cal),
      "queries" -> ListMap.from(rows.map { case (k, b) => k -> ListMap(
        "wall" -> b.wall.map(dec(_)), "engine" -> b.engine.map(dec(_)),
        "engine_cal_units" -> b.engine.map(e => dec(e / cal)),
        "shuffle_write_mb" -> dec(b.warm.shuffleWriteBytes / 1e6),
        "jobs" -> b.warm.jobs.size, "stages" -> b.warm.stages.size) }),
      "failed" -> rows.collect { case (k, b) if !b.allOk => k }))
    val out = Paths.get("target/bench_sf1.json")
    Files.createDirectories(out.toAbsolutePath.getParent)
    Files.writeString(out, json + "\n")
    println(json)
    spark.stop()
  }
}
