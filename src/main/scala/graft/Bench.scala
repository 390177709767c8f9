package graft
import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import org.apache.spark.sql.SparkSession
import Json.dec
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate()
    // Queries are independent; run them on a small pool so planning/
    // codegen overheads overlap (Spark schedules the jobs fairly).
    // Per-query numbers are each query's own span; "value" is the
    // wall-clock of the whole run. Each query runs in its own job
    // group, so its measure's ENGINE span sums the group's job spans,
    // untagged per-round jobs of iterative queries included.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      sys.env.getOrElse("SPARK_GRAFT_BENCH_THREADS", "6").toInt)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val wall0 = System.nanoTime()
    val results = scala.concurrent.Await.result(
      scala.concurrent.Future.traverse(SparkEntry.queries.keys.toSeq) { name =>
        scala.concurrent.Future {
          val m = logged("[bench]", name, Run(spark, sfDir, name)(Run.noop))
          System.err.println(f"[bench] $name%-22s ${m.wallSec}%8.2fs")
          name -> m
        }
      },
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    val total = (System.nanoTime() - wall0) / 1e9
    // "queries" stays name->sec (the driver's contract); failures are
    // reported in a separate list so a crashing query can't masquerade
    // as a normal timing. Seconds at 3 decimals (ms precision): the
    // harness tail-captures stdout, and a 140-entry full-precision map
    // overran the tail in round 8 (BENCH_r08 parsed:null) — shorter
    // line, whole line survives.
    val qs = ListMap.from(results.map { case (k, m) => k -> dec(m.wallSec) })
    val qsEngine = ListMap.from(results.map { case (k, m) => k -> engine(m).map(dec(_)) })
    // per-query records (rows / scanned bytes / engine span)
    val metrics = Profile.json(results.flatMap(_._2.record).sortBy(_.name))
    Files.writeString(Paths.get("target/bench_metrics.json"), metrics)
    System.err.println("[bench] metrics: " + metrics)
    // Isolated pass over the slowest pooled spans: pooled numbers carry
    // up-to-6-way pool contention (doc_fingerprint measured 4.4 s
    // pooled vs 0.22 s isolated in round 10), so the artifact records
    // BOTH — pooled for the wall-clock story, isolated as each query's
    // real cost. The pass runs in a FRESH session (the post-pool
    // session carries 178 queries of accumulator/codegen/GC debris —
    // measured 2× swings on identical plans) and takes min-of-2 per
    // query (min is robust to a stray GC pause; the plan's true cost is
    // a lower envelope, not an average).
    //
    // Regression pins for the iterative tails that dominate every
    // pooled run are MACHINE-RELATIVE: absolute-second pins fired
    // spuriously when the build moved to a slower VM mid-round-11, so
    // each pin is a multiple of a deterministic calibration span
    // (32-way range + xxhash64 sum — codegen'd CPU-bound work, measured
    // warm in the same fresh session). Pins compare against the
    // query's ENGINE span (Profile's sum of the job spans in its group,
    // which excludes driver-side plan construction and harness
    // overhead) — round 11 showed wall and cal_sec moving in OPPOSITE
    // directions across identical runs on this VM class, so wall-ratio
    // pins are ±2× noise while engine-span ratios track the plan.
    // A breach means the honest-cost queries absorbed new waste — it
    // must fail loudly in the artifact, not drown in pool noise. A
    // pinned query that CRASHES isolated is a breach too (ADVICE:
    // timing the failed attempt read as a speedup).
    spark.stop()
    val iSpark = GraftSession.getOrCreate()
    val cal = calibrate(iSpark, 32)
    System.err.println(f"[bench] calibration span $cal%.3fs")
    // Round 15 retired the legacy zero-slack hard pins (22×cal /
    // 16×cal on semantic_clusters / knn_ivf_trained): they predated
    // the full-registry sweep, normalized by a DIFFERENT calibration
    // basis, and fired round 14's false positive on a 0.6% margin
    // while the sweep pin on the same run passed. The sweep below pins
    // every query with explicit slack; these two stay in the isolated
    // pass unconditionally so their cross-round engine numbers keep
    // being recorded on the historical sf0.1 basis.
    val alwaysIsolate: Seq[String] =
      if (sfDir.endsWith("sf0.1")) Seq("knn_ivf_trained", "semantic_clusters")
      else Seq.empty
    // Fixed per-query report set (round 16, VERDICT r15 item 2): the
    // driver's PERF comparison parses the LAST stdout line, whose
    // `queries` map had been empty since round 8 (a 182-entry map
    // cannot survive the ~2000-char stdout tail), leaving per-query
    // and scaling comparisons dark two rounds running. These ~26
    // names are the stable heavy tail (the top sweep cal-units of the
    // round-15 close, plus exact_substr_dedup from the verdict's
    // worklist); their ISOLATED wall seconds — measured fresh-session,
    // min-of-2, at local[$SPARK_GRAFT_CPUS], so the driver's low-cpu
    // run sees real scaling — fit the tail at 2 decimals (~700 chars).
    // Membership is append-only across rounds (driver contract).
    val fixedReport: Seq[String] = Seq(
      "host_reputation", "host_rank", "crawl_discover", "semantic_clusters",
      "dedup_pagerank", "dedup_clusters", "knn_ivfpq_residual_trained",
      "politeness_schedule", "knn_ivfpq_refine", "dsir_weights",
      "ngram_lm_backoff", "politeness_schedule_quota", "knn_ivfpq_residual",
      "curation_pipeline", "link_graph", "line_dedup_incremental",
      "ngram_lm_perplexity", "knn_ivf_trained", "crawl_pipeline",
      "knn_pq_trained", "q21_sole_late_supplier", "robots_txt_filter",
      "doc_anchors", "dedup_embedding", "semantic_dedup", "exact_substr_dedup")
    val topN = sys.env.getOrElse("SPARK_GRAFT_BENCH_ISOLATED", "8").toInt
    val ok = results.collect { case (k, m) if m.ok => k -> m.wallSec }
    // core set = historical top-8-pooled + unconditional pins: the
    // cross-round `isolated`/`engine` maps keep exactly this
    // membership (and the final stdout line stays within the tail)
    val coreIsoNames = (ok.sortBy(-_._2).take(topN).map(_._1) ++
      alwaysIsolate.filter(k => ok.exists(_._1 == k))).distinct
    val isoNames = (coreIsoNames ++
      fixedReport.filter(k => ok.exists(_._1 == k))).distinct
    val isolated = ListMap.from(isoNames.map { name =>
      val b = minOf2(iSpark, sfDir, name, "[bench] isolated")
      System.err.println(f"[bench] isolated $name%-22s " +
        s"${b.wall.fold("FAILED")(s => f"$s%8.2fs")} engine " +
        s"${b.engine.fold("n/a")(s => f"$s%.2fs")} " +
        s"(runs: ${b.runs.map(m => if (m.ok) f"${m.wallSec}%.2f" else "fail").mkString("/")})")
      name -> b
    })
    // Full-registry isolated ENGINE sweep at sf0.01 — the per-query
    // cross-round regression basis. The pooled queries_engine map is
    // contention-dominated (measured 37× inflation on ngram_lm_backoff:
    // 1.75 s isolated vs 65.3 s pooled; untouched operators swing
    // 5-15×), so pins on it are noise for 171/180 queries. This sweep
    // runs EVERY registered query sequentially in a fresh session
    // (recycled every 45 queries so accumulated codegen/GC debris
    // can't drift the tail), min-of-2 engine spans; normalized by the
    // sweep's OWN min-of-3 calibration it is the number rounds
    // compare. The sweep sessions are pinned to local[8] / 8 shuffle
    // partitions REGARDLESS of SPARK_GRAFT_CPUS: engine spans at
    // sf0.01 shift ~1.5× with session width (exchange scheduling
    // overhead dominates 500-row stages), so a cpus-dependent sweep
    // would make pins fire on configuration, not on plans. sf0.01
    // keeps the whole sweep to minutes. Disable with
    // SPARK_GRAFT_BENCH_SWEEP=0 (local smokes); skipped when no
    // sf0.01 sibling exists.
    val sweepDir = Paths.get(sfDir).toAbsolutePath.getParent
      .resolve("sf0.01").toString
    val sweepOn = sys.env.getOrElse("SPARK_GRAFT_BENCH_SWEEP", "1") == "1" &&
      Files.isDirectory(Paths.get(sweepDir))
    val SweepCores = 8
    iSpark.stop()
    var swSpark = GraftSession.getOrCreate(SweepCores)
    def recycleSweepSession(): Unit = { swSpark.stop(); swSpark = GraftSession.getOrCreate(SweepCores) }
    val sweepCal = if (!sweepOn) cal else {
      val c = calibrate(swSpark, SweepCores)
      System.err.println(f"[bench] sweep calibration span $c%.3fs (local[$SweepCores])")
      c
    }
    // machine-relative sweep pins: bench_pins_sf001.json holds each
    // query's cal-normalized engine units from the round that wrote
    // it; a query breaching units × slack (or crashing) is a sweep
    // regression. A missing, unreadable or pin-less file ABORTS the
    // sweep — running unpinned would silently switch the alarm off.
    // "slack" and "_"-prefixed keys are file metadata, never pins.
    // Parsed BEFORE the sweep loop so breach candidates can earn
    // rescue attempts.
    val (sweepPins, sweepSlack): (Map[String, Double], Double) =
      if (!sweepOn) (Map.empty, 0.0) else {
        val p = Paths.get("bench_pins_sf001.json")
        val txt = try Files.readString(p) catch { case e: java.io.IOException =>
          throw new IllegalStateException(s"[bench] pins file $p unreadable: $e", e) }
        val (units, slack) = parsePins(txt)
        if (units.isEmpty)
          throw new IllegalStateException(s"[bench] pins file $p holds no pins")
        (units, slack)
      }
    // 1.0-cal-unit noise floor: sub-200ms spans jitter 2-3×
    // multiplicatively (JIT/GC/disk cache), so a tiny query only
    // breaches once it grows past a span that can't be jitter — still
    // a ~5× blowup for the smallest pins, and well under the heavy
    // tail (sweep p99 ≈ 3 cal-units)
    val sweepFloor = 1.0
    def sweepThreshold(k: String): Option[Double] =
      sweepPins.get(k).map(p => math.max(p * sweepSlack, sweepFloor))
    // alarm self-test: SPARK_GRAFT_BENCH_CANARY=<query> folds ~3
    // cal-units of real engine work into that query's sweep span on
    // EVERY attempt (rescues included), so a deliberate slowdown must
    // land in `regressions` end-to-end. Never set on artifact runs.
    val canary = sys.env.get("SPARK_GRAFT_BENCH_CANARY")
    val sweepNames = if (sweepOn) SparkEntry.queries.keys.toSeq.sorted else Seq.empty
    val sweep = sweepNames.zipWithIndex.map { case (name, i) =>
      if (i > 0 && i % 45 == 0) recycleSweepSession()
      def sweepAttempt(): Option[Double] = {
        val m = logged("[bench] sweep", name, Run(swSpark, sweepDir, name) { df =>
          Run.noop(df)
          if (canary.contains(name)) calibrationSpan(swSpark, 3 * CalRows, SweepCores)
        })
        if (m.ok) engine(m) else None
      }
      var attempts = (1 to 2).map(_ => sweepAttempt()).toVector
      // rescue attempts: a one-off GC/JIT/page-cache swing on a small
      // span survives min-of-2 (round-14 bm25_search: a 0.35 s span
      // tripled once and fired a false breach that the judge's re-run
      // cleared). Up to two extra attempts run ONLY when the current
      // min breaches the pin — one passing attempt clears the alarm; a
      // real plan regression breaches every attempt, rescues included
      // (the canary proves it).
      def minSpan = attempts.flatten.minOption
      def breaching = attempts.forall(_.isDefined) &&
        sweepThreshold(name).exists(t => minSpan.exists(_ / sweepCal > t))
      var rescues = 0
      while (rescues < 2 && breaching) {
        System.err.println(f"[bench] sweep rescue attempt for $name " +
          f"(min ${minSpan.get / sweepCal}%.2f units > pin threshold " +
          f"${sweepThreshold(name).get}%.2f)")
        attempts = attempts :+ sweepAttempt()
        rescues += 1
      }
      // fresh-session rescue: SESSION-level degradation poisons every
      // in-session attempt identically — the round-15 baseline run
      // measured dedup_pagerank at 8.6-11.3 units on all four attempts
      // inside the long-lived bench JVM (after the pooled + isolated
      // phases), while a fresh local[8] session with the identical
      // 29-query sweep prefix ran it at 1.0-1.4 units (pin 1.58). A
      // breach that survives in-session rescues earns ONE attempt in a
      // recycled session; a real plan regression still breaches it (the
      // canary folds its work into every attempt, this one included).
      if (breaching) {
        System.err.println(s"[bench] sweep fresh-session rescue for $name")
        recycleSweepSession()
        // two attempts: a fresh session's FIRST run pays 3-7× cold
        // JIT/codegen cost (probe-measured) and would fail to clear a
        // false alarm on its own; the second runs warm
        attempts = attempts ++ (1 to 2).map(_ => sweepAttempt())
      }
      val eng = minSpan
      System.err.println(f"[bench] sweep ${i + 1}%3d/${sweepNames.size} " +
        f"$name%-26s engine ${eng.fold("FAILED")(s => f"$s%6.3fs")}")
      (name, eng, attempts.forall(_.isDefined))
    }
    val sweepRegressions = sweep.collect {
      case (k, e, okAll) if sweepThreshold(k).exists(t => !okAll || e.forall(_ / sweepCal > t)) =>
        System.err.println(f"[bench] SWEEP REGRESSION $k engine " +
          s"${e.fold("FAILED")(s => f"${s / sweepCal}%.2f cal-units")} vs pin " +
          f"${sweepPins(k)}%.2f × $sweepSlack%.1f (floor $sweepFloor%.1f)")
        "sweep:" + k
    }
    if (sweepOn) {
      // the observed cal-units, ready to become next round's pins
      // file; carries the CURRENT slack forward (a hardcoded 2.5 here
      // silently reset any tuned slack on the documented copy-over
      // refresh — round-14 ADVICE)
      val emitSlack = if (sweepPins.isEmpty) 2.5 else sweepSlack
      val units = sweep.collect { case (k, Some(e), _) => k -> dec(e / sweepCal) }
      Files.createDirectories(Paths.get("target"))
      Files.writeString(Paths.get("target/bench_sweep_calunits.json"),
        Json(ListMap("slack" -> dec(emitSlack)) ++ units) + "\n")
    }
    val sweepSecs = ListMap.from(sweep.map { case (k, e, _) => k -> e.map(dec(_)) })
    val sweepFailed = sweep.collect { case (k, _, false) => k }
    // cross-round continuity maps: core membership only (the final
    // stdout line must fit the tail; the fixed-set numbers ride the
    // `queries` map there, and everything lands in the file artifact)
    def isoMap(names: Iterable[String], f: MinOf2 => Option[Double]) =
      ListMap.from(names.map(k => k -> f(isolated(k)).map(dec(_))))
    val isoFailedNames = isolated.collect { case (k, b) if !b.allOk => k }
    // the sweep is the ONE regression system (round 15): every
    // registered query pinned with explicit slack on one calibration
    // basis; an isolated-pass crash still fails loudly via `failed`
    val failedAll = (results.collect { case (k, m) if !m.ok => k } ++ isoFailedNames).distinct
    // file artifact carries the COMPLETE isolated maps (core + fixed
    // report set); the stdout lines carry the tail-sized subsets
    val json = Json(ListMap("metric" -> "total", "value" -> dec(total), "unit" -> "sec",
      "queries" -> qs, "queries_engine" -> qsEngine,
      "isolated" -> isoMap(isolated.keys, _.wall), "engine" -> isoMap(isolated.keys, _.engine),
      "queries_engine_isolated" -> sweepSecs, "sweep_sf" -> (if (sweepOn) sweepDir else ""),
      "sweep_failed" -> sweepFailed, "sweep_cal_sec" -> dec(sweepCal), "cal_sec" -> dec(cal),
      "regressions" -> sweepRegressions, "failed" -> failedAll, "sf" -> sfDir))
    // durable copies of the SAME line: one under target/, one at the
    // repo root (BENCH_full_latest.json) so every per-query timing is
    // machine-readable even if the stdout capture truncates
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench_out.json")
    Files.createDirectories(Paths.get(outFile).toAbsolutePath.getParent)
    Files.writeString(Paths.get(outFile), json + "\n")
    try Files.writeString(Paths.get("BENCH_full_latest.json"), json + "\n")
    catch { case _: Exception => () } // read-only cwd: target/ copy stands
    println(json)
    // the harness keeps only the LAST ~2000 stdout chars, and a
    // 141-entry map is ~4 KB — the full line above can never survive
    // whole (BENCH_r08 parsed:null). End stdout with a SHORT summary
    // line that always fits the tail intact: total + failures +
    // where the complete per-query map lives.
    // sweep summary stays COMPACT on stdout (a 180-entry map cannot
    // survive the harness tail — round 8); the full map lives in the
    // file artifact next to queries_engine
    val sweepOk = sweep.flatMap(_._2)
    val sweepSummary = Option.when(sweepOn) {
      val units = sweepOk.map(_ / sweepCal).sorted
      def pct(q: Double) =
        if (units.isEmpty) 0.0 else units(((units.size - 1) * q).toInt)
      ListMap("n" -> sweep.size, "n_ok" -> sweepOk.size, "p50_cal_units" -> dec(pct(0.5)),
        "p99_cal_units" -> dec(pct(0.99)), "pinned" -> sweepPins.size)
    }
    // `queries` on the FINAL line (the one the driver parses): the
    // fixed report set's ISOLATED wall seconds at 2 decimals —
    // ~700 chars, fits the ~2000-char stdout tail whole, and restores
    // the driver's per-query/geomean/scaling comparisons (dark since
    // round 8's full-map truncation). Names absent here crashed
    // isolated and are listed in `failed`; the full 182-entry pooled
    // map still lives in BENCH_full_latest.json / the earlier line.
    val fixedQs = ListMap.from(fixedReport.flatMap(k =>
      isolated.get(k).flatMap(_.wall).map(v => k -> dec(v, 2))))
    val finalLine = Json(ListMap("metric" -> "total", "value" -> dec(total), "unit" -> "sec",
      "queries" -> fixedQs, "n_queries" -> results.size,
      "isolated" -> isoMap(coreIsoNames, _.wall), "engine" -> isoMap(coreIsoNames, _.engine),
      "sweep" -> sweepSummary, "sweep_failed" -> sweepFailed, "sweep_cal_sec" -> dec(sweepCal),
      "cal_sec" -> dec(cal), "regressions" -> sweepRegressions, "failed" -> failedAll,
      "sf" -> sfDir, "queries_file" -> "BENCH_full_latest.json"))
    swSpark.stop()
    // the parsed line must fit the ~2000-char stdout tail whole: an
    // overflow (fixedReport or the core maps growing) fails loudly
    // instead of reintroducing silent truncation
    if (finalLine.length >= FinalLineMaxChars) {
      System.err.println(s"[bench] FAILED: final line is ${finalLine.length} chars " +
        s"(limit $FinalLineMaxChars) — shrink the fixed report")
      sys.exit(1)
    }
    println(finalLine)
  }

  /** Exclusive length bound of Bench's driver-parsed final stdout line. */
  private val FinalLineMaxChars = 1800

  /** A pins file's per-query pins and its slack (2.5 when absent);
    * "slack" and "_"-prefixed keys are file metadata, never pins.
    */
  private[graft] def parsePins(text: String): (Map[String, Double], Double) = {
    val pins = Json.readObject(text)
    (pins.collect { case (k, v: Number) if k != "slack" && !k.startsWith("_") => k -> v.doubleValue },
      pins.get("slack").fold(2.5)(_.toString.toDouble))
  }

  /** `m`, its failure logged under `label`. */
  private def logged(label: String, name: String, m: Profile.Measure): Profile.Measure = {
    m.error.foreach(e =>
      System.err.println(s"$label FAILED $name: ${e.getClass.getName}: ${e.getMessage}"))
    m
  }

  /** Two noop-sink runs of registered query `name`, the second warm. A
    * failed run is logged under `label` and never timed as the query's
    * cost: `wall` and `engine` are the least over the runs that succeeded.
    */
  private[graft] final case class MinOf2(runs: Seq[Profile.Measure]) {
    def wall: Option[Double] = runs.filter(_.ok).map(_.wallSec).minOption
    def engine: Option[Double] = runs.filter(_.ok).flatMap(Bench.engine).minOption
    def warm: Profile.Measure = runs.last
    def allOk: Boolean = runs.forall(_.ok)
  }

  private[graft] def minOf2(spark: SparkSession, sfDir: String, name: String,
                            label: String): MinOf2 =
    MinOf2((1 to 2).map(_ => logged(label, name, Run(spark, sfDir, name)(Run.noop))))

  /** A measure's engine span; a run with no finished job has none. */
  private[graft] def engine(m: Profile.Measure): Option[Double] =
    Some(m.engineSec).filter(_ > 0.0)

  private[graft] val CalRows = 400000000L

  /** Wall seconds of a deterministic CPU-bound job: a sum over `rows`
    * xxhash64 values in `partitions` range partitions. pmod before the
    * sum: a raw sum of 400M random longs overflows LongType, which is
    * a job-killing error under ANSI mode.
    */
  private[graft] def calibrationSpan(spark: SparkSession, rows: Long, partitions: Int): Double = {
    import org.apache.spark.sql.functions.{sum => fsum, xxhash64, pmod, col, lit}
    val t0 = System.nanoTime()
    spark.range(0L, rows, 1L, partitions)
      .select(fsum(pmod(xxhash64(col("id")), lit(1000000L)))).collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** The calibration span that makes pins machine-relative: one
    * JIT/codegen warm-up, then the min of 3. Cal is a DETERMINISTIC
    * span, so its true value is the lower envelope — single-shot cal
    * moved 0.53↔0.74 s across runs on one VM (GC/turbo noise), which
    * inflated every cal-normalized pin by the same ratio and fired
    * four spurious sweep breaches.
    */
  private[graft] def calibrate(spark: SparkSession, partitions: Int): Double = {
    calibrationSpan(spark, CalRows, partitions)
    (1 to 3).map(_ => calibrationSpan(spark, CalRows, partitions)).min
  }
}
