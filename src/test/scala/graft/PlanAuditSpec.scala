package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Relational

/** Scale-safety assertions on physical plans: fact tables must never
  * carry a compile-time broadcast hint (a hard directive that would OOM
  * at the 100 TB target), only fixed-cardinality dimensions may. Auto
  * broadcast is disabled for the assertion so the only
  * BroadcastExchange nodes left are the explicit hints.
  */
class PlanAuditSpec extends AnyFunSuite {
  import TestSpark._

  private def noAutoBroadcast[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      body
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  private def audit(df: DataFrame, expectedBroadcasts: Int, name: String): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    val got = "BroadcastExchange".r.findAllMatchIn(plan).length
    assert(got == expectedBroadcasts,
      s"$name: expected $expectedBroadcasts dim broadcasts, got $got:\n$plan")
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"$name: fact join should be a shuffle join:\n$plan")
  }

  test("q3_top_orders has no compile-time broadcasts (customer grows with SF)") {
    noAutoBroadcast {
      audit(Relational.q3TopOrders(spark, sf), 0, "q3")
    }
  }

  // The hint-policy guard: a compile-time broadcast() hint is a HARD
  // directive Spark obeys regardless of runtime size — attached to a
  // table that grows with the scale factor (customer / supplier /
  // orders / lineitem at row granularity) it is a guaranteed driver-OOM
  // at the 100 TB target. Scan the ANALYZED plan of every registered
  // query for ResolvedHint(BROADCAST) whose subtree still carries an
  // SF-growing table's primary key (a row-granularity slice of it;
  // bounded-cardinality aggregates derived FROM those tables alias
  // their outputs and group by non-key columns, so they pass).
  test("hint policy: no compile-time broadcast hint on any SF-growing table, all queries") {
    import org.apache.spark.sql.catalyst.plans.logical.{ResolvedHint, BROADCAST}
    val growKeys = Set("c_custkey", "s_suppkey", "o_orderkey", "l_orderkey")
    // a query that throws is recorded as an offender, and the audit
    // goes on to the rest: one failure must not hide the others
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      scala.util.Try(fn(spark, sf).queryExecution.analyzed).fold(
        e => Seq(s"$name: threw $e"),
        _.collect {
          case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) =>
            val hit = h.child.output.map(_.name).toSet.intersect(growKeys)
            if (hit.nonEmpty) Some(s"$name: broadcast hint on subtree carrying ${hit.mkString(",")}")
            else None
        }.flatten)
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("q5_region_revenue broadcasts only nation and region") {
    noAutoBroadcast {
      audit(Relational.q5RegionRevenue(spark, sf), 2, "q5")
    }
  }

  test("q10_returned_items has no compile-time broadcasts") {
    noAutoBroadcast {
      audit(Relational.q10ReturnedItems(spark, sf), 0, "q10")
    }
  }

  test("q14_promo_share has no compile-time broadcasts") {
    noAutoBroadcast {
      audit(Relational.q14PromoShare(spark, sf), 0, "q14")
    }
  }

  test("q7 broadcasts only the two nation copies") {
    noAutoBroadcast {
      audit(Relational.q7NationVolume(spark, sf), 2, "q7")
    }
  }

  test("q8 broadcasts only nation (twice) and region") {
    noAutoBroadcast {
      audit(Relational.q8MarketShare(spark, sf), 3, "q8")
    }
  }

  test("q15 broadcasts only the one-row max; revenue join is a shuffle join") {
    noAutoBroadcast {
      audit(Relational.q15TopSupplier(spark, sf), 1, "q15")
    }
  }

  test("q17 has no compile-time broadcasts (thresholds join is a shuffle join)") {
    noAutoBroadcast {
      audit(Relational.q17SmallQuantity(spark, sf), 0, "q17")
    }
  }

  test("q_approx_stats: sketch branch stays a hash aggregate (no Expand demotion)") {
    val plan = Relational.qApproxStats(spark, sf)
      .queryExecution.executedPlan.toString
    // the regression this guards: countDistinct in the SAME Aggregate
    // as the imperative sketch functions -> Expand + SortAggregate over
    // every expanded row (measured 3.7x slower)
    assert(plan.contains("ObjectHashAggregate"), s"sketch should hash-agg:\n$plan")
    val expands = "Expand".r.findAllMatchIn(plan).length
    val objAggs = "ObjectHashAggregate".r.findAllMatchIn(plan).length
    // the exact branch's countDistinct legitimately expands; the sketch
    // branch must not sit under one
    assert(objAggs >= 2 && expands <= 1,
      s"sketch aggregate demoted (expands=$expands objAggs=$objAggs):\n$plan")
  }

  test("q19_disjunctive: per-side bounds derived from the OR push into BOTH scans") {
    val plan = Relational.q19Disjunctive(spark, sf)
      .queryExecution.executedPlan.toString
    // lineitem scan gets the quantity envelope, part scan the
    // brand/size envelope — the disjunction must not block pushdown
    assert(plan.contains("GreaterThanOrEqual(l_quantity,1.0)"),
      s"quantity bounds not pushed to lineitem scan:\n$plan")
    assert(plan.contains("EqualTo(p_brand,Brand#3)"),
      s"brand/size bounds not pushed to part scan:\n$plan")
  }

  test("q4_order_priority: quarter filter pushed into the orders scan") {
    val plan = Relational.q4OrderPriority(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(o_orderdate,1995-04-01"),
      s"date range not pushed:\n$plan")
  }

  test("q21_sole_late_supplier: semi+anti equi-joins on the order key, no cartesian") {
    noAutoBroadcast {
      val plan = Relational.q21SoleLateSupplier(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
        s"correlated pair joins degraded to a product:\n$plan")
      assert(plan.contains("LeftSemi") && plan.contains("LeftAnti"),
        s"expected semi+anti joins:\n$plan")
    }
  }

  test("mixture_sample and embedding_project stay exchange-free") {
    Seq("mixture_sample", "embedding_project").foreach { n =>
      val plan = SparkEntry.queries(n)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"$n must not shuffle:\n$plan")
    }
  }

  test("corpus_split is pure map-side: no exchange at all") {
    val plan = SparkEntry.queries("corpus_split")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"split must not shuffle:\n$plan")
  }

  test("vocab_build: global top-V plans as TakeOrderedAndProject, never a full sort") {
    val plan = graft.operators.Curation
      .vocabBuild(sources.Tables.documents(spark, sf), "text", 500)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"top-V should TOP:\n$plan")
  }

  test("pack_aligned: one stratum shuffle, nothing else") {
    val plan = SparkEntry.queries("pack_aligned")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllMatchIn(plan).length == 1,
      s"aligned packing should shuffle once (by stratum):\n$plan")
  }

  test("kmeans final assignment is pure map-side (codebook as literals, no join)") {
    val plan = operators.Similarity
      .kmeans(sources.Tables.embeddings(spark, sf), "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"assignment must not shuffle or join:\n$plan")
  }

  // The recompute guard: every Dedup self-join must read a MATERIALIZED
  // signature/shingle table (Scan ExistingRDD on both sides), never
  // rebuild the tokenize→shingle→md5 pipeline per side. Pin = the final
  // plan contains no parquet scan at all (all text reading happens once,
  // inside the checkpoint job that builds the materialized table).
  private def auditMaterializedSelfJoin(name: String, minScans: Int): Unit = {
    val plan = SparkEntry.queries(name)(spark, sf)
      .queryExecution.executedPlan.toString
    val rddScans = "Scan ExistingRDD".r.findAllMatchIn(plan).length
    assert(rddScans >= minScans,
      s"$name: expected >= $minScans materialized scans, got $rddScans:\n$plan")
    assert(!plan.contains("Scan parquet"),
      s"$name: signature pipeline recomputed from the source scan:\n$plan")
  }

  test("source_divergence: census materialized once, scalars broadcast, term join shuffles") {
    noAutoBroadcast {
      val plan = SparkEntry.queries("source_divergence")(spark, sf)
        .queryExecution.executedPlan.toString
      // the (source, token, cnt) census must be a materialized table
      // re-read by the term join and every total — tokenize runs ONCE
      assert(!plan.contains("Scan parquet"),
        s"census recomputed from the source scan:\n$plan")
      assert("Scan ExistingRDD".r.findAllMatchIn(plan).length >= 3,
        s"census not shared across totals/term join:\n$plan")
      // source totals + corpus scalar are the only compile-time
      // broadcasts; the token-keyed term join must stay a shuffle join
      assert("BroadcastExchange".r.findAllMatchIn(plan).length == 2,
        s"expected exactly the two scalar/source broadcasts:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"token term join should be a shuffle join:\n$plan")
    }
  }

  test("temperature_sample: TopKPerKey draw, quota table broadcast, no corpus sort") {
    noAutoBroadcast {
      val plan = SparkEntry.queries("temperature_sample")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(plan.contains("TopKPerKey"),
        s"draw fell off TopKPerKey into a corpus window sort:\n$plan")
      assert("BroadcastExchange".r.findAllMatchIn(plan).length == 1,
        s"quota table must be the only broadcast:\n$plan")
    }
  }

  test("split_leakage: gram probe is a shuffle join, no broadcast assumption") {
    noAutoBroadcast {
      val plan = SparkEntry.queries("split_leakage")(spark, sf)
        .queryExecution.executedPlan.toString
      // both sides grow with the corpus — a compile-time broadcast
      // here would OOM at the 100 TB target
      assert("BroadcastExchange".r.findAllMatchIn(plan).length == 0,
        s"corpus-scale gram side got a broadcast hint:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"gram probe should be a shuffle join:\n$plan")
    }
  }

  test("dedup_minhash: band table materialized, signature pipeline runs once") {
    auditMaterializedSelfJoin("dedup_minhash", 2)
  }

  test("dedup_simhash: chunk table materialized, simhash pipeline runs once") {
    auditMaterializedSelfJoin("dedup_simhash", 2)
  }

  test("ngram_containment: shingle set materialized, pipeline runs once") {
    auditMaterializedSelfJoin("ngram_containment", 4)
  }

  test("ngram_jaccard: shingle set materialized, pipeline runs once") {
    auditMaterializedSelfJoin("ngram_jaccard", 4)
  }

  test("source_overlap: gram table materialized, shingle pipeline runs once") {
    auditMaterializedSelfJoin("source_overlap", 4)
  }

  test("corpus_dedup_best: score projection materialized, quality scan runs once") {
    val plan = SparkEntry.queries("corpus_dedup_best")(spark, sf)
      .queryExecution.executedPlan.toString
    // The quality pipeline must live ONLY inside the materialized
    // (id, score) checkpoint — if it appears in the executed plan at
    // all, a join side is recomputing the full-corpus quality scan.
    assert(!plan.contains("graft_quality_stats"),
      s"corpus_dedup_best: quality pipeline recomputed on a join side:\n$plan")
    // Exactly one parquet scan survives: the ids-only survivor read.
    // A second one means a side re-derived its input from the source.
    val parquetScans = "Scan parquet".r.findAllMatchIn(plan).length
    assert(parquetScans == 1,
      s"corpus_dedup_best: expected 1 parquet scan, got $parquetScans:\n$plan")
  }

  test("semantic_dedup: ids-only assignment materialized, vectors from pruned scans") {
    // the materialized cut is (id, cluster) ONLY — checkpointing full
    // embedding vectors is the at-scale OOM mode the BM25 index build
    // measured — and it feeds both pair-join sides AND the survivor
    // anti-join (kmeans assignment never recomputes); each join side
    // re-reads its vectors from a column-pruned source scan instead
    // (the embeddingPairs shape), so exactly two parquet scans appear
    val plan = SparkEntry.queries("semantic_dedup")(spark, sf)
      .queryExecution.executedPlan.toString
    val rddScans = "Scan ExistingRDD".r.findAllMatchIn(plan).length
    assert(rddScans >= 3,
      s"semantic_dedup: assignment checkpoint not reused, got $rddScans:\n$plan")
    val parquetScans = "Scan parquet".r.findAllMatchIn(plan).length
    assert(parquetScans == 2,
      s"semantic_dedup: expected 2 vector re-read scans, got $parquetScans:\n$plan")
  }

  test("bm25_search: postings checkpointed once, one stats scan, TopKPerKey cut") {
    val plan = SparkEntry.queries("bm25_search")(spark, sf)
      .queryExecution.executedPlan.toString
    // exactly one parquet scan: the corpus length stats. The postings
    // table is the materialized checkpoint, consumed by the df agg and
    // the scoring join — a second parquet scan means one of them
    // re-derived the postings from the source.
    val parquetScans = "Scan parquet".r.findAllMatchIn(plan).length
    assert(parquetScans == 1,
      s"bm25_search: expected 1 parquet scan (length stats), got $parquetScans:\n$plan")
    val rddScans = "Scan ExistingRDD".r.findAllMatchIn(plan).length
    assert(rddScans >= 2,
      s"bm25_search: postings checkpoint not reused, got $rddScans RDD scans:\n$plan")
    assert(plan.contains("TopKPerKey"),
      s"bm25_search: per-query cut fell back from TopKPerKey:\n$plan")
  }

  test("ngram_novelty: gram table materialized, one docs scan for the zero-row join") {
    val plan = SparkEntry.queries("ngram_novelty")(spark, sf)
      .queryExecution.executedPlan.toString
    val parquetScans = "Scan parquet".r.findAllMatchIn(plan).length
    assert(parquetScans == 1,
      s"ngram_novelty: expected 1 parquet scan (doc ids), got $parquetScans:\n$plan")
    val rddScans = "Scan ExistingRDD".r.findAllMatchIn(plan).length
    assert(rddScans >= 2,
      s"ngram_novelty: gram checkpoint not reused, got $rddScans RDD scans:\n$plan")
  }

  test("token_diversity and embedding_outliers stay narrow (no wide shuffle)") {
    // token_diversity: the sorted-run kernel computes per-doc counts in
    // the scan — zero exchanges (the shuffle formulation had two)
    val td = SparkEntry.queries("token_diversity")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!td.contains("Exchange"), s"token_diversity shuffles:\n$td")
    // embedding_outliers: two scans + a broadcast of the 1-row stats —
    // the only exchange allowed is the scalar-stats single partition
    val eo = SparkEntry.queries("embedding_outliers")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllMatchIn(eo).isEmpty,
      s"embedding_outliers wide shuffle:\n$eo")
    assert(eo.contains("BroadcastExchange") || eo.contains("Exchange SinglePartition"),
      s"embedding_outliers missing scalar-stats broadcast:\n$eo")
  }

  test("corpus_token_budget: one stratum-window shuffle, no join") {
    val plan = SparkEntry.queries("corpus_token_budget")(spark, sf)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllMatchIn(plan).length == 1,
      s"token budget should shuffle once (by stratum):\n$plan")
    assert(!plan.contains("Join"), s"token budget must not join:\n$plan")
  }

  test("tfidf_topterms: pair table materialized, tokenize runs once, TopKPerKey cut") {
    val plan = SparkEntry.queries("tfidf_topterms")(spark, sf)
      .queryExecution.executedPlan.toString
    // the (doc, token, tf) table feeds the df aggregation AND the
    // scoring join from one materialization; the only parquet scan left
    // is the column-pruned count-star for the N scalar
    val rddScans = "Scan ExistingRDD".r.findAllMatchIn(plan).length
    val pqScans = "Scan parquet".r.findAllMatchIn(plan).length
    assert(rddScans >= 2, s"tfidf: pair table not materialized:\n$plan")
    assert(pqScans <= 1, s"tfidf: tokenize pipeline recomputed from source:\n$plan")
    assert(plan.contains("TopKPerKey"), s"tfidf: per-doc cut should be TopKPerKey:\n$plan")
  }

  test("collocations: one count table feeds all four consumers, top-N is TOP") {
    val plan = SparkEntry.queries("collocations")(spark, sf)
      .queryExecution.executedPlan.toString
    val rddScans = "Scan ExistingRDD".r.findAllMatchIn(plan).length
    assert(rddScans >= 4, s"collocations: count table not materialized:\n$plan")
    assert(!plan.contains("Scan parquet"),
      s"collocations: term pipeline recomputed from source:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"collocations: global top-N should plan as TOP:\n$plan")
  }

  test("knn_join: bucket table materialized, one vector copy per side, TopKPerKey cut") {
    val plan = SparkEntry.queries("knn_join")(spark, sf)
      .queryExecution.executedPlan.toString
    val rddScans = "Scan ExistingRDD".r.findAllMatchIn(plan).length
    val pqScans = "Scan parquet".r.findAllMatchIn(plan).length
    assert(rddScans >= 2, s"knn_join: bucket table not materialized:\n$plan")
    assert(pqScans == 2, s"knn_join: expected exactly the two vector re-joins:\n$plan")
    assert(plan.contains("TopKPerKey"), s"knn_join: per-vector cut should be TopKPerKey:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"knn_join must never be all-pairs:\n$plan")
  }

  test("q_hopping_window: generator expansion feeds ONE partial-agg shuffle") {
    val plan = Relational.qHoppingWindow(spark, sf)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllMatchIn(plan).length == 1,
      s"hopping window should shuffle once:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastNestedLoopJoin"),
      s"hopping window must not self-join:\n$plan")
  }

  test("doc_chunks is pure map-side: no exchange at all") {
    val plan = operators.Curation
      .docChunks(sources.Tables.documents(spark, sf), "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"chunking must not shuffle:\n$plan")
  }

  test("line_dedup shuffles digests and ids only — line text never crosses an exchange") {
    noAutoBroadcast {
      val df = SparkEntry.queries("line_dedup")(spark, sf)
      val plan = df.queryExecution.executedPlan.toString
      // every Exchange's output carries only hash/id/line_no columns;
      // the text and line payloads stay map-side of their exchanges
      val exchanges = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
      assert(exchanges.nonEmpty, plan)
      // partition keys are the digest / doc id — never a text column
      assert(exchanges.forall(l =>
        l.contains("hashpartitioning(__h#") || l.contains("hashpartitioning(doc_id#")),
        s"unexpected shuffle key:\n${exchanges.mkString("\n")}")
      // and the digest projection happens BEFORE its exchange: the md5
      // aggregate's partial side sits under the exchange, so the line
      // payload (__l) exists only map-side
      assert(!exchanges.exists(l => l.contains("__l") || l.contains("clean_text")),
        s"line text crossed a shuffle:\n${exchanges.mkString("\n")}")
    }
  }

  test("link_graph: page html never crosses an exchange — hosts-keyed agg only") {
    noAutoBroadcast {
      val plan = SparkEntry.queries("link_graph")(spark, sf)
        .queryExecution.executedPlan.toString
      val exchanges = plan.linesIterator
        .filter(_.contains("Exchange hashpartitioning")).toSeq
      assert(exchanges.nonEmpty, plan)
      assert(!exchanges.exists(l => l.contains("html#") || l.contains("__tag#")),
        s"page payload crossed a shuffle:\n${exchanges.mkString("\n")}")
    }
  }

  // The fetch-log scan is payload-sized; the (uri -> next) map it
  // derives is url-table-sized. redirectResolve materializes that map
  // once, so the resolution plan must read ONLY the materialized cut —
  // a raw fetch-log scan inside it means a branch re-derived its input
  // (3 full re-scans at the 3.7 GB soak before the guard).
  test("redirect_resolve: fetch-log scanned once into the materialized map, never per branch") {
    val plan = SparkEntry.queries("redirect_resolve")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Scan text"),
      s"a branch re-scanned the raw fetch log:\n$plan")
    assert("Scan ExistingRDD".r.findAllMatchIn(plan).length >= 3,
      s"materialized (uri, next) map not shared across branches:\n$plan")
  }

  // Composite no-rescan guards (generalizing the redirect_resolve one,
  // which caught a real 2.8× triple-rescan): each composite's FINAL
  // plan may contain at most its audited number of source scans —
  // a higher count means some branch re-derived its input from the
  // raw corpus instead of reading a materialized ids-only cut.
  test("crawl_pipeline: final plan reads only materialized cuts, zero raw re-scans") {
    val plan = SparkEntry.queries("crawl_pipeline")(spark, sf)
      .queryExecution.executedPlan.toString
    val parquetScans = "Scan parquet".r.findAllMatchIn(plan).length
    assert(parquetScans == 0,
      s"crawl_pipeline: a stage re-derived its input from the corpus scan " +
        s"($parquetScans parquet scans in the final plan):\n$plan")
    assert("Scan ExistingRDD".r.findAllMatchIn(plan).length >= 1,
      s"survivor/assignment cuts not materialized:\n$plan")
  }

  test("curation_pipeline: at most the four audited pruned corpus re-reads") {
    // the ids-not-text design: quality/dedup survivors persist IDS
    // ONLY and each downstream consumer re-reads the corpus PRUNED +
    // semi-joined (4 audited scan sites). More scans = a new branch
    // re-derived its input; fewer is an improvement.
    val plan = SparkEntry.queries("curation_pipeline")(spark, sf)
      .queryExecution.executedPlan.toString
    val parquetScans = "Scan parquet".r.findAllMatchIn(plan).length
    assert(parquetScans <= 4,
      s"curation_pipeline: expected <= 4 pruned corpus reads, got " +
        s"$parquetScans:\n$plan")
    assert("Scan ExistingRDD".r.findAllMatchIn(plan).length >= 2,
      s"survivor id cuts not materialized:\n$plan")
  }

  test("fetch_pipeline: exactly one raw fetch-log scan (the landing-page byte branch)") {
    val plan = SparkEntry.queries("fetch_pipeline")(spark, sf)
      .queryExecution.executedPlan.toString
    val rawScans = "Scan text".r.findAllMatchIn(plan).length
    assert(rawScans == 1,
      s"expected 1 raw scan (landing bytes), got $rawScans:\n$plan")
  }

  test("frontier_budget: per-host cut is TopKPerKey, never a full window sort") {
    val plan = SparkEntry.queries("frontier_budget")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"),
      s"frontier budget fell back to a window sort:\n$plan")
    assert(!plan.contains("Window"), s"window sort in frontier budget:\n$plan")
  }

}
