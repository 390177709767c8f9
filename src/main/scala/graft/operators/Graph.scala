package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions
import graft.Materialize.MaterializeOps

/** Iterative graph analytics over the near-duplicate graph.
  *
  * [[Dedup.dedupClusters]] answers "which docs form one duplicate
  * component"; [[pagerank]] ranks WITHIN that graph — a doc's score
  * grows with how centrally it sits in a dense duplication
  * neighborhood, which is how a curation pipeline prioritizes template
  * spam / boilerplate families for review (the most-central doc is the
  * family's canonical exemplar).
  *
  * Scale shape (same as dedupClusters): the edge set is checkpointed
  * ONCE, pre-partitioned on the join key, so no iteration reshuffles
  * it; each round is one co-partitioned join + one partial-agg'd
  * shuffle keyed on the destination vertex; driver traffic is zero
  * (fixed iteration count — PageRank convergence is monotone enough
  * that curation runs fix the budget up front).
  *
  * Determinism (DuckDB-oracle bit-parity): ranks live on a fixed-point
  * integer grid (`scale` micro-units) and every update is integer
  * arithmetic — `rank/outdeg` and the 0.85 damping both via integer
  * division on non-negative values (truncation == floor, identical on
  * both engines) — so results are bit-exact in any execution order.
  */
object Graph {

  private def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** Checkpoint + DROP THE STATS ESTIMATE. `localCheckpoint` truncates
    * lineage but copies the original plan's ESTIMATED statistics onto
    * the checkpoint node, and join estimates are size PRODUCTS — so in
    * an iterative loop the label table's `sizeInBytes` BigInt grows
    * ~4× in bit length per round and by round ~10 the driver spends
    * minutes per checkpoint in BigInteger multiplication inside
    * Catalyst's stats visitor (soak-measured: 447 s → 7 s for a
    * 37k-edge / 200k-vertex connected components). Resetting to default
    * stats each round keeps every estimate a bounded product of
    * per-round terms. Partitioning survives the reset, so co-partitioned
    * round joins stay co-partitioned. Rides [[graft.Materialize]], so
    * `graft.materialize.reliable` flips each round boundary to a
    * reliable checkpoint (executor loss mid-iteration re-reads files
    * instead of failing the whole fixed-point run).
    */
  private def checkpointNoStats(df: DataFrame): DataFrame =
    graft.Materialize.eagerNoStats(df)

  /** A named observation plus a bounded fetch of its single LONG
    * metric. The fixed-point loops fold their per-round driver scalars
    * (convergence sum, dangling-rank mass) into the round's checkpoint
    * materialization as observed metrics — the scalar is computed by
    * the job that already scans the table, instead of a dedicated
    * agg+collect job per round. The fetch awaits the listener event
    * with a timeout and returns None on miss (listener-bus drop), so
    * callers can fall back to the explicit scalar job rather than
    * hang the loop.
    */
  private def observedSum(tag: String)
      : (org.apache.spark.sql.Observation, () => Option[Long]) = {
    val obs = org.apache.spark.sql.Observation(
      tag + "_" + java.util.UUID.randomUUID().toString)
    val fetch = () =>
      try {
        val row = scala.concurrent.Await.result(obs.future,
          scala.concurrent.duration.Duration(120, "s"))
        Some(if (row.isNullAt(0)) 0L else row.getLong(0))
      } catch { case _: java.util.concurrent.TimeoutException => None }
    (obs, fetch)
  }

  /** Connected components over an undirected pair list (`doc_a`,
    * `doc_b`; unique, doc_a < doc_b): every vertex ends labeled with
    * its component's minimum id. Extracted from the near-dup use so ANY
    * similarity graph (minhash pairs, embedding-cosine pairs, explicit
    * edges) can be clustered with the same engine.
    *
    * Iterative min-label propagation with pointer jumping: each round
    * every vertex takes the min of its own and its neighbors' labels,
    * then compresses one indirection (label ← label-of-label), so
    * convergence needs O(log diameter) rounds instead of O(diameter) —
    * on a 100 TB corpus each saved round is a full shuffle over the
    * vertex set, and a pathological duplicate CHAIN (a~b~c~...~z) no
    * longer degrades to thousands of rounds. The fixpoint is unchanged:
    * labels only ever decrease toward values reachable in the
    * component. Each iteration is a distributed join + partial-agg over
    * edges checkpointed pre-partitioned on the join key (the big side
    * never reshuffles across rounds); the driver only ever collects one
    * convergence scalar per round. Fails closed: labels still changing
    * after `maxIters` rounds throw an IllegalStateException naming
    * `maxIters` rather than return split components.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    val ccT0 = System.nanoTime()
    def ccElapsed: String = f"${(System.nanoTime() - ccT0) / 1e9}%.1fs"
    // Materialized: the symmetrizing union below consumes `pairs` in
    // BOTH branches, and only exchange-rooted subtrees are reused — a
    // pair pipeline ending in a join+filter (embedding-cosine pairs:
    // the exact-cosine verification) would run twice without the cut.
    val edges = pairs.select(col("doc_a"), col("doc_b"))
      .materialized
    // No distinct needed on the union: pairs are unique with
    // doc_a < doc_b, so the forward branch (a<b) and the reversed one
    // (a>b) are disjoint — a distinct here would be one full extra
    // shuffle of the edge set for nothing.
    val bidir = checkpointNoStats(edges
      .unionByName(edges.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .repartition(col("doc_b")))
    var labels = checkpointNoStats(bidir.select(col("doc_a").as("doc_id")).distinct()
      .withColumn("label", col("doc_id"))
      .repartition(col("doc_id")))
    var prevSum = Long.MaxValue
    var iters = 0
    var done = false
    System.err.println(s"[graft] connectedComponents setup done at $ccElapsed")
    while (!done && iters < maxIters) {
      val neighborMin = bidir
        .join(labels, bidir("doc_b") === labels("doc_id"))
        .groupBy(bidir("doc_a").as("nid"))
        .agg(min(col("label")).as("nlabel"))
      val propagated = labels
        .join(neighborMin, labels("doc_id") === neighborMin("nid"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
      // pointer jump THROUGH THE PREVIOUS ROUND'S labels — the classic
      // L(L(v)) formulation: labels are always doc_ids of the vertex
      // set, so label-of-label is a join against the last checkpoint.
      // Jumping through `propagated` itself (this round's fresher
      // labels) would converge in slightly fewer rounds but needs a
      // mid-round materialization of `propagated` (it would feed both
      // sides of a self-join) — measured at sf0.1: the stale jump cuts
      // one localCheckpoint + one full label-table pass per round and
      // wins net wall even when it costs an extra round. Labels only
      // ever decrease toward the component minimum either way, so the
      // fixpoint — and the query result — is unchanged.
      val parents = labels
        .select(col("doc_id").as("pid"), col("label").as("plabel"))
      val prevLabels = labels
      // convergence sum rides the checkpoint materialization as an
      // observed metric (round 15): the separate labels.agg(sum) job it
      // replaces was one full pass over the label table per round —
      // same value, zero extra jobs. The timed fallback re-runs the old
      // scalar job if the listener bus ever drops the metric event (a
      // hang here would stall the whole fixed-point loop).
      val obs = observedSum(s"graft_cc_$iters")
      // round 1's jump is PROVABLY the identity (labels start as the
      // identity map, so plabel == pid == label for every lookup) —
      // skip its join+shuffle outright
      val jumped =
        if (iters == 0) propagated
        else propagated
          .join(parents, propagated("label") === parents("pid"), "left")
          .select(col("doc_id"),
            least(col("label"), coalesce(col("plabel"), col("label"))).as("label"))
      labels = checkpointNoStats(jumped
        .repartition(col("doc_id"))
        .observe(obs._1, coalesce(org.apache.spark.sql.functions.sum("label"),
          lit(0L)).as("s")))
      // the new labels checkpoint is materialized (eager) — last round's
      // labels blocks are now dead; free them so a 20-round run holds
      // O(1) label-table copies, not O(n)
      checkpointRdd(prevLabels).foreach(_.unpersist(blocking = false))
      val sum = obs._2().getOrElse {
        labels.agg(coalesce(org.apache.spark.sql.functions.sum("label"), lit(0L)))
          .collect()(0).getLong(0)
      }
      done = sum == prevSum
      prevSum = sum
      iters += 1
      System.err.println(s"[graft] connectedComponents round $iters done at $ccElapsed")
    }
    checkpointRdd(bidir).foreach(_.unpersist(blocking = false)) // edges are dead
    // soak-measured: a 48k-vertex LSH pair graph needed 25 rounds, so a
    // cap of 20 would return unfinished labels (split components) —
    // fail instead of answering wrong
    if (!done) {
      checkpointRdd(labels).foreach(_.unpersist(blocking = false))
      throw new IllegalStateException(s"connectedComponents did not converge within " +
        s"maxIters=$maxIters rounds: the labels would split components; raise maxIters")
    }
    System.err.println(s"[graft] connectedComponents converged in $iters rounds")
    labels.select(col("doc_id"), col("label").as("cluster_id"))
  }

  /** Fixed-point PageRank over an undirected pair list (`doc_a`,
    * `doc_b`; unique, doc_a < doc_b — [[Dedup.minhashLsh]]'s output
    * contract). Returns (doc_id, rank_fp) where rank_fp is in `scale`
    * micro-units (initial mass = `scale` per vertex; damping 0.85).
    * Vertices outside any pair are not ranked — this is centrality of
    * the duplication graph, not corpus membership.
    */
  def pagerank(pairs: DataFrame, iters: Int = 4,
               scale: Long = 1000000L): DataFrame = {
    // Symmetrize. No distinct: pairs are unique with doc_a < doc_b, so
    // the forward and reversed branches are disjoint. Materialized for
    // the same reason as connectedComponents: both union branches
    // consume `pairs`, and a non-exchange-rooted pair pipeline would
    // otherwise run twice.
    val edges0 = pairs.select(col("doc_a"), col("doc_b"))
      .materialized
    val bidir = edges0.select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(edges0.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    val deg = bidir.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // Edges (with out-degree attached once) are the big reused side:
    // checkpoint them pre-partitioned on src so every round's
    // rank-distribution join is exchange-free on the edge side.
    val edges = checkpointNoStats(bidir.join(deg, Seq("src"))
      .repartition(col("src")))
    val verts = checkpointNoStats(edges.select(col("src").as("doc_id")).distinct()
      .repartition(col("doc_id")))
    val base = 15L * scale / 100L // (1 - d) * scale, exact in longs
    // no repartition on the rank tables (round 15): verts is
    // checkpointed pre-partitioned on doc_id, the per-round left join
    // keeps the LEFT side's hash(doc_id) partitioning, and
    // localCheckpoint preserves output partitioning — so the explicit
    // per-round repartition was one full shuffle of the rank table per
    // round for a partitioning the plan already had (plan-verified:
    // one Exchange per round, the dst agg, instead of two)
    var ranks = checkpointNoStats(verts.select(col("doc_id"), lit(scale).as("rank")))
    var it = 0
    while (it < iters) {
      // distribute: each vertex ships rank/outdeg to every neighbor
      // (integer division — truncation == floor on non-negative ranks)
      val sums = edges.join(ranks, edges("src") === ranks("doc_id"))
        .select(col("dst"), expr("rank div outdeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("m"))
      val prev = ranks
      ranks = checkpointNoStats(verts.join(sums, verts("doc_id") === sums("dst"), "left")
        .select(col("doc_id"),
          (lit(base) + expr("(85 * coalesce(m, 0L)) div 100")).as("rank")))
      checkpointRdd(prev).foreach(_.unpersist(blocking = false))
      it += 1
    }
    val out = ranks.select(col("doc_id"), col("rank").as("rank_fp"))
    checkpointRdd(verts).foreach(_.unpersist(blocking = false))
    checkpointRdd(edges).foreach(_.unpersist(blocking = false))
    out
  }

  /** PageRank over a DIRECTED edge list (`src`, `dst` — deduplicated
    * by the caller or here via distinct): the host-graph form (crawl
    * frontier prioritization / host reputation), where endorsement
    * flows one way. Same integer fixed-point recipe as [[pagerank]]
    * (scale micro-units, 0.85 damping, integer division — bit-exact
    * vs the DuckDB twin in any execution order), minus the
    * symmetrization. Dangling vertices (no outlinks): by default they
    * keep their base mass and redistribute nothing — the documented
    * simplification (for crawl prioritization the ORDERING it changes
    * is negligible and the fixed recurrence keeps the oracle cheap).
    * With `redistributeDangling = true` each round adds the standard
    * correction: the dangling vertices' total rank is split evenly
    * across ALL vertices (integer `danglingSum div n` per vertex,
    * folded into the damped term — still bit-exact vs the DuckDB
    * twin). The cost is one scalar aggregation per round, exactly what
    * the connectedComponents convergence check already pays. Use the
    * corrected form wherever ABSOLUTE rank mass feeds a downstream
    * number (budget tables — host_reputation C101); the cheap form
    * where only ordering matters (frontier prioritization — host_rank
    * C94).
    *
    * Scale shape: identical to [[pagerank]] — edges checkpointed once
    * pre-partitioned on src, one co-partitioned join + one dst-keyed
    * agg shuffle per round (plus the scalar dangling sum when
    * enabled); for a HOST graph the whole thing is hosts-sized, orders
    * of magnitude below the page table.
    */
  def pagerankDirected(edgesIn: DataFrame, iters: Int = 4,
                       scale: Long = 1000000L,
                       redistributeDangling: Boolean = false): DataFrame = {
    val uniq = edgesIn.select(col("src"), col("dst")).distinct().materialized
    val deg = uniq.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val edges = checkpointNoStats(uniq.join(deg, Seq("src"))
      .repartition(col("src")))
    // verts carry a dangling flag (has_out = 0 ⇔ never a `src`): the
    // per-round dangling-rank mass is then a conditional sum OVER THE
    // RANK TABLE ITSELF, foldable into the round's checkpoint job as
    // an observed metric — the dedicated dangling join + agg + collect
    // job per round (round-14's "price of absolute-mass correctness")
    // is gone. max(has_out) replaces the old union.distinct(): same
    // one-shuffle group-by, one extra int column.
    val verts = checkpointNoStats(
      uniq.select(col("src").as("host"), lit(1).as("has_out"))
        .unionByName(uniq.select(col("dst").as("host"), lit(0).as("has_out")))
        .groupBy(col("host")).agg(max(col("has_out")).as("has_out"))
        .repartition(col("host")))
    val base = 15L * scale / 100L
    // round-0 scalars (vertex count + dangling count → the first
    // round's share) ride the initial rank checkpoint the same way
    val danglingMass =
      coalesce(sum(when(col("has_out") === 0, col("rank"))), lit(0L)).as("s")
    val obs0 = observedSum("graft_pr_dangling_0")
    val nObs = org.apache.spark.sql.Observation(
      "graft_pr_n_" + java.util.UUID.randomUUID().toString)
    // no repartition on the rank tables (round 15): the left join
    // keeps verts' hash(host) partitioning and localCheckpoint
    // preserves it — the per-round repartition was a redundant full
    // shuffle (plan-verified: one Exchange per round, the dst agg)
    var ranks = checkpointNoStats(verts
      .select(col("host"), col("has_out"), lit(scale).as("rank"))
      .observe(obs0._1, danglingMass)
      .observe(nObs, count(lit(1)).as("n")))
    lazy val nVerts: Long =
      try scala.concurrent.Await
        .result(nObs.future, scala.concurrent.duration.Duration(120, "s"))
        .getLong(0)
      catch { case _: java.util.concurrent.TimeoutException => verts.count() }
    var nextDangling: () => Option[Long] = obs0._2
    var it = 0
    while (it < iters) {
      // per-vertex share of the dangling mass this round (0 when the
      // correction is off or no vertex dangles); integer division —
      // the sub-n remainder is the same truncation the recurrence
      // already applies everywhere
      val share: Long =
        if (!redistributeDangling) 0L
        else {
          val mass = nextDangling().getOrElse {
            ranks.agg(coalesce(sum(when(col("has_out") === 0, col("rank"))),
              lit(0L))).collect()(0).getLong(0)
          }
          if (nVerts == 0) 0L else mass / nVerts
        }
      val sums = edges.join(ranks, edges("src") === ranks("host"))
        .select(col("dst"), expr("rank div outdeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("m"))
      val prev = ranks
      val obsI = observedSum(s"graft_pr_dangling_${it + 1}")
      ranks = checkpointNoStats(verts.join(sums, verts("host") === sums("dst"), "left")
        .select(verts("host"), col("has_out"),
          (lit(base) + expr(s"(85 * (coalesce(m, 0L) + $share)) div 100")).as("rank"))
        .observe(obsI._1, danglingMass))
      nextDangling = obsI._2
      checkpointRdd(prev).foreach(_.unpersist(blocking = false))
      it += 1
    }
    val out = ranks.select(col("host"), col("rank").as("rank_fp"))
    checkpointRdd(verts).foreach(_.unpersist(blocking = false))
    checkpointRdd(edges).foreach(_.unpersist(blocking = false))
    out
  }

  /** C38: PageRank over the minhash-LSH near-duplicate graph (pairs
    * with estimated Jaccard ≥ `minEst`) — the ranking twin of
    * [[Dedup.dedupClusters]].
    */
  def pagerankDocs(docs: DataFrame, idCol: String, textCol: String,
                   minEst: Double = 0.5, iters: Int = 4): DataFrame =
    pagerank(
      Dedup.minhashLsh(docs, idCol, textCol)
        .filter(col("est_jaccard") >= minEst)
        .select(col("doc_a"), col("doc_b")),
      iters)

  /** DuckDB twin of [[pagerankDocs]]: the same minhash-LSH pair CTE as
    * the dedup_clusters oracle, then the rank recurrence unrolled one
    * CTE per iteration with identical integer arithmetic.
    */
  def pagerankOracleSql(minEst: Double = 0.5, iters: Int = 4,
                        scale: Long = 1000000L): String = {
    val tok = TextFunctions.tokensSql("text")
    val sh = TextFunctions.shinglesSql("tokens", 3)
    val base = 15L * scale / 100L
    val steps = (0 until iters).map { i =>
      s"""r${i + 1} AS (SELECT v.doc_id,
         |    cast($base + (85 * coalesce(s.m, 0)) // 100 AS bigint) AS rank
         |  FROM verts v LEFT JOIN (
         |    SELECT e.dst AS doc_id, sum(r.rank // d.outdeg) AS m
         |    FROM bidir e JOIN r$i r ON e.src = r.doc_id
         |      JOIN deg d ON d.src = e.src
         |    GROUP BY e.dst) s ON v.doc_id = s.doc_id)""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (SELECT doc_id, $tok AS tokens FROM documents),
       |sh AS (SELECT doc_id, $sh AS shingles FROM toks),
       |hp AS (SELECT doc_id,
       |    list_transform(shingles, s -> struct_pack(
       |      h1 := cast('0x' || substr(md5(s), 1, 12) as bigint),
       |      h2 := cast('0x' || substr(md5(s), 17, 12) as bigint))) AS hp
       |  FROM sh),
       |sig AS (SELECT doc_id,
       |    list_transform(range(0, 16), i ->
       |      list_min(list_transform(hp, p -> p.h1 + i * p.h2))) AS sig
       |  FROM hp WHERE len(hp) >= 1),
       |bands AS (SELECT doc_id, b,
       |    cast('0x' || substr(md5(concat(b, '|', sig[2*b+1], ',', sig[2*b+2])), 1, 15) as bigint) AS bkey
       |  FROM sig CROSS JOIN range(0, 8) t(b)),
       |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
       |pairs AS (SELECT doc_a, doc_b FROM cand
       |  JOIN sig sa ON sa.doc_id = doc_a JOIN sig sb ON sb.doc_id = doc_b
       |  WHERE list_sum(list_transform(range(1, 17),
       |    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) / 16.0 >= $minEst),
       |bidir AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |deg AS (SELECT src, count(*) AS outdeg FROM bidir GROUP BY src),
       |verts AS (SELECT DISTINCT src AS doc_id FROM bidir),
       |r0 AS (SELECT doc_id, cast($scale AS bigint) AS rank FROM verts),
       |$steps
       |SELECT doc_id, rank AS rank_fp FROM r$iters""".stripMargin
  }
}
