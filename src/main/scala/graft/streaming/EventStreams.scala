package graft.streaming

import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming over the events stream.
  *
  * The batch twins of these live in graft.operators.Relational
  * (`qTumblingWindow`, `qSessionize`) — same logical aggregation, so
  * results converge when a stream is replayed as a batch. Watermarks
  * bound state; all grouping is keyed (window × type, or user), so
  * state partitions horizontally across executors.
  */
object EventStreams {

  /** Raw schema of the events parquet when read as a stream, modulo
    * the `ts` encoding — the testdata has shipped both TIMESTAMP(NANOS)
    * (nanos-as-long) and timestamp[us] files, so the declared stream
    * schema must carry whichever type the files actually hold (a
    * file-source stream trusts the user schema; declaring LongType over
    * a µs file silently mis-reads). See Tables.events for the batch
    * twin of this branching.
    */
  def rawSchema(tsType: DataType): StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", tsType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over an sf directory's events parquet. The `ts`
    * encoding is probed from the existing files with a schema-only batch
    * read (footer metadata, no data scan), then normalized to TIMESTAMP
    * exactly like Tables.events, so every downstream watermark/window
    * sees one stable type regardless of testdata generation.
    */
  def readEventStream(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val observedTs = Tables.read(spark, s"$sfDir/events.parquet")
      .schema("ts").dataType
    val raw = spark.readStream
      .schema(rawSchema(observedTs))
      .option("pathGlobFilter", "events.parquet")
      .parquet(sfDir)
    observedTs match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType =>
        raw
      case other =>
        throw new IllegalArgumentException(
          s"events.ts: unsupported parquet type $other (expected INT64 nanos, timestamp, or timestamp_ntz)")
    }
  }

  /** Tumbling 1-hour windowed counts with a 2-hour watermark —
    * streaming twin of Relational.qTumblingWindow.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("total_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Continuous cardinality monitoring: per-window distinct-user
    * ESTIMATE via the portable KMinByHash sketch — the streaming twin
    * of q_approx_stats' KMV branch. A streaming `count(DISTINCT ...)`
    * isn't supported (and an exact per-window user set would grow with
    * the user space); the sketch keeps O(k) state per open window in
    * the state store, merges across micro-batches like any partial
    * aggregate, and emits on watermark close. Bit-identical to the
    * batch sketch over the same rows (spec-pinned) because the
    * aggregate is a pure function of the input SET.
    */
  def windowedUserEstimate(events: DataFrame, k: Int = 64): DataFrame = {
    graft.plans.GraftFunctions.register(events.sparkSession)
    val uh = graft.functions.PortableHash.portableHash(col("user_id"))
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(graft.functions.Sketches.kminBy(uh, uh, k).as("kmv"))
      .select(col("window.start").as("hour_start"),
        graft.functions.Sketches.kmvEstimate(col("kmv"), k).as("est_users"))
  }

  /** Continuous funnel tracking — the streaming twin of q_funnel: each
    * user's earliest view/click/purchase timestamps live in the state
    * store (FOUR longs per user), and a (user_id, completion
    * timestamps) row is emitted when the EVENT-TIME WATERMARK closes
    * the user's horizon (`horizonSec` past their last event) AND the
    * strict view < click < purchase order holds over the final minima.
    * Emitting only on watermark close makes the minima final — a late
    * click that would break the order is folded in before any row is
    * emitted, so the emitted set equals the batch funnel over the same
    * rows (spec-pinned), not a superset built from partial state. The
    * same timeout EVICTS state: completed and idle users alike are
    * removed once their horizon passes, so the store is bounded by
    * users active inside one horizon, never all users ever seen. A
    * user who resumes activity after eviction starts a fresh funnel
    * epoch (one emission per epoch — the same per-activity-epoch
    * contract as [[sessionize]]); equality with the batch funnel holds
    * when each user's events span at most one horizon.
    *
    * Input: (user_id, event_type, ts-micros). A watermarked
    * `event_time` column is derived internally (`latenessSec` allowed
    * disorder) — events later than the watermark are dropped by the
    * engine before they reach the state function.
    */
  def funnelCompletions(events: DataFrame, horizonSec: Long = 7200,
                        latenessSec: Long = 3600): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val s = events.sparkSession
    import s.implicits._
    // state: (firstView, firstClick, firstPurchase, maxTs) — MaxValue = unseen
    events.select(col("user_id").cast("long"), col("event_type"),
        col("ts").cast("long").as("tsl"),
        timestamp_micros(col("ts").cast("long")).as("event_time"))
      .withWatermark("event_time", s"$latenessSec seconds")
      .as[(Long, String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (user: Long, rows: Iterator[(Long, String, Long, java.sql.Timestamp)],
         state: GroupState[(Long, Long, Long, Long)]) => {
          if (state.hasTimedOut) {
            // watermark passed maxTs + horizon: minima are final (any
            // later event would be beyond the watermark for this epoch)
            val (v, c, p, _) = state.get
            state.remove()
            if (v < c && c < p && p != Long.MaxValue) Iterator((user, v, c, p))
            else Iterator.empty
          } else {
            // engine-faithful late handling (same as sessionize): the
            // file source's late filter lags one watermark, so a
            // time-shuffled batch can still DELIVER rows below
            // the eviction watermark — built-in stateful operators
            // drop those rows, and so does this one. Without the drop
            // the operator would fold purely-late rows into minima an
            // in-order run never sees (and a timeout set from them at
            // or below the watermark kills the query).
            // strictly-below in MICROS: `ts / 1000 > wmMs` would also
            // drop rows exactly AT the watermark (and up to 1 ms
            // strictly above, via truncation) — built-ins keep those;
            // the timeout clamp max(.., wmMs + 1) keeps boundary rows
            // from setting a timeout at the eviction watermark
            val wmMs = state.getCurrentWatermarkMs()
            val live = rows.filter(_._3 >= wmMs * 1000L)
            if (live.isEmpty) Iterator.empty // all-late: state untouched
            else {
              var (v, c, p, maxTs) = state.getOption
                .getOrElse((Long.MaxValue, Long.MaxValue, Long.MaxValue, Long.MinValue))
              live.foreach { case (_, t, ts, _) =>
                t match {
                  case "view"     => if (ts < v) v = ts
                  case "click"    => if (ts < c) c = ts
                  case "purchase" => if (ts < p) p = ts
                  case _          => ()
                }
                if (ts > maxTs) maxTs = ts
              }
              state.update((v, c, p, maxTs))
              // maxTs now comes from an above-watermark row, so the
              // horizon is provably > watermark; the max() stays as a
              // defensive invariant only
              state.setTimeoutTimestamp(math.max(
                maxTs / 1000 + horizonSec * 1000, wmMs + 1))
              Iterator.empty
            }
          }
        })
      .toDF("user_id", "first_view", "first_click", "first_purchase")
  }

  /** Stream-stream interval join: each purchase joined to the same
    * user's clicks in the preceding 30 minutes. Both sides carry
    * watermarks, so the join state store evicts rows once they can no
    * longer match — bounded state at any scale.
    */
  def purchaseAttribution(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    purchases.join(clicks, expr(
      """c_user = user_id AND
        |click_ts >= purchase_ts - INTERVAL 30 MINUTES AND
        |click_ts <= purchase_ts""".stripMargin))
      .select(col("user_id"), col("purchase_id"), col("click_id"))
  }

  /** Streaming exact dedup: duplicates arriving within the watermark
    * horizon are dropped; state is bounded by the watermark (keys older
    * than it are evicted). The batch twin is Dedup.exact.
    */
  def dedupStream(events: DataFrame, idCols: Seq[String],
                  watermark: String = "2 hours"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCols.head, idCols.tail: _*)

  case class Event(event_id: Long, ts: Long, user_id: Long,
                   event_type: String, value: Double)
  case class SessionState(start: Long, last: Long, n: Int)
  case class Session(user_id: Long, session_start: Long, n_events: Int,
                     duration_sec: Double)

  /** Custom stateful sessionization (30-min gap) via
    * flatMapGroupsWithState with an EVENT-time timeout: a session
    * closes when a later event arrives past the gap, or when the
    * watermark passes `last + gap` — so idle users' state is flushed
    * and REMOVED instead of accumulating forever (at 100 TB/1M users,
    * unbounded open-session state is a leak). Event-time (not
    * wall-clock) keeps it deterministic and replayable.
    * `ts`/`session_start` are epoch micros; input must carry a
    * watermarked `event_time` timestamp column (see spec).
    *
    * Late data: the file source's late filter uses the LAGGED
    * watermark, so a time-shuffled batch can deliver events at or
    * below the eviction watermark (measured by the streaming soak's
    * out-of-order file batches; the spec reproduces it with the real
    * file source). Those rows are DROPPED — the same semantics Spark's
    * built-in stateful operators apply — so the output never contains
    * a purely-late session an in-order run of the same stream would
    * not have produced, and no timeout is ever set at or below the
    * watermark (which Spark rejects with a throw). In-order streams
    * never hit the filter.
    */
  def sessionize(events: Dataset[Event], gapSec: Long = 1800)
      (implicit enc: org.apache.spark.sql.Encoder[Session],
       senc: org.apache.spark.sql.Encoder[SessionState]): Dataset[Session] =
    events
      .groupByKey(_.user_id)(org.apache.spark.sql.Encoders.scalaLong)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(s =>
              Session(userId, s.start, s.n, (s.last - s.start) / 1e6))
            state.remove()
            out.iterator
          } else {
            // engine-faithful late handling: rows strictly below the
            // eviction watermark are DROPPED, exactly as Spark's
            // built-in stateful operators drop them — the file
            // source's late filter lags one watermark, so a
            // time-shuffled batch can still deliver a whole session
            // that an in-order run would never have seen. (Pre-drop,
            // such a batch either killed the query via a timeout at or
            // below the watermark, or — clamped — emitted the
            // purely-late session; the spec pins the drop.)
            // strictly-below in MICROS (see funnel above): keep rows
            // at/above the watermark exactly as built-ins do
            val wmMs = state.getCurrentWatermarkMs()
            val sorted = rows.toSeq.filter(_.ts >= wmMs * 1000L)
              .sortBy(e => (e.ts, e.event_id))
            if (sorted.isEmpty) Iterator.empty // all-late: state untouched
            else {
              var cur = state.getOption
              val out = scala.collection.mutable.ArrayBuffer.empty[Session]
              for (e <- sorted) {
                cur match {
                  case Some(s) if e.ts - s.last <= gapSec * 1000000L =>
                    cur = Some(s.copy(last = e.ts, n = s.n + 1))
                  case Some(s) =>
                    out += Session(userId, s.start, s.n, (s.last - s.start) / 1e6)
                    cur = Some(SessionState(e.ts, e.ts, 1))
                  case None =>
                    cur = Some(SessionState(e.ts, e.ts, 1))
                }
              }
              cur.foreach { s =>
                state.update(s)
                // last now comes from an above-watermark row, so
                // last + gap is provably > watermark; the max() stays
                // as a defensive invariant only
                state.setTimeoutTimestamp(math.max(
                  s.last / 1000 + gapSec * 1000, wmMs + 1))
              }
              out.iterator
            }
          }
      }

  /** Per-event-type calibration moments for [[valueAnomalies]] —
    * decimal-cast sums (order-independent), sd = sqrt of a
    * zero-clamped variance (the embedding_outliers arithmetic, per
    * type). Run over a reference window of history; the output is
    * type-cardinality-sized.
    */
  def calibrateValues(events: DataFrame): DataFrame =
    events.groupBy(col("event_type")).agg(
      (sum(col("value").cast("decimal(28,12)")).cast("double") /
        count(lit(1))).as("__m"),
      (sum((col("value") * col("value")).cast("decimal(28,12)")).cast("double") /
        count(lit(1))).as("__msq"))
      .select(col("event_type"), col("__m").as("m"),
        sqrt(greatest(col("__msq") - col("__m") * col("__m"), lit(0.0)))
          .as("sd"))

  /** Streaming value-anomaly screen: each arriving event's value is
    * z-scored against STATIC per-type calibration moments
    * ([[calibrateValues]] over reference history) and events at
    * |z| ≥ `minZ` are emitted. STATELESS — the calibration is a
    * broadcast stream-static LEFT join (type-cardinality-sized, a
    * genuine dim), no state store, no watermark, append mode; scoring
    * an event against the reference distribution (not the
    * stream-so-far) is the alerting contract, same as
    * [[DocStreams.bm25Alerts]]. Constant-valued types calibrate to
    * sd = 0 → z = 0, never flagged.
    *
    * An event whose type is ABSENT from the calibration — arguably the
    * most anomalous input of all — is EMITTED with `z = null`
    * (admit-unknown-and-mark, the [[DocStreams.qualityAdmission]]
    * contract): the routing decision belongs downstream, and an inner
    * join would silently guarantee a genuinely novel event type can
    * never alert.
    */
  def valueAnomalies(events: DataFrame, calibration: DataFrame,
                     minZ: Double = 3.0): DataFrame =
    events.join(org.apache.spark.sql.functions.broadcast(calibration),
        Seq("event_type"), "left")
      .select(col("event_id"), col("event_type"), col("value"),
        when(col("m").isNull, lit(null).cast("double"))
          .when(col("sd") === 0.0, lit(0.0))
          .otherwise((col("value") - col("m")) / col("sd")).as("z"))
      .filter(col("z").isNull || abs(col("z")) >= minZ)
}
