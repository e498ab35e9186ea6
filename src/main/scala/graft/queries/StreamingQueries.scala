package graft.queries

import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import java.io.File

/** Oracle-checked STREAMING execution — §2.9 semantics proven through the
  * driver's DuckDB gate, not only through ScalaTest. Each catalog query
  * runs a real Structured Streaming job (file-source replay → watermark →
  * stateful operator → append-mode memory sink) over a deterministic
  * replay of the events table:
  *
  *  - `w_watermark_late_drop` replays OUT of event-time order (batch =
  *    event_id % 4) so the watermark provably drops late rows — the one
  *    behavior batch twins can never exhibit;
  *  - `j_stream_confirm_replay` replays IN event-time order (batch =
  *    absolute 8-day epoch of ts) through a watermarked stream-stream
  *    event-time range join, proving the streaming join emits exactly
  *    the batch join's answer when data arrives in order — state
  *    eviction never cuts a pair that can still match;
  *  - `w_session_replay` drives the THIRD stateful API
  *    (flatMapGroupsWithState + EventTimeTimeout) through the gate:
  *    gap-sessionization with idle expiry, the oracle reproducing the
  *    exact emission rule (closed-by-event sessions always; the last
  *    session only once the final watermark strictly passes end+gap);
  *  - `w_stream_dedup_replay` proves dropDuplicatesWithinWatermark
  *    absorbs cross-batch duplicates (every third event re-fed one
  *    1-day batch later) — emitted counts equal the duplicate-free
  *    windowed aggregation.
  *
  * Later rounds widened the set: `j_stream_outer_replay` (outer
  * stream-stream join nulls), `w_stream_update_replay` (update-mode
  * revision history), `j_stream_static_enrich` (stream-static dimension
  * join), and `w_transform_state_replay` (the transformWithState typed
  * state API on RocksDB). Together the rows cover every stateful
  * streaming operator class AND all four stateful API generations
  * (windowed agg, stream-stream inner+outer joins, flatMapGroupsWithState,
  * dropDuplicatesWithinWatermark, transformWithState) with
  * driver-hash-compared evidence, not only ScalaTest.
  *
  * Determinism contract (what makes an oracle possible at all):
  *  - replay order: one parquet file per micro-batch, written
  *    EXECUTOR-side (no driver data path), admitted one per trigger in
  *    strictly-increasing mtime order (maxFilesPerTrigger=1 +
  *    AvailableNow);
  *  - watermark algebra: Spark tracks max event time in integer
  *    MILLISECONDS (micros floored) and runs the TWO-watermark model
  *    (SPARK-40925, verified against the offset log here): in micro-batch
  *    b the EVICTION watermark is max-through-batch-(b-1) minus delay,
  *    while the LATE-EVENT filter uses the PREVIOUS batch's watermark —
  *    max-through-batch-(b-2) minus delay. A row is dropped iff its
  *    window END (ms) <= that late-event watermark; because the filter
  *    lags eviction by exactly one batch, a window evicted in batch b is
  *    shielded from re-creation in batch b+1 (its end is already <= the
  *    filter threshold), so append mode emits each window once: after
  *    the final no-data flush batch, every window with end <= global max
  *    - delay. The oracle reproduces exactly this integer arithmetic; no
  *    floats, no ties.
  *
  * Scale shape: the streaming agg/join carries the same bounded state as
  * the production pipeline (windows×types; in-flight join rows inside the
  * eviction horizon); only the result-sized append output lands in the
  * memory sink.
  */
object StreamingQueries {

  private val ReplayBatches = 4
  private val DelayMs = 1801000L // 1801 s: deliberately not a round half hour

  /** Write `df` as one parquet file per distinct value of `batchCol`
    * (ascending), into `streamDir` with strictly increasing mtimes — the
    * deterministic replay feed for a file-source stream. Data moves
    * executor-side (repartition by batch id → one part file per batch);
    * the driver only renames. */
  private def writeReplayBatches(df: DataFrame, batchCol: Column,
                                 streamDir: File, tmp: File): Unit = {
    val stage = new File(tmp, s"stage-${streamDir.getName}")
    df.withColumn("replay_b", batchCol.cast("long"))
      .repartition(col("replay_b"))
      .write.partitionBy("replay_b").mode("overwrite")
      .parquet(stage.getAbsolutePath)
    val batchDirs = Option(stage.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("replay_b="))
      .sortBy(f => f.getName.stripPrefix("replay_b=").toLong)
    require(batchDirs.nonEmpty, s"no replay batches under $stage")
    batchDirs.zipWithIndex.foreach { case (d, i) =>
      val parts = d.listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      require(parts.length == 1,
        s"replay batch ${d.getName} has ${parts.length} part files (hash " +
          "repartition by batch id must land each batch in one task)")
      val target = new File(streamDir, f"batch-$i%03d.parquet")
      java.nio.file.Files.move(parts(0).toPath, target.toPath)
      target.setLastModified(1600000000000L + i * 60000L); ()
    }
  }

  /** State/shuffle partition setting for a replay stream, derived from the
    * bytes actually fed to it (round-16 optimization, guide §2.2/§2.4).
    * Stateful streaming pins its state-store partitioning from
    * spark.sql.shuffle.partitions at query start and AQE never revisits
    * it, so the session default (= local core count) hands EVERY
    * micro-batch `cores` state-store partitions per stateful operator
    * regardless of data size. The cost is per-partition-per-batch, not
    * per-row: each store pays an open + commit + fsync'd delta file each
    * trigger (a stream-stream join carries FOUR stores per partition), so
    * at replay scale 32 partitions × ~6 batches is ~97% pure fixed
    * overhead (measured: the whole inner-join output is 9k rows). On a
    * real cluster a core-count default is equally wrong in the other
    * direction — state should be partitioned by its SIZE. Target ~32 MiB
    * of parquet feed per state partition (in-store state of these replay
    * shapes is input-bounded by the watermark horizon), floor 1, cap 32k.
    * Results are partition-count independent: watermarks are global
    * (max event time across partitions), state is hash-partitioned by
    * key, and every replay query's output is totally ordered before
    * hashing. */
  private def statePartitions(feedBytes: Long): (String, String) = {
    val perPartition = 32L * 1024 * 1024
    val n = math.min(math.max(1L, (feedBytes + perPartition - 1) / perPartition), 32768L)
    "spark.sql.shuffle.partitions" -> n.toString
  }

  /** Memory-sink name of each replay query — the name the runner gives
    * the sink and its StreamProbe trace and plan. The one place that
    * names them: tools and specs look traces up here. */
  val sinks: Map[String, String] = Map(
    "j_stream_confirm_replay" -> "j_stream_confirm_sink",
    "j_stream_outer_replay" -> "j_stream_outer_sink",
    "j_stream_static_enrich" -> "j_stream_static_sink",
    "w_session_replay" -> "w_session_replay_sink",
    "w_stream_dedup_replay" -> "w_stream_dedup_sink",
    "w_stream_update_replay" -> "w_stream_update_sink",
    "w_transform_state_replay" -> "w_transform_state_sink",
    "w_watermark_late_drop" -> "w_watermark_late_drop_sink")

  /** Name prefix of the temp dir each replay run owns (feeds, staging,
    * checkpoint); the runner deletes it before returning. */
  private[graft] val TmpPrefix = "graft-replay-"

  /** Absolute 8-day epoch of timestamp column `c`, integer-exact: in-order
    * replay chunks on any time span the testdata generator picks. */
  private def epoch8d(c: String): Column = expr(s"unix_micros($c) div 691200000000")

  /** The one runner for catalog replays: run `build(streams)` over a
    * file-source replay of each feed (schema = the feed's schema; the
    * batch column only splits the feed into files) into a fresh memory
    * sink named `sinks(name)`, in `outputMode`; returns the sink table.
    * All feeds are written concurrently: independent jobs, each under its
    * own thread-local job group, so the two-feed join replays overlap
    * their writes (guide §2.6). The streaming plan runs under
    * the feed-size-derived state partition count (see statePartitions);
    * the feed writes and the caller's final sort stay on the session
    * default. The run's temp dir is deleted before returning — the sink
    * holds its rows in memory. */
  private def runReplay(s: SparkSession, name: String,
                        feeds: Seq[(DataFrame, Column)],
                        outputMode: String = "append")(
                        build: Seq[DataFrame] => DataFrame): DataFrame = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val sinkName = sinks(name)
    val tmp = java.nio.file.Files.createTempDirectory(TmpPrefix + name).toFile
    try {
      val dirs = feeds.zipWithIndex.map { case ((feed, batchCol), i) =>
        Future {
          val streamDir = new File(tmp, s"feed-$i")
          streamDir.mkdirs()
          writeReplayBatches(feed, batchCol, streamDir, tmp)
          streamDir
        }
      }.map(Await.result(_, Duration.Inf))
      val feedBytes = dirs.map { d =>
        Option(d.listFiles()).getOrElse(Array.empty[File]).map(_.length()).sum
      }.sum
      s.catalog.dropTempView(sinkName)
      val q = graft.GraftSession.withConf(s, statePartitions(feedBytes)) {
        val streams = feeds.zip(dirs).map { case ((feed, _), streamDir) =>
          s.readStream
            .schema(feed.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(streamDir.getAbsolutePath)
        }
        val query = build(streams)
          .writeStream
          .format("memory")
          .queryName(sinkName)
          .outputMode(outputMode)
          .option("checkpointLocation", new File(tmp, "ckpt").getAbsolutePath)
          .trigger(Trigger.AvailableNow())
          .start()
        query.awaitTermination()
        query
      }
      // publish the per-batch state-store trace (round-15 verdict #2: the
      // watermark-bounded-state claim must be measured, not plan-asserted)
      // and the executed micro-batch plan (round-16: the partitioning
      // evidence behind statePartitions); driver-side only, the hashed
      // result is untouched
      graft.streaming.StreamProbe.record(sinkName, q.recentProgress)
      graft.streaming.StreamProbe.recordPlan(sinkName, q)
      s.table(sinkName)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(tmp); ()
    }
  }

  /** Purchases (dispatch side) joined to the views (confirmation side)
    * the same user produces within 1 day, both replayed in event-time
    * order under 2-day watermarks — the shared body of the inner and
    * outer confirmation replays, which differ only in `joinType`. */
  private def confirmationReplay(s: SparkSession, dir: String, name: String,
                                 joinType: String): DataFrame = {
    val ev = Tables.events(s, dir).filter(col("ts").isNotNull)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("a_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
        col("ts").as("cts"))
    runReplay(s, name, Seq((purchases, epoch8d("ts")), (views, epoch8d("cts")))) {
      case Seq(a, b) =>
        a.withWatermark("ts", "2 days")
          .join(
            b.withWatermark("cts", "2 days"),
            col("user_id") === col("b_user") &&
              col("cts") >= col("ts") &&
              col("cts") <= col("ts") + expr("INTERVAL 1 DAY"),
            joinType)
    }
  }

  val qs: Seq[Q] = Seq(
    Q(
      "w_watermark_late_drop",
      """Event-time windowed count under a 1801-second watermark with late
        |data: the events table replays in 4 deterministic micro-batches
        |(batch = event_id % 4, so every batch after the first carries
        |heavily late rows), and the append-mode result proves exactly
        |which rows the watermark dropped and which windows finalized. The
        |DuckDB oracle recomputes Spark's two-watermark algebra in integer
        |milliseconds — kept iff window_end > the late-event watermark of
        |the row's batch (the PREVIOUS batch's watermark: max event time
        |through batch b-2, minus delay), emitted iff window_end <= final
        |watermark.""".stripMargin,
      Some(
        s"""WITH e AS (
           |  SELECT event_id % $ReplayBatches AS b,
           |         epoch_us(ts) // 1000 AS ts_ms,
           |         date_trunc('hour', ts) AS wstart
           |  FROM events WHERE ts IS NOT NULL),
           |wm AS (
           |  SELECT b,
           |         GREATEST(COALESCE(
           |           MAX(max_ms) OVER (ORDER BY b
           |             ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
           |           - $DelayMs, 0), 0) AS w_ms
           |  FROM (SELECT b, MAX(ts_ms) AS max_ms FROM e GROUP BY b)),
           |kept AS (
           |  SELECT e.wstart
           |  FROM e JOIN wm USING (b)
           |  WHERE epoch_us(e.wstart + INTERVAL 1 HOUR) // 1000 > wm.w_ms),
           |fin AS (SELECT MAX(ts_ms) - $DelayMs AS w_ms FROM e)
           |SELECT wstart AS window_start,
           |       wstart + INTERVAL 1 HOUR AS window_end,
           |       COUNT(*) AS n_events
           |FROM kept, fin
           |WHERE epoch_us(wstart + INTERVAL 1 HOUR) // 1000 <= fin.w_ms
           |GROUP BY wstart
           |ORDER BY window_start""".stripMargin),
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .filter(col("ts").isNotNull)
          .select(col("event_id"), col("ts"))
        runReplay(s, "w_watermark_late_drop",
          Seq((ev, pmod(col("event_id"), lit(ReplayBatches))))) {
          case Seq(stream) =>
            stream
              .withWatermark("ts", s"${DelayMs / 1000} seconds")
              .groupBy(window(col("ts"), "1 hour"))
              .agg(count(lit(1)).as("n_events"))
        }
          .select(
            col("window.start").as("window_start"),
            col("window.end").as("window_end"),
            col("n_events"))
          .orderBy("window_start")
      }),

    Q(
      "w_session_replay",
      """Gap-based sessionization with event-time idle expiry
        |(flatMapGroupsWithState + EventTimeTimeout), oracle-checked end
        |to end — the third stateful API proven through the DuckDB gate
        |(after the windowed agg and the stream-stream join). Events
        |replay IN order (8-day-epoch batches); 30-minute gap, 1801 s
        |watermark. Emission rule the oracle reproduces exactly: a
        |session closed by a later same-user event is emitted when that
        |event arrives; the user's LAST session is emitted only when the
        |final watermark strictly passes its end + gap (the timeout
        |fires on watermark > end+gap because in-order replay keeps
        |end+gap ahead of the watermark at set time). All arithmetic in
        |integer milliseconds (the streaming state folds
        |Timestamp.getTime); the float value column is deliberately NOT
        |summed in the output — its accumulation order is
        |partition-internal, everything emitted here is
        |order-independent.""".stripMargin,
      Some(
        """WITH e AS (
          |  SELECT user_id, epoch_us(ts) // 1000 AS t, event_id
          |  FROM events WHERE ts IS NOT NULL),
          |flagged AS (
          |  SELECT user_id, t,
          |         CASE WHEN LAG(t) OVER w IS NULL OR t - LAG(t) OVER w > 1800000
          |              THEN 1 ELSE 0 END AS ns,
          |         event_id
          |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
          |sess AS (
          |  SELECT user_id, t,
          |         SUM(ns) OVER (PARTITION BY user_id ORDER BY t, event_id
          |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          |  FROM flagged),
          |agg AS (
          |  SELECT user_id, CAST(sid AS BIGINT) AS sid,
          |         MIN(t) AS start_ms, MAX(t) AS end_ms, COUNT(*) AS n_events
          |  FROM sess GROUP BY 1, 2),
          |fin AS (SELECT MAX(t) - 1801000 AS w FROM e),
          |last AS (SELECT user_id, MAX(sid) AS last_sid FROM agg GROUP BY 1)
          |SELECT a.user_id, a.start_ms, a.end_ms, a.n_events
          |FROM agg a JOIN last l ON a.user_id = l.user_id, fin
          |WHERE a.sid < l.last_sid OR a.end_ms + 1800000 < fin.w
          |ORDER BY a.user_id, a.start_ms""".stripMargin),
      (s, dir) => {
        import scala.concurrent.duration._
        val ev = Tables.events(s, dir).filter(col("ts").isNotNull)
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        runReplay(s, "w_session_replay", Seq((ev, epoch8d("ts")))) {
          case Seq(stream) =>
            import s.implicits._
            val typed = stream
              .select(col("user_id").as("userId"), col("ts"), col("value"))
              .as[graft.streaming.MicroBatchPipeline.SessionEvent]
            graft.streaming.MicroBatchPipeline
              .sessionizeExpiring(typed, 30.minutes, "1801 seconds")
              .toDF()
        }
          .select(
            col("userId").as("user_id"),
            expr("unix_micros(start) div 1000").as("start_ms"),
            expr("unix_micros(end) div 1000").as("end_ms"),
            col("nEvents").as("n_events"))
          .orderBy("user_id", "start_ms")
      }),

    Q(
      "w_stream_dedup_replay",
      """Exactly-once ingest dedup under the watermark
        |(dropDuplicatesWithinWatermark), oracle-checked: every third
        |event is fed TWICE — the duplicate arriving one replay batch
        |LATER (same event_id, same event time, cross-batch) — through a
        |2-day watermark into the hourly windowed count. Every duplicate
        |lands inside the watermark, so the dedup state provably absorbs
        |all of them and the emitted counts equal the duplicate-free
        |windowed aggregation; window emission follows the same final-
        |watermark rule as w_watermark_late_drop (in-order replay means
        |nothing is ever late).""".stripMargin,
      Some(
        """WITH e AS (
          |  SELECT event_id, epoch_us(ts) // 1000 AS ts_ms,
          |         date_trunc('hour', ts) AS wstart
          |  FROM events WHERE ts IS NOT NULL),
          |fin AS (SELECT MAX(ts_ms) - 172800000 AS w_ms FROM e)
          |SELECT wstart AS window_start,
          |       wstart + INTERVAL 1 HOUR AS window_end,
          |       COUNT(*) AS n_events
          |FROM e, fin
          |WHERE epoch_us(wstart + INTERVAL 1 HOUR) // 1000 <= fin.w_ms
          |GROUP BY wstart
          |ORDER BY window_start""".stripMargin),
      (s, dir) => {
        val ev = Tables.events(s, dir).filter(col("ts").isNotNull)
          .select(col("event_id"), col("ts"))
        // originals in their epoch batch; every 3rd event duplicated
        // into the NEXT batch — cross-batch dedup, inside the watermark
        val feed = ev.withColumn("rb", epoch8d("ts").cast("long"))
          .unionAll(ev.filter(pmod(col("event_id"), lit(3)) === 0)
            .withColumn("rb", epoch8d("ts").cast("long") + 1))
        runReplay(s, "w_stream_dedup_replay", Seq((feed, col("rb")))) {
          case Seq(stream) =>
            stream
              .drop("rb")
              .withWatermark("ts", "2 days")
              .dropDuplicatesWithinWatermark("event_id")
              .groupBy(window(col("ts"), "1 hour"))
              .agg(count(lit(1)).as("n_events"))
        }
          .select(
            col("window.start").as("window_start"),
            col("window.end").as("window_end"),
            col("n_events"))
          .orderBy("window_start")
      }),

    Q(
      "j_stream_confirm_replay",
      """Stream-stream event-time range join, oracle-checked end to end —
        |the streaming form of the reference's post-then-poll confirmation
        |loop: purchases (dispatch side) join the views (confirmation
        |side) that arrive for the same user within 1 day. Both sides
        |replay IN event-time order (batch = absolute 8-day epoch of ts,
        |one file per side per micro-batch) under a 2-day watermark, so
        |no input row is late and state eviction only ever discards rows
        |whose match window the watermark has fully passed — the
        |append-mode streaming output is therefore EXACTLY the batch
        |join's answer, which is what the oracle states. The green row
        |proves the watermarked join plumbing loses nothing when it
        |shouldn't (the late-drop twin proves the opposite case).""".stripMargin,
      Some(
        """SELECT a.event_id AS a_id, b.event_id AS b_id, a.user_id,
          |       a.ts, b.ts AS cts
          |FROM events a JOIN events b ON a.user_id = b.user_id
          |WHERE a.event_type = 'purchase' AND b.event_type = 'view'
          |  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 DAY
          |ORDER BY a_id, b_id""".stripMargin),
      (s, dir) =>
        confirmationReplay(s, dir, "j_stream_confirm_replay", "inner")
          .select(col("a_id"), col("b_id"), col("user_id"), col("ts"), col("cts"))
          .orderBy("a_id", "b_id")),

    Q(
      "j_stream_outer_replay",
      """Stream-stream LEFT OUTER event-time join, oracle-checked — the
        |retry/timeout feed of the confirmation loop: purchases with NO
        |view within 1 day must surface as null-extended rows, but only
        |once the watermark PROVES no match can still arrive. Same
        |in-order 8-day-epoch replay and 2-day watermarks as
        |j_stream_confirm_replay; matched rows equal the batch inner
        |join; a null-extended row emits iff the purchase found no match
        |AND its 1-day match window closed strictly below the final
        |eviction watermark (min over both streams' max event time, ms
        |floor, minus the 2-day delay — the global watermark is the MIN
        |across inputs). Purchases whose window is still open when the
        |stream drains stay in state and never emit — exactly what the
        |oracle's cutoff states. Output ordering packs nulls as -1 so
        |both engines sort identically.""".stripMargin,
      Some(
        """WITH m AS (
          |  SELECT LEAST(
          |      (SELECT epoch_us(MAX(ts)) // 1000 FROM events WHERE event_type = 'purchase'),
          |      (SELECT epoch_us(MAX(ts)) // 1000 FROM events WHERE event_type = 'view'))
          |    - 172800000 AS wm),
          |inner_j AS (
          |  SELECT a.event_id AS a_id, b.event_id AS b_id, a.user_id,
          |         a.ts, b.ts AS cts
          |  FROM events a JOIN events b ON a.user_id = b.user_id
          |  WHERE a.event_type = 'purchase' AND b.event_type = 'view'
          |    AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 DAY),
          |unmatched AS (
          |  SELECT a.event_id AS a_id, CAST(NULL AS BIGINT) AS b_id, a.user_id,
          |         a.ts, CAST(NULL AS TIMESTAMP) AS cts
          |  FROM events a, m
          |  WHERE a.event_type = 'purchase'
          |    AND NOT EXISTS (
          |      SELECT 1 FROM events b
          |      WHERE b.event_type = 'view' AND b.user_id = a.user_id
          |        AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 1 DAY)
          |    AND (epoch_us(a.ts) // 1000) + 86400000 < m.wm)
          |SELECT a_id, b_id, user_id, ts, cts,
          |       COALESCE(b_id, -1) AS b_key
          |FROM (SELECT * FROM inner_j UNION ALL SELECT * FROM unmatched)
          |ORDER BY a_id, b_key""".stripMargin),
      (s, dir) =>
        confirmationReplay(s, dir, "j_stream_outer_replay", "left_outer")
          .select(col("a_id"), col("b_id"), col("user_id"), col("ts"), col("cts"),
            coalesce(col("b_id"), lit(-1L)).as("b_key"))
          .orderBy("a_id", "b_key")),

    Q(
      "w_stream_update_replay",
      """UPDATE-mode emission semantics, oracle-checked — the output mode
        |the append-mode rows never exercise: the same out-of-order
        |replay and hourly windowed count as w_watermark_late_drop, but
        |the sink receives EVERY revision — one row per (window,
        |micro-batch) in which the window absorbed at least one kept
        |event, carrying the post-batch running count. The oracle
        |reproduces the full emission LOG: per batch, rows kept by that
        |batch's late-event watermark (the two-watermark algebra again)
        |group to (window, batch) deltas, and the emitted count is the
        |cumulative sum over batches within the window. Counts strictly
        |increase per window, so (window, count) identifies each
        |emission and the output sorts totally without a batch column.
        |This is the dashboard-feeding mode (upsert sinks keyed on
        |window) — proving its revision history matches batch arithmetic
        |is what makes such a sink trustworthy.""".stripMargin,
      Some(
        s"""WITH e AS (
           |  SELECT event_id % $ReplayBatches AS b,
           |         epoch_us(ts) // 1000 AS ts_ms,
           |         date_trunc('hour', ts) AS wstart
           |  FROM events WHERE ts IS NOT NULL),
           |wm AS (
           |  SELECT b,
           |         GREATEST(COALESCE(
           |           MAX(max_ms) OVER (ORDER BY b
           |             ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
           |           - $DelayMs, 0), 0) AS w_ms
           |  FROM (SELECT b, MAX(ts_ms) AS max_ms FROM e GROUP BY b)),
           |kept AS (
           |  SELECT e.wstart, e.b
           |  FROM e JOIN wm USING (b)
           |  WHERE epoch_us(e.wstart + INTERVAL 1 HOUR) // 1000 > wm.w_ms),
           |g AS (SELECT wstart, b, CAST(COUNT(*) AS BIGINT) AS c
           |      FROM kept GROUP BY 1, 2)
           |SELECT wstart AS window_start,
           |       wstart + INTERVAL 1 HOUR AS window_end,
           |       CAST(SUM(c) OVER (PARTITION BY wstart ORDER BY b
           |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |         AS BIGINT) AS n_events
           |FROM g
           |ORDER BY window_start, n_events""".stripMargin),
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .filter(col("ts").isNotNull)
          .select(col("event_id"), col("ts"))
        // update: the one mode the other replays never use
        runReplay(s, "w_stream_update_replay",
          Seq((ev, pmod(col("event_id"), lit(ReplayBatches)))), outputMode = "update") {
          case Seq(stream) =>
            stream
              .withWatermark("ts", s"${DelayMs / 1000} seconds")
              .groupBy(window(col("ts"), "1 hour"))
              .agg(count(lit(1)).as("n_events"))
        }
          .select(
            col("window.start").as("window_start"),
            col("window.end").as("window_end"),
            col("n_events"))
          .orderBy("window_start", "n_events")
      }),

    Q(
      "w_transform_state_replay",
      """The transformWithState API (Spark 4.x's typed-state successor to
        |flatMapGroupsWithState) through the oracle gate, on the RocksDB
        |state store provider the API requires: a per-user running purchase
        |counter (ValueState) plus a distinct-day registry (MapState with a
        |ValueState count), emitting one row per (user, micro-batch) with
        |the post-batch running totals. In-order 8-day-epoch replay makes
        |the full emission history pure integer arithmetic: n_in_batch is
        |the user's count in that epoch, cum_after its running sum, and
        |days_so_far the running count of first-seen purchase days
        |(first-seen = MIN(epoch) per day — exactly how MapState dedups).
        |Proves cross-batch state propagation, typed state composition,
        |and per-batch append emission for the fourth stateful API
        |generation; TimeMode.None keeps the replay clock-free.""".stripMargin,
      Some(
        """WITH e AS (
          |  SELECT user_id,
          |         epoch_us(ts) // 691200000000 AS ep,
          |         epoch_us(ts) // 86400000000 AS day
          |  FROM events
          |  WHERE ts IS NOT NULL AND event_type = 'purchase'),
          |b AS (
          |  SELECT user_id, ep, COUNT(*) AS n_in_batch FROM e GROUP BY 1, 2),
          |d AS (
          |  SELECT user_id, day, MIN(ep) AS fep FROM e GROUP BY 1, 2),
          |nd AS (
          |  SELECT user_id, fep AS ep, COUNT(*) AS new_days FROM d GROUP BY 1, 2)
          |SELECT b.user_id, b.ep, b.n_in_batch,
          |       CAST(SUM(b.n_in_batch) OVER (PARTITION BY b.user_id ORDER BY b.ep
          |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_after,
          |       CAST(SUM(COALESCE(nd.new_days, 0)) OVER (PARTITION BY b.user_id ORDER BY b.ep
          |              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS days_so_far
          |FROM b LEFT JOIN nd ON b.user_id = nd.user_id AND b.ep = nd.ep
          |ORDER BY b.user_id, b.ep""".stripMargin),
      (s, dir) => graft.GraftSession.withConf(s, "spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
        val ev = Tables.events(s, dir)
          .filter(col("ts").isNotNull && col("event_type") === "purchase")
          .select(col("user_id"), col("ts"))
        runReplay(s, "w_transform_state_replay", Seq((ev, epoch8d("ts")))) {
          case Seq(stream) =>
            import s.implicits._
            stream
              .select(col("user_id").as("userId"),
                expr("unix_micros(ts)").as("tsMicros"))
              .as[graft.streaming.RunningCounter.Tick]
              .groupByKey(_.userId)
              .transformWithState(
                new graft.streaming.RunningCounterProcessor,
                org.apache.spark.sql.streaming.TimeMode.None(),
                org.apache.spark.sql.streaming.OutputMode.Append())
              .toDF()
        }
          .orderBy("user_id", "ep")
      }),

    Q(
      "j_stream_static_enrich",
      """STREAM-STATIC join under the watermark — the fifth streaming
        |operator class through the gate (after windowed agg, both
        |stream-stream joins, arbitrary state, and dedup state), and the
        |most common production shape of all: an event stream enriched by
        |a broadcast dimension (user → nation) before a stateful windowed
        |aggregation. The stream-static join itself is STATELESS (the dim
        |is a batch side, re-joined per micro-batch, no eviction) — what
        |the oracle proves is that the join composes correctly with the
        |two-watermark algebra around it: events replay OUT of order
        |(batch = event_id % 4, as in w_watermark_late_drop), every
        |event row advances the watermark whether or not it matches a
        |customer (orphan user_ids exist by construction — the
        |audit_referential evidence), the late filter applies at the
        |aggregation AFTER enrichment, and append mode emits exactly the
        |windows the final watermark closed, now keyed (window, nation).
        |Identical-per-batch dim snapshots make the replay deterministic;
        |at cluster scale the dim rides broadcast, so enrichment adds
        |zero shuffle to the streaming plan.""".stripMargin,
      Some(
        s"""WITH e AS (
           |  SELECT event_id % $ReplayBatches AS b, user_id,
           |         epoch_us(ts) // 1000 AS ts_ms,
           |         date_trunc('hour', ts) AS wstart
           |  FROM events WHERE ts IS NOT NULL),
           |wm AS (
           |  SELECT b,
           |         GREATEST(COALESCE(
           |           MAX(max_ms) OVER (ORDER BY b
           |             ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING)
           |           - $DelayMs, 0), 0) AS w_ms
           |  FROM (SELECT b, MAX(ts_ms) AS max_ms FROM e GROUP BY b)),
           |kept AS (
           |  SELECT e.wstart, e.user_id
           |  FROM e JOIN wm USING (b)
           |  WHERE epoch_us(e.wstart + INTERVAL 1 HOUR) // 1000 > wm.w_ms),
           |fin AS (SELECT MAX(ts_ms) - $DelayMs AS w_ms FROM e),
           |j AS (
           |  SELECT k.wstart, CAST(c.c_nationkey AS BIGINT) AS nation
           |  FROM kept k JOIN customer c ON k.user_id = c.c_custkey)
           |SELECT wstart AS window_start,
           |       wstart + INTERVAL 1 HOUR AS window_end,
           |       nation, COUNT(*) AS n_events
           |FROM j, fin
           |WHERE epoch_us(wstart + INTERVAL 1 HOUR) // 1000 <= fin.w_ms
           |GROUP BY 1, 2, 3
           |ORDER BY window_start, nation""".stripMargin),
      (s, dir) => {
        val ev = Tables.events(s, dir)
          .filter(col("ts").isNotNull)
          .select(col("event_id"), col("user_id"), col("ts"))
        val dim = Tables.customer(s, dir)
          .select(col("c_custkey").as("user_id"),
            col("c_nationkey").cast("long").as("nation"))
        runReplay(s, "j_stream_static_enrich",
          Seq((ev, pmod(col("event_id"), lit(ReplayBatches))))) {
          case Seq(stream) =>
            stream
              .withWatermark("ts", s"${DelayMs / 1000} seconds")
              .join(broadcast(dim), "user_id") // stream-static inner
              .groupBy(window(col("ts"), "1 hour"), col("nation"))
              .agg(count(lit(1)).as("n_events"))
        }
          .select(
            col("window.start").as("window_start"),
            col("window.end").as("window_end"),
            col("nation"), col("n_events"))
          .orderBy("window_start", "nation")
      }))
}
