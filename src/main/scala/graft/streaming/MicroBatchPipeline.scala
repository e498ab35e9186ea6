package graft.streaming

import graft.functions.{Quantities, Text}
import graft.state.{DispatchState, KeyIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row

/** §2.9 — the streaming re-expression of the reference's Airflow polling
  * loops (SURVEY.md; /root/reference/backend/dags/dag_bakery_system_to_jde.py:
  * 445-487): poll-every-N-minutes + days_back lookback + state-table dedup
  * becomes Structured Streaming with watermark + dropDuplicates +
  * foreachBatch state merge.
  *
  * Mapping, piece by piece:
  *  - Airflow `schedule_interval` 5 min  -> `Trigger.ProcessingTime` /
  *    `Trigger.AvailableNow` for catch-up batch runs;
  *  - `days_back` re-read window         -> `withWatermark(eventTime, lateness)`:
  *    bounded-lateness state instead of re-reading and re-filtering;
  *  - `unique_transaction_id` state probe (J5) ->
  *    `dropDuplicatesWithinWatermark` (watermark-evicted dedup state) +
  *    cross-run DispatchState anti-join in foreachBatch;
  *  - per-row POST + ON CONFLICT upsert (K5+K4) -> foreachBatch: dispatch
  *    callback per partition + one state merge per micro-batch.
  */
object MicroBatchPipeline {
  /** Event-time dedup + hourly aggregation over a stream with bounded
    * lateness — the streaming twin of query `w_tumbling_hourly`.
    *
    * `dropDuplicatesWithinWatermark`, not `dropDuplicates`: with plain
    * dropDuplicates the dedup keys omit the event-time column, so the
    * watermark never evicts dedup state and it grows without bound on a
    * long-running stream. The WithinWatermark variant keys state on
    * `event_id` but expires each entry once the watermark passes its
    * event time — bounded state, and exact dedup as long as a duplicate
    * arrives within the lateness bound (the same guarantee the watermark
    * already imposes on the aggregation). */
  def windowedCounts(events: DataFrame, lateness: String = "1 day"): DataFrame =
    events
      .withWatermark("ts", lateness)
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"))

  case class Adjustment(productId: Long, adjustmentType: String, qty: Double, ts: java.sql.Timestamp)
  case class OnHand(productId: Long, amount: Double, nAdjustments: Long)

  /** K7/A5 as arbitrary streaming state (mapGroupsWithState): the running
    * on-hand mutation — USAGE decrements, everything else increments,
    * clamped at zero after each batch's net effect
    * (/root/reference/backend/main.py:1770-1789). State is per product key,
    * partitioned by Spark's state store; update order inside a batch
    * follows event time for determinism. */
  def runningOnHand(adjustments: org.apache.spark.sql.Dataset[Adjustment])
      : org.apache.spark.sql.Dataset[OnHand] = {
    import adjustments.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    adjustments
      .groupByKey(_.productId)
      .mapGroupsWithState[OnHand, OnHand](GroupStateTimeout.NoTimeout) {
        (productId, rows, state: GroupState[OnHand]) =>
          val prev = state.getOption.getOrElse(OnHand(productId, 0.0, 0L))
          val batch = rows.toSeq.sortBy(_.ts.getTime)
          val next = batch.foldLeft(prev) { (acc, adj) =>
            val signed = if (adj.adjustmentType == "USAGE") -adj.qty else adj.qty
            acc.copy(
              amount = math.max(0.0, acc.amount + signed),
              nAdjustments = acc.nAdjustments + 1)
          }
          state.update(next)
          next
      }
  }

  case class SessionEvent(userId: Long, ts: java.sql.Timestamp, value: Double)
  case class UserSession(userId: Long, start: java.sql.Timestamp,
                         end: java.sql.Timestamp, nEvents: Long, totalValue: Double)
  case class SessionAcc(startMs: Long, endMs: Long, n: Long, sum: Double)

  private def toSession(userId: Long, acc: SessionAcc) = UserSession(userId,
    new java.sql.Timestamp(acc.startMs), new java.sql.Timestamp(acc.endMs),
    acc.n, acc.sum)

  /** The gap-merge fold both sessionizers share: one key's micro-batch
    * `rows`, in event-time order, extend the `open` session while the gap
    * to its end is at most `gapMs`; a larger gap closes it. Returns the
    * sessions closed in this batch and the session left open. */
  private def mergeGaps(userId: Long, rows: Iterator[SessionEvent],
                        open: Option[SessionAcc], gapMs: Long)
      : (Seq[UserSession], Option[SessionAcc]) = {
    var acc = open.orNull
    val closed = Seq.newBuilder[UserSession]
    rows.toSeq.sortBy(_.ts.getTime).foreach { e =>
      val t = e.ts.getTime
      if (acc == null) acc = SessionAcc(t, t, 1, e.value)
      else if (t - acc.endMs <= gapMs)
        // min/max, not assignment: an out-of-order event delivered in a
        // LATER micro-batch (but inside the watermark) must never regress
        // the session bounds — output would then depend on micro-batch
        // boundaries.
        acc = acc.copy(
          startMs = math.min(acc.startMs, t),
          endMs = math.max(acc.endMs, t),
          n = acc.n + 1, sum = acc.sum + e.value)
      else {
        closed += toSession(userId, acc)
        acc = SessionAcc(t, t, 1, e.value)
      }
    }
    (closed.result(), Option(acc))
  }

  /** Gap-based sessionization via flatMapGroupsWithState: events closer
    * than `gap` in event time merge into one session; a larger gap closes
    * the session and emits it, the open session stays in state across
    * micro-batches. The reference has no session semantics (§2.9:
    * capability extension). Idle-session expiry would add a
    * GroupStateTimeout (ProcessingTime or EventTime+watermark) on top of
    * this same skeleton; deployment-level concern, kept out so batch tests
    * stay timer-free. */
  def sessionize(events: org.apache.spark.sql.Dataset[SessionEvent],
                 gap: scala.concurrent.duration.FiniteDuration)
      : org.apache.spark.sql.Dataset[UserSession] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .groupByKey(_.userId)
      .flatMapGroupsWithState[SessionAcc, UserSession](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (userId, rows, state: GroupState[SessionAcc]) =>
          val (closed, open) = mergeGaps(userId, rows, state.getOption, gap.toMillis)
          open.foreach(state.update)
          closed.iterator
      }
  }

  /** Sessionization with idle expiry: the same gap-merge fold as
    * [[sessionize]], plus `GroupStateTimeout.EventTimeTimeout` so a
    * session whose user goes quiet is CLOSED once the event-time
    * watermark passes (last event + gap) — without it, the final session
    * of every key stays in state forever and is never emitted. The
    * timeout is driven by the watermark (not wall clock), so replays and
    * catch-up runs produce identical output — the property the batch twin
    * `w_sessionize_gap` verifies against the oracle. State per key is one
    * fixed-size accumulator, evicted on timeout: bounded by the number of
    * concurrently-active users, not by history. */
  def sessionizeExpiring(events: org.apache.spark.sql.Dataset[SessionEvent],
                         gap: scala.concurrent.duration.FiniteDuration,
                         lateness: String = "10 minutes")
      : org.apache.spark.sql.Dataset[UserSession] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .withWatermark("ts", lateness)
      .groupByKey(_.userId)
      .flatMapGroupsWithState[SessionAcc, UserSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId, rows, state: GroupState[SessionAcc]) =>
          if (state.hasTimedOut) {
            // watermark passed (end + gap): no on-time event can extend
            // this session any more — close, emit, evict.
            val acc = state.get
            state.remove()
            Iterator.single(toSession(userId, acc))
          } else {
            val (closed, open) = mergeGaps(userId, rows, state.getOption, gap.toMillis)
            open.foreach { acc =>
              state.update(acc)
              // close when the watermark proves no extension can arrive;
              // clamp to the watermark so a session already older than
              // the current watermark times out at the next opportunity
              // (setTimeoutTimestamp rejects timestamps in the past).
              state.setTimeoutTimestamp(
                math.max(acc.endMs + gap.toMillis,
                  state.getCurrentWatermarkMs() + 1))
            }
            closed.iterator
          }
      }
  }

  /** Stream-stream event-time join: pair each dispatched record with the
    * confirmation that arrives for its key within `confirmWindow` — the
    * streaming re-expression of the reference's post-then-poll-status
    * loop (jde_helper.py posts an II document, later polls its status by
    * unique_transaction_id). Both sides are watermarked and the join
    * carries an event-time range, so Spark can bound the join state and
    * evict rows once the watermark proves no match can still arrive.
    *
    * `joinType`:
    *  - "inner": emit only confirmed pairs as they match;
    *  - "left_outer": additionally emit each unmatched dispatch with null
    *    confirmation columns once the watermark passes its window — the
    *    retry feed (reference: rows left 'pending' after the poll loop).
    *
    * Expected columns: dispatches(unique_transaction_id, ts, ...),
    * confirmations(unique_transaction_id, cts, ...). */
  def confirmationJoin(
      dispatches: DataFrame,
      confirmations: DataFrame,
      confirmWindow: String = "1 hour",
      lateness: String = "10 minutes",
      joinType: String = "inner"): DataFrame = {
    val d = dispatches.withWatermark("ts", lateness)
    val c = confirmations.withWatermark("cts", lateness)
    d.join(
      c,
      d("unique_transaction_id") === c("unique_transaction_id") &&
        c("cts") >= d("ts") &&
        c("cts") <= d("ts") + expr(s"INTERVAL $confirmWindow"),
      joinType)
      .drop(c("unique_transaction_id"))
  }

  /** The dispatch pipeline: derive the idempotency key, drop in-stream
    * duplicates within the watermark, then per micro-batch anti-join the
    * cross-run state, hand pending rows to `dispatch`, and mark them done. */
  def dispatchStream(
      records: DataFrame,
      stateDir: String,
      dispatch: Iterator[Row] => Unit,
      lateness: String = "1 day"): DataStreamWriter[Row] = {
    val keyed = records
      .withColumn("unique_transaction_id",
        Quantities.uniqueTransactionId(col("name"), col("lot"), col("vessel"), col("qty")))
      .withWatermark("ts", lateness)
      // WithinWatermark: state for each seen key is evicted once the
      // watermark passes its event time (plain dropDuplicates on a
      // non-time key never evicts). Cross-run / beyond-watermark dedup
      // is the DispatchState anti-join below, so the in-stream dedup
      // only needs to hold keys inside the lateness window.
      .dropDuplicatesWithinWatermark("unique_transaction_id")
    keyed.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        val pending = DispatchState.pending(batch, spark, stateDir)
          .persist()
        try {
          pending.foreachPartition(dispatch)
          DispatchState.upsert(spark, stateDir,
            pending.select(
              col("unique_transaction_id"),
              lit("done").as("status"),
              lit("dispatched").as("detail"),
              current_timestamp().as("updated_at")))
        } finally pending.unpersist()
      }
  }

  /** Streaming incremental corpus ingest — the stateful twin of query
    * `dd_incremental`: each micro-batch of documents is deduped first
    * WITHIN the batch (first doc_id per normalized content key wins,
    * mirroring the batch query's dup_batch rule), then against the
    * persistent [[KeyIndex]] of every key ever ingested (dup_history);
    * survivors are handed to `emit` (lake append in production) and their
    * keys folded into the index. Replaying a crashed batch is idempotent:
    * KeyIndex.add is first-writer-wins and the re-run's survivors are the
    * same rows.
    *
    * The index frame is key-sized, never corpus-sized; at 100 TB it lives
    * bucketed by key so the anti-join shuffles only the incoming batch.
    */
  def ingestDedupStream(
      documents: DataFrame,
      indexDir: String,
      emit: DataFrame => Unit): DataStreamWriter[Row] = {
    documents.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import org.apache.spark.sql.expressions.Window
        val keyed = batch
          .withColumn("norm_key", Text.normalizedKey(col("text")))
          .withColumn("rn", row_number().over(
            Window.partitionBy("norm_key").orderBy(col("doc_id"))))
          .filter(col("rn") === 1)
          .drop("rn")
        val fresh = KeyIndex.newRows(keyed, "norm_key", spark, indexDir)
          .persist()
        try {
          emit(fresh)
          KeyIndex.add(spark, indexDir, fresh.select("norm_key"), batchId)
        } finally fresh.unpersist()
      }
  }
}
