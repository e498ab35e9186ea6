package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Lineage truncation for iterative/reused frames.
  *
  * Every fixpoint loop (connected components, pagerank, SSSP, k-core)
  * and multi-consumer intermediate in this engine cuts lineage with a
  * LOCAL checkpoint — but `Dataset.localCheckpoint(eager)` caches the
  * materialized RDD at MEMORY_AND_DISK **deserialized**, and unrolling
  * deserialized `UnsafeRow` copies across 32 concurrent local-mode tasks
  * is exactly what killed the 20× bench attempt with a Java-heap OOM
  * (round 13, `g_sssp_bellman`: `MemoryStore.putIteratorAsValues` →
  * `UnsafeRow.copy` OOM at 8 GiB, stopping the shared SparkContext).
  *
  * `cutLineage` is the drop-in replacement: same lineage cut, same
  * eager/lazy choice, but the checkpoint blocks are stored
  * MEMORY_AND_DISK_SER — serialized blocks are several times smaller,
  * unroll through the byte-buffer path with honest memory accounting,
  * and evict/spill per-block instead of blowing the heap. At cluster
  * scale the same choice bounds executor memory for checkpoint blocks
  * by the storage pool, trading a cheap ser/deser pass per round for
  * OOM-free degradation — the same "degrade to disk, don't die"
  * contract the constrained bench pass measures for shuffles.
  *
  * (A durable-infrastructure deployment swaps this for reliable
  * `checkpoint()` to cluster storage — see PLANS.md; the storage-level
  * concern is identical.)
  */
object Lineage {
  implicit class LineageOps[T](private val ds: Dataset[T]) extends AnyVal {
    /** `localCheckpoint` with serialized block storage. `eager` defaults
      * to true to mirror `Dataset.localCheckpoint()`. */
    def cutLineage(eager: Boolean = true): Dataset[T] =
      ds.localCheckpoint(eager, StorageLevel.MEMORY_AND_DISK_SER)
  }

  /** Unpersist every LogicalRDD in `df`'s analyzed plan. For a frame
    * returned by `cutLineage` that is exactly its own checkpoint RDD
    * (`Dataset.unpersist` cannot release it: localCheckpoint caches the
    * RDD outside the dataset cache manager). Never call it on a DERIVED
    * frame: its plan can reach checkpoint-backed inputs that other
    * consumers still read, and truncated lineage cannot recompute. */
  def releaseCut(df: Dataset[_]): Unit =
    df.queryExecution.analyzed.foreach {
      case l: LogicalRDD => l.rdd.unpersist(false); ()
      case _ => ()
    }

  private def isCut(df: Dataset[_]): Boolean =
    df.queryExecution.analyzed.isInstanceOf[LogicalRDD]

  /** How [[iterate]] treats the last round's frame. */
  sealed trait LastRound
  object LastRound {
    /** Cut like every other round. */
    case object Cut extends LastRound
    /** Returned un-cut: it feeds only the caller's final plan, so cutting
      * it would pay a materialization job to re-read the frame once. Its
      * plan reads the previous round's cut, which stays live. */
    case object Uncut extends LastRound
    /** Built for the step's side effects only (its own cuts); the frame
      * itself is never read, so it is not cut and the previous round's
      * cut is released once the step returns. */
    case object Unread extends LastRound
  }

  /** The loop's final frame, the frame before it, and the rounds run. */
  final case class Iterated(frame: DataFrame, previous: DataFrame, rounds: Int)

  /** The cut-per-round fixpoint loop every iterative operator shares.
    *
    * Round r (1-based) runs `step(frame, r)` and cuts its result, so the
    * analyzer and optimizer see a LogicalRDD each round instead of a plan
    * that grows with every round (with a self-join it doubles: CC measured
    * 3 s -> 11 s -> stuck by round 5 on 5000 rows). The cut is eager, or
    * lazy when `converged` is given: the probe's one-row action then
    * materializes the round, one driver barrier per round. The loop stops
    * after `maxRounds` rounds or at the first round whose frame the probe
    * reports converged; that round counts.
    *
    * Retention: once a round's cut has materialized, the superseded frame
    * is released — the round before it instead when `keepPrevious`, whose
    * caller reads the last two frames — so the block store holds the
    * current frame, not rounds x frame, and nothing waits for the
    * ContextCleaner. A frame is released only if it is a bare cut (the
    * test [[AppendOnlyCuts.add]] uses): a derived seed's plan can reach
    * the caller's checkpoint-backed inputs, so it is never walked.
    * `inputs` are loop-invariant cuts the step reads; they are released
    * after the last round unless that round is [[LastRound.Uncut]], whose
    * plan still reads them.
    *
    * Append-only loops pass `deltas`: the seed and every round's cut are
    * added to it and never released here, since the running union reads
    * them all; the accumulator bounds their count. When an add coalesces,
    * the next step receives the merged union instead of the (released)
    * round frame.
    *
    * At 100 TB the same loop would cut with durable `checkpoint()` so a
    * lost executor does not replay every round (PLANS.md "cutLineage
    * loop-site classification" lists each site's mode). */
  def iterate(seed: DataFrame, maxRounds: Int,
              converged: DataFrame => Boolean = null,
              last: LastRound = LastRound.Cut,
              keepPrevious: Boolean = false,
              inputs: Seq[DataFrame] = Nil,
              deltas: AppendOnlyCuts = null)
             (step: (DataFrame, Int) => DataFrame): Iterated = {
    def release(df: DataFrame): Unit = if ((df ne null) && isCut(df)) releaseCut(df)
    // append-only frames stay in `deltas`, which owns their release
    def supersede(df: DataFrame): Unit = if (deltas eq null) release(df)
    if (deltas ne null) deltas.add(seed)
    var previous: DataFrame = null
    var frame = seed
    var rounds = 0
    var done = false
    while (!done && rounds < maxRounds) {
      rounds += 1
      val plan = step(frame, rounds)
      if (rounds == maxRounds && last != LastRound.Cut) {
        if (last == LastRound.Unread) {
          supersede(frame)
          if (keepPrevious) supersede(previous)
        }
        previous = frame
        frame = plan
      } else {
        val next = plan.cutLineage(eager = converged eq null)
        if (converged ne null) done = converged(next)
        val carried = if ((deltas ne null) && deltas.add(next)) deltas.union else next
        supersede(if (keepPrevious) previous else frame)
        previous = frame
        frame = carried
      }
    }
    if (last != LastRound.Uncut) inputs.foreach(release)
    Iterated(frame, previous, rounds)
  }

  /** Append-only checkpoint accumulator — the guard the loop-site
    * classification table's APPEND-ONLY rows (PLANS.md) relied on a
    * comment for until round 16. Loops whose result is the UNION of
    * per-round deltas (BFS level frames, k-core peel batches) pin one
    * block set per round by construction: every prior delta stays
    * referenced by the running union, so nothing is ever superseded and
    * `releaseCut` has nothing to release. Fine at 3 rounds; a 100-round
    * loop would hold 100 live block sets. This accumulator bounds that:
    * once more than `coalesceEvery` deltas are live, it unions them into
    * ONE fresh cut (eager, so the data is safely re-materialized first),
    * releases the superseded per-round blocks, and continues from the
    * merged frame — live block sets never exceed `coalesceEvery + 1`,
    * and each delta row is re-serialized at most once per `coalesceEvery`
    * rounds (amortized O(1) serialize work per row, vs the O(rounds)
    * re-cut-the-union-every-round shape round 14 removed).
    *
    * Every frame passed to [[add]] MUST be a frame returned by
    * [[LineageOps.cutLineage]] — coalescing releases the added frames'
    * blocks, and a DERIVED plan would walk to its inputs' checkpoints
    * and release those instead (unrecoverable: truncated lineage cannot
    * recompute). The require below fails loudly on any other shape.
    * Callers must also re-derive any round-local view (e.g. the BFS
    * frontier) from [[union]] when `add` reports a coalesce, because the
    * individual delta it was derived from is gone. */
  final class AppendOnlyCuts(coalesceEvery: Int) {
    require(coalesceEvery >= 1, s"coalesceEvery must be >= 1, got $coalesceEvery")
    private val frames =
      scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    private var merges = 0
    /** Live checkpointed frames (bounded at coalesceEvery + 1). */
    def frameCount: Int = frames.length
    /** How many coalesces have happened (deep-loop test observability). */
    def coalesceCount: Int = merges
    /** Append a freshly cut delta; returns true iff this add coalesced
      * (callers holding views of earlier deltas must re-derive them). */
    def add(delta: DataFrame): Boolean = {
      require(isCut(delta),
        "AppendOnlyCuts.add requires a frame produced by cutLineage: " +
          "coalescing releases the added frame's blocks, and a derived " +
          "plan would release its INPUTS' checkpoints instead " +
          s"(got plan class ${delta.queryExecution.analyzed.getClass.getSimpleName})")
      frames += delta
      if (frames.length > coalesceEvery) {
        val merged = union.cutLineage() // eager: materialized BEFORE release
        frames.foreach(releaseCut)
        frames.clear()
        frames += merged
        merges += 1
        true
      } else false
    }
    /** The running union of everything appended so far. */
    def union: DataFrame = {
      require(frames.nonEmpty, "AppendOnlyCuts.union on an empty accumulator")
      frames.reduce(_ unionAll _)
    }
    def isEmpty: Boolean = frames.isEmpty
  }
}
