package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{count, max}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec
import graft.ops.Lineage._

/** Pins the serialized-storage contract of `cutLineage` (round 13): the
  * 20× bench attempt OOM'd an 8 GiB heap unrolling a DESERIALIZED
  * `localCheckpoint` of `g_sssp_bellman`'s frontier across 32 concurrent
  * tasks, killing the shared local SparkContext. `cutLineage` must keep
  * (a) the lineage cut and (b) MEMORY_AND_DISK_SER block storage — a
  * regression back to `Dataset.localCheckpoint`'s deserialized default
  * would reintroduce the OOM at exactly the scale the small suites never
  * reach, so the storage level is asserted here, not assumed.
  */
class LineageSpec extends SparkSpec {

  test("cutLineage stores checkpoint blocks MEMORY_AND_DISK_SER and cuts lineage") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = (1 to 1000).toDF("n").filter($"n" % 7 === 0).cutLineage()
    assert(df.count() === 142)

    val newRdds = spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => before.contains(id) }
    assert(newRdds.nonEmpty, "cutLineage must register a persistent RDD")
    val levels = newRdds.values.map(_.getStorageLevel).toSeq
    assert(levels.forall(l => l.useDisk && !l.deserialized),
      s"checkpoint blocks must be serialized disk-backed, got $levels")

    // lineage is actually truncated: the checkpointed plan no longer
    // depends on the original LocalTableScan/filter chain
    assert(df.queryExecution.optimizedPlan.collectLeaves()
      .forall(_.getClass.getSimpleName.contains("LogicalRDD")),
      "cutLineage must replace the upstream plan with the checkpointed RDD")

    newRdds.values.foreach(_.unpersist(blocking = false))
  }

  test("AppendOnlyCuts bounds live block sets and preserves the union") {
    // round-16 guard (r15 verdict #3): append-only loops used to pin one
    // block set per round forever — fine at 3 rounds, silent
    // accumulation at 100. The accumulator must coalesce past the bound,
    // release the superseded deltas, and lose no rows doing it.
    import spark.implicits._
    val sc = spark.sparkContext
    val base = sc.getPersistentRDDs.keySet
    val acc = new Lineage.AppendOnlyCuts(4)
    var maxLive = 0
    (0 until 13).foreach { i =>
      val coalesced = acc.add((i * 10 until i * 10 + 10).toDF("n").cutLineage())
      assert(coalesced === (i == 4 || i == 8 || i == 12),
        s"coalesce fired at the wrong add ($i)")
      maxLive = math.max(maxLive,
        sc.getPersistentRDDs.keySet.diff(base).size)
    }
    // 13 adds at coalesceEvery=4: merges fire on adds 5, 9, 13
    assert(acc.coalesceCount === 3)
    assert(acc.frameCount === 1, "post-merge the accumulator holds ONE frame")
    assert(maxLive <= 6,
      s"live block sets must stay bounded by coalesceEvery + 2, saw $maxLive")
    // data integrity across merges: every appended row, exactly once
    assert(acc.union.as[Int].collect().sorted === (0 until 130).toArray)
    assert(sc.getPersistentRDDs.keySet.diff(base).size <= 1,
      "superseded per-round deltas must be released after the final merge")
    sc.getPersistentRDDs
      .filterNot { case (id, _) => base.contains(id) }
      .values.foreach(_.unpersist(blocking = false))
  }

  test("AppendOnlyCuts refuses a derived (non-checkpoint) frame loudly") {
    // coalescing RELEASES the added frames' blocks; on a derived plan the
    // release would walk to the INPUTS' checkpoints — unrecoverable. The
    // guard must fail at add time, not corrupt state at merge time.
    import spark.implicits._
    val acc = new Lineage.AppendOnlyCuts(4)
    val cut = (1 to 10).toDF("n").cutLineage()
    val derived = cut.filter($"n" > 3)
    val e = intercept[IllegalArgumentException](acc.add(derived))
    assert(e.getMessage.contains("cutLineage"))
    assert(acc.isEmpty, "a refused add must not enqueue the frame")
    Lineage.releaseCut(cut)
  }

  test("cutLineage(false) stays lazy until an action materializes it") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = (1 to 100).toDF("n").cutLineage(eager = false)
    val lazyNew = spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => before.contains(id) }
      .values.filter(_.getStorageLevel.useMemory)
    // nothing materialized yet: no blocks cached for this frame
    assert(df.count() === 100)
    val after = spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => before.contains(id) }
    assert(after.values.forall(r => !r.getStorageLevel.deserialized),
      "lazy cutLineage must still use serialized storage once materialized")
    after.values.foreach(_.unpersist(blocking = false))
    assert(lazyNew.isEmpty || lazyNew.forall(!_.getStorageLevel.deserialized))
  }
  // --- Lineage.iterate: the shared cut-per-round loop's retention rules ---

  private def rddId(df: DataFrame): Int =
    df.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id
  private def live(df: DataFrame): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(rddId(df))
  private def materialized(df: DataFrame): Boolean =
    spark.sparkContext.getRDDStorageInfo
      .exists(i => i.id == rddId(df) && i.numCachedPartitions > 0)

  test("iterate releases a superseded cut only after its replacement materializes") {
    import spark.implicits._
    val sc = spark.sparkContext
    val base = sc.getPersistentRDDs.keySet
    val invariant = (1 to 10).toDF("k").cutLineage()
    val seed = (1 to 100).toDF("n").cutLineage()
    val seen = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    val loop = Lineage.iterate(seed, 4, inputs = Seq(invariant)) { (df, r) =>
      // round r reads round r-1's cut: live and materialized; the frame it
      // superseded (round r-2's) is already gone
      assert(live(df) && materialized(df), s"round $r input not live")
      if (r >= 2) assert(!live(seen(r - 2)), s"round ${r - 2} cut outlived round ${r - 1}")
      seen += df
      df.crossJoin(invariant.agg(count($"k").as("c")))
        .select(($"n" + $"c" - 9).cast("int").as("n"))
    }
    assert(loop.rounds === 4)
    assert(loop.frame.as[Int].collect().sorted === (5 to 104).toArray)
    assert(seen.forall(!live(_)), "a superseded round cut survived the loop")
    assert(!live(invariant), "loop-invariant inputs are released after a cut last round")
    assert(sc.getPersistentRDDs.keySet.diff(base) === Set(rddId(loop.frame)))
    Lineage.releaseCut(loop.frame)
  }

  test("iterate never releases a derived (non-cut) seed or the cut it reads") {
    import spark.implicits._
    val cut = (1 to 100).toDF("n").cutLineage()
    // a derived seed: walking its plan would reach `cut`, which the
    // caller still reads after the loop
    val seed = cut.filter($"n" % 2 === 0)
    val loop = Lineage.iterate(seed, 3) { (df, _) => df.select(($"n" + 1).as("n")) }
    assert(live(cut), "iterate released the cut behind a derived seed")
    assert(cut.count() === 100)
    assert(loop.frame.as[Int].collect().sorted === (2 to 100 by 2).map(_ + 3).toArray)
    Lineage.releaseCut(loop.frame)
    Lineage.releaseCut(cut)
  }

  test("iterate keeps an uncut last round's input live, and releases an unread one's") {
    import spark.implicits._
    val step = (df: DataFrame, _: Int) => df.select(($"n" * 2).as("n"))
    val invariant = (1 to 3).toDF("k").cutLineage()
    val uncut = Lineage.iterate((1 to 10).toDF("n").cutLineage(), 3,
      last = Lineage.LastRound.Uncut, inputs = Seq(invariant))(step)
    assert(!uncut.frame.queryExecution.analyzed.isInstanceOf[LogicalRDD],
      "the last round must not be cut")
    assert(live(uncut.previous), "the uncut last round's input cut was released")
    assert(live(invariant), "an uncut last round still reads the loop inputs")
    assert(uncut.frame.as[Int].collect().sorted === (1 to 10).map(_ * 8).toArray)
    Lineage.releaseCut(uncut.previous)
    Lineage.releaseCut(invariant)

    val unread = Lineage.iterate((1 to 10).toDF("n").cutLineage(), 3,
      last = Lineage.LastRound.Unread)(step)
    assert(unread.rounds === 3)
    assert(!live(unread.previous), "an unread last round's input cut must be released")
  }

  test("a probe-driven iterate stops at its fixpoint, or else at maxRounds") {
    import spark.implicits._
    def halve(maxRounds: Int) = Lineage.iterate((1 to 64).toDF("n").cutLineage(),
      maxRounds, converged = d => d.agg(max($"n")).first().getInt(0) == 0) {
      (df, _) => df.select(($"n" / 2).cast("int").as("n"))
    }
    // 64 halves to 0 in 7 rounds; the converging round counts
    val fix = halve(20)
    assert(fix.rounds === 7)
    assert(fix.frame.as[Int].collect().toSet === Set(0))
    val capped = halve(3)
    assert(capped.rounds === 3)
    assert(capped.frame.as[Int].collect().sorted === (1 to 64).map(_ / 8).toArray)
    Lineage.releaseCut(fix.frame)
    Lineage.releaseCut(capped.frame)
  }
}
