package graft.queries

import graft.SparkSpec
import graft.streaming.StreamProbe

/** Measured watermark-boundedness of the stream-stream join state
  * (round-15 verdict #2). The catalog's two most expensive queries —
  * `j_stream_confirm_replay` / `j_stream_outer_replay` — carry the
  * at-scale claim "join state is bounded by the watermark"; until round
  * 16 that claim was plan-level. This spec replays both through the real
  * harness at the smoke SF and asserts the plateau on the recorded
  * `stateOperators` trace (StreamProbe), the way GraphOpsSpec pins
  * checkpoint retention.
  *
  * The replay feeds 8-day-epoch micro-batches under a 2-day watermark,
  * so the horizon any batch's state may cover is the current batch plus
  * at most one batch-stride behind (the eviction watermark lags one
  * batch, and the ≤2-day tail that can still match is far inside one
  * 8-day stride). The per-batch pin below — state ≤ the last three
  * batches' input — is that horizon with one stride of slack for the
  * lagging watermark and the final drain batch; the unbounded failure
  * mode (state ≈ cumulative input, i.e. eviction silently off) breaks
  * it from batch 2 on. Measured at sf0.001: inputs 65/115/102/92/16/0
  * cumulative 390, state 65/149/149/123/42/31 — peak 38% of cumulative
  * and draining, with 359 (inner) / 173 (outer) rows evicted.
  * graft.StreamStateAudit commits the same trace at 1× and 10× of sf0.1.
  */
class StreamStateSpec extends SparkSpec {

  private def trace(qname: String): Seq[StreamProbe.BatchState] = {
    val sink = StreamingQueries.sinks(qname)
    Catalog.byName(qname).build(spark, sfSmoke)
      .write.format("noop").mode("overwrite").save()
    StreamProbe.get(sink)
      .getOrElse(fail(s"no state trace recorded for $sink"))
  }

  private def assertWatermarkBounded(qname: String,
                                     t: Seq[StreamProbe.BatchState]): Unit = {
    assert(t.length >= 4, s"$qname: expected a multi-batch replay, got ${t.length}")
    val total = t.map(_.inputRows).sum
    val maxState = t.map(_.stateRows).max
    val last = t.last.stateRows
    assert(total > 0 && maxState > 0, s"$qname: empty replay")
    // eviction actually runs: rows leave state as the watermark advances
    assert(t.map(_.rowsRemoved).sum > 0,
      s"$qname: no state rows were ever evicted — watermark eviction is off")
    // the plateau: peak state stays well under cumulative input, and the
    // trace DRAINS rather than accumulating to the end
    assert(maxState * 2 < total,
      s"$qname: peak state $maxState vs cumulative input $total — state is " +
        "tracking stream length, not the watermark horizon")
    assert(last * 3 < total,
      s"$qname: final state $last never drained (cumulative input $total)")
    // per-batch horizon bound: state after batch i covers at most the
    // last three batches' rows (current + lagging-watermark stride +
    // drain slack); cumulative growth breaks this from batch 2 on
    t.indices.foreach { i =>
      val horizon = (math.max(0, i - 2) to i).map(t(_).inputRows).sum
      assert(t(i).stateRows <= horizon,
        s"$qname batch $i: state ${t(i).stateRows} exceeds the watermark " +
          s"horizon bound $horizon (inputs ${t.map(_.inputRows)})")
    }
  }

  test("j_stream_confirm_replay: inner join state plateaus under the watermark") {
    assertWatermarkBounded("j_stream_confirm_replay",
      trace("j_stream_confirm_replay"))
  }

  test("j_stream_outer_replay: outer join state plateaus and still emits null-extended rows") {
    val t = trace("j_stream_outer_replay")
    assertWatermarkBounded("j_stream_outer_replay", t)
    // outer-specific: the final state is exactly the purchases whose
    // match window the global watermark never passed — nonzero here
    // (the 29-day feed always leaves a <2-day tail in flight)
    assert(t.last.stateRows > 0,
      "outer replay should end with the un-closable tail still in state")
  }

  test("every replay records its trace and plan under its mapped sink and leaves no temp dir") {
    val replays = StreamingQueries.qs.map(_.name)
    assert(StreamingQueries.sinks.keySet == replays.toSet,
      "the sink map must name exactly the streaming replay queries")
    val tmpRoot = new java.io.File(System.getProperty("java.io.tmpdir"))
    def runnerDirs(): Set[String] =
      Option(tmpRoot.list()).getOrElse(Array.empty[String])
        .filter(_.startsWith(StreamingQueries.TmpPrefix)).toSet
    val before = runnerDirs()
    replays.foreach { qname =>
      val sink = StreamingQueries.sinks(qname)
      val prior = StreamProbe.get(sink)
      Catalog.byName(qname).build(spark, sfSmoke)
        .write.format("noop").mode("overwrite").save()
      val recorded = StreamProbe.get(sink)
        .getOrElse(fail(s"$qname: no trace recorded under $sink"))
      // a fresh record from THIS build, not a leftover from an earlier suite
      assert(prior.forall(_ ne recorded), s"$qname: trace under $sink was not rewritten")
      assert(recorded.nonEmpty, s"$qname: empty trace under $sink")
      assert(StreamProbe.plan(sink).exists(_.nonEmpty), s"$qname: no plan recorded under $sink")
      assert(runnerDirs() == before, s"$qname: replay temp dir left behind: ${runnerDirs() -- before}")
    }
  }
}
