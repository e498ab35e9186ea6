package graft

import graft.queries.StreamingQueries

/** Stream-state boundedness audit (round-15 verdict #2): the two most
  * expensive catalog queries — the watermarked stream-stream joins
  * `j_stream_confirm_replay` and `j_stream_outer_replay` — carry the
  * at-scale claim "join state is bounded by the watermark". This main
  * MEASURES it: it replays both queries at 1× and at an N× key-shifted
  * replica (same 29-day event-time span, so the same 8-day-epoch
  * micro-batches carry N× the rows), captures each micro-batch's
  * state-store metrics from `StreamingQueryProgress.stateOperators` via
  * graft.streaming.StreamProbe, and emits one JSON line per run plus an
  * atomic artifact (SPARK_GRAFT_BENCH_OUT).
  *
  * What bounded looks like in the numbers: per batch, state rows track
  * the WATERMARK HORIZON — the current batch's rows plus the ≤2-day
  * tail of the previous one that can still match — while cumulative
  * input grows linearly; `removed` is nonzero once the watermark starts
  * moving; and the N× trace is the 1× trace scaled by ~N (state scales
  * with the horizon's density, never with stream length). The unbounded
  * failure mode this refutes is state_rows ≈ cumulative input.
  * StreamStateSpec pins the same invariants in ScalaTest at the smoke SF.
  *
  * Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  * SPARK_GRAFT_SCALE_COPIES (default 10; 0 skips the scaled point),
  * SPARK_GRAFT_CPUS (default 16), SPARK_GRAFT_BENCH_OUT (artifact path).
  */
object StreamStateAudit {
  private val Audited = Seq("j_stream_confirm_replay", "j_stream_outer_replay")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE_COPIES", "10").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val outPath = sys.env.get("SPARK_GRAFT_BENCH_OUT")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def point(dir: String, label: String): String =
      Audited.map { qname =>
        System.err.println(s"[streamstate] $label $qname")
        val t0 = System.nanoTime()
        SparkEntry.queries(qname)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        val trace = graft.streaming.StreamProbe.get(StreamingQueries.sinks(qname))
          .getOrElse(Seq.empty)
        val batches = trace.map(b =>
          s"""{"batch":${b.batchId},"input":${b.inputRows},"state_rows":${b.stateRows},"state_mem_bytes":${b.stateMemBytes},"updated":${b.rowsUpdated},"removed":${b.rowsRemoved}}""")
          .mkString("[", ",", "]")
        val totalIn = trace.map(_.inputRows).sum
        val maxState = (trace.map(_.stateRows) :+ 0L).max
        val lastState = trace.lastOption.fold(0L)(_.stateRows)
        val maxMem = (trace.map(_.stateMemBytes) :+ 0L).max
        s""""$qname":{"sec":$sec,"total_input_rows":$totalIn,"max_state_rows":$maxState,"last_state_rows":$lastState,"max_state_mem_bytes":$maxMem,"removed_total":${trace.map(_.rowsRemoved).sum},"batches":$batches}"""
      }.mkString(s""""$label":{""", ",", "}")

    val p1 = point(sfDir, "1x")
    val pN =
      if (copies <= 0) None
      else {
        val replica = new java.io.File(sys.props("java.io.tmpdir"),
          s"graft-streamstate-${java.util.UUID.randomUUID()}").getAbsolutePath
        System.err.println(s"[streamstate] generating ${copies}x replica")
        ScaledData.generate(spark, sfDir, replica, copies)
        try Some(point(replica, s"${copies}x"))
        finally {
          org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(replica)); ()
        }
      }
    spark.stop()
    val line =
      s"""{"metric":"stream_state","sf_dir":"$sfDir","copies":$copies,${(Seq(p1) ++ pN).mkString(",")}}"""
    outPath.foreach { o =>
      try Bench.writeAtomic(o, line + "\n")
      catch { case e: Throwable =>
        System.err.println(s"[streamstate] artifact write skipped: $e") }
    }
    println(line)
    System.out.flush()
  }
}
