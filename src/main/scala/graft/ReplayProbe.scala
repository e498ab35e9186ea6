package graft

import graft.queries.{Catalog, StreamingQueries}

/** Dev tool: run one streaming replay catalog query and print the
  * per-micro-batch trigger-duration breakdown StreamProbe captured —
  * the round-17 floor profile (guide §1.1: measure where the fixed
  * per-trigger milliseconds go before touching the replay harness).
  * Usage: tools/run.sh graft.ReplayProbe [sfDir] <queryName> [cpus]
  */
object ReplayProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val name = args(1)
    val sink = StreamingQueries.sinks.getOrElse(name,
      sys.error(s"$name is not a streaming replay query"))
    val cpus = args.lift(2).map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = GraftSession.builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // warm-up pass, then the probe pass (same protocol as StageProbe)
    try Catalog.byName(name).build(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => System.err.println(s"warm-up failed: $e") }
    val t0 = System.nanoTime()
    Catalog.byName(name).build(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    println(f"==== total ${(System.nanoTime() - t0) / 1e9}%.2f s ====")
    graft.streaming.StreamProbe.get(sink).foreach { batches =>
      println(s"---- $sink: ${batches.length} batches ----")
      val keys = batches.flatMap(_.durationMs.keys).distinct.sorted
      println(("batch" +: "rows" +: keys).mkString("\t"))
      batches.foreach { b =>
        println((b.batchId +: b.inputRows +:
          keys.map(k => b.durationMs.getOrElse(k, 0L))).mkString("\t"))
      }
      keys.foreach { k =>
        println(f"$k%-28s sum=${batches.map(_.durationMs.getOrElse(k, 0L)).sum}%6d ms")
      }
    }
    spark.stop()
  }
}
