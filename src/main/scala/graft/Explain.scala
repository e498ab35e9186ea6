package graft

import graft.queries.{Catalog, StreamingQueries}

/** Dev tool: print formatted physical plans for catalog queries (all, or
  * the names passed as args) — the working loop for SURVEY.md's
  * "explain then iterate" rule. Usage:
  *   tools/run.sh graft.Explain [sfDir] [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq else Catalog.all.map(_.name)
    val spark = GraftSession.builder("local[4]", 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n================ $n ================")
      Catalog.byName(n).build(spark, sfDir).explain("formatted")
      // streaming replay queries: the batch explain above only shows the
      // memory-sink tail — also print the executed micro-batch plan the
      // replay recorded (state operators, partitioning, store count)
      StreamingQueries.sinks.get(n).flatMap(graft.streaming.StreamProbe.plan)
        .foreach { p =>
          println(s"---- executed micro-batch plan ($n) ----")
          println(p)
        }
    }
    spark.stop()
  }
}
