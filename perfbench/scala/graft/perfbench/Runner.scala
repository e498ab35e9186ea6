package graft.perfbench

import graft.GraftSession
import graft.lake.LakeWriter
import graft.pipelines.OpsToJde
import graft.queries.Catalog
import graft.sources.Tables
import graft.state.DispatchState
import graft.streaming.StreamProbe
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.{File, PrintWriter}

/** The benchmark's in-process driver. It reads a plan written by
  * `perfbench/run.py` (the seeded op sequence, windows and settings), runs
  * it on one session with one client in a closed loop, and writes one
  * JSON record per line: set-up times, every timed op, the memory the
  * session retains, the untimed check pass, and (traced runs) spans and
  * raw listener events. All metric arithmetic happens in Python; this
  * side only measures.
  *
  *   Runner PLAN_FILE OUT_JSONL
  *   Runner --catalog OUT_JSON    (query names and their oracle SQL)
  */
object Runner {
  /** Plan file: `key value` lines; repeated keys keep their order. */
  final class Plan(lines: Seq[(String, String)]) {
    def all(k: String): Seq[String] = lines.collect { case (`k`, v) => v }
    def one(k: String): String = all(k).headOption.getOrElse(sys.error(s"plan lacks '$k'"))
  }

  /** One dispatch window: orderkeys [lo, hi) stamped with batch time `ts`. */
  final case class Window(lo: Long, hi: Long, ts: String)

  /** Replay queries record their micro-batch progress in StreamProbe
    * under the name of their memory sink. */
  val replaySinks: Map[String, String] = Map(
    "j_stream_confirm_replay" -> "j_stream_confirm_sink",
    "j_stream_outer_replay" -> "j_stream_outer_sink",
    "j_stream_static_enrich" -> "j_stream_static_sink",
    "w_session_replay" -> "w_session_replay_sink",
    "w_stream_dedup_replay" -> "w_stream_dedup_sink",
    "w_stream_update_replay" -> "w_stream_update_sink",
    "w_transform_state_replay" -> "w_transform_state_sink",
    "w_watermark_late_drop" -> "w_watermark_late_drop_sink")

  def main(args: Array[String]): Unit = {
    if (args(0) == "--catalog") {
      val out = new PrintWriter(args(1), "UTF-8")
      try out.println(Json.obj(Catalog.all.map(q => q.name -> q.oracle): _*))
      finally out.close()
      return
    }
    val plan = new Plan(scala.io.Source.fromFile(args(0), "UTF-8").getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val i = l.indexOf(' '); (l.take(i), l.drop(i + 1)) }.toSeq)
    val out = new PrintWriter(args(1), "UTF-8")
    try new Runner(plan, out).run() finally out.close()
  }
}

final class Runner(plan: Runner.Plan, out: PrintWriter) {
  import Runner._

  private val workload = plan.one("workload")
  private val data = plan.one("data")
  private val work = plan.one("work")
  private val cores = plan.one("cores").toInt
  private val traced = plan.one("trace") == "1"
  private val spans = new Spans
  private var spark: SparkSession = _

  private def emit(fields: (String, Any)*): Unit = { out.println(Json.obj(fields: _*)); out.flush() }
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def wallMs: Double = System.currentTimeMillis().toDouble

  private def newSession(): SparkSession = {
    val s = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Set-up = a fresh session plus a first load of every source table.
    * Repeated `setups` times (stopping all but the last session) so the
    * reported figure is a median, not one cold JVM start. */
  private def setUp(): Unit = {
    val n = plan.one("setups").toInt
    for (i <- 1 to n) {
      val t0 = System.nanoTime()
      val s = newSession()
      Tables.all.foreach(t => Tables.t(s, data, t))
      emit("kind" -> "setup", "i" -> i, "s" -> secs(t0))
      if (i < n) s.stop() else spark = s
    }
  }

  def run(): Unit = {
    setUp()
    workload match {
      case "catalog_mix" => catalog()
      case "dispatch_cycles" => dispatch()
      case other => sys.error(s"unknown workload $other")
    }
    spark.stop()
    emit("kind" -> "done")
  }

  /** Heap still live after a full collection, plus non-heap in use
    * (metaspace with the generated classes, code cache), in MB. Unlike the
    * resident set, which the fixed heap pins near -Xmx, this moves with
    * what the program keeps. Collected twice, half a second apart, so that
    * what Spark's context cleaner releases after the first collection is
    * gone too. */
  private def retainedMb: Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    mem.gc()
    Thread.sleep(500)
    mem.gc()
    (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed) / (1024.0 * 1024.0)
  }

  /** Used MB per memory pool, kept in the records beside `retainedMb`. */
  private def poolsMb: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .map(p => p.getName -> p.getUsage.getUsed / (1024.0 * 1024.0)).toMap
  }

  /** Run the timed ops: `n` ops untraced ("plain"), then the retained
    * memory, then (traced runs) every op twice more, once untraced and once
    * traced, interleaved op by op so that warm-up drift falls on both
    * alike. At step i the untraced op is i and the traced op is
    * (i + shift) % n; the two swap order every step. The listeners are
    * registered, fresh, only around each traced op, and drained before
    * they are removed. The op count comes from the plan, never from
    * elapsed time. `opAt(i, window)` runs op i and returns its record
    * fields; `fresh(window)` runs before each window's first op. */
  private def windows(n: Int, shift: Int, opAt: (Int, String) => Seq[(String, Any)],
                      fresh: String => Unit): Unit = {
    fresh("plain")
    val t0 = System.nanoTime()
    for (i <- 0 until n) emit(opAt(i, "plain"): _*)
    emit("kind" -> "window", "window" -> "plain", "ops" -> n, "wall_s" -> secs(t0), "cores" -> cores)
    emit("kind" -> "mem", "retained_mb" -> retainedMb, "pools" -> poolsMb)
    if (!traced) return
    fresh("untraced")
    fresh("traced")
    val wall = scala.collection.mutable.Map("untraced" -> 0.0, "traced" -> 0.0)
    val start = wallMs
    def timed(i: Int, window: String): Unit = {
      val t = System.nanoTime()
      val rec = opAt(i, window)
      wall(window) += secs(t)
      emit(rec: _*)
    }
    def tracedOp(i: Int): Unit = {
      val probe = new Probe
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
      spans.enabled = true
      try timed(i, "traced")
      finally {
        spans.enabled = false
        probe.drain()
        spark.sparkContext.removeSparkListener(probe)
        spark.listenerManager.unregister(probe)
        probe.records.foreach(r => out.println(r))
      }
    }
    for (i <- 0 until n) {
      val j = (i + shift) % n
      if (i % 2 == 0) { timed(i, "untraced"); tracedOp(j) }
      else { tracedOp(j); timed(i, "untraced") }
    }
    for (w <- Seq("untraced", "traced"))
      emit("kind" -> "window", "window" -> w, "ops" -> n, "wall_s" -> wall(w), "cores" -> cores,
        "start_ms" -> start, "end_ms" -> wallMs)
    spans.records.foreach(r => out.println(r))
    out.flush()
  }

  /** Codegen counters around `body`: (compiles, compile seconds). */
  private def codegen[T](body: => T): (T, Long, Double) = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = CodeGenerator.compileTime
    val r = body
    (r, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0, (CodeGenerator.compileTime - t0) / 1e9)
  }

  private def error(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  // ---------------------------------------------------------------- catalog

  private def catalog(): Unit = {
    val seq = plan.all("op").toIndexedSeq
    // untimed warm-up pass to the noop sink, the cold one; the JIT is
    // still warming through the timed pass (the run budget carries no
    // second warm-up pass)
    for ((name, i) <- plan.all("warm_op").zipWithIndex) {
      val t0 = System.nanoTime()
      val err = try {
        Catalog.byName(name).build(spark, data).write.format("noop").mode("overwrite").save(); None
      } catch { case e: Throwable => Some(error(e)) }
      emit("kind" -> "warm", "i" -> i, "name" -> name, "s" -> secs(t0), "error" -> err)
    }
    // traced ops run half a pass apart from the untraced ones, so no
    // query ever runs twice in a row
    windows(seq.size, seq.size / 2, (i, window) => catalogOp(i, seq(i), window), _ => ())
    // untimed check pass after the timed ops, on the warm session and its
    // caches: each distinct query once, its output written for the DuckDB
    // comparison
    for (name <- plan.all("check")) {
      val t0 = System.nanoTime()
      val err = try {
        Catalog.byName(name).build(spark, data)
          .write.mode("overwrite").parquet(s"$work/check/$name"); None
      } catch { case e: Throwable => Some(error(e)) }
      emit("kind" -> "check", "name" -> name, "s" -> secs(t0), "error" -> err)
    }
  }

  private def catalogOp(i: Int, name: String, window: String): Seq[(String, Any)] = {
    val sc = spark.sparkContext
    val start = wallMs
    val t0 = System.nanoTime()
    var buildS, actionS = 0.0
    val ((err, compiles, compileS)) = codegen {
      try spans("op", i) {
        sc.setJobGroup(s"pb:$i:build", name)
        val df = spans("queries.build", i)(Catalog.byName(name).build(spark, data))
        buildS = secs(t0)
        sc.setJobGroup(s"pb:$i:action", name)
        val t1 = System.nanoTime()
        spans("queries.action", i)(df.write.format("noop").mode("overwrite").save())
        actionS = secs(t1)
        None
      } catch { case e: Throwable => Some(error(e)) }
      finally sc.clearJobGroup()
    }
    val total = secs(t0)
    val triggers = if (window != "traced") Nil else
      replaySinks.get(name).flatMap(StreamProbe.get).getOrElse(Nil).map { b =>
        Map("trigger_ms" -> b.durationMs.getOrElse("triggerExecution", 0L),
          "add_batch_ms" -> b.durationMs.getOrElse("addBatch", 0L),
          "planning_ms" -> b.durationMs.getOrElse("queryPlanning", 0L),
          "wal_ms" -> b.durationMs.getOrElse("walCommit", 0L),
          "commit_ms" -> b.durationMs.getOrElse("commitOffsets", 0L),
          "state_rows" -> b.stateRows)
      }
    Seq("kind" -> "op", "window" -> window, "id" -> i, "name" -> name,
      "start_ms" -> start, "end_ms" -> (start + total * 1000), "s" -> total,
      "build_s" -> buildS, "action_s" -> actionS, "error" -> err,
      "codegen_compiles" -> compiles, "codegen_compile_s" -> compileS,
      "replay" -> replaySinks.contains(name), "triggers" -> triggers)
  }

  // --------------------------------------------------------------- dispatch

  private def window(s: String): Window = {
    val Array(lo, hi, day, time) = s.split(' ')
    Window(lo.toLong, hi.toLong, s"$day $time")
  }

  /** Nested actions over one orderkey window of lineitem, shaped as in the
    * pipeline spec: one action per order, one ingredient per line, one
    * batch whose lot names the line, one vessel addition. */
  private def actions(li: DataFrame, w: Window): DataFrame = {
    val ing = struct(
      col("l_partkey").as("ingredient_id"),
      concat(lit("item"), col("l_partkey")).as("name"),
      col("l_quantity").as("qty"),
      array(struct(concat(lit("B"), col("l_linenumber")).as("batch_number"),
        concat(lit("L"), col("l_orderkey"), lit("-"), col("l_linenumber")).as("lot"))).as("batches"),
      map(concat(lit("V"), pmod(col("l_suppkey"), lit(3))), col("l_quantity")).as("additions"))
    li.filter(col("l_orderkey") >= w.lo && col("l_orderkey") < w.hi)
      .select(col("l_orderkey").as("action_id"), ing.as("ing"))
      .groupBy("action_id").agg(collect_list("ing").as("ingredients"))
  }

  private def dirBytes(f: File): (Long, Int) =
    if (!f.exists()) (0L, 0)
    else if (f.isFile) (if (f.getName.endsWith(".parquet")) (f.length(), 1) else (0L, 0))
    else Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes)
      .foldLeft((0L, 0)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

  private def stateBytes(stateDir: String): Long = {
    val ptr = new File(s"$stateDir/CURRENT")
    if (!ptr.exists()) 0L
    else dirBytes(new File(s"$stateDir/v-${scala.io.Source.fromFile(ptr).mkString.trim}"))._1
  }

  private def dispatch(): Unit = {
    val ws = plan.all("window").map(window).toIndexedSeq
    val compactEvery = plan.one("compact_every").toInt
    def dirs(tag: String) = {
      val root = new File(s"$work/dispatch-$tag")
      org.apache.commons.io.FileUtils.deleteDirectory(root)
      (s"${root.getPath}/state", s"${root.getPath}/lake")
    }
    // untimed warm-up cycles on throw-away directories: the first cycles
    // of a fresh JVM run ~40% slower than later ones
    val (ws0, wl0) = dirs("warm")
    for ((w, i) <- plan.all("warm").map(window).zipWithIndex) {
      val t0 = System.nanoTime()
      val err = try {
        OpsToJde.run(spark, actions(Tables.t(spark, data, "lineitem"), w), ws0, wl0, w.ts)
        LakeWriter.readRange(spark, wl0, "jde_dispatch", w.ts.take(10), w.ts.take(10)).count()
        DispatchState.read(spark, ws0).count(); None
      } catch { case e: Throwable => Some(error(e)) }
      emit("kind" -> "warm", "i" -> i, "name" -> "dispatch_cycle", "s" -> secs(t0), "error" -> err)
    }

    // one state and lake directory pair per window: the untraced and the
    // traced cycles run the same windows in the same order, side by side
    val current = scala.collection.mutable.Map.empty[String, (String, String)]
    windows(ws.size, 0, (i, tag) => cycle(i, ws(i), current(tag), compactEvery, tag),
      tag => current(tag) = dirs(tag))
  }

  private def cycle(i: Int, w: Window, dirs: (String, String), compactEvery: Int,
                    window: String): Seq[(String, Any)] = {
    val (stateDir, lakeRoot) = dirs
    val lakeBefore = dirBytes(new File(lakeRoot))._1
    val start = wallMs
    val t0 = System.nanoTime()
    val result = try spans("op", i) {
      val li = spans("sources.table_load", i)(Tables.t(spark, data, "lineitem"))
      Right(spans("pipelines.run", i)(OpsToJde.run(spark, actions(li, w), stateDir, lakeRoot, w.ts)))
    } catch { case e: Throwable => Left(error(e)) }
    val total = secs(t0)
    val appendBytes = dirBytes(new File(lakeRoot))._1 - lakeBefore
    val day = w.ts.take(10)
    // audit read after every cycle: the lake's day range and the state
    val t1 = System.nanoTime()
    val audit = try Right((
      spans("lake.read_range", i)(LakeWriter.readRange(spark, lakeRoot, "jde_dispatch", day, day).count()),
      spans("state.read", i)(DispatchState.read(spark, stateDir).count())))
    catch { case e: Throwable => Left(error(e)) }
    val (lakeRows, stateRows) = audit.getOrElse((-1L, -1L))
    val readS = secs(t1)
    val Array(y, m, d) = day.split('-').map(_.toInt)
    val partition = new File(s"$lakeRoot/jde_dispatch/year=$y/month=$m/day=$d")
    val filesBefore = dirBytes(partition)._2
    val t2 = System.nanoTime()
    val compacted = if ((i + 1) % compactEvery != 0 || !partition.exists()) Right(None) else
      try Right(Some(spans("lake.compact", i)(
        LakeWriter.compact(spark, lakeRoot, "jde_dispatch", y, m, d))))
      catch { case e: Throwable => Left(error(e)) }
    val compactS = compacted.toOption.flatten.map(_ => secs(t2))
    // the op's interval covers the audit read and compaction too, so
    // their events are attributed to it; its latency is the cycle's run
    Seq("kind" -> "op", "window" -> window, "id" -> i, "name" -> "dispatch_cycle",
      "start_ms" -> start, "end_ms" -> wallMs, "s" -> total,
      "lo" -> w.lo, "hi" -> w.hi, "ts" -> w.ts,
      "error" -> result.left.toOption.orElse(audit.left.toOption).orElse(compacted.left.toOption),
      "flattened" -> result.map(_.flattened).getOrElse(-1L),
      "eligible" -> result.map(_.eligible).getOrElse(-1L),
      "dispatched" -> result.map(_.dispatched).getOrElse(-1L),
      "read_s" -> readS, "lake_rows" -> lakeRows, "state_rows" -> stateRows,
      "files_per_partition" -> filesBefore, "compact_s" -> compactS,
      "append_bytes" -> appendBytes, "lake_bytes" -> dirBytes(new File(lakeRoot))._1,
      "state_bytes" -> stateBytes(stateDir))
  }
}
