package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

import scala.collection.mutable

/** Minimal JSON rendering for the runner's output records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case o: Option[_] => o.map(value).getOrElse("null")
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
}

/** Spans recorded on the runner's thread around each call into a layer's
  * public function. Kept in memory; written once the run ends. */
final class Spans {
  final case class Span(id: Int, name: String, op: Int, parent: Int,
                        startMs: Double, endMs: Double)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[(Int, String, Int, Double)]
  private var nextId = 0
  var enabled = false

  private def nowMs: Double = System.nanoTime() / 1e6 - Spans.originNs / 1e6 + Spans.originWallMs

  /** Time `body` as a span named `name` under the innermost open span. */
  def apply[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      open.push((id, name, op, nowMs))
      try body
      finally {
        val (_, _, _, start) = open.pop()
        val parent = open.headOption.map(_._1).getOrElse(-1)
        done += Span(id, name, op, parent, start, nowMs)
      }
    }

  def records: Seq[String] = done.toSeq.map(s => Json.obj(
    "kind" -> "span", "id" -> s.id, "name" -> s.name, "op" -> s.op,
    "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
}

object Spans {
  // span clocks are monotonic nanoTime anchored to wall-clock ms once, so
  // they line up with the listener's wall-clock event times
  private val originNs = System.nanoTime()
  private val originWallMs = System.currentTimeMillis().toDouble
}

/** The benchmark's own Spark listeners: one SparkListener for jobs,
  * stages, task metrics and RDD block updates, one QueryExecutionListener
  * for the Catalyst phase times of every executed query. Events are kept
  * raw, with their wall-clock times, and attributed to ops afterwards.
  * Nothing here touches the program's code or results. */
final class Probe extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long, callSite: String,
                       stages: Seq[Int])
  final case class Stage(id: Int, tasks: Int, runMs: Long, cpuNs: Long,
                         shuffleRead: Long, shuffleWrite: Long, spill: Long)
  final case class Qe(startMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  private val qes = mutable.ArrayBuffer.empty[Qe]
  // live bytes of cached / checkpointed RDD blocks, and (time, total) samples
  private val liveBlocks = mutable.HashMap.empty[String, Long]
  private var liveBytes = 0L
  private val blockSamples = mutable.ArrayBuffer.empty[(Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // the result stage (highest id) is named after the action's call site
    val callSite = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, callSite, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    Option(i.taskMetrics).foreach { m =>
      stages += Stage(i.stageId, i.numTasks, m.executorRunTime, m.executorCpuTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case b: RDDBlockId =>
        val key = s"${info.blockManagerId.executorId}/${b.name}"
        val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
        liveBytes += size - liveBlocks.getOrElse(key, 0L)
        if (size == 0L) liveBlocks.remove(key) else liveBlocks(key) = size
        blockSamples += ((System.currentTimeMillis(), liveBytes))
      case _ =>
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val ph = qe.tracker.phases
      def d(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(System.currentTimeMillis())
      qes += Qe(start, d("analysis"), d("optimization"), d("planning"))
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Wait until every started job has ended and the event stream has gone
    * quiet, so all events of finished work have been delivered. */
  def drain(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var last = -1
    var stableSince = System.currentTimeMillis()
    while (System.currentTimeMillis() < deadline) {
      val (n, open) = synchronized((jobs.size + stages.size + qes.size + blockSamples.size,
        jobs.values.count(_.endMs < 0)))
      if (n != last) { last = n; stableSince = System.currentTimeMillis() }
      if (open == 0 && System.currentTimeMillis() - stableSince > 300) return
      Thread.sleep(50)
    }
  }

  def records: Seq[String] = synchronized {
    val stageJob = jobs.values.flatMap(j => j.stages.map(_ -> j.id)).toMap
    jobs.values.toSeq.map(j => Json.obj(
      "kind" -> "job", "id" -> j.id, "start_ms" -> j.startMs, "end_ms" -> j.endMs,
      "call_site" -> j.callSite)) ++
      stages.toSeq.map(s => Json.obj(
        "kind" -> "stage", "id" -> s.id, "job" -> stageJob.getOrElse(s.id, -1),
        "tasks" -> s.tasks, "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs,
        "shuffle_read" -> s.shuffleRead, "shuffle_write" -> s.shuffleWrite,
        "spill" -> s.spill)) ++
      qes.toSeq.map(q => Json.obj(
        "kind" -> "qe", "start_ms" -> q.startMs, "analysis_ms" -> q.analysisMs,
        "optimization_ms" -> q.optimizationMs, "planning_ms" -> q.planningMs)) ++
      blockSamples.toSeq.map { case (t, b) => Json.obj("kind" -> "blocks", "t_ms" -> t, "bytes" -> b) }
  }
}
