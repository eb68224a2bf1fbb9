package perfbench

import scala.collection.mutable

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** A span recorded by the benchmark around a call into the engine. `op` is
  * the id of the root span: the loop op (or set-up step) that caused it.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long) {
  var endNs: Long = -1L
  def seconds: Double = (endNs - startNs) / 1e9
}

/** What the listeners attributed to one span, plus notes the benchmark
  * itself adds (bytes of an input file, rows it offered).
  */
final class Counters {
  var jobs, stages, tasks, runMs, cpuNs, waitMs = 0L
  var shuffleRead, shuffleWrite, spill = 0L
  var planMs = 0.0
  var filesScanned = 0L
  /** (output path, rows, files, bytes) of each file write. */
  val writes = mutable.ArrayBuffer.empty[(String, Long, Long, Long)]
  /** Wall-clock interval of each finished task, epoch ms. */
  val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  val notes = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; waitMs += o.waitMs; shuffleRead += o.shuffleRead
    shuffleWrite += o.shuffleWrite; spill += o.spill; planMs += o.planMs
    filesScanned += o.filesScanned; writes ++= o.writes; taskSpans ++= o.taskSpans
    o.notes.foreach { case (k, v) => notes(k) += v }
  }
}

/** Spans are opened only by the benchmark, on the driver thread. Each span
  * sets the job group to its id, so the listeners can attribute every job,
  * stage, task and SQL execution that runs inside it.
  */
object Trace {
  @volatile private var tracer: Tracer = _

  def install(spark: SparkSession): Tracer = { tracer = new Tracer(spark); tracer }
  def on: Boolean = tracer != null

  def span[A](name: String)(body: => A): A =
    if (tracer == null) body else tracer.span(name)(body)

  /** Adds `v` to note `k` of the innermost open span. */
  def note(k: String, v: Double): Unit = if (tracer != null) tracer.note(k, v)
}

final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Span]
  private var nextId = 1

  // written by the listener threads, read after drain(); guarded by `this`
  private val counters = mutable.Map.empty[Int, Counters]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val stageSubmitMs = mutable.Map.empty[Int, Long]
  private val queries = mutable.ArrayBuffer.empty[(Long, Counters)]

  private def c(id: Int): Counters = counters.getOrElseUpdate(id, new Counters)

  def span[A](name: String)(body: => A): A = {
    val parent = open.headOption
    val s = Span(nextId, parent.fold(0)(_.id), parent.fold(nextId)(_.op), name, System.nanoTime())
    nextId += 1
    spans += s
    open = s :: open
    sc.setJobGroup(s.id.toString, name)
    try body
    finally {
      s.endNs = System.nanoTime()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(p.id.toString, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  def note(k: String, v: Double): Unit =
    open.headOption.foreach(s => synchronized(c(s.id).notes(k) += v))

  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.toIntOption)

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { id =>
        Tracer.this.synchronized {
          c(id).jobs += 1
          e.stageIds.foreach(stageSpan(_) = id)
        }
      }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        val si = e.stageInfo
        spanOf(e.properties).foreach(stageSpan(si.stageId) = _)
        stageSubmitMs(si.stageId) = si.submissionTime.getOrElse(System.currentTimeMillis())
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        stageSpan.get(e.stageInfo.stageId).foreach { id =>
          val m = e.stageInfo.taskMetrics
          val k = c(id)
          k.stages += 1
          if (m != null) {
            k.runMs += m.executorRunTime
            k.cpuNs += m.executorCpuTime
            k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            k.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        stageSpan.get(e.stageId).foreach { id =>
          val ti = e.taskInfo
          val k = c(id)
          k.tasks += 1
          k.taskSpans += ti.launchTime -> ti.finishTime
          stageSubmitMs.get(e.stageId).foreach(t => k.waitMs += math.max(0L, ti.launchTime - t))
        }
      }
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Planning time, files scanned and file writes of one finished query. */
  private def planCounters(qe: QueryExecution): Counters = {
    val k = new Counters
    k.planMs = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
    def walk(p: SparkPlan): Unit = PlanWalk.collectWithSubqueries(p) {
      case r: CommandResultExec => walk(r.commandPhysicalPlan)
      case w: DataWritingCommandExec =>
        val m = w.cmd.metrics
        def v(n: String) = m.get(n).map(_.value).getOrElse(0L)
        val path = w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand => i.outputPath.toString
          case other => other.nodeName
        }
        k.writes += ((path, v("numOutputRows"), v("numFiles"), v("numOutputBytes")))
      case s: FileSourceScanExec =>
        k.filesScanned += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case _ => ()
    }
    walk(qe.executedPlan)
    k
  }

  /** A finished query carries no job group, so it is billed to the
    * innermost span open when its planning ended.
    */
  private object Queries extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ends = qe.tracker.phases.values.map(_.endTimeMs)
      if (ends.nonEmpty) {
        val k = planCounters(qe)
        Tracer.this.synchronized(queries += ends.max -> k)
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  sc.addSparkListener(Listener)
  spark.listenerManager.register(Queries)

  /** Span bounds in epoch milliseconds, the clock query phases use. */
  private val epochOffsetMs = System.currentTimeMillis() - System.nanoTime() / 1000000
  def epochMs(ns: Long): Long = epochOffsetMs + ns / 1000000

  /** Waits until every queued listener event is delivered, then folds the
    * per-query counters into their spans.
    */
  def drain(): Unit = {
    BusDrain.drain(sc)
    synchronized {
      for ((at, k) <- queries) {
        val inside = spans.filter(s => epochMs(s.startNs) <= at && at <= epochMs(s.endNs))
        if (inside.nonEmpty) c(inside.maxBy(_.startNs).id).add(k)
      }
      queries.clear()
    }
  }

  /** The span's own counters plus those of every span below it. */
  def inclusive(s: Span): Counters = synchronized {
    val out = new Counters
    val kids = spans.groupBy(_.parent)
    def go(x: Span): Unit = {
      counters.get(x.id).foreach(out.add)
      kids.getOrElse(x.id, Nil).foreach(go)
    }
    go(s)
    out
  }

  /** Span duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).toSeq
    s.seconds - Tracer.unionLength(kids) / 1e9
  }

  def writeFile(path: String, metrics: Seq[(String, Double, String)]): Unit = synchronized {
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val t0 = spans.headOption.fold(0L)(_.startNs)
    val spanJson = spans.map { s =>
      val k = counters.getOrElse(s.id, new Counters)
      val notes = k.notes.map { case (n, v) => s""""$n":${num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${Json.esc(s.name)}",""" +
        s""""start_ms":${num((s.startNs - t0) / 1e6)},"dur_ms":${num(s.seconds * 1e3)},""" +
        s""""self_ms":${num(selfSeconds(s) * 1e3)},"jobs":${k.jobs},"stages":${k.stages},""" +
        s""""tasks":${k.tasks},"executor_run_ms":${k.runMs},"executor_cpu_ms":${k.cpuNs / 1000000},""" +
        s""""plan_ms":${num(k.planMs)},"shuffle_read_bytes":${k.shuffleRead},""" +
        s""""shuffle_write_bytes":${k.shuffleWrite},"spill_bytes":${k.spill},""" +
        s""""files_scanned":${k.filesScanned},"files_written":${k.writes.map(_._3).sum},""" +
        s""""notes":{$notes}}"""
    }
    val metricJson = metrics.map { case (n, v, u) =>
      s""""$n":{"value":${num(v)},"unit":"$u"}""" }
    val body = s"""{"metrics":{${metricJson.mkString(",")}},\n"spans":[\n""" +
      spanJson.mkString(",\n") + "\n]}\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Tracer {
  /** Total length covered by a set of possibly overlapping intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var first = true
    for ((s, e) <- iv.sortBy(_._1)) {
      if (first || s > curE) {
        if (!first) total += curE - curS
        curS = s; curE = e; first = false
      } else curE = math.max(curE, e)
    }
    if (first) 0L else total + (curE - curS)
  }
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case ch if ch < ' ' => " "
    case ch => ch.toString
  }
}
