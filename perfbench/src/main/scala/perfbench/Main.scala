package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One workload of the benchmark: set-up, then a closed loop of steps. */
trait Workload {
  /** Generates the inputs and builds the state the loop works on, running
    * every op's code once so the loop starts warm.
    */
  def setup(): Unit
  /** The next step of the loop. */
  def next(): Seq[Op]
  /** Output problems found after the loop, beyond the ops that failed. */
  def checks(): Seq[String] = Nil
  /** Figures only this workload has, printed on the detail line. */
  def detail(): Seq[(String, Double, String)] = Nil
}

/** `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --data <fixture dir> --expected <tsv> --work <scratch dir> [--trace-out <json>]`
  *
  * Prints a detail line, then the result line: with `--trace 0` the
  * end-to-end metrics, with `--trace 1` the per-layer metrics. Exits 1 when
  * an output is wrong.
  */
object Main {
  def session(): SparkSession = {
    val s = graft.Tables.localSession("perfbench", cores = Runtime.getRuntime.availableProcessors)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"

    val t0 = System.nanoTime()
    val spark = session()
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = if (traced) Some(Trace.install(spark)) else None
    val wl: Workload = name match {
      case "forecast_cycle" => new ForecastCycle(spark, new File(a("work"), "forecast"), seed)
      case "ops_heavy" =>
        new OpsHeavy(spark, a("data"), Queries.readExpected(a("expected")), seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    Trace.span("setup")(wl.setup())
    val setupS = (System.nanoTime() - t0) / 1e9

    val traced0 = tracer.fold(0)(_.spans.size)
    val res = Loop.run(seconds, () => wl.next().map(op =>
      op.copy(run = () => Trace.span(s"${op.kind}:${op.name}")(op.run()))))
    val problems = res.failed.collect { case (n, m) if m.startsWith("WrongOutput") => s"$n: $m" } ++
      wl.checks()

    val times = res.samples.map(_.seconds)
    val tail = Stats.tail(times)
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("op_s.p50", Stats.median(times), "s"),
      ("op_s.tail", tail._2, "s"),
      ("ops_per_s", res.samples.size / res.wallSeconds, "1/s"),
      ("peak_rss_mb", peakRssMb(), "MB"))
    val byKind = res.samples.groupBy(_.kind).toSeq.sortBy(_._1).flatMap { case (k, ss) =>
      val ts = ss.map(_.seconds)
      val (p, v) = Stats.tail(ts)
      Seq((s"$k.p50_s", Stats.median(ts), "s"), (s"$k.n", ts.size.toDouble, "count"),
        (s"$k.tail_s", v, "s"), (s"$k.tail_percentile", p.toDouble, "pct"))
    }
    val detail = endToEnd ++ byKind ++ wl.detail() ++ Seq(
      ("op_s.tail_percentile", tail._1.toDouble, "pct"),
      ("ops_done", res.samples.size.toDouble, "count"),
      ("fail_frac", res.failed.size.toDouble / math.max(1, res.attempted), "ratio"),
      ("session_s", sessionS, "s"))

    val metrics = tracer match {
      case None => endToEnd
      case Some(t) =>
        t.drain()
        val layers = Layers.compute(t, t.spans.drop(traced0).filter(_.parent == 0).toSeq,
          t.spans.take(traced0).toSeq, Runtime.getRuntime.availableProcessors)
        a.get("trace-out").foreach(t.writeFile(_, detail ++ layers))
        layers
    }
    val correct = problems.isEmpty && times.nonEmpty
    println(s"""{"workload":"$name","seed":$seed,"detail":${metricJson(detail)},""" +
      s""""ops":${res.samples.map(o => s"""["${Json.esc(o.name)}",${o.seconds}]""").mkString("[", ",", "]")},""" +
      s""""failed_ops":${res.failed.map { case (n, m) => s"""["${Json.esc(n)}","${Json.esc(m)}"]""" }
        .mkString("[", ",", "]")},""" +
      s""""problems":${problems.map(p => "\"" + Json.esc(p) + "\"").mkString("[", ",", "]")}}""")
    println(s"""{"correct":$correct,"attempted":${res.attempted},"failed":${res.failed.size},""" +
      s""""metrics":${metricJson(metrics)}}""")
    System.out.flush()
    spark.stop()
    if (!correct) System.exit(1)
  }

  private def metricJson(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$n":{"value":$num,"unit":"$u"}"""
    }.mkString("{", ",", "}")

  private def peakRssMb(): Double = {
    val f = new File("/proc/self/status")
    if (!f.exists) Double.NaN
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
      finally src.close()
    }
  }
}

/** Per-layer metrics of the traced run, each per op of the kind that
  * exercises the layer; a layer a workload never calls reads 0.
  */
object Layers {
  def compute(t: Tracer, ops: Seq[Span], setup: Seq[Span], cores: Int): Seq[(String, Double, String)] = {
    val all = t.spans.toSeq
    def kind(k: String) = ops.filter(_.name.startsWith(k + ":"))
    def within(roots: Seq[Span], name: String) = {
      val ids = roots.map(_.id).toSet
      all.filter(s => s.name == name && ids.contains(s.op))
    }
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    def incl(ss: Seq[Span]) = ss.map(t.inclusive)
    def driverOnly(s: Span): Double = {
      val (startMs, endMs) = (t.epochMs(s.startNs), t.epochMs(s.endNs))
      val busy = t.inclusive(s).taskSpans.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
        .filter { case (a, b) => b > a }
      math.max(0.0, s.seconds - Tracer.unionLength(busy.toSeq) / 1e3)
    }

    val ingests = kind("ingest")
    val ingestC = incl(ingests)
    val srcSpans = within(ingests, "sources.read")
    val loadNotes = within(ingests, "icenet.load").map(t.inclusive)
    val offered = loadNotes.map(_.notes("rows_offered")).sum
    val writes = ingestC.flatMap(_.writes)
    val factRows = writes.filter(w => isFact(w._1)).map(_._2).sum.toDouble
    val sources = Seq(
      ("sources.read_s", ratio((within(ingests, "sources.open") ++ srcSpans).map(_.seconds).sum,
        ingests.size), "s"),
      ("sources.input_bytes_per_row", ratio(loadNotes.map(_.notes("input_bytes")).sum,
        loadNotes.map(_.notes("input_cells")).sum), "B/row"),
      ("sources.tasks", mean(incl(srcSpans).map(_.tasks.toDouble)), "count"))
    val icenet = Seq("load", "geometries", "forecasts", "latest", "meta").flatMap { st =>
      val ss = within(ingests, s"icenet.$st")
      Seq((s"icenet.${st}_s", ratio(ss.map(_.seconds).sum, ingests.size), "s"),
        (s"icenet.${st}_jobs", ratio(incl(ss).map(_.jobs.toDouble).sum, ingests.size), "count"))
    } :+ ("icenet.driver_only_s", mean(ingests.map(driverOnly)), "s")
    val tableops = Seq(
      ("tableops.rows_offered", ratio(offered, ingests.size), "rows"),
      ("tableops.rows_inserted", ratio(factRows, ingests.size), "rows"),
      ("tableops.insert_yield", ratio(factRows, offered), "ratio"),
      ("tableops.files_written", ratio(writes.map(_._3).sum.toDouble, ingests.size), "count"),
      ("tableops.output_bytes_per_row", ratio(writes.map(_._4).sum.toDouble,
        writes.map(_._2).sum.toDouble), "B/row"),
      ("tableops.register_s", mean(within(ingests, "tableops.register").map(_.seconds)), "s"))

    val reads = kind("read")
    val readC = incl(reads)
    val read = Seq(
      ("read.plan_ms", mean(readC.map(_.planMs)), "ms"),
      ("read.exec_s", mean(reads.zip(readC).map { case (s, k) => s.seconds - k.planMs / 1e3 }), "s"),
      ("read.jobs", mean(readC.map(_.jobs.toDouble)), "count"),
      ("read.files_scanned", mean(readC.map(_.filesScanned.toDouble)), "count"))

    val queries = kind("query")
    val entry = Seq(("entry.build_ms", mean(within(queries, "entry.build").map(_.seconds * 1e3)), "ms"))

    val opC = incl(ops)
    val wall = ops.map(_.seconds).sum
    val spark = Seq(
      ("spark.plan_ms", mean(opC.map(_.planMs)), "ms"),
      ("spark.jobs", mean(opC.map(_.jobs.toDouble)), "count"),
      ("spark.stages", mean(opC.map(_.stages.toDouble)), "count"),
      ("spark.tasks", mean(opC.map(_.tasks.toDouble)), "count"),
      ("spark.driver_only_s", mean(ops.map(driverOnly)), "s"),
      ("spark.task_wait_ms", mean(opC.map(_.waitMs.toDouble)), "ms"),
      ("spark.executor_run_s", mean(opC.map(_.runMs / 1e3)), "s"),
      ("spark.executor_cpu_s", mean(opC.map(_.cpuNs / 1e9)), "s"),
      ("spark.core_util", ratio(opC.map(_.runMs / 1e3).sum, wall * cores), "ratio"),
      ("spark.shuffle_read_bytes", mean(opC.map(_.shuffleRead.toDouble)), "B"),
      ("spark.shuffle_write_bytes", mean(opC.map(_.shuffleWrite.toDouble)), "B"),
      ("spark.spill_bytes", mean(opC.map(_.spill.toDouble)), "B"))

    val families = Queries.Families.map { f =>
      (s"ops.${f}_s", mean(queries.filter(q => Queries.family(q.name.stripPrefix("query:")) == f)
        .map(_.seconds)), "s")
    }
    val memos = Seq(("ops.memo.graph_s", setup.find(_.name == "memo.graph").fold(0.0)(_.seconds), "s"))

    val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
    val jitS = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported).fold(0.0)(_.getTotalCompilationTime / 1e3)
    val jvm = Seq(("jvm.gc_s", gcS, "s"), ("jvm.jit_s", jitS, "s"))

    sources ++ icenet ++ tableops ++ read ++ entry ++ spark ++ families ++ memos ++ jvm
  }

  /** Fact-table writes: the table itself or its crash-safe staging copy. */
  private def isFact(path: String): Boolean =
    path.endsWith("/north_forecast") || path.endsWith("/north_forecast.staging")
}
