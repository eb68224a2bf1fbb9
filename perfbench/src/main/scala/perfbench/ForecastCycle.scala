package perfbench

import java.io.File
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.icenet.{Ingest, North, Pipeline}
import graft.sources.NetcdfClassic

/** The reference's own job: a serial stream of NetCDF forecast drops into
  * one warehouse that readers query between drops.
  *
  * Every cell value comes from the seed, and the benchmark keeps which cells
  * land (mean > 0, not masked), so landed rows, per-date meta counts and
  * every read's result are known in closed form.
  */
final class ForecastCycle(spark: SparkSession, work: File, seed: Long) extends Workload {
  import ForecastCycle._

  private val warehouse = new File(work, "warehouse")
  private var pipe: Pipeline = _
  private val rng = new java.util.Random(seed)

  /** Per generation day, index (l, y, x): 0 dropped by the load (masked or
    * mean <= 0), 1 landed, 2 landed with concentration >= 0.15 (ice).
    */
  private val valid = mutable.Map.empty[Int, Array[Byte]]
  /** Days whose facts have landed. */
  private val landed = mutable.LinkedHashSet.empty[Int]
  private val deliveredDrops = mutable.ArrayBuffer.empty[Int]
  private var nextNewDay = HistoryDays
  private val ingestSeconds = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]

  /** Seeds the warehouse with HistoryDays generation dates through one
    * ingest, which also warms the write path, and writes the first drop.
    */
  def setup(): Unit = {
    work.mkdirs()
    pipe = new Pipeline(spark, warehouse.getPath, North)
    Trace.span("history")(ingest(historyFrame(), None))
    landed ++= 0 until HistoryDays
    writeDrop(HistoryDays)
  }

  /** One cycle: a new day's drop, two rounds of the four readers, a replay
    * of a day already delivered (this cycle's when none came before), two
    * rounds of readers again.
    */
  def next(): Seq[Op] = {
    val day = nextNewDay
    nextNewDay += 1
    if (!valid.contains(day)) writeDrop(day)
    val replayDay = if (deliveredDrops.isEmpty) day else deliveredDrops(rng.nextInt(deliveredDrops.size))
    (ingestOp(day, replay = false) +: (readOps() ++ readOps())) ++
      (ingestOp(replayDay, replay = true) +: (readOps() ++ readOps()))
  }

  /** `.nc` path to committed view and meta, visible to SQL readers. */
  private def ingestOp(day: Int, replay: Boolean): Op =
    Op(s"ingest_${if (replay) "replay" else "new"}", "ingest", () => {
      val t0 = System.nanoTime()
      val f = dropFile(day)
      ingest(Trace.span("sources.open")(spark.read.format("gridded").load(f.getPath)), Some(f))
      landed += day
      if (!replay) deliveredDrops += day
      ingestSeconds += ((day, replay, (System.nanoTime() - t0) / 1e9))
    })

  private def ingest(raw: DataFrame, file: Option[File]): Unit = {
    if (Trace.on) tracedIngest(raw, file) else pipe.ingest(raw)
    Trace.span("tableops.register")(pipe.registerSqlViews())
  }

  /** The body of [[Pipeline.ingest]], one span per stage. The load span
    * materializes the cached frame, so the scan is billed to `sources`.
    */
  private def tracedIngest(raw: DataFrame, file: Option[File]): Unit = {
    val loaded = Trace.span("icenet.load") {
      val l = Ingest.load(raw).cache()
      val rows = Trace.span("sources.read")(l.count())
      Trace.note("rows_offered", rows.toDouble)
      file.foreach { f =>
        Trace.note("input_bytes", f.length.toDouble)
        Trace.note("input_cells", NLead.toDouble * NY * NX)
      }
      l
    }
    try {
      Trace.span("icenet.geometries")(pipe.updateGeometries(loaded))
      Trace.span("icenet.forecasts")(pipe.updateForecasts(loaded))
      Trace.span("icenet.latest")(pipe.updateLatestIncremental(loaded))
      Trace.span("icenet.meta")(pipe.updateMeta(loaded))
    } finally loaded.unpersist()
  }

  private def newestDay: Int = landed.max

  /** Reader parameters are drawn when the cycle is queued; what the view
    * holds is looked up when the read runs, after the cycle's ingest.
    */
  private def readOps(): Seq[Op] = {
    val lead = 1 + rng.nextInt(NLead)
    val (cy, cx) = (rng.nextInt(NY), rng.nextInt(NX))
    val metaK = 1 + rng.nextInt(10)
    Seq(
      Op("read_latest_slice", "read", () => {
        val viewDay = newestDay
        val forDay = date(viewDay).plusDays(lead)
        val n = spark.sql(
          s"""SELECT cell_id, sea_ice_concentration_mean FROM north_forecast_latest
             |WHERE date_forecast_for = DATE'$forDay'""".stripMargin).collect().length
        expect("read_latest_slice", n.toLong, validCount(viewDay, Some(lead - 1)))
      }),
      Op("read_extent", "read", () => {
        val rows = spark.sql(
          """SELECT date_forecast_for, count(*) AS n,
            |  sum(CASE WHEN sea_ice_concentration_mean >= 0.15 THEN 1 ELSE 0 END) AS ext
            |FROM north_forecast_latest GROUP BY date_forecast_for""".stripMargin).collect()
        val viewDay = newestDay
        val got = rows.map(r => (r.getDate(0).toLocalDate, (r.getLong(1), r.getLong(2)))).toMap
        val want = (0 until NLead).map(l => date(viewDay).plusDays(l + 1L) ->
          (validCount(viewDay, Some(l)), validCount(viewDay, Some(l), atLeast = 2))).toMap
        if (got != want) throw new WrongOutput(s"read_extent: $got != $want")
      }),
      Op("read_cell_history", "read", () => {
        val n = spark.sql(
          s"""SELECT f.date_forecast_generated, f.date_forecast_for, f.sea_ice_concentration_mean
             |FROM north_forecast f JOIN north_cell c ON f.cell_id = c.cell_id
             |WHERE c.centroid_x = ${xm(cx)} AND c.centroid_y = ${ym(cy)}""".stripMargin)
          .collect().length
        val want = landed.toSeq.map(d => (0 until leadsOf(d)).count(l => isValid(d, l, cy, cx))).sum
        expect("read_cell_history", n.toLong, want.toLong)
      }),
      Op("read_meta", "read", () => {
        val rows = spark.sql(
          s"""SELECT date_forecast_generated, n_records FROM forecast_meta
             |ORDER BY date_forecast_generated DESC LIMIT $metaK""".stripMargin).collect()
        val got = rows.map(r => (r.getDate(0).toLocalDate, r.getLong(1))).toSeq
        val want = landed.toSeq.sorted.reverse.take(metaK).map(d => date(d) -> validCount(d, None))
        if (got != want) throw new WrongOutput(s"read_meta: $got != $want")
      }))
  }

  private def expect(what: String, got: Long, want: Long): Unit =
    if (got != want) throw new WrongOutput(s"$what returned $got rows, expected $want")

  override def checks(): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    val facts = graft.icenet.TableOps.read(spark, pipe.forecastPath)
    val want = landed.toSeq.map(validCount(_, None)).sum
    val got = facts.count()
    if (got != want) problems += s"fact rows $got, expected $want"
    val stored = graft.icenet.TableOps.read(spark, pipe.latestPath)
    val recomputed = pipe.latestView().select(stored.columns.map(col).toIndexedSeq: _*)
    if (stored.exceptAll(recomputed).count() + recomputed.exceptAll(stored).count() != 0)
      problems += "stored latest view differs from Pipeline.latestView()"
    val meta = graft.icenet.TableOps.read(spark, pipe.metaPath)
      .select("date_forecast_generated", "n_records").collect()
      .map(r => r.getDate(0).toLocalDate -> r.getLong(1)).toMap
    val wantMeta = landed.toSeq.map(d => date(d) -> validCount(d, None)).toMap
    if (meta != wantMeta) problems += s"forecast_meta n_records differ: ${
      (meta.toSet diff wantMeta.toSet).take(5)}"
    problems.toSeq
  }

  /** Figures only this workload has, for the detail line. */
  override def detail(): Seq[(String, Double, String)] = {
    val newOnes = ingestSeconds.filterNot(_._2)
    val fileBytes = Seq(new File(warehouse, "north_forecast"), new File(warehouse, "north_cell"),
      new File(warehouse, "north_forecast_latest"), new File(warehouse, "forecast_meta"))
      .map(treeBytes).sum
    val rows = landed.toSeq.map(validCount(_, None)).sum
    val newRows = newOnes.map(t => validCount(t._1, None)).sum
    Seq(
      ("ingest_rows_per_s", newRows / newOnes.map(_._3).sum, "rows/s"),
      ("warehouse_bytes_per_row", fileBytes.toDouble / rows, "B/row"),
      ("drops_new", newOnes.size.toDouble, "count"),
      ("drops_replayed", (ingestSeconds.size - newOnes.size).toDouble, "count"))
  }

  // ---- inputs ----------------------------------------------------------

  private def dropFile(day: Int) = new File(work, f"drop_$day%04d.nc")

  /** One generation day, NLead leadtimes on the NY x NX grid. */
  private def writeDrop(day: Int): Unit = {
    val r = new java.util.SplittableRandom(seed * 1000003L + day)
    val n = NLead * NY * NX
    val mean = new Array[Double](n)
    val sd = new Array[Double](n)
    val state = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val masked = r.nextDouble() < 0.1
      mean(i) = if (masked) Double.NaN else (r.nextInt(140) - 40) / 100.0
      sd(i) = r.nextInt(8) / 100.0
      state(i) = cellState(mean(i))
      i += 1
    }
    valid(day) = state
    NetcdfClassic.write(dropFile(day).getPath, Array(micros(day)),
      Array.tabulate(NLead)(_ + 1), axis(Y0, NY), axis(X0, NX), mean, sd,
      recordTime = true, floatData = true)
  }

  /** HistoryDays generation days, one leadtime each, on the drops' grid
    * (every drop of a hemisphere shares one grid, as the reference's do),
    * built from spark.range the way `graft.IngestScale` seeds warehouses.
    */
  private def historyFrame(): DataFrame = {
    val per = NY * NX
    val salt = Math.floorMod(seed, 1000003L)
    (0 until HistoryDays).foreach { d =>
      valid(d) = Array.tabulate(per)(i => cellState(historyMean(d.toLong * per + i, salt)))
    }
    spark.range(HistoryDays.toLong * per).select(
      timestamp_seconds(lit(Epoch.toEpochDay * 86400L) + (col("id") / per).cast("long") * 86400L)
        .as("time"),
      lit(1).as("leadtime"),
      (lit(Y0) + (col("id") / NX % NY).cast("int") * 25.0).as("yc"),
      (lit(X0) + (col("id") % NX).cast("int") * 25.0).as("xc"),
      ((pmod(col("id") * 7919L + salt, lit(140L)) - 40) / 100.0).as("sic_mean"),
      lit(0.01).as("sic_stddev"))
  }

  private def leadsOf(day: Int) = if (day < HistoryDays) 1 else NLead

  private def isValid(day: Int, l: Int, y: Int, x: Int): Boolean =
    valid(day)((l * NY + y) * NX + x) > 0

  private def validCount(day: Int, lead: Option[Int], atLeast: Int = 1): Long = {
    val per = NY * NX
    val v = valid(day)
    lead match {
      case Some(l) => (l * per until (l + 1) * per).count(v(_) >= atLeast).toLong
      case None => v.count(_ >= atLeast).toLong
    }
  }
}

object ForecastCycle {
  val NY = 50
  val NX = 50
  val NLead = 10
  val HistoryDays = 100

  private val Y0 = -537.5
  private val X0 = -262.5
  private val Epoch = LocalDate.of(2020, 1, 1)

  def date(day: Int): LocalDate = Epoch.plusDays(day.toLong)
  private def micros(day: Int): Long = date(day).toEpochDay * 86400L * 1000000L
  private def axis(origin: Double, n: Int) = Array.tabulate(n)(origin + 25.0 * _)
  private def xm(i: Int): Int = ((X0 + 25.0 * i) * 1000).toInt
  private def ym(j: Int): Int = ((Y0 + 25.0 * j) * 1000).toInt

  /** The history's mean at row `id` of its frame, as Spark computes it. */
  private def historyMean(id: Long, salt: Long): Double =
    (Math.floorMod(id * 7919L + salt, 140L) - 40) / 100.0

  /** Spark compares the stored float with 0.15 after widening it to double. */
  private def cellState(mean: Double): Byte =
    if (mean.isNaN || mean <= 0) 0 else if (mean.toFloat.toDouble >= 0.15) 2 else 1

  def treeBytes(f: File): Long =
    if (!f.exists) 0L
    else if (f.isFile) { if (f.getName.startsWith(".")) 0L else f.length }
    else Option(f.listFiles).toSeq.flatten.map(treeBytes).sum
}
