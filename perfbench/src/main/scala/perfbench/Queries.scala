package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkEntry, Tables}

/** The heaviest catalogue query of eight families built beyond the
  * reference, where executor CPU, shuffle and the operators' job chains
  * decide the time. Set-up builds the memoized artifact the pool reads, then
  * runs every query once in name order, checking its row count and
  * fingerprint against the committed expected file. Each step is one pass
  * over the pool in an order drawn from the seed, so every run times the
  * same queries.
  */
final class OpsHeavy(
    spark: SparkSession, dataDir: String, expected: Map[String, (Long, String)], seed: Long)
    extends Workload {
  import Queries.Pool

  private val rng = new scala.util.Random(seed)
  /** Queries whose set-up output differed from the expected file; every
    * pass runs each of them, and those runs count as failed.
    */
  private val mismatches = mutable.LinkedHashMap.empty[String, String]

  def setup(): Unit = {
    Queries.buildMemo(spark, dataDir)
    Pool.sorted.foreach { name =>
      val got = Trace.span(s"check:$name")(Queries.fingerprint(Queries.build(spark, dataDir, name)))
      if (!expected.get(name).contains(got))
        mismatches(name) = s"got ${got._1} rows ${got._2}, expected ${expected.get(name)}"
    }
  }

  def next(): Seq[Op] = rng.shuffle(Pool).map { name =>
    Op(name, "query", () => {
      val df = Trace.span("entry.build")(Queries.build(spark, dataDir, name))
      Trace.span("exec")(df.write.format("noop").mode("overwrite").save())
      mismatches.get(name).foreach(m => throw new WrongOutput(m))
    })
  }
}

object Queries {
  /** The heaviest query of each family, by its sf0.1 seconds in the
    * committed `BENCH_DETAIL.json`, for the eight families with the most
    * operator code. Text, retrieval, feat, link and events are left out:
    * a set-up pass and a timed pass over more queries would not fit a run's
    * time budget.
    */
  val Pool: Seq[String] = Seq(
    "dedup_prefix_filter", "sim_topk_ivfpq", "graph_hits", "hier_distinct_rollup",
    "assoc_basket_pairs", "stat_bootstrap_diff", "sketch_sample_quantile", "eval_feature_auc")

  val Families: Seq[String] = Pool.map(family)

  def family(name: String): String = name.takeWhile(_ != '_')

  def build(spark: SparkSession, dir: String, name: String): DataFrame =
    SparkEntry.queries(name)(spark, dir)

  /** Builds the one memoized artifact the pool reads, the interaction
    * graph, and forces the edges `graph_hits` reads.
    */
  def buildMemo(spark: SparkSession, dir: String): Unit = Trace.span("memo.graph") {
    graft.ops.Graph.interactionGraphFor(dir, Tables.lineitem(spark, dir))
      .edges.write.format("noop").mode("overwrite").save()
  }

  /** Row count and an order-insensitive hash of the rows. Floating values
    * are rounded to six decimals first, since the order in which partial
    * sums meet after a shuffle moves their last bits.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => round(c.cast(DoubleType), 6)
      case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 6))
      case _: MapType | _: StructType | _: ArrayType => to_json(c)
      case _ => c
    }
    val h = xxhash64(d.schema.fields.toIndexedSeq.map(f => norm(col(f.name), f.dataType)): _*)
    val r = d.select(h.as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(1000000007L))), bit_xor(col("h")))
      .head()
    val n = r.getLong(0)
    (n, if (n == 0) "empty" else s"${r.getLong(1)}:${r.getLong(2)}")
  }

  def readExpected(path: String): Map[String, (Long, String)] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filterNot(_.startsWith("#")).map(_.split('\t')).collect {
      case Array(name, rows, fp) => name -> (rows.toLong, fp)
    }.toMap
    finally src.close()
  }
}

/** Writes the expected row count and fingerprint of each pool query, and
  * prints its seconds: `java -cp <classpath> perfbench.RecordExpected <dataDir> <out.tsv>`.
  */
object RecordExpected {
  def main(args: Array[String]): Unit = {
    val Array(dir, out) = args
    val spark = Main.session()
    Queries.buildMemo(spark, dir)
    val lines = Queries.Pool.map { name =>
      val (n, fp) = Queries.fingerprint(Queries.build(spark, dir, name))
      val secs = (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        Queries.build(spark, dir, name).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      System.err.println(f"$name%-32s ${secs.min}%.3f")
      s"$name\t$n\t$fp"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      ("# name\trows\tfingerprint\n" + lines.mkString("\n") + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
