package graftbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.TopnFunctions

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/**
 * `sketch_build`: one long aggregate query per operation. A heavy-tailed
 * item stream (log-uniform item ranks, so a few items are very frequent and
 * most are rare) is stored as parquet; each operation reads it, builds one
 * sketch per group with `topn_add_agg` and reports `topn(k)` per group.
 * Every group sees far more distinct items than three times the counter
 * budget, so the policy-B eviction runs in every group.
 */
final class SketchBuild(spark: SparkSession, dir: Path, seed: Long, cores: Int) extends Workload {
  import SketchBuild._

  private val path = dir.resolve("items.parquet").toString
  /** group -> exact count of its `ExactDepth` most frequent items. */
  private var exact: Map[Int, Map[String, Long]] = Map.empty
  private val recalls = ArrayBuffer[Double]()

  def setup(): Unit = {
    import spark.implicits._
    val s = seed
    spark.range(0, Parts, 1, Parts).as[Long].flatMap(p => SketchBuild.rows(s, p.toInt))
      .toDF("g", "item").write.parquet(path)
    // the exact answer, from the same generator, without Spark
    val counts = Array.fill(Groups)(new java.util.HashMap[String, java.lang.Long]())
    (0 until Parts).foreach(p => rows(seed, p).foreach { case (g, it) =>
      counts(g).merge(it, 1L, (a: java.lang.Long, b: java.lang.Long) => a + b)
    })
    exact = counts.indices.map { g =>
      g -> counts(g).asScala.toSeq.map { case (it, c) => (it, c.longValue) }
        .sortBy { case (it, c) => (-c, it) }.take(ExactDepth).toMap
    }.toMap
    // warm-up: the JIT and the codegen cache see the operation once
    step(-1, new Tracer(spark, cores))
  }

  def kindOf(i: Int): String = "build"

  def step(i: Int, tr: Tracer): Step = {
    val t0 = System.nanoTime
    val df = tr.span("sources.read_parquet", "sources", Build)(spark.read.parquet(path))
    val agg = tr.span("expressions.topn_add_agg", "expressions", Build)(
      df.groupBy("g").agg(TopnFunctions.topn_add_agg(col("item"), NumCounters).as("sketch")))
    val q = tr.span("expressions.topn", "expressions", Build)(
      agg.select(col("g"), TopnFunctions.topn(col("sketch"), lit(K)).as("top")))
    val rows = tr.span("spark.collect", "spark", Action)(q.collect())
    val secs = (System.nanoTime - t0) / 1e9
    Step("build", secs, Rows, () => check(rows))
  }

  private def check(rows: Array[Row]): Option[String] = {
    if (rows.length != Groups) return Some(s"${rows.length} groups reported, want $Groups")
    val perGroup = rows.map { r =>
      val g = r.getInt(0)
      val top = r.getSeq[Row](1).map(e => (e.getString(0), e.getLong(1)))
      val ex = exact(g)
      val floor = ex.values.min
      // the sketch only ever undercounts
      top.find { case (it, f) => f > ex.getOrElse(it, floor) }.foreach { case (it, f) =>
        return Some(s"group $g item $it reported $f, more than its exact count")
      }
      Stats.recallAtK(top.map(_._1), ex, K)
    }
    recalls += Stats.mean(perGroup.toSeq)
    perGroup.find(_ < MinRecall).map(r => s"top-$K recall $r below $MinRecall")
  }

  def primaryKinds: Set[String] = Set("build")

  def summary(steps: Seq[Step], wallS: Double): Summary = {
    val lat = Stats.latencies(steps)
    val rowsPerS = steps.filter(_.ok).map(_.items).sum / wallS
    val recall = if (recalls.isEmpty) 0.0 else Stats.mean(recalls.toSeq)
    Summary(Stats.median(lat), rowsPerS, recall, Seq(
      ("build_p50_s", Stats.median(lat), "s"),
      ("build_rows_per_s", rowsPerS, "1/s"),
      ("topk_recall", recall, "ratio")))
  }

  def layers(traced: Seq[Step]): Map[String, (Double, String)] = Map(
    "expressions.partial_state_bytes" ->
      (Stats.mean(traced.flatMap(_.trace).map(_.shuffleWrite.toDouble)), "bytes"))

  def coreSample(): (Array[UTF8String], Int, Int) = {
    val items = spark.read.parquet(path).select("item").limit(CoreSampleRows).collect()
      .map(r => UTF8String.fromString(r.getString(0)))
    (items, NumCounters, 8)
  }
}

object SketchBuild {
  /** The stream is written as `Parts` files of `RowsPerPart` rows each. */
  val Parts = 4
  val RowsPerPart = 200000
  val Rows: Long = Parts.toLong * RowsPerPart
  val Distinct = 200000
  val Groups = 32
  val NumCounters = 1000
  val K = 10
  /** Exact counts kept per group for the checks: enough to bound any
    * reported item's true count. */
  val ExactDepth = 50
  /** A group whose top-k recall falls below this counts as a wrong output. */
  val MinRecall = 0.8
  val CoreSampleRows = 200000

  /** Partition `p` of the stream: (group, item) pairs from its own seeded
    * generator, item ranks log-uniform. A group's popular items differ from
    * another group's. */
  def rows(seed: Long, p: Int): Iterator[(Int, String)] = {
    val r = new java.util.Random(seed * 7919 + p)
    Iterator.fill(RowsPerPart) {
      val g = r.nextInt(Groups)
      val rank = math.exp(r.nextDouble() * math.log(Distinct.toDouble)).toLong
      (g, "it" + ((rank + g * 7919L) % Distinct))
    }
  }
}
