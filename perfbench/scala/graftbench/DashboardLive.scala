package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.TopnFunctions
import graft.operators.Rollups
import graft.streaming.TopnStreaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * `dashboard_live`: the reference's headline use, many short reads of a
 * per-(day, group) rollup that a stream keeps current. The rollup is
 * maintained by `TopnStreaming.maintainRollup` over a file-source stream of
 * raw events; every read goes through `TopnStreaming.committedRollup`.
 *
 * The loop is one client. A fixed rotation mixes five read shapes (a day
 * range through the DataFrame API, the same per group, a 7-day sliding
 * union over every day, the union of two single days, and the range again
 * as SQL text through the registered functions) with periodic appends: one
 * new day plus late events for the day before is dropped into the source
 * directory, `processAllAvailable` waits for its commit, and a range read
 * through the fresh rollup follows.
 */
final class DashboardLive(spark: SparkSession, dir: Path, seed: Long) extends Workload {
  import DashboardLive._

  private val src = dir.resolve("events")
  private val staging = dir.resolve("staging")
  private val rollupPath = dir.resolve("rollup").toString
  private var query: StreamingQuery = _
  /** Exact event counts: day -> group -> item rank -> count, for a day's
    * own file and for its late events, which arrive with the next day. */
  private val counts = ArrayBuffer[Array[Array[Int]]]()
  private val lateCounts = scala.collection.mutable.Map[Int, Array[Array[Int]]]()
  private var rng: java.util.Random = _
  private val recalls = ArrayBuffer[Double]()
  /** The days whose sketches each read step unions. */
  private val readDays = new java.util.IdentityHashMap[Step, Seq[Int]]()
  /** Sketch entries per day in the committed rollup, and the commit they
    * were counted at; traced runs only. */
  private var entriesPerDay: Map[String, Long] = Map.empty
  private var entriesAt = -1L

  private val day0 = java.time.LocalDate.of(2024, 1, 1)
  private def day(d: Int): String = day0.plusDays(d).toString

  /** Events for one day, `n` of them, drawn from the seeded generator. A
    * stable heavy-tailed popularity, with part of each day's traffic on
    * items that drift from day to day. */
  private def events(d: Int, n: Int, late: Boolean = false): String = {
    while (counts.length <= d) counts += Array.fill(Groups)(new Array[Int](Distinct))
    val into = if (late) lateCounts.getOrElseUpdate(d, Array.fill(Groups)(new Array[Int](Distinct)))
      else counts(d)
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      val g = rng.nextInt(Groups)
      val rank = math.exp(rng.nextDouble() * math.log(Distinct.toDouble)).toInt - 1
      val item = if (rng.nextDouble() < 0.7) rank else (rank + d * 101) % Distinct
      into(g)(item) += 1
      sb.append(day(d)).append(",g").append(g).append(",i").append(item).append('\n')
      i += 1
    }
    sb.toString
  }

  /** Drop one file into the stream's source directory, atomically. */
  private def drop(name: String, body: String): Unit = {
    val tmp = staging.resolve(name)
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, src.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  private var nextDay = 0

  def setup(): Unit = {
    Files.createDirectories(src)
    Files.createDirectories(staging)
    rng = new java.util.Random(seed)
    (0 until InitialDays).foreach(d => drop(s"day-$d.csv", events(d, EventsPerDay)))
    nextDay = InitialDays
    val schema = StructType(Seq("day", "grp", "item").map(StructField(_, StringType)))
    val stream = spark.readStream.schema(schema).csv(src.toString)
    query = TopnStreaming.maintainRollup(stream, rollupPath, col("day"), "grp", col("item"),
      NumCounters, Some(dir.resolve("checkpoint").toString))
    query.processAllAvailable()
    // warm-up: every read shape and one append
    val off = new Tracer(spark, 1)
    Cycle.distinct.foreach(stepOf(_, off))
  }

  override def close(): Unit = if (query != null) {
    query.stop()
    query = null
  }

  def kindOf(i: Int): String = Cycle(i % Cycle.length)

  def step(i: Int, tr: Tracer): Step = stepOf(kindOf(i), tr)

  private def rollup(tr: Tracer): DataFrame =
    tr.span("streaming.committedRollup", "streaming", Build)(
      TopnStreaming.committedRollup(spark, rollupPath))

  private def topOf(r: Row, i: Int): Seq[(String, Long)] =
    r.getSeq[Row](i).map(e => (e.getString(0), e.getLong(1)))

  /** A day range [a, b] within the committed days, of 1 to 30 days. */
  private def range(): (Int, Int) = {
    val len = 1 + rng.nextInt(math.min(30, nextDay))
    val a = rng.nextInt(nextDay - len + 1)
    (a, a + len - 1)
  }

  private def stepOf(kind: String, tr: Tracer): Step = kind match {
    case "range" =>
      val (a, b) = range()
      val asOf = nextDay
      timed(kind, a to b) {
        val q = tr.span("expressions.topn_union_agg", "expressions", Build)(
          rollup(tr).filter(col("period").between(day(a), day(b)))
            .agg(TopnFunctions.topn(TopnFunctions.topn_union_agg(col("sketch"), NumCounters),
              lit(K)).as("top")))
        val rows = tr.span("spark.collect", "spark", Action)(q.collect())
        () => checkTop(topOf(rows.head, 0), a to b, None, asOf)
      }
    case "group" =>
      val (a, b) = range()
      val asOf = nextDay
      timed(kind, a to b) {
        val q = tr.span("expressions.topn_union_agg", "expressions", Build)(
          rollup(tr).filter(col("period").between(day(a), day(b))).groupBy("grp")
            .agg(TopnFunctions.topn(TopnFunctions.topn_union_agg(col("sketch"), NumCounters),
              lit(K)).as("top")))
        val rows = tr.span("spark.collect", "spark", Action)(q.collect())
        () => {
          val errs = rows.flatMap(r => checkTop(topOf(r, 1), a to b, Some(r.getString(0)), asOf))
          if (rows.length != Groups) Some(s"${rows.length} groups, want $Groups") else errs.headOption
        }
      }
    case "sliding" =>
      // every day is a frame target and sends its sketches to `Frame` of them
      timed(kind, (0 until nextDay).flatMap(d => Seq.fill(math.min(Frame, nextDay - d))(d))) {
        val q = tr.span("operators.slidingUnion", "operators", Build)(
          Rollups.slidingUnion(rollup(tr).select("period", "sketch"), "period", "sketch",
            Frame, NumCounters).select(col("period"), TopnFunctions.topn(col("sketch"), lit(K))))
        val rows = tr.span("spark.collect", "spark", Action)(q.collect())
        val days = nextDay
        () => {
          val errs = rows.flatMap { r =>
            val b = (java.time.LocalDate.parse(r.getString(0)).toEpochDay - day0.toEpochDay).toInt
            checkTop(topOf(r, 1), math.max(0, b - Frame + 1) to b, None, days)
          }
          if (rows.length != days) Some(s"${rows.length} sliding targets, want $days")
          else errs.headOption
        }
      }
    case "pair" =>
      val d1 = rng.nextInt(nextDay)
      val d2 = rng.nextInt(nextDay)
      val asOf = nextDay
      timed(kind, Seq(d1, d2)) {
        val q = tr.span("expressions.topn_union", "expressions", Build) {
          val r = rollup(tr)
          def one(d: Int, as: String) = r.filter(col("period") === day(d))
            .agg(TopnFunctions.topn_union_agg(col("sketch"), NumCounters).as(as))
          one(d1, "a").crossJoin(one(d2, "b"))
            .select(TopnFunctions.topn(TopnFunctions.topn_union(col("a"), col("b")), lit(K)))
        }
        val rows = tr.span("spark.collect", "spark", Action)(q.collect())
        () => checkTop(topOf(rows.head, 0), Seq(d1, d2), None, asOf)
      }
    case "sql" =>
      val (a, b) = range()
      val asOf = nextDay
      timed(kind, a to b) {
        val q = tr.span("TopnFunctions.sql", "TopnFunctions", Build) {
          rollup(tr).createOrReplaceTempView("rollup")
          spark.sql(s"SELECT topn(topn_union_agg(sketch), $K) AS top FROM rollup " +
            s"WHERE period BETWEEN '${day(a)}' AND '${day(b)}'")
        }
        val rows = tr.span("spark.collect", "spark", Action)(q.collect())
        () => checkTop(topOf(rows.head, 0), a to b, None, asOf)
      }
    case "commit" =>
      val d = nextDay
      val body = events(d, EventsPerDay) + events(d - 1, LateEvents, late = true)
      nextDay += 1
      val t0 = System.nanoTime
      tr.span("streaming.processAllAvailable", "streaming", Action) {
        drop(s"day-$d.csv", body)
        query.processAllAvailable()
      }
      val commitS = (System.nanoTime - t0) / 1e9
      val a = math.max(0, d - Frame + 1)
      val r0 = System.nanoTime
      val q = tr.span("expressions.topn_union_agg", "expressions", Build)(
        rollup(tr).filter(col("period").between(day(a), day(d)))
          .agg(TopnFunctions.topn(TopnFunctions.topn_union_agg(col("sketch"), NumCounters),
            lit(K)).as("top")))
      val rows = tr.span("spark.collect", "spark", Action)(q.collect())
      val asOf = nextDay
      val s = Step("commit", commitS, 1, () => checkTop(topOf(rows.head, 0), a to d, None, asOf))
      s.extra("read_after_commit_s") = (System.nanoTime - r0) / 1e9
      s
  }

  /** Time one read; `days` are the days whose sketches it unions. */
  private def timed(kind: String, days: Seq[Int])(body: => () => Option[String]): Step = {
    val t0 = System.nanoTime
    val check = body
    val s = Step(kind, (System.nanoTime - t0) / 1e9, 1, check)
    readDays.put(s, days)
    s
  }

  /** Exact counts over `days` (one group, or all) as a reader saw them
    * when `asOf` days were committed: a day's late events are in from the
    * next day's commit on. */
  private def exactOf(days: Seq[Int], g: Option[String], asOf: Int): Map[String, Long] = {
    val acc = new Array[Long](Distinct)
    val groups = g.map(x => Seq(x.stripPrefix("g").toInt)).getOrElse(0 until Groups)
    def add(c: Array[Int]): Unit = {
      var i = 0
      while (i < Distinct) { acc(i) += c(i); i += 1 }
    }
    days.foreach(d => groups.foreach { gi =>
      add(counts(d)(gi))
      if (d + 1 < asOf) lateCounts.get(d).foreach(l => add(l(gi)))
    })
    // the top of the exact counts, deep enough to bound any reported item
    acc.zipWithIndex.sortBy(-_._1).take(ExactDepth).map { case (c, i) => s"i$i" -> c }.toMap
  }

  private def checkTop(top: Seq[(String, Long)], days: Seq[Int], g: Option[String],
      asOf: Int): Option[String] = {
    val ex = exactOf(days, g, asOf)
    val floor = ex.values.min
    top.find { case (it, f) => f > ex.getOrElse(it, floor) }.map { case (it, f) =>
      s"item $it reported $f over days ${days.head}..${days.last}, more than its exact count"
    }.orElse {
      val r = Stats.recallAtK(top.map(_._1), ex, K)
      recalls += r
      if (r < MinRecall) Some(s"top-$K recall $r below $MinRecall") else None
    }
  }

  def primaryKinds: Set[String] = Cycle.toSet - "commit"

  def summary(steps: Seq[Step], wallS: Double): Summary = {
    val reads = steps.filter(s => primaryKinds(s.kind))
    val commits = steps.filter(_.kind == "commit")
    val lat = Stats.latencies(reads)
    val qps = (reads.count(_.ok) + commits.count(_.ok)) / wallS
    val commitLat = Stats.latencies(commits)
    val rac = commits.map(s => if (s.ok) s.extra("read_after_commit_s") else Double.PositiveInfinity)
    // the whole committed rollup against every event appended
    val all = TopnStreaming.committedRollup(spark, rollupPath)
      .agg(TopnFunctions.topn(TopnFunctions.topn_union_agg(col("sketch"), NumCounters), lit(K)))
      .collect()
    val rollupRecall = Stats.recallAtK(topOf(all.head, 0).map(_._1),
      exactOf(0 until nextDay, None, nextDay), K)
    val tail = Stats.tail(lat)
    Summary(Stats.median(lat), qps, rollupRecall, Seq(
      ("query_p50_s", Stats.median(lat), "s"),
      ("query_tail_s", tail.map(_._1).getOrElse(Double.NaN), "s"),
      ("query_tail_percentile", tail.map(_._2).getOrElse(Double.NaN), "%"),
      ("query_tail_samples", lat.length.toDouble, "count"),
      ("queries_per_s", qps, "1/s"),
      ("commit_p50_s", if (commitLat.isEmpty) Double.NaN else Stats.median(commitLat), "s"),
      ("read_after_commit_p50_s", if (rac.isEmpty) Double.NaN else Stats.median(rac), "s"),
      ("commits", commits.length.toDouble, "count"),
      ("query_recall_mean", Stats.mean(recalls.toSeq), "ratio"),
      ("rollup_recall", rollupRecall, "ratio")))
  }

  override def afterTracedStep(s: Step): Unit = {
    val version = TopnStreaming.committedVersion(spark, rollupPath).getOrElse(-1L)
    if (version != entriesAt) {
      entriesPerDay = TopnStreaming.committedRollup(spark, rollupPath)
        .groupBy("period").agg(sum(size(col("sketch"))).cast("long")).collect()
        .map(x => x.getString(0) -> x.getLong(1)).toMap
      entriesAt = version
    }
    Option(readDays.get(s)).foreach(ds => s.extra("entries") = ds.map(d => entriesPerDay(day(d))).sum)
    if (s.kind == "commit") {
      val data = new java.io.File(rollupPath, "data")
      val dirs = data.listFiles().filter(_.isDirectory)
      s.extra("live_data_dirs") = dirs.length
      val stored = spark.read.parquet(dirs.map(_.toString): _*).count()
      val live = TopnStreaming.committedRollup(spark, rollupPath).count()
      s.extra("read_amplification") = stored.toDouble / live
      val newest = dirs.maxBy(_.getName.stripPrefix("b=").toLong)
      s.extra("files_written") = newest.listFiles().count(_.getName.endsWith(".parquet"))
    }
  }

  def layers(traced: Seq[Step]): Map[String, (Double, String)] = {
    def of(kinds: String*) = traced.filter(s => kinds.contains(s.kind))
    val reads = traced.filter(s => primaryKinds(s.kind))
    val commits = of("commit")
    def mean(ss: Seq[Step])(f: Step => Double) = Stats.mean(ss.map(f))
    val tr = (s: Step) => s.trace.get
    Map(
      "expressions.partial_state_bytes" -> (mean(reads)(tr(_).shuffleWrite.toDouble), "bytes"),
      "expressions.union_entries_per_query" -> (mean(reads)(_.extra.getOrElse("entries", 0.0)), "count"),
      "TopnFunctions.sql_plan_ms" -> (mean(of("sql"))(tr(_).sqlPlanMs.toDouble), "ms"),
      "operators.sliding_union_s" -> (mean(of("sliding"))(_.seconds), "s"),
      "streaming.add_batch_ms" -> (mean(commits)(s => tr(s).addBatchMs.toDouble), "ms"),
      "streaming.trigger_ms" -> (mean(commits)(s => tr(s).triggerMs.toDouble), "ms"),
      "streaming.committed_rollup_ms" -> (mean(traced)(s =>
        tr(s).spanS.getOrElse("streaming.committedRollup", 0.0) * 1e3), "ms"),
      "streaming.live_data_dirs" -> (mean(commits)(_.extra("live_data_dirs")), "count"),
      "streaming.read_amplification" -> (mean(commits)(_.extra("read_amplification")), "ratio"),
      "sources.output_bytes" -> (mean(commits)(tr(_).outputBytes.toDouble), "bytes"),
      "sources.files_written" -> (mean(commits)(_.extra("files_written")), "count"))
  }

  def coreSample(): (Array[UTF8String], Int, Int) = {
    // the item column of the source files, in the order the stream read them
    val items = (0 until nextDay).iterator.flatMap { d =>
      Files.readAllLines(src.resolve(s"day-$d.csv")).iterator().asScala
    }.take(CoreSampleRows).map(l => UTF8String.fromString(l.substring(l.lastIndexOf(',') + 1)))
      .toArray
    // one sketch per (day, group), as the rollup holds them
    (items, NumCounters, items.length / (EventsPerDay / Groups))
  }
}

object DashboardLive {
  val Groups = 4
  val Distinct = 10000
  val EventsPerDay = 10000
  val LateEvents = 1000
  val InitialDays = 30
  val NumCounters = 1000
  val K = 10
  val Frame = 7
  val ExactDepth = 50
  val MinRecall = 0.8
  /** The loop's fixed rotation of read shapes and appends, so that every
    * seed runs the same mix; the seed picks the days each read covers. */
  val Cycle = Seq("range", "sliding", "group", "commit", "sql", "pair", "range", "group")
  val CoreSampleRows = 200000
}
