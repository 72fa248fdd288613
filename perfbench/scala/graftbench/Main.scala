package graftbench

import java.nio.file.{Path, Paths}

import graft.TopnFunctions

import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

/** One closed-loop operation and what is needed to judge it afterwards.
  * `check` runs after the clock stops and returns the reason an output is
  * wrong, if it is. */
final case class Step(kind: String, seconds: Double, items: Long,
    check: () => Option[String]) {
  /** Figures a workload records about the step besides its latency. */
  val extra = scala.collection.mutable.Map[String, Double]()
  var failure: Option[String] = None
  var trace: Option[StepTrace] = None
  def ok: Boolean = failure.isEmpty
}

trait Workload {
  /** One complete set-up from nothing: inputs, fixtures, warm-up. */
  def setup(): Unit
  /** The kind of the loop's `i`-th operation, fixed by the seed. */
  def kindOf(i: Int): String
  /** The loop's `i`-th operation. */
  def step(i: Int, tr: Tracer): Step
  /** Untimed measurements after a traced step, outside its trace. */
  def afterTracedStep(s: Step): Unit = ()
  /** Step kinds whose traces describe the workload's main operation. */
  def primaryKinds: Set[String]
  /** The end-to-end figures (all but `setup_s` and `ok_ratio`), computed
    * after the loop from checked steps; `report` carries every figure the
    * workload defines, under its own name. */
  def summary(steps: Seq[Step], wallS: Double): Summary
  /** Workload-specific per-layer figures, from traced steps. */
  def layers(traced: Seq[Step]): Map[String, (Double, String)]
  /** The sample of this workload's own item stream the core replay runs on:
    * (items, numCounters, sketches to split it into for the merge figure). */
  def coreSample(): (Array[UTF8String], Int, Int)
  def close(): Unit = ()
}

final case class Summary(opP50S: Double, itemsPerS: Double, recall: Double,
    report: Seq[(String, Double, String)])

object Main {

  val Workloads = Seq("sketch_build", "dashboard_live", "curation_batch")

  /** Every per-layer metric a traced run prints; a workload that has no
    * such layer reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "core.add_ns_per_item" -> "ns", "core.prunes" -> "count", "core.pack_ms" -> "ms",
    "core.serialize_bytes_per_state" -> "bytes", "core.serialize_ns_per_entry" -> "ns",
    "core.deserialize_ns_per_entry" -> "ns", "core.merge_ns_per_entry" -> "ns",
    "core.loss_bound" -> "count",
    "expressions.agg_task_s" -> "s", "expressions.partial_state_bytes" -> "bytes",
    "expressions.union_entries_per_query" -> "count",
    "TopnFunctions.sql_plan_ms" -> "ms",
    "operators.sliding_union_s" -> "s",
    "streaming.add_batch_ms" -> "ms", "streaming.trigger_ms" -> "ms",
    "streaming.committed_rollup_ms" -> "ms", "streaming.live_data_dirs" -> "count",
    "streaming.read_amplification" -> "ratio",
    "sources.input_bytes" -> "bytes", "sources.input_records" -> "count",
    "sources.output_bytes" -> "bytes", "sources.files_written" -> "count",
    "pipeline.exactGroups.build_s" -> "s", "pipeline.minhashLshPairs.build_s" -> "s",
    "pipeline.connectedComponents.build_s" -> "s", "pipeline.gopherFilter.build_s" -> "s",
    "pipeline.report.build_s" -> "s", "pipeline.dup_pairs" -> "count",
    "spark.plan.build_s" -> "s", "spark.plan.build_jobs" -> "count",
    "spark.plan.exchanges" -> "count",
    "spark.exec.jobs" -> "count", "spark.exec.stages" -> "count", "spark.exec.tasks" -> "count",
    "spark.exec.task_s" -> "s", "spark.exec.cpu_s" -> "s", "spark.exec.gc_s" -> "s",
    "spark.exec.core_busy_ratio" -> "ratio", "spark.exec.driver_gap_s" -> "s",
    "spark.shuffle.write_bytes" -> "bytes", "spark.shuffle.read_bytes" -> "bytes",
    "spark.shuffle.fetch_wait_s" -> "s", "spark.shuffle.spill_bytes" -> "bytes",
    "jvm.heap_peak_mb" -> "MB",
    "self.bench_s" -> "s", "self.sources_s" -> "s", "self.expressions_s" -> "s",
    "self.TopnFunctions_s" -> "s", "self.operators_s" -> "s", "self.streaming_s" -> "s",
    "self.pipeline_s" -> "s", "self.spark_s" -> "s",
    "trace.overhead_ratio" -> "ratio")

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = Paths.get(need("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    TopnFunctions.register(spark)

    val data = work.resolve(workload)
    val wl: Workload = workload match {
      case "sketch_build" => new SketchBuild(spark, data, seed, cores)
      case "dashboard_live" => new DashboardLive(spark, data, seed)
      case "curation_batch" => new CurationBatch(spark, data, seed, cores)
    }
    try {
      val out = run(spark, wl, seconds, trace, cores, Paths.get(need("trace-out")))
      out.foreach(println)
    } finally {
      wl.close()
      spark.stop()
    }
  }

  private def run(spark: SparkSession, wl: Workload, seconds: Double, trace: Boolean,
      cores: Int, traceOut: Path): Seq[String] = {
    // one set-up per run, in a fresh JVM: it carries the JIT and codegen
    // warm-up, which a second set-up in the same JVM would not repeat
    val setupT0 = System.nanoTime
    wl.setup()
    val setupS = (System.nanoTime - setupT0) / 1e9
    val core = if (trace) {
      val (items, n, parts) = wl.coreSample()
      CoreReplay.run(items, n, parts)
    } else Map.empty[String, (Double, String)]

    val tr = new Tracer(spark, cores)
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    pools.forEach(_.resetPeakUsage())
    val steps = scala.collection.mutable.ArrayBuffer[Step]()
    // a traced run traces every other step of each kind; the untraced
    // ones give the overhead's base
    val seen = scala.collection.mutable.Map[String, Int]().withDefaultValue(0)
    val t0 = System.nanoTime
    def elapsed = (System.nanoTime - t0) / 1e9
    while (elapsed < seconds) {
      val i = steps.length
      val traced = trace && seen(wl.kindOf(i)) % 2 == 0
      seen(wl.kindOf(i)) += 1
      if (traced) tr.beginStep(s"step$i")
      val st0 = System.nanoTime
      val s = try wl.step(i, tr) catch {
        case e: Exception =>
          val failed = Step(wl.kindOf(i), (System.nanoTime - st0) / 1e9, 0L, () => None)
          failed.failure = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
          failed
      }
      if (traced) {
        s.trace = Some(tr.endStep())
        wl.afterTracedStep(s)
      }
      steps += s
    }
    val wallS = elapsed
    import scala.jdk.CollectionConverters._
    val heapPeakMb = pools.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

    steps.foreach { s =>
      if (s.ok) s.failure = try s.check() catch {
        case e: Exception => Some(s"check threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    val failed = steps.count(!_.ok)
    val sum = wl.summary(steps.toSeq, wallS)
    val report = Seq(("setup_s", setupS, "s"),
      ("fail_ratio", failed.toDouble / steps.length, "ratio")) ++ sum.report
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    lines += "report " + report.map { case (k, v, u) => s"$k=${show(v)} $u" }.mkString(", ")
    lines += steps.map(s => s"${s.kind}:${fmt(s.seconds)}").mkString("steps ", " ", "")
    steps.filter(!_.ok).take(5).foreach(s => lines += s"failed ${s.kind}: ${s.failure.get}")

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("ok_ratio", 1.0 - failed.toDouble / steps.length, "ratio"),
        ("op_p50_s", sum.opP50S, "s"),
        ("items_per_s", sum.itemsPerS, "1/s"),
        ("recall", sum.recall, "ratio"))
      else {
        val traced = steps.toSeq.filter(s => s.trace.isDefined && s.ok)
        val main = traced.filter(s => wl.primaryKinds(s.kind))
        // traced over untraced latency, kind by kind so the mix cannot
        // bias it; 0 when no kind ran both ways (one long step per run)
        val ratios = steps.toSeq.filter(s => s.ok && wl.primaryKinds(s.kind)).groupBy(_.kind)
          .values.map(_.partition(_.trace.isDefined)).collect {
            case (t, u) if t.nonEmpty && u.nonEmpty =>
              Stats.median(t.map(_.seconds)) / Stats.median(u.map(_.seconds))
          }.toSeq
        val overhead = if (ratios.isEmpty) 0.0 else Stats.median(ratios)
        val got = core ++ generic(main) ++ wl.layers(traced) ++ Map(
          "jvm.heap_peak_mb" -> (heapPeakMb, "MB"),
          "trace.overhead_ratio" -> (overhead, "ratio"))
        val unknown = got.keySet -- PerLayer.map(_._1)
        require(unknown.isEmpty, s"per-layer metrics missing from the list: $unknown")
        PerLayer.map { case (k, u) => (k, got.get(k).map(_._1).getOrElse(0.0), u) }
      }
    if (trace) tr.dump(traceOut)
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ")
    lines += s"""{"correct": ${failed == 0}, "attempted": ${steps.length}, "failed": $failed, "metrics": {$body}}"""
    lines.toSeq
  }

  /** Host-engine and per-layer figures every workload has, as a mean per
    * traced step of the workload's main operation. */
  private def generic(steps: Seq[Step]): Map[String, (Double, String)] = {
    val ts = steps.flatMap(_.trace)
    def m(f: StepTrace => Double) = Stats.mean(ts.map(f))
    val selfs = Seq("bench", "sources", "expressions", "TopnFunctions", "operators",
      "streaming", "pipeline", "spark")
    Map(
      "expressions.agg_task_s" -> (m(_.aggTaskS), "s"),
      "sources.input_bytes" -> (m(_.inputBytes.toDouble), "bytes"),
      "sources.input_records" -> (m(_.inputRecords.toDouble), "count"),
      "spark.plan.build_s" -> (m(_.buildS), "s"),
      "spark.plan.build_jobs" -> (m(_.buildJobs.toDouble), "count"),
      "spark.plan.exchanges" -> (m(_.exchanges.toDouble), "count"),
      "spark.exec.jobs" -> (m(_.jobs.toDouble), "count"),
      "spark.exec.stages" -> (m(_.stages.toDouble), "count"),
      "spark.exec.tasks" -> (m(_.tasks.toDouble), "count"),
      "spark.exec.task_s" -> (m(_.taskS), "s"),
      "spark.exec.cpu_s" -> (m(_.cpuS), "s"),
      "spark.exec.gc_s" -> (m(_.gcS), "s"),
      "spark.exec.core_busy_ratio" -> (m(_.coreBusy), "ratio"),
      "spark.exec.driver_gap_s" -> (m(_.driverGapS), "s"),
      "spark.shuffle.write_bytes" -> (m(_.shuffleWrite.toDouble), "bytes"),
      "spark.shuffle.read_bytes" -> (m(_.shuffleRead.toDouble), "bytes"),
      "spark.shuffle.fetch_wait_s" -> (m(_.fetchWaitS), "s"),
      "spark.shuffle.spill_bytes" -> (m(_.spill.toDouble), "bytes")) ++
      selfs.map(l => s"self.${l}_s" -> (m(_.selfS.getOrElse(l, 0.0)), "s"))
  }

  /** Every digit as measured; a value that is not finite (all ops of its
    * kind failed) prints as a large sentinel so the JSON stays valid. */
  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "1e9" else java.math.BigDecimal.valueOf(v).toPlainString

  /** A report-line figure; one the run could not measure prints as n/a. */
  private def show(v: Double): String = if (v.isNaN) "n/a" else fmt(v)
}
