package graftbench

import graft.core.TopnState

import org.apache.spark.unsafe.types.UTF8String

/**
 * Drives `graft.core.TopnState` directly, single-threaded, on a fixed
 * sample of a workload's own item stream, so the per-item and per-entry
 * costs carry no Spark overhead. Each figure is the median of `reps`
 * repetitions.
 */
object CoreReplay {

  /** `items` is the sample in stream order; `parts` splits it into that
    * many consecutive sketches for the merge figure, as a rollup would. */
  def run(items: Array[UTF8String], numCounters: Int, parts: Int, reps: Int = 5)
      : Map[String, (Double, String)] = {
    require(items.nonEmpty, "core replay needs a non-empty sample")
    def build(from: Int, until: Int): (TopnState, Int) = {
      val st = TopnState.empty(numCounters)
      var prunes = 0
      var i = from
      while (i < until) {
        val before = st.size
        st.add(items(i), numCounters)
        if (st.size < before) prunes += 1
        i += 1
      }
      (st, prunes)
    }
    def timed[T](body: => T): (T, Long) = {
      val t0 = System.nanoTime
      val r = body
      (r, System.nanoTime - t0)
    }
    val addNs = Seq.fill(reps)(timed(build(0, items.length))._2)
    val (full, prunes) = build(0, items.length)
    val wire = full.serialize()
    val serNs = Seq.fill(reps)(timed(full.serialize())._2)
    val deserNs = Seq.fill(reps)(timed(TopnState.deserialize(wire))._2)
    val packNs = Seq.fill(reps) {
      val copy = TopnState.deserialize(wire)
      timed(copy.pack(numCounters))._2
    }
    val step = math.max(1, items.length / parts)
    val packed = (0 until items.length by step).map { from =>
      build(from, math.min(items.length, from + step))._1.pack(numCounters)
    }
    val mergeEntries = packed.map(_.length).sum
    val mergeNs = Seq.fill(reps)(timed {
      val st = TopnState.empty(numCounters)
      packed.foreach(_.foreach(e => st.mergeEntry(e._1, e._2.longValue, numCounters)))
      st
    }._2)
    Map(
      "core.add_ns_per_item" -> (Stats.median(addNs.map(_.toDouble)) / items.length, "ns"),
      "core.prunes" -> (prunes.toDouble, "count"),
      "core.pack_ms" -> (Stats.median(packNs.map(_.toDouble)) / 1e6, "ms"),
      "core.serialize_bytes_per_state" -> (wire.length.toDouble, "bytes"),
      "core.serialize_ns_per_entry" -> (Stats.median(serNs.map(_.toDouble)) / full.size, "ns"),
      "core.deserialize_ns_per_entry" -> (Stats.median(deserNs.map(_.toDouble)) / full.size, "ns"),
      "core.merge_ns_per_entry" -> (Stats.median(mergeNs.map(_.toDouble)) / mergeEntries, "ns"),
      "core.loss_bound" -> (full.lossBound.toDouble, "count"))
  }
}
