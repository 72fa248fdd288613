package graftbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

import graft.TopnFunctions
import graft.pipeline.{Clustering, Dedup, Quality, TextAnalysis}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * `curation_batch`: the public curation chain over a synthetic corpus, one
 * chain per operation: `Dedup.exactGroups` -> `Dedup.minhashLshPairs` ->
 * `Clustering.connectedComponents` -> `Quality.gopherFilter` -> a
 * `languageId` x `topn_add_agg(source)` report. Several of these calls run
 * Spark jobs while they build their DataFrame, so this workload is where
 * plan-build cost and multi-exchange shuffles show.
 *
 * The corpus is generated with known structure: documents in four
 * languages from a heavy-tailed vocabulary, planted exact duplicates
 * (whitespace variants), planted near-duplicate edits, and short documents
 * the quality rules must drop. The expected report follows from that
 * structure and the operation's own duplicate labels.
 */
final class CurationBatch(spark: SparkSession, dir: Path, seed: Long, cores: Int) extends Workload {
  import CurationBatch._

  private val path = dir.resolve("docs.parquet").toString

  private var docs: Array[Doc] = Array.empty
  /** Exact-duplicate keeper (minimum id of the doc's whitespace-variant group). */
  private var exactKeeper: Array[Int] = Array.empty
  /** Planted near-duplicate pairs: (exact keeper of the base, edited copy). */
  private var planted: Seq[(Int, Int)] = Nil
  private val recalls = ArrayBuffer[Double]()

  def setup(): Unit = {
    generate()
    // warm-up: a chain keeps getting faster over its first four or five
    // runs in a JVM (the JIT compiling Spark's query-planning code), so the
    // loop starts after WarmupChains of them
    (1 to WarmupChains).foreach(i => step(-i, new Tracer(spark, cores)))
  }

  private def generate(): Unit = {
    val r = new java.util.Random(seed)
    val vocab = vocabulary(r)
    val zipf = harmonic(vocab.length)
    /** An index drawn with the weights whose running sums are `cum`. */
    def draw(cum: Array[Double]): Int = {
      val i = java.util.Arrays.binarySearch(cum, r.nextDouble() * cum.last)
      if (i >= 0) i else -i - 1
    }
    def word(): String = vocab(draw(zipf))
    /** Words of one document, and the positions an edit must keep: two of
      * the quality rules' stop words (none of them another language's
      * marker) and one marker of the document's language. */
    def text(lang: Int, n: Int): (Array[String], Set[Int]) = {
      val markers = Langs(lang)._2
      val ws = Array.fill(n)(if (r.nextDouble() < 0.12) markers(r.nextInt(markers.length)) else word())
      val kept = Iterator.continually(r.nextInt(n)).distinct.take(3).toArray
      ws(kept(0)) = if (lang == 0) "the" else "be"
      ws(kept(1)) = if (lang == 0) "of" else "with"
      ws(kept(2)) = markers(r.nextInt(markers.length))
      (ws, kept.toSet)
    }
    def source(lang: Int): String = f"src-${(draw(SourceWeights) + lang * 5) % Sources}%02d"
    def pickLang(): Int = {
      val x = r.nextDouble()
      LangShares.indexWhere(_ > x)
    }

    // (text, lang, source, family, junk, exact group)
    val out = ArrayBuffer[(String, String, String, Int, Boolean, Int)]()
    val nearOf = ArrayBuffer[(Int, Int)]() // (exact group of the base, index in `out`)
    var group = 0
    (0 until BaseDocs).foreach { fam =>
      val lang = pickLang()
      val src = source(lang)
      val (ws, keep) = text(lang, 60 + r.nextInt(61))
      val base = ws.mkString(" ")
      val g = group
      group += 1
      out += ((base, Langs(lang)._1, src, fam, false, g))
      if (fam % PlantEvery == 0) (1 to Copies).foreach { _ =>
        // same words, other spacing: the same canonical fingerprint
        val variant = ws.init.map(w => if (r.nextBoolean()) w + " " else w).mkString(" ") +
          " " + ws.last
        out += ((variant, Langs(lang)._1, source(lang), fam, false, g))
      }
      val copies = scala.collection.mutable.Set(base)
      if (fam % PlantEvery == PlantEvery / 2) (1 to Copies).foreach { _ =>
        var text = base
        // two edits of one base may not coincide: that would be an exact
        // duplicate the planted structure does not know about
        while (copies(text)) {
          val edited = ws.clone()
          (0 until math.max(1, ws.length / 50)).foreach { _ =>
            // an edit keeps the stop words and a marker: the copy passes
            // the same rules and keeps its language
            var at = r.nextInt(edited.length)
            while (keep(at)) at = r.nextInt(edited.length)
            var w = word()
            while (w == edited(at)) w = word()
            edited(at) = w
          }
          text = edited.mkString(" ")
        }
        copies += text
        nearOf += ((g, out.length))
        out += ((text, Langs(lang)._1, source(lang), fam, false, group))
        group += 1
      }
    }
    (0 until JunkDocs).foreach { j =>
      val lang = pickLang()
      out += ((text(lang, 15 + r.nextInt(25))._1.mkString(" "), Langs(lang)._1, source(lang),
        BaseDocs + j, true, group))
      group += 1
    }
    // ids in shuffled order, so a group's keeper is not always its base
    val shuffledIds = new scala.util.Random(r).shuffle((0 until out.length).toVector).toArray
    docs = new Array[Doc](out.length)
    val groupOf = new Array[Int](out.length)
    out.indices.foreach { k =>
      val (_, lang, src, fam, junk, g) = out(k)
      docs(shuffledIds(k)) = Doc(lang, src, fam, junk)
      groupOf(shuffledIds(k)) = g
    }
    val keeperOfGroup = groupOf.indices.groupBy(groupOf(_)).view.mapValues(_.min).toMap
    exactKeeper = groupOf.map(keeperOfGroup)
    planted = nearOf.map { case (g, k) => (keeperOfGroup(g), shuffledIds(k)) }.toSeq

    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("source", StringType),
      StructField("text", StringType)))
    val rows = out.indices.map(k => Row(shuffledIds(k).toLong, out(k)._3, out(k)._1))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, cores), schema)
      .write.mode("overwrite").parquet(path)
  }

  def kindOf(i: Int): String = "chain"

  def step(i: Int, tr: Tracer): Step = {
    val t0 = System.nanoTime
    val corpus = tr.span("sources.read_parquet", "sources", Build)(spark.read.parquet(path))
    val groups = tr.span("pipeline.exactGroups", "pipeline", Build)(
      Dedup.exactGroups(corpus, "doc_id", "text"))
    val kept = corpus.join(groups.select("keep_id"), col("doc_id") === col("keep_id"), "left_semi")
    val pairs = tr.span("pipeline.minhashLshPairs", "pipeline", Build)(
      Dedup.minhashLshPairs(kept, "doc_id", "text", Threshold))
    val labels = tr.span("pipeline.connectedComponents", "pipeline", Build)(
      Clustering.connectedComponents(pairs, "doc_a", "doc_b"))
    val unique = kept.join(
      labels.filter(col("doc_id") =!= col("cluster_id")).select(col("doc_id").as("dup_id")),
      col("doc_id") === col("dup_id"), "left_anti")
    val clean = tr.span("pipeline.gopherFilter", "pipeline", Build)(
      Quality.gopherFilter(unique, "doc_id", "text"))
    val report = tr.span("pipeline.report", "pipeline", Build)(
      clean.groupBy(TextAnalysis.languageId(col("text")).as("lang"))
        .agg(TopnFunctions.topn_add_agg(col("source"), NumCounters).as("sources"))
        .select(col("lang"), TopnFunctions.topn(col("sources"), lit(K)).as("top")))
    val labelRows = tr.span("spark.collect_labels", "spark", Action)(labels.collect())
    val reportRows = tr.span("spark.collect_report", "spark", Action)(report.collect())
    val secs = (System.nanoTime - t0) / 1e9
    Step("chain", secs, docs.length, () => check(labelRows, reportRows))
  }

  private def check(labelRows: Array[Row], reportRows: Array[Row]): Option[String] = {
    val label = labelRows.map(r => r.getLong(0).toInt -> r.getLong(1).toInt).toMap
    // every cluster holds documents of one planted family only
    label.groupBy(_._2).find(_._2.keys.map(d => docs(d).family).toSet.size > 1).foreach { c =>
      return Some(s"cluster ${c._1} joins documents of different planted families")
    }
    val found = planted.count { case (a, b) => label.get(a).exists(label.get(b).contains) }
    val recall = if (planted.isEmpty) 1.0 else found.toDouble / planted.length
    recalls += recall
    if (recall < MinDupRecall) return Some(s"near-duplicate recall $recall below $MinDupRecall")

    val survivors = docs.indices.filter(d =>
      exactKeeper(d) == d && label.get(d).forall(_ == d) && !docs(d).junk)
    val want = survivors.groupBy(docs(_).lang).map { case (lang, ds) =>
      lang -> ds.groupBy(docs(_).source).map { case (s, xs) => (s, xs.length.toLong) }
        .toSeq.sortBy { case (s, c) => (-c, s) }.take(K)
    }
    val got = reportRows.map(r => r.getString(0) ->
      r.getSeq[Row](1).map(e => (e.getString(0), e.getLong(1)))).toMap
    if (got != want) Some(s"report differs from the planted corpus: got $got, want $want")
    else None
  }

  def primaryKinds: Set[String] = Set("chain")

  def summary(steps: Seq[Step], wallS: Double): Summary = {
    val lat = Stats.latencies(steps)
    val docsPerS = steps.filter(_.ok).map(_.items).sum / wallS
    val recall = if (recalls.isEmpty) 0.0 else Stats.mean(recalls.toSeq)
    Summary(Stats.median(lat), docsPerS, recall, Seq(
      ("chain_p50_s", Stats.median(lat), "s"),
      ("curation_docs_per_s", docsPerS, "1/s"),
      ("dup_recall", recall, "ratio"),
      ("planted_pairs", planted.length.toDouble, "count")))
  }

  def layers(traced: Seq[Step]): Map[String, (Double, String)] = {
    def span(name: String) = Stats.mean(traced.flatMap(_.trace).map(_.spanS.getOrElse(name, 0.0)))
    // the chain consumes its pairs inside connectedComponents; count them
    // once, after the loop (the corpus does not change in a run)
    val corpus = spark.read.parquet(path)
    val kept = corpus.join(Dedup.exactGroups(corpus, "doc_id", "text").select("keep_id"),
      col("doc_id") === col("keep_id"), "left_semi")
    val dupPairs = Dedup.minhashLshPairs(kept, "doc_id", "text", Threshold).count()
    Seq("exactGroups", "minhashLshPairs", "connectedComponents", "gopherFilter", "report")
      .map(c => s"pipeline.$c.build_s" -> (span(s"pipeline.$c"), "s")).toMap +
      ("pipeline.dup_pairs" -> (dupPairs.toDouble, "count"))
  }

  def coreSample(): (Array[UTF8String], Int, Int) = {
    // the report's item stream: each document's source, in id order
    val items = spark.read.parquet(path).orderBy("doc_id").select("source").collect()
      .map(r => UTF8String.fromString(r.getString(0)))
    (items, NumCounters, Langs.length)
  }
}

object CurationBatch {
  /** What the generator planted, per document id. */
  private final case class Doc(lang: String, source: String, family: Int, junk: Boolean)

  val BaseDocs = 2500
  val JunkDocs = 200
  /** One base document in `PlantEvery` gets `Copies` whitespace variants,
    * another one in `PlantEvery` gets `Copies` near-duplicate edits (2% of
    * its words), so every seed plants the same number of each. */
  val PlantEvery = 10
  val Copies = 2
  val Threshold = 0.6
  val Sources = 40
  /** Running sums of the weights 1, 1/2, 1/3, ...: a Zipf-like draw. */
  def harmonic(n: Int): Array[Double] = Array.tabulate(n)(i => 1.0 / (i + 1)).scanLeft(0.0)(_ + _).tail
  val SourceWeights: Array[Double] = harmonic(Sources)
  val NumCounters = 1000
  val K = 10
  /** An operation that finds fewer of the planted pairs is a wrong output. */
  val MinDupRecall = 0.9
  val WarmupChains = 3
  /** Language, its marker words for `TextAnalysis.languageId`. */
  val Langs: Seq[(String, Array[String])] = Seq(
    "en" -> Array("the", "and", "of", "to", "is"),
    "fr" -> Array("le", "la", "les", "et", "de"),
    "es" -> Array("el", "los", "las", "es", "y"),
    "de" -> Array("der", "die", "das", "und", "ist"))
  val LangShares: Array[Double] = Array(0.5, 0.7, 0.85, 1.01)

  /** A vocabulary of made-up words of four to nine letters, none of them a
    * marker or stop word the language and quality rules look for. */
  def vocabulary(r: java.util.Random): Array[String] = {
    val reserved = Langs.flatMap(_._2).toSet ++ Quality.StopWords
    val cons = "bcdfghklmnprstvz"
    val vows = "aeiou"
    Iterator.continually {
      val syll = 2 + r.nextInt(3)
      (0 until syll).map(_ => s"${cons(r.nextInt(cons.length))}${vows(r.nextInt(vows.length))}")
        .mkString.take(4 + r.nextInt(6))
    }.filterNot(reserved).distinct.take(3000).toArray
  }
}
