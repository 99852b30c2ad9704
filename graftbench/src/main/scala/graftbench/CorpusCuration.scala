package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

import graft.core.{ColFilter, Fetch, Publish}
import graft.ops.{Dedup, Similarity, TextAnalysis}

/** The LLM-data curation pass over a document corpus: MinHash-LSH near
  * duplicates, TF-IDF top terms, IVF top-10 neighbours of query vectors,
  * one bulk overwrite of the corpus by `lang`, one of the curated corpus
  * (without the near duplicates) by `lang`, and a read of each language
  * of both back, in seeded order. Kernel CPU dominates; the commit log is never touched.
  *
  * The corpus is `BaseDocs` seeded documents, each expanded into 8 copies
  * of which ~30% carry a one-word edit: every unedited copy is a planted
  * exact duplicate the dedup kernel must find.
  */
final class CorpusCuration(c: Ctx) extends Workload {
  import c._
  import spark.implicits._

  private val BaseDocs = 250
  private val Copies = 8
  private val Vectors = 1000
  private val Dim = 64
  private val Clusters = 10
  private val Queries = 200
  private val K = 10
  private val Threshold = 0.8
  /** IVF with its automatic probe count must keep this recall@10. */
  private val IvfRecallFloor = 0.9
  private val Langs = Seq("en", "en", "en", "de", "fr", "es", "zh")

  private var docs: Array[(Long, String, String, String)] = Array.empty
  private var shingles: Map[Long, Set[String]] = Map.empty
  private var planted: Set[(Long, Long)] = Set.empty
  private var live = ""
  private def curatedRoot = s"$work/curated"
  private var passPairs: Array[(Long, Long)] = Array.empty
  /** Documents the last curated publish dropped. */
  private var lastDropped: Set[Long] = Set.empty
  private var lastIvf: Array[(Long, Long)] = Array.empty
  private val dedupChecks = ArrayBuffer.empty[(Int, Int, Int)] // (planted found, pairs below threshold, pass)
  private val reads = ArrayBuffer.empty[(String, Long)]
  private val curatedReads = ArrayBuffer.empty[(String, Long, Set[Long])] // (lang, count, dropped)
  private var tfidfBad = 0
  // (distinct data files opened, data files in the read language)
  private val pruning = ArrayBuffer.empty[(Int, Int)]

  def root: String = live
  private def docsDf: DataFrame = spark.read.parquet(s"$work/docs")
  private def vecDf: DataFrame = spark.read.parquet(s"$work/embeddings")
  private def queryDf: DataFrame = spark.read.parquet(s"$work/queries")

  /** Word 3-gram shingles, as the dedup kernel defines them. */
  private def shingleSet(text: String): Set[String] = {
    val w = text.split(" ", -1)
    if (w.length <= 3) Set(w.mkString(" ")) else w.sliding(3).map(_.mkString(" ")).toSet
  }

  def stage(): Unit = {
    val rnd = new Random(seed)
    val vocab = IndexedSeq.tabulate(600) { i =>
      val syl = Seq("ka", "lo", "mi", "ne", "ru", "ta", "so", "vi", "de", "pa", "chi", "gu")
      (0 to i % 3).map(j => syl((i * 7 + j * 5 + i / 12) % syl.size)).mkString + (i % 50)
    }
    // Zipf-like word choice: a few common words, a long tail
    def word() = vocab(math.min(vocab.size - 1, (math.pow(rnd.nextDouble(), 2.5) * vocab.size).toInt))
    val out = ArrayBuffer.empty[(Long, String, String, String)]
    // the seed draws the words and the edits; lengths, languages and which
    // copies are edited are fixed, so the corpus's size never changes
    for (b <- 0 until BaseDocs) {
      val words = Array.fill(40 + b * 17 % 41)(word())
      val lang = Langs(b % Langs.size)
      val src = s"src${b % 20}"
      for (copy <- 0 until Copies) {
        val w = words.clone()
        if (copy > 0 && (b + copy) % 10 < 3) w(rnd.nextInt(w.length)) = word()
        out += ((b.toLong * Copies + copy, w.mkString(" "), lang, src))
      }
    }
    docs = out.toArray
    shingles = docs.map(d => d._1 -> shingleSet(d._2)).toMap
    planted = docs.groupBy(_._2).values.flatMap { g =>
      val ids = g.map(_._1).sorted
      for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j))
    }.toSet
    docs.toSeq.toDF("doc_id", "text", "lang", "source").repartition(4)
      .write.mode("overwrite").parquet(s"$work/docs")

    val centers = Array.fill(Clusters, Dim)(rnd.nextGaussian())
    val vecs = (0 until Vectors).map { i =>
      val l = rnd.nextInt(Clusters)
      (i.toLong, centers(l).map(x => (x + 0.35 * rnd.nextGaussian()).toFloat), l)
    }
    vecs.toDF("vec_id", "embedding", "label").write.mode("overwrite").parquet(s"$work/embeddings")
    (0 until Queries).map { q =>
      val l = rnd.nextInt(Clusters)
      (1000000L + q, centers(l).map(x => (x + 0.5 * rnd.nextGaussian()).toFloat), l)
    }.toDF("vec_id", "embedding", "label").write.mode("overwrite").parquet(s"$work/queries")
  }

  def seedTables(rep: Int): Unit = {
    live = s"$work/corpus_$rep"
    Publish.publish(spark, docsDf, live, Seq("lang"), "overwrite")
  }

  def round(i: Int): Unit = {
    val text = docsDf
    trace.op("minhash", "compute") {
      trace.span("kernels.minhash")(Dedup.minHashLsh(text, threshold = Threshold).collect())
    }.foreach { rows =>
      val pairs = rows.map(r => (r.getLong(0), r.getLong(1)))
      passPairs = pairs
      val below = pairs.count { case (a, b) =>
        val (x, y) = (shingles(a), shingles(b))
        (x intersect y).size.toDouble / (x union y).size < Threshold
      }
      dedupChecks += (((planted intersect pairs.toSet).size, below, i))
    }
    trace.op("tfidf", "compute")(trace.span("kernels.tfidf")(TextAnalysis.tfIdfTopTerms(text, 3).count()))
      .foreach(n => if (n < docs.length || n > 3L * docs.length) tfidfBad += 1)
    trace.op("ivf", "compute") {
      trace.span("kernels.ivf")(Similarity.ivfTopK(vecDf, queryDf, K).select("query_id", "neighbor_id").collect())
    }.foreach(rows => lastIvf = rows.map(r => (r.getLong(0), r.getLong(1))))
    trace.op("publish", "write") {
      trace.span("publish.overwrite", docs.length)(Publish.publish(spark, text, live, Seq("lang"), "overwrite"))
    }
    // keep the lowest id of each near-duplicate group
    val dropped = passPairs.map(_._2).toSet
    trace.op("publish_curated", "write") {
      val curated = text.join(broadcast(dropped.toSeq.toDF("doc_id")), Seq("doc_id"), "left_anti")
      trace.span("publish.overwrite", docs.length - dropped.size)(
        Publish.publish(spark, curated, curatedRoot, Seq("lang"), "overwrite"))
    }.foreach(_ => lastDropped = dropped)
    for (lang <- new Random(seed * 43 + i).shuffle(Langs.distinct)) {
      if (trace.traced) FsCounts.resetOpened()
      trace.op("fetch", "read") {
        val df = trace.span("fetch.plan")(Fetch.fetch(spark, live, Seq(ColFilter("lang", "==", Seq(lang)))))
        trace.span("fetch.exec")(df.count())
      }.foreach(n => reads += ((lang, n)))
      if (trace.traced)
        pruning += ((FsCounts.openedCount, Workload.parquetFiles(live).count(_._1.contains(s"/lang=$lang/"))))
      trace.op("fetch_curated", "read") {
        val df = trace.span("fetch.plan")(Fetch.fetch(spark, curatedRoot, Seq(ColFilter("lang", "==", Seq(lang)))))
        trace.span("fetch.exec")(df.count())
      }.foreach(n => curatedReads += ((lang, n, lastDropped)))
    }
  }

  /** Two passes: the JIT is still compiling the kernels and the writers
    * during the second one, which runs ~20% slower than the third.
    */
  override def warmupRounds: Int = 2

  /** At least three timed passes, so each write kind has a median of three. */
  override def mayStop(i: Int): Boolean = i >= warmupRounds + 2

  def liveDataBytes(): Long = Workload.parquetFiles(live).map(_._2).sum

  def plainBytesPerRow(): Double = Workload.plainBytesPerRow(docsDf, s"$work/plain")

  private lazy val ivfRecall: Double = {
    val exact = Similarity.bruteForceTopK(vecDf, queryDf, K).select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    (exact intersect lastIvf.toSet).size.toDouble / exact.size
  }

  def check(): Seq[String] = {
    val bad = ArrayBuffer.empty[String]
    for ((found, below, pass) <- dedupChecks) {
      if (found != planted.size) bad += s"pass $pass: found $found of ${planted.size} planted duplicates"
      if (below > 0) bad += s"pass $pass: $below returned pairs below Jaccard $Threshold"
    }
    if (tfidfBad > 0) bad ++= Seq.fill(tfidfBad)("tfidf returned a row count outside [docs, 3 x docs]")
    if (ivfRecall < IvfRecallFloor) bad += f"IVF recall@$K $ivfRecall%.3f < $IvfRecallFloor"
    val byLang = docs.groupBy(_._3).map { case (l, d) => l -> d.length.toLong }
    for ((l, n) <- reads if n != byLang(l)) bad += s"fetch lang=$l: $n != ${byLang(l)}"
    for ((l, n, dropped) <- curatedReads) {
      val exp = docs.count(d => d._3 == l && !dropped(d._1))
      if (n != exp) bad += s"fetch curated lang=$l: $n != $exp"
    }
    val published = spark.read.parquet(live).count()
    if (published != docs.length) bad += s"published corpus has $published rows, input ${docs.length}"
    val curated = spark.read.parquet(curatedRoot).select("doc_id").as[Long].collect().toSet
    val kept = docs.map(_._1).toSet -- lastDropped
    if (curated != kept) bad += s"curated corpus has ${curated.size} documents, expected ${kept.size}"
    bad.toSeq
  }

  override def layerMetrics(): Map[String, Double] = Map(
    "kernels.minhash_planted_recall" ->
      Layers.ratio(dedupChecks.map(_._1.toDouble).sum, dedupChecks.size.toDouble * planted.size),
    "kernels.ivf_recall_at_10" -> ivfRecall,
    "fetch.prune_ratio" -> Layers.ratio(pruning.map(_._2).sum, pruning.map(_._1).sum))

  override def report(loopSec: Double): Seq[String] = {
    val passes = trace.ops.count(o => o.name == "publish" && o.ok)
    Seq(f"docs_per_s ${passes * docs.length / loopSec}%.1f docs/s ($passes passes of ${docs.length} docs); " +
      s"planted exact-duplicate pairs ${planted.size}; IVF recall@$K " + f"$ivfRecall%.4f (floor $IvfRecallFloor)")
  }
}
