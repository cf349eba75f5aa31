package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{IvfIndex, MinHashIndex}
import graft.pipeline.CorpusPipeline

/** The LLM-data-pipeline path on a seeded corpus and a fitted IVF index,
  * in blocks: admit one batch with planted near-duplicates, take a few
  * documents down, check the MinHash index, then serve small vector
  * searches, each scored against exact search.
  */
final class Corpus(seed: Long, dirs: Dirs) extends Workload {
  import Corpus._
  val name = "corpus"
  private val corpusDir = s"${dirs.work}/corpus"
  private val indexPath = s"${dirs.work}/corpus_minhash"
  private val ivfPath = s"${dirs.work}/corpus_ivf"
  private val in = Corpus.inputs(seed)
  import in._

  // outcomes
  private val admittedBatches = mutable.ArrayBuffer.empty[(Vector[Gen.Doc], Long)]
  private var recallSum = 0.0
  private var recallN = 0
  private var dedupRecall = Double.NaN
  // the last set-up's seed and fit times, reported per layer
  private var seedS = Double.NaN
  private var fitS = Double.NaN
  private var handle: Option[IvfIndex.Handle] = None
  private val gone = mutable.Set.empty[Long]

  private def delete(spark: SparkSession, paths: String*): Unit = paths.foreach { d =>
    val p = new org.apache.hadoop.fs.Path(d)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  private def docsFrame(spark: SparkSession, docs: Seq[Gen.Doc]): DataFrame = {
    import spark.implicits._
    docs.map(d => (d.id, d.text)).toDF("doc_id", "text")
  }

  private def vecFrame(spark: SparkSession, vs: Seq[(Long, Array[Float])]): DataFrame = {
    import spark.implicits._
    vs.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
  }

  /** Bring a fresh corpus and vector index to the state the timed phase
    * starts from: seed the corpus and fit the IVF index (built once,
    * queried many times).
    */
  def setup(spark: SparkSession): Unit = {
    delete(spark, corpusDir, s"${corpusDir}_victims", indexPath, ivfPath)
    val t0 = System.nanoTime()
    CorpusPipeline.seedCorpus(spark, docsFrame(spark, seedDocs), corpusDir, indexPath)
    val t1 = System.nanoTime()
    handle = Some(IvfIndex.fit(vecFrame(spark, vectors.indices.map(_.toLong).zip(vectors)),
      Cells, FitIters, ivfPath))
    seedS = (t1 - t0) / 1e9
    fitS = (System.nanoTime() - t1) / 1e9
  }

  private var b = 0
  val measuredBlocks = 2

  def block(spark: SparkSession, rec: Recorder): Unit = {
    val docs = batch(b)
    rec.op("admit") {
      val rep = rec.span("pipeline")(CorpusPipeline.runIncremental(spark,
        docsFrame(spark, docs), corpusDir, indexPath))
      admittedBatches += ((docs, rep.admitted))
    }
    takedown(spark, rec, takedownIds(b))
    (0 until SearchesPerBlock).foreach(i => search(spark, rec, queries(b * SearchesPerBlock + i)))
    b += 1
  }

  private def takedown(spark: SparkSession, rec: Recorder, ids: Vector[Long]): Unit = {
    gone ++= ids
    rec.op("takedown") {
      val df = { import spark.implicits._; ids.toDF("doc_id") }
      val removed = rec.span("pipeline")(CorpusPipeline.takedown(spark, corpusDir, indexPath, df))
      rec.check(removed == ids.size, s"takedown removed $removed docs, asked ${ids.size}")
    }
    rec.op("index_check") {
      val left = rec.span("MinHashIndex")(MinHashIndex.indexedIds(spark, indexPath)
        .select("doc_id").collect().map(_.getLong(0)).count(gone))
      rec.check(left == 0, s"$left taken-down docs are still in the MinHash index")
    }
  }

  private def search(spark: SparkSession, rec: Recorder, qs: Vector[(Long, Array[Float])]): Unit = {
    val found = rec.op("search") {
      val df = rec.span("IvfIndex")(IvfIndex.search(spark, handle.get, vecFrame(spark, qs),
        NProbe, TopK))
      rec.span("spark.exec")(df.select("qid", "nid").collect())
    }
    // scored outside the op: exact search is the benchmark's work
    found.foreach { rows =>
      val hits = rows.groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getLong(1)).toSet }
      qs.foreach { case (qid, v) =>
        recallSum += hits.getOrElse(qid, Set.empty[Long]).count(exactTopK(v)).toDouble / TopK
        recallN += 1
      }
    }
  }

  private def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var j = 0
    while (j < a.length) {
      dot += a(j).toDouble * b(j); na += a(j).toDouble * a(j); nb += b(j).toDouble * b(j)
      j += 1
    }
    dot / math.sqrt(na * nb)
  }

  private def exactTopK(v: Array[Float]): Set[Long] =
    vectors.indices.sortBy(i => -cosine(v, vectors(i))).take(TopK).map(_.toLong).toSet

  /** Planted near-duplicates must be rejected, fresh documents admitted,
    * and every batch's reported admissions must be what the corpus holds.
    */
  def finish(spark: SparkSession, rec: Recorder): Unit = {
    val inCorpus = spark.read.parquet(corpusDir).select("doc_id").collect().map(_.getLong(0)).toSet
    val all = admittedBatches.flatMap(_._1)
    val planted = all.filter(_.dupOf.isDefined)
    val fresh = all.filter(_.dupOf.isEmpty)
    dedupRecall = planted.count(d => !inCorpus(d.id)).toDouble / planted.size
    rec.check(dedupRecall >= MinDedupRecall,
      f"dedup recall $dedupRecall%.3f below $MinDedupRecall (${planted.size} planted)")
    val lost = fresh.count(d => !inCorpus(d.id))
    rec.check(lost <= fresh.size / 100,
      s"$lost of ${fresh.size} fresh documents were rejected as duplicates")
    admittedBatches.foreach { case (docs, n) =>
      val held = docs.count(d => inCorpus(d.id))
      rec.check(n == held, s"runIncremental reported $n admissions, the corpus holds $held")
    }
    rec.check(recallN > 0 && searchRecall >= MinSearchRecall,
      f"IVF recall@$TopK $searchRecall%.3f below $MinSearchRecall over $recallN queries")
  }

  private def searchRecall: Double = if (recallN == 0) Double.NaN else recallSum / recallN

  /** A speed-up that loses either recall shows here. */
  def quality: Double = dedupRecall * searchRecall

  def layerMetrics(spark: SparkSession, rec: Recorder, meter: JobMeter): Map[String, Double] = {
    val ok = rec.ops.filter(_.ok)
    def walls(k: String) = ok.filter(_.kind == k).map(_.wallS).toSeq
    val search = Stats.summary(walls("search"))
    val attempted = admittedBatches.map(_._1.size).sum.toDouble
    val searchOps = ok.filter(_.kind == "search").map(_.id).toSet
    val ivfSearch = rec.spans.filter(s => s.name == "IvfIndex" && searchOps(s.op))
      .map(s => (s.endNs - s.startNs) / 1e9).toSeq
    Map(
      "docs_per_s" -> attempted / walls("admit").sum,
      "search_s_p50" -> search.p50, "search_s_p90" -> search.p90,
      "dedup_recall" -> dedupRecall, "search_recall" -> searchRecall,
      "pipeline.seed_s" -> seedS,
      "pipeline.admit_s_p50" -> Stats.median(walls("admit")),
      "pipeline.takedown_s" -> Stats.median(walls("takedown")),
      "pipeline.admit_ratio" -> admittedBatches.map(_._2).sum / attempted,
      "IvfIndex.fit_s" -> fitS,
      "IvfIndex.search_s_p50" -> Stats.median(ivfSearch))
  }
}

object Corpus {
  /** Everything the corpus workload feeds the engine, from the seed.
    * Admission batches and search batches are drawn in order, as a run
    * asks for them; each depends only on the seed and its index.
    */
  final class Inputs(seed: Long) {
    private val rng = Gen.stream(seed, "corpus")
    val seedDocs: Vector[Gen.Doc] = Gen.docBatch(rng, 0L, SeedDocs, 0.0, Vector.empty)
    // the seed docs block b takes down
    private val doomed = rng.shuffle(seedDocs.map(_.id)).take(SeedDocs / 2)
    def takedownIds(b: Int): Vector[Long] =
      doomed.slice(b * TakedownDocs, (b + 1) * TakedownDocs).ensuring(_.size == TakedownDocs,
        s"block $b is past the seed docs set aside for takedowns")
    val vectorCenters: IndexedSeq[Array[Double]] = Gen.centers(rng, Cells, Dim)
    val vectors: Vector[Array[Float]] = Gen.vectors(rng, Vectors, Dim, vectorCenters, Spread)

    private val docRng = Gen.stream(seed, "corpus-batches")
    // near-duplicates copy docs that stay in the corpus: a copy of a
    // taken-down doc is rightly admitted again
    private var pool = { val d = doomed.toSet; seedDocs.filterNot(x => d(x.id)) }
    private val batchCache = mutable.ArrayBuffer.empty[Vector[Gen.Doc]]
    def batch(b: Int): Vector[Gen.Doc] = {
      while (batchCache.size <= b) {
        val docs = Gen.docBatch(docRng, SeedDocs + batchCache.size.toLong * BatchDocs,
          BatchDocs, DupShare, pool)
        pool = pool ++ docs.filter(_.dupOf.isEmpty)
        batchCache += docs
      }
      batchCache(b)
    }

    private val queryRng = Gen.stream(seed, "corpus-queries")
    private val queryCache = mutable.ArrayBuffer.empty[Vector[(Long, Array[Float])]]
    def queries(i: Int): Vector[(Long, Array[Float])] = {
      while (queryCache.size <= i) {
        val base = -1L - queryCache.size.toLong * SearchBatch
        queryCache += Vector.tabulate(SearchBatch) { j =>
          val c = vectorCenters((queryCache.size * SearchBatch + j) % Cells)
          (base - j, Array.tabulate(Dim)(d => (c(d) + Spread * queryRng.gaussian()).toFloat))
        }
      }
      queryCache(i)
    }
  }

  def inputs(seed: Long): Inputs = new Inputs(seed)

  val SeedDocs = 400
  val BatchDocs = 100
  val DupShare = 0.15
  val TakedownDocs = 10
  val SearchesPerBlock = 3
  val Vectors = 2000
  val Dim = 32
  val Cells = 16
  val FitIters = 3
  val Spread = 0.35
  val SearchBatch = 8
  val NProbe = 2
  val TopK = 10
  val MinDedupRecall = 0.9
  val MinSearchRecall = 0.5

  val layerNames: Seq[(String, String)] = Seq("docs_per_s" -> "1/s",
    "search_s_p50" -> "s", "search_s_p90" -> "s", "dedup_recall" -> "ratio",
    "search_recall" -> "ratio", "pipeline.seed_s" -> "s", "pipeline.admit_s_p50" -> "s",
    "pipeline.takedown_s" -> "s", "pipeline.admit_ratio" -> "ratio", "IvfIndex.fit_s" -> "s",
    "IvfIndex.search_s_p50" -> "s")
}
