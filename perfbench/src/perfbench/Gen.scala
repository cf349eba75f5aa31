package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic input generators. Everything a workload feeds the engine
  * comes from here and depends only on the seed it is given.
  */
object Gen {

  /** A SplitMix64 stream: the same seed yields the same sequence on every
    * JVM (java.util.SplittableRandom fixes this algorithm).
    */
  final class Rng(seed: Long) {
    private val r = new java.util.SplittableRandom(seed)
    def below(n: Int): Int = r.nextInt(n)
    def between(lo: Long, hi: Long): Long = r.nextLong(lo, hi)
    def uniform(): Double = r.nextDouble()
    def gaussian(): Double = {
      // Box-Muller from two uniforms: a fixed recipe, unlike nextGaussian
      val u1 = math.max(r.nextDouble(), 1e-12)
      math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.Pi * r.nextDouble())
    }
    def shuffle[T](xs: Seq[T]): Vector[T] = {
      val a = xs.toArray[Any]
      for (i <- a.length - 1 to 1 by -1) {
        val j = r.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
      }
      a.toVector.asInstanceOf[Vector[T]]
    }
  }

  /** Derive an independent stream for one purpose of a workload seed. */
  def stream(seed: Long, purpose: String): Rng =
    new Rng(seed * 0x9E3779B97F4A7C15L ^ purpose.hashCode.toLong)

  // ---------------------------------------------------------------------
  // analytics: the engine corpus (TESTDATA.md / FIXTURES.md schemas) at
  // sf0.1, written as one parquet directory per table. The data is fixed
  // (generator seed 42, as in TESTDATA.md) so per-query row counts
  // can be pinned; the workload seed only orders the queries.
  // ---------------------------------------------------------------------

  val AnalyticsVersion = "corpus-v1"
  val Vocab: Seq[String] = Seq("a", "agg", "batch", "column", "customer",
    "db", "fast", "filter", "group", "has", "hash", "index", "join", "key",
    "line", "order", "part", "query", "row", "scan", "slow", "small",
    "sort", "spark", "stream", "table", "value", "vector", "window", "the",
    "plan", "shuffle", "cache", "merge", "file", "page", "commit", "read",
    "write", "log")

  def writeAnalyticsCorpus(spark: SparkSession, dir: String): Unit = {
    val salt = 42L
    // uniform integer in [0, n) from (row id, column salt)
    def pick(c: Int, n: Long) = pmod(xxhash64(col("id"), lit(salt), lit(c)), lit(n))
    def pickS(c: Int, n: Long) = s"pmod(xxhash64(id, ${salt}L, $c), ${n}L)"
    def unif(c: Int) = pick(c, 1000003L).cast("double") / lit(1000003.0)
    def oneOf(c: Int, xs: Seq[String]) =
      element_at(array(xs.map(lit): _*), (pick(c, xs.size.toLong) + 1).cast("int"))
    def day(base: String, c: Int, n: Long) =
      timestamp_seconds(unix_timestamp(lit(base), "yyyy-MM-dd") + pick(c, n) * 86400L)
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    import spark.implicits._
    write("region", Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
      .zipWithIndex.map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name"))
    write("nation", spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")))
    write("customer", spark.range(15000).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pick(1, 25).cast("int").as("c_nationkey"),
      round(lit(-999.99) + unif(2) * 10999.79, 2).as("c_acctbal"),
      oneOf(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment")))
    write("supplier", spark.range(1000).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pick(4, 25).cast("int").as("s_nationkey"),
      round(lit(-999.99) + unif(5) * 10999.79, 2).as("s_acctbal")))
    val adj = Seq("blue", "hot", "large", "small", "red", "cold", "green", "old")
    val noun = Seq("anvil", "bolt", "ring", "widget", "gear", "pipe", "nut", "spring")
    write("part", spark.range(20000).select(col("id").as("p_partkey"),
      concat(oneOf(6, adj), lit(" "), oneOf(7, noun)).as("p_name"),
      concat(lit("Brand#"), pick(8, 25) + 1).as("p_brand"),
      oneOf(9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD")).as("p_type"),
      (pick(10, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + (col("id") % 1000).cast("double") / 10.0).as("p_retailprice")))
    write("orders", spark.range(150000).select(col("id").as("o_orderkey"),
      pick(11, 15000).as("o_custkey"),
      oneOf(12, Seq("F", "O", "P")).as("o_orderstatus"),
      round(lit(1000.0) + unif(13) * 499000.0, 2).as("o_totalprice"),
      day("1995-01-01", 14, 2405).as("o_orderdate"),
      oneOf(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority")))
    write("lineitem", spark.range(600000).select(
      pick(16, 150000).as("l_orderkey"), pick(17, 20000).as("l_partkey"),
      pick(18, 1000).as("l_suppkey"),
      (pick(19, 7) + 1).cast("int").as("l_linenumber"),
      (pick(20, 50) + 1).cast("double").as("l_quantity"),
      round((pick(20, 50) + 1).cast("double") *
        (lit(900.0) + pick(21, 1000).cast("double") * 1.2), 2)
        .as("l_extendedprice"),
      (pick(22, 11).cast("double") / 100.0).as("l_discount"),
      (pick(23, 9).cast("double") / 100.0).as("l_tax"),
      oneOf(24, Seq("A", "N", "R")).as("l_returnflag"),
      oneOf(25, Seq("F", "O")).as("l_linestatus"),
      day("1995-01-02", 26, 2499).as("l_shipdate")))
    write("events", spark.range(100000).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) + col("id") * 25920000L +
        pick(27, 25920000L)).as("ts"),
      pick(28, 1500).as("user_id"),
      oneOf(29, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round(unif(30) * 560.21, 2).as("value"),
      concat(lit("{\"k\": "), pick(31, 100), lit("}")).as("props")))
    // documents: ~1% exact duplicates and ~1% one-token near-duplicates of
    // their predecessor, so the dedup operators have something to find
    val vocab = Vocab.map(w => s"'$w'").mkString("array(", ",", ")")
    val cid = "CASE WHEN id % 97 = 0 AND id > 0 THEN id - 1 " +
      "WHEN id % 89 = 0 AND id > 0 THEN id - 1 ELSE id END"
    val tok = s"element_at($vocab, cast(pmod(xxhash64(" +
      s"CASE WHEN id % 89 = 0 AND id > 0 AND i = 3 THEN id ELSE $cid END, i, 32), " +
      s"${Vocab.size}) + 1 AS int))"
    val len = s"(8 + pmod(xxhash64($cid, 33), 90))"
    write("documents", spark.range(5000)
      .select(col("id").as("doc_id"),
        expr(s"array_join(transform(sequence(1, cast($len AS int)), i -> $tok), ' ')")
          .as("text"),
        oneOf(34, Seq("de", "en", "es", "fr", "zh")).as("lang"),
        concat(lit("src"), pick(35, 20)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    val center = s"(pmod(xxhash64(label, j, 36), 1000) / 1000.0 - 0.5) * 0.2"
    val noise = s"((pmod(xxhash64(id, j, 37), 1000) + pmod(xxhash64(id, j, 38), 1000)" +
      s" + pmod(xxhash64(id, j, 39), 1000)) / 1000.0 - 1.5) * 0.03"
    write("embeddings", spark.range(2000)
      .withColumn("label", expr(pickS(40, 10)).cast("int"))
      .select(col("id").as("vec_id"),
        expr(s"transform(sequence(0, 63), j -> cast($center + $noise AS float))")
          .as("embedding"), col("label")))
    prev match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
  }

  val AnalyticsTables: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings")

  // ---------------------------------------------------------------------
  // lifecycle: rows of the single writer's table
  // ---------------------------------------------------------------------

  /** One row of the lifecycle table (columns id, grp, val, tag). */
  final case class Row(id: Long, grp: Int, value: Long, tag: String) {
    /** Bytes of the row as generated: two longs, an int and the tag. */
    def userBytes: Long = 20L + tag.length
  }

  /** Row `id` as first written; a merge writes the row again with a later
    * `version`, which draws fresh values.
    */
  def lifecycleRow(seed: Long, id: Long, version: Long = 0L): Row = {
    val r = new Rng(seed ^ (id * 0xBF58476D1CE4E5B9L) ^ (version * 0x94D049BB133111EBL))
    Row(id, r.below(50), r.between(0, 1000000), "t" + r.below(100000))
  }

  // ---------------------------------------------------------------------
  // corpus: documents with planted near-duplicates, and clustered vectors
  // ---------------------------------------------------------------------

  final case class Doc(id: Long, text: String, dupOf: Option[Long])

  private val corpusVocab: IndexedSeq[String] = (0 until 3000).map(i => s"w$i")

  def freshDoc(r: Rng, id: Long): Doc = {
    val n = 30 + r.below(30)
    Doc(id, Seq.fill(n)(corpusVocab(r.below(corpusVocab.size))).mkString(" "), None)
  }

  /** A copy of `of` with two tokens replaced: its token-trigram Jaccard
    * with the original stays well above the admission threshold of 0.5.
    */
  def nearDup(r: Rng, id: Long, of: Doc): Doc = {
    val toks = of.text.split(' ')
    (0 until 2).foreach(_ => toks(r.below(toks.length)) = corpusVocab(r.below(corpusVocab.size)))
    Doc(id, toks.mkString(" "), Some(of.id))
  }

  /** `n` docs with ids from `firstId`; a `dupShare` of them are near-dups of
    * docs drawn from `pool` (earlier docs) or from this batch's own earlier
    * fresh docs.
    */
  def docBatch(r: Rng, firstId: Long, n: Int, dupShare: Double,
      pool: IndexedSeq[Doc]): Vector[Doc] = {
    val out = Vector.newBuilder[Doc]
    var fresh = Vector.empty[Doc]
    (0 until n).foreach { i =>
      val id = firstId + i
      val src = pool ++ fresh
      val d = if (src.nonEmpty && r.uniform() < dupShare) nearDup(r, id, src(r.below(src.size)))
        else freshDoc(r, id)
      if (d.dupOf.isEmpty) fresh :+= d
      out += d
    }
    out.result()
  }

  /** `n` vectors around the centers, taken round-robin: equal clusters, so
    * seeds differ in geometry but not in how much a cluster holds.
    */
  def vectors(r: Rng, n: Int, dim: Int, centers: IndexedSeq[Array[Double]],
      spread: Double): Vector[Array[Float]] =
    Vector.tabulate(n) { i =>
      val c = centers(i % centers.size)
      Array.tabulate(dim)(j => (c(j) + spread * r.gaussian()).toFloat)
    }

  def centers(r: Rng, k: Int, dim: Int): IndexedSeq[Array[Double]] =
    IndexedSeq.fill(k)(Array.fill(dim)(r.gaussian()))
}
