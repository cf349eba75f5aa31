package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution

/** The engine's registered query inventory, module by module, as
  * `graft.SparkEntry` aggregates it. A query's module is the one whose
  * public `queries` map holds it.
  */
object Inventory {
  type Query = (SparkSession, String) => DataFrame

  val modules: Seq[(String, Map[String, Query])] = {
    import graft.operators._
    Seq(
      "RelationalCore" -> RelationalCore.queries,
      "Aggregates" -> Aggregates.queries,
      "Joins" -> Joins.queries,
      "Windows" -> Windows.queries,
      "Scalars" -> Scalars.queries,
      "StreamOps" -> graft.streaming.StreamOps.queries,
      "CustomOps" -> CustomOps.queries,
      "TextOps" -> TextOps.queries,
      "DedupOps" -> DedupOps.queries,
      "SimilarityOps" -> SimilarityOps.queries,
      "MultimodalOps" -> MultimodalOps.queries,
      "Extras" -> Extras.queries,
      "IvfAnn" -> IvfAnn.queries,
      "PqIndex" -> PqIndex.queries,
      "BpeOps" -> BpeOps.queries,
      "IvfPq" -> IvfPq.queries,
      "TypedApi" -> TypedApi.queries,
      "BinaryIngest" -> graft.ingest.BinaryIngest.queries,
      "SnapshotTable" -> graft.sources.SnapshotTable.queries,
      "SqlSurface" -> SqlSurface.queries,
      "PipelineOps" -> PipelineOps.queries,
      "EmbeddingOps" -> EmbeddingOps.queries,
      "QualityOps" -> QualityOps.queries,
      "AnalyticsOps" -> AnalyticsOps.queries,
      "TrainingOps" -> TrainingOps.queries,
      "TemporalOps" -> TemporalOps.queries,
      "Flagship" -> Flagship.queries)
  }

  /** Modules whose queries the analytics pass leaves out, and why. */
  val excludedModules: Map[String, String] = Map(
    "SnapshotTable" -> "table-lifecycle query: writes tables; the lifecycle workload covers this layer",
    "BinaryIngest" -> "needs the PDF compendium, which is not in the repository")

  /** Why the analytics pass leaves `query` out by rule, if it does. */
  def excludedByRule(query: String): Option[String] =
    excludedModules.get(moduleOf(query)).orElse(
      if (query.startsWith("q_stream_table_")) Some(excludedModules("SnapshotTable")) else None)

  /** Module of every registered query; fails loudly when this list and the
    * engine's registry drift apart.
    */
  lazy val moduleOf: Map[String, String] = {
    val m = modules.flatMap { case (mod, qs) => qs.keys.map(_ -> mod) }.toMap
    val registered = graft.SparkEntry.queries.keySet
    require(m.keySet == registered,
      s"perfbench module list is out of date: unknown ${(registered -- m.keySet).mkString(",")}" +
        s", stale ${(m.keySet -- registered).mkString(",")}")
    m
  }

  def query(name: String): Query = graft.SparkEntry.queries(name)

  /** Run a built query the way the analytics workload times it: force the
    * physical plan, then execute that plan and count its rows.
    */
  def plan(df: DataFrame): Unit = { df.queryExecution.executedPlan; () }

  def execute(df: DataFrame): Long =
    SQLExecution.withNewExecutionId(df.queryExecution, Some("perfbench")) {
      df.queryExecution.executedPlan.execute().count()
    }
}

/** A pinned query of the analytics pass. */
final case class Pinned(name: String, module: String, rows: Long, costS: Double)

object Pinned {
  def load(path: String): Seq[Pinned] = {
    val root = new ObjectMapper().readTree(new java.io.File(path))
    root.get("queries").fields().asScala.map { e =>
      val v = e.getValue
      Pinned(e.getKey, v.get("module").asText, v.get("rows").asLong, v.get("cost_s").asDouble)
    }.toVector.sortBy(_.name)
  }

  /** The panel the analytics workload runs: the cheapest pinned query of
    * every module. A pass over the whole inventory takes minutes in a fresh
    * JVM, and set-up (repeated per run) compiles every panel query; the
    * cheapest queries keep every module in each run within that budget.
    */
  def panel(qs: Seq[Pinned]): Vector[Pinned] =
    qs.groupBy(_.module).values.map(_.minBy(q => (q.costS, q.name))).toVector.sortBy(_.name)
}

/** Read-only query traffic over the registered inventory at sf0.1: one
  * client repeats passes over the module panel, each pass in a seeded
  * order. The first pass of a session compiles each query's code; later
  * passes run with it cached, as repeated queries do.
  */
final class Analytics(seed: Long, dirs: Dirs) extends Workload {
  val name = "analytics"
  private val sfDir = Analytics.sfDir(dirs)
  private lazy val panel = Pinned.panel(Pinned.load(dirs.pinned))
  private var checked = 0
  private var matched = 0

  /** Generate the corpus once per checkout (it does not depend on the
    * workload seed); a marker file makes a half-written corpus regenerate.
    */
  private def ensureCorpus(spark: SparkSession): Unit = {
    val done = new java.io.File(sfDir, "_GENERATED")
    if (!done.exists()) {
      Gen.writeAnalyticsCorpus(spark, sfDir)
      java.nio.file.Files.write(done.toPath, Array.emptyByteArray)
    }
  }

  def setup(spark: SparkSession): Unit = {
    ensureCorpus(spark)
    Inventory.moduleOf
    // touch every table (listing, footers, page cache) and run one
    // shuffle, as graft.Bench warms up before timing
    Gen.AnalyticsTables.foreach { t =>
      if (t == "events") graft.Tables.events(spark, sfDir).count()
      else graft.Tables.load(spark, sfDir, t).count()
    }
    graft.Tables.load(spark, sfDir, "region").groupBy("r_regionkey").count().count()
    ()
  }

  private val order = Gen.stream(seed, "analytics-order")

  // the first pass compiles every query's code; the second lets the
  // JIT catch up before the measured passes
  override val primeBlocks = 2
  val measuredBlocks = 2

  /** One pass over the panel. */
  def block(spark: SparkSession, rec: Recorder): Unit =
    order.shuffle(panel).foreach { q =>
      rec.op(q.name) {
        val df = rec.span("operators.build")(Inventory.query(q.name)(spark, sfDir))
        rec.span("catalyst.plan")(Inventory.plan(df))
        val n = rec.span("spark.exec")(Inventory.execute(df))
        checked += 1
        if (n == q.rows) matched += 1
        rec.check(n == q.rows, s"${q.name} returned $n rows, pinned ${q.rows}")
      }
    }

  def finish(spark: SparkSession, rec: Recorder): Unit = ()

  def quality: Double = if (checked == 0) Double.NaN else matched.toDouble / checked

  def layerMetrics(spark: SparkSession, rec: Recorder, meter: JobMeter): Map[String, Double] = {
    val ok = rec.ops.filter(_.ok)
    val lat = Stats.summary(ok.map(_.wallS).toSeq)
    val busy = ok.groupBy(o => Inventory.moduleOf(o.kind)).map { case (m, os) =>
      s"$m.busy_s" -> os.map(_.wallS).sum }
    busy ++ Map("query_s_p50" -> lat.p50, "query_s_p90" -> lat.p90)
  }
}

object Analytics {
  def sfDir(dirs: Dirs): String = s"${dirs.data}/${Gen.AnalyticsVersion}-sf0.1"

  val layerNames: Seq[(String, String)] =
    Seq("query_s_p50" -> "s", "query_s_p90" -> "s", "operators.build_s" -> "s",
      "catalyst.plan_s" -> "s", "spark.exec_s" -> "s") ++
      Inventory.modules.map(_._1).filterNot(Inventory.excludedModules.contains)
        .map(m => s"$m.busy_s" -> "s")
}
