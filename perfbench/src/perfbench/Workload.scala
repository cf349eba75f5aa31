package perfbench

import org.apache.spark.sql.SparkSession

/** Where a run keeps its files; all of it lies inside the checkout. */
final case class Dirs(work: String, data: String, pinned: String)

/** The engine session, configured like `graft.Bench` builds its own: the
  * numbers then describe the engine as it is benched. `spark.local.dir` is
  * the directory `graft.LocalScratch` would select from its
  * SPARK_GRAFT_LOCAL_DIR override, which the launcher points into the
  * checkout.
  */
object Session {
  def cores: Int = Runtime.getRuntime.availableProcessors()

  def localDir: String = sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR",
    throw new IllegalStateException("SPARK_GRAFT_LOCAL_DIR is not set; " +
      "run the benchmark through perfbench/run.py"))

  /** A new session. The first builds the SparkContext; later ones share
    * it, as sessions of one engine process do, and start with empty
    * session state (the engine's per-session caches included).
    */
  def build(): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", localDir)
      .config("spark.hadoop.fs.file.impl",
        "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** One benchmark workload: a set-up that is repeated and timed, and
  * blocks of ops with a fixed mix of kinds that one client issues in a
  * closed loop.
  */
trait Workload {
  def name: String

  /** Bring a fresh session to the state the timed phase starts from:
    * warm-up plus any per-session input preparation. A throw fails the run.
    */
  def setup(spark: SparkSession): Unit

  /** Issue the next block of ops through `rec`. */
  def block(spark: SparkSession, rec: Recorder): Unit

  /** Untimed blocks run before the timed phase. */
  def primeBlocks: Int = 1

  /** The timed blocks the end-to-end metrics come from: the first ones
    * after priming, so every run measures the same stretch of warm-up
    * whatever number of blocks fits its time.
    */
  def measuredBlocks: Int

  /** Output checks that need the final state (untimed); failures go to
    * `rec.check`.
    */
  def finish(spark: SparkSession, rec: Recorder): Unit

  /** Output quality in (0, 1]: the share of checked outputs that were
    * right, or a recall where the workload has one.
    */
  def quality: Double

  /** Workload-specific per-layer metrics (traced runs only). */
  def layerMetrics(spark: SparkSession, rec: Recorder, meter: JobMeter): Map[String, Double]
}
