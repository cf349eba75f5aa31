package perfbench

import scala.collection.immutable.HashMap
import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.SnapshotTable

/** The generator's in-memory model of the lifecycle table: the rows of
  * every committed version, which the engine's reads are checked against.
  * Versions share structure, so keeping all of them is cheap.
  */
final class TableModel {
  import TableModel._
  private val states = mutable.HashMap.empty[Long, HashMap[Long, Gen.Row]]
  var version: Long = 0L

  def current: HashMap[Long, Gen.Row] = states.getOrElse(version, HashMap.empty)
  def at(v: Long): HashMap[Long, Gen.Row] = states(v)
  def versions: Seq[Long] = states.keys.toSeq.sorted

  /** Record the state a commit produced; `v` is the engine's version. */
  def commit(v: Long, rows: HashMap[Long, Gen.Row]): Unit = {
    states(v) = rows
    version = v
  }

  /** (count, hash sum) of the rows a read of version `v` should return. */
  def digest(v: Long, keep: Gen.Row => Boolean = _ => true): (Long, Long) =
    digestOf(at(v).valuesIterator.filter(keep))

  /** The change feed between two versions: (inserted, deleted) digests. */
  def changes(from: Long, to: Long): ((Long, Long), (Long, Long)) = {
    val a = at(from)
    val b = at(to)
    (digestOf(b.valuesIterator.filter(r => !a.get(r.id).contains(r))),
      digestOf(a.valuesIterator.filter(r => !b.get(r.id).contains(r))))
  }
}

object TableModel {
  /** Order-independent row hash; [[hashCol]] computes the same in Spark. */
  def hash(r: Gen.Row): Long = {
    val c = new java.util.zip.CRC32()
    c.update(r.tag.getBytes("UTF-8"))
    Math.floorMod(r.id * 1000003L + r.grp * 7919L + r.value * 31L + c.getValue, 2147483647L)
  }

  def hashCol: Column = pmod(col("id") * 1000003L + col("grp").cast("long") * 7919L +
    col("value") * 31L + expr("crc32(cast(tag AS binary))"), lit(2147483647L))

  def digestOf(rows: Iterator[Gen.Row]): (Long, Long) =
    rows.foldLeft((0L, 0L)) { case ((n, h), r) => (n + 1, h + hash(r)) }

  /** (count, hash sum) of a frame with the table's columns. */
  def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(hashCol), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  def frame(spark: SparkSession, rows: Iterable[Gen.Row]): DataFrame = {
    import spark.implicits._
    rows.toSeq.map(r => (r.id, r.grp, r.value, r.tag)).toDF("id", "grp", "value", "tag")
  }
}

/** One writer on one generated table: a seeded mix of the snapshot-table
  * verbs (API and SQL), interleaved with current, time-travel and
  * change-feed reads, every one checked against [[TableModel]].
  */
final class Lifecycle(seed: Long, dirs: Dirs, sizes: Lifecycle.Sizes = Lifecycle.Sizes())
    extends Workload {
  import TableModel.{digest, frame}
  import sizes._
  val name = "lifecycle"
  private val table = s"${dirs.work}/lifecycle_table"
  private val model = new TableModel
  private val rng = Gen.stream(seed, "lifecycle")
  private val schedule = Lifecycle.schedule(seed)
  private var nextId = 0L
  private var reads = 0
  private var readsOk = 0
  // traced-run observations, per op id
  private val filesAdded = mutable.HashMap.empty[Int, Int]
  private val filesPerRead = mutable.ArrayBuffer.empty[Int]

  import Lifecycle._

  private def delete(path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(new org.apache.hadoop.conf.Configuration()).delete(p, true)
    ()
  }

  /** The warm-up graft.Bench runs: one tiny table through create,
    * update, deletion vector, read and change feed.
    */
  private def warm(spark: SparkSession): Unit = {
    val t = s"${dirs.work}/lifecycle_warm"
    delete(t)
    val df = spark.range(1000).select(col("id"), (col("id") % 7).as("k"))
    SnapshotTable.create(spark, t, df, numFiles = 4)
    SnapshotTable.updateWhere(spark, t, col("id") % 100 === 0, Map("k" -> lit(0L)))
    SnapshotTable.deleteWhereVector(spark, t, col("id") % 97 === 0)
    SnapshotTable.read(spark, t).count()
    SnapshotTable.changesBetween(spark, t, 1L, 2L).count()
    delete(t)
  }

  def setup(spark: SparkSession): Unit = {
    graft.GraftExtensions.register(spark)
    warm(spark)
    delete(table)
    val rows = Lifecycle.firstRows(seed, initialRows)
    nextId = initialRows
    val v = SnapshotTable.create(spark, table, frame(spark, rows), numFiles = 8)
    model.commit(v, HashMap.from(rows.map(r => r.id -> r)))
  }

  val measuredBlocks = 2

  def block(spark: SparkSession, rec: Recorder): Unit =
    schedule.next().foreach { kind =>
      val before = if (rec.traced && WriteKinds(kind)) dataFiles(spark) else 0
      val id = rec.ops.size
      val df = step(spark, rec, kind)
      if (rec.traced) {
        if (WriteKinds(kind)) filesAdded(id) = math.max(0, dataFiles(spark) - before)
        df.foreach(d => filesPerRead += d.inputFiles.length)
      }
    }

  private def pickGroup(): Int = rng.below(50)

  /** Run one op of `kind`; returns the frame a current read scanned. */
  private def step(spark: SparkSession, rec: Recorder, kind: String): Option[DataFrame] = {
    val cur = model.current
    def expectCommit(v: Long, changed: Boolean, what: String): Unit =
      rec.check(v == (if (changed) model.version + 1 else model.version),
        s"$what committed version $v, model expects ${model.version}${if (changed) " + 1" else ""}")
    kind match {
      case "append" =>
        val rows = (nextId until nextId + appendRows).map(id => Gen.lifecycleRow(seed, id))
        nextId += appendRows
        rec.op(kind) {
          val v = rec.span("sources")(SnapshotTable.append(spark, table, frame(spark, rows)))
          expectCommit(v, changed = true, kind)
          model.commit(v, cur ++ rows.map(r => r.id -> r))
        }
        None
      case "update" =>
        val (g, m, d) = (pickGroup(), rng.below(5), 1 + rng.below(100))
        val hit = cur.valuesIterator.filter(r => r.grp == g && r.id % 5 == m).toSeq
        rec.op(kind) {
          val (v, n, _) = rec.span("sources")(SnapshotTable.updateWhere(spark, table,
            col("grp") === g && col("id") % 5 === m, Map("value" -> (col("value") + d))))
          rec.check(n == hit.size, s"update matched $n rows, model ${hit.size}")
          expectCommit(v, hit.nonEmpty, kind)
          model.commit(v, cur ++ hit.map(r => r.id -> r.copy(value = r.value + d)))
        }
        None
      case "delete_dv" =>
        val (g, m) = (pickGroup(), rng.below(7))
        val hit = cur.valuesIterator.filter(r => r.grp == g && r.id % 7 == m).map(_.id).toSeq
        rec.op(kind) {
          val (v, n) = rec.span("sources")(SnapshotTable.deleteWhereVector(spark, table,
            col("grp") === g && col("id") % 7 === m))
          rec.check(n == hit.size, s"delete_dv matched $n rows, model ${hit.size}")
          expectCommit(v, hit.nonEmpty, kind)
          model.commit(v, cur -- hit)
        }
        None
      case "merge" =>
        val ids = cur.keysIterator.toIndexedSeq
        val existing = Seq.fill(mergeRows / 2)(ids(rng.below(ids.size))).distinct
        val fresh = nextId until nextId + mergeRows / 2
        nextId += mergeRows / 2
        val src = (existing ++ fresh).map(id => Gen.lifecycleRow(seed, id, model.version + 1))
        rec.op(kind) {
          val (v, upd, ins, _) = rec.span("sources")(
            SnapshotTable.mergeInto(spark, table, frame(spark, src), "id"))
          rec.check(upd == existing.size && ins == fresh.size,
            s"merge updated $upd / inserted $ins, model ${existing.size} / ${fresh.size}")
          expectCommit(v, changed = true, kind)
          model.commit(v, cur ++ src.map(r => r.id -> r))
        }
        None
      case "sql_dml" =>
        val (g, m) = (pickGroup(), rng.below(9))
        val isUpdate = rng.below(2) == 0
        val hit = cur.valuesIterator.filter(r => r.grp == g && r.id % 9 == m).toSeq
        val where = s"grp = $g AND id % 9 = $m"
        val stmt = if (isUpdate) s"UPDATE `$table` SET value = value + 7 WHERE $where"
          else s"DELETE FROM `$table` WHERE $where"
        rec.op(kind) {
          val row = rec.span("sources")(
            spark.sql(s"SELECT * FROM graft_dml('${stmt.replace("'", "\\'")}')").head())
          val v = row.getAs[Long]("version")
          val n = row.getAs[Long]("rows_affected")
          rec.check(n == hit.size, s"sql $stmt affected $n rows, model ${hit.size}")
          expectCommit(v, hit.nonEmpty, kind)
          model.commit(v,
            if (isUpdate) cur ++ hit.map(r => r.id -> r.copy(value = r.value + 7))
            else cur -- hit.map(_.id))
        }
        None
      case "compact" =>
        rec.op(kind) {
          val (v, _, _) = rec.span("sources")(SnapshotTable.compact(spark, table))
          rec.check(v == model.version || v == model.version + 1,
            s"compact committed version $v after ${model.version}")
          model.commit(v, cur)
        }
        None
      case "read" =>
        val g = pickGroup()
        val want = model.digest(model.version, _.grp == g)
        rec.op(kind) {
          val df = rec.span("sources")(SnapshotTable.read(spark, table).filter(col("grp") === g))
          checkRead(rec, rec.span("spark.exec")(digest(df)), want, s"read grp=$g")
          df
        }
      case "timetravel" =>
        val past = model.versions.filter(_ < model.version)
        val v = if (past.isEmpty) model.version else past(rng.below(past.size))
        val want = model.digest(v)
        rec.op(kind) {
          val df = rec.span("sources")(SnapshotTable.read(spark, table, version = Some(v)))
          checkRead(rec, rec.span("spark.exec")(digest(df)), want, s"read version $v")
        }
        None
      case "changes" =>
        val past = model.versions.filter(_ < model.version).takeRight(4)
        val from = if (past.isEmpty) model.version else past(rng.below(past.size))
        val (ins, del) = model.changes(from, model.version)
        val to = model.version
        rec.op(kind) {
          val df = rec.span("sources")(SnapshotTable.changesBetween(spark, table, from, to))
          val got = rec.span("spark.exec")(Seq("insert", "delete").map(t =>
            digest(df.filter(col("change_type") === t).drop("change_type"))))
          checkRead(rec, got.head, ins, s"changes $from..$to inserts")
          checkRead(rec, got(1), del, s"changes $from..$to deletes")
        }
        None
    }
  }

  private def checkRead(rec: Recorder, got: (Long, Long), want: (Long, Long), what: String): Unit = {
    reads += 1
    if (got == want) readsOk += 1
    rec.check(got == want, s"$what returned (rows, hash) $got, model $want")
  }

  private def dataFiles(spark: SparkSession): Int = {
    val p = new org.apache.hadoop.fs.Path(table, "data")
    val it = p.getFileSystem(spark.sparkContext.hadoopConfiguration).listFiles(p, true)
    var n = 0
    while (it.hasNext) { it.next(); n += 1 }
    n
  }

  def finish(spark: SparkSession, rec: Recorder): Unit =
    checkRead(rec, digest(SnapshotTable.read(spark, table)), model.digest(model.version),
      "final read")

  def quality: Double = if (reads == 0) Double.NaN else readsOk.toDouble / reads

  private def dirBytes(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
  }

  def layerMetrics(spark: SparkSession, rec: Recorder, meter: JobMeter): Map[String, Double] = {
    val ok = rec.ops.filter(_.ok)
    def p50(kinds: Set[String]) = Stats.median(ok.filter(o => kinds(o.kind)).map(_.wallS).toSeq)
    val commits = ok.filter(o => WriteKinds(o.kind))
    val commitLat = Stats.summary(commits.map(_.wallS).toSeq)
    val work = commits.map(o => meter.work(rec.jobGroup(o.id)))
    def perCommit(f: OpWork => Double) = if (work.isEmpty) 0.0 else work.map(f).sum / work.size
    val gaps = commits.map(o => o.wallS - Main.jobBusyS(o, meter.work(rec.jobGroup(o.id))))
    val userBytes = model.current.valuesIterator.map(_.userBytes).sum.toDouble
    Map(
      "commit_s_p50" -> commitLat.p50, "commit_s_p90" -> commitLat.p90,
      "read_s_p50" -> p50(ReadKinds),
      "bytes_per_user_byte" -> dirBytes(spark, table) / userBytes,
      "sources.jobs_per_commit" -> perCommit(_.jobs),
      "sources.driver_gap_per_commit_s" -> (if (gaps.isEmpty) 0.0 else gaps.sum / gaps.size),
      "sources.files_added_per_commit" ->
        (if (filesAdded.isEmpty) 0.0 else filesAdded.values.sum.toDouble / filesAdded.size),
      "sources.bytes_written_per_commit" -> perCommit(_.outputBytes.toDouble),
      "sources.metadata_bytes" -> dirBytes(spark, s"$table/_manifests").toDouble,
      "sources.live_files" -> SnapshotTable.read(spark, table).inputFiles.length.toDouble,
      "sources.files_per_read" ->
        (if (filesPerRead.isEmpty) 0.0 else filesPerRead.sum.toDouble / filesPerRead.size)
    ) ++ VerbMetric.map { case (k, m) => m -> p50(Set(k)) }
  }
}

object Lifecycle {
  /** Table sizes; the defaults are the benchmark's, tests shrink them. */
  final case class Sizes(initialRows: Long = 10000L, appendRows: Long = 1000L,
      mergeRows: Int = 400)

  def firstRows(seed: Long, n: Long): Seq[Gen.Row] =
    (0L until n).map(id => Gen.lifecycleRow(seed, id))

  /** The op kinds, block by block: each block holds every verb and read
    * kind of [[BlockKinds]] in a seeded order; a compaction closes every
    * third block.
    */
  def schedule(seed: Long): Iterator[Seq[String]] = {
    val r = Gen.stream(seed, "lifecycle-schedule")
    Iterator.from(0).map(b => r.shuffle(BlockKinds) ++ (if (b % 3 == 2) Seq("compact") else Nil))
  }

  val WriteKinds: Set[String] = Set("append", "update", "delete_dv", "merge", "sql_dml", "compact")
  val ReadKinds: Set[String] = Set("read", "timetravel", "changes")
  val BlockKinds: Seq[String] = Seq("append", "update", "delete_dv", "merge", "sql_dml",
    "read", "read", "timetravel", "timetravel", "changes")
  val VerbMetric: Seq[(String, String)] = Seq("append" -> "sources.append_s_p50",
    "update" -> "sources.update_s_p50", "delete_dv" -> "sources.delete_dv_s_p50",
    "merge" -> "sources.merge_s_p50", "compact" -> "sources.compact_s_p50",
    "sql_dml" -> "sources.sql_dml_s_p50", "read" -> "sources.read_s_p50",
    "timetravel" -> "sources.timetravel_s_p50", "changes" -> "sources.changes_s_p50")

  val layerNames: Seq[(String, String)] = Seq("commit_s_p50" -> "s", "commit_s_p90" -> "s",
    "read_s_p50" -> "s", "bytes_per_user_byte" -> "ratio") ++
    VerbMetric.map(_._2 -> "s") ++ Seq("sources.jobs_per_commit" -> "count",
      "sources.driver_gap_per_commit_s" -> "s", "sources.files_added_per_commit" -> "count",
      "sources.bytes_written_per_commit" -> "bytes", "sources.metadata_bytes" -> "bytes",
      "sources.live_files" -> "count", "sources.files_per_read" -> "count")
}
