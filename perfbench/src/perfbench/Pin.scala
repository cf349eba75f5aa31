package perfbench

import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** Records, for every candidate query of the analytics pass, what
  * perfbench/pin.py needs to pin it: its module, its row count from two
  * cold runs on the generated corpus, the first run's wall time (the cost
  * the pass order is stratified by), any error, the files it wrote under
  * the system temp directory (the engine hard-codes some scratch paths
  * there, and the benchmark must not write outside its checkout), and its
  * DuckDB oracle SQL.
  */
object Pin {
  private val tmpRoot = new java.io.File("/tmp")

  /** Every file under the engine's hard-coded /tmp scratch roots, with
    * its modification time.
    */
  private def tmpState(): Map[String, Long] = {
    def walk(f: java.io.File): Iterator[(String, Long)] =
      if (f.isDirectory) Option(f.listFiles).iterator.flatMap(_.iterator).flatMap(walk)
      else Iterator(f.getPath -> f.lastModified)
    Option(tmpRoot.listFiles).iterator.flatMap(_.iterator)
      .filter(_.getName.startsWith("graft_")).flatMap(walk).toMap
  }

  def run(out: String, dirs: Dirs): Unit = {
    val spark = Session.build()
    new Analytics(0L, dirs).setup(spark)
    val sfDir = Analytics.sfDir(dirs)
    val oracle = graft.SparkEntry.oracleSql
    val json = new ObjectMapper()
    val root = json.createObjectNode()
    Inventory.moduleOf.toSeq.sortBy(_._1).foreach { case (q, module) =>
      Inventory.excludedByRule(q) match {
        case Some(why) => root.putObject(q).put("module", module).put("excluded", why)
        case None => pinOne(q, module)
      }
    }
    def pinOne(q: String, module: String): Unit = {
      val before = tmpState()
      def once(): (Try[Long], Double) = {
        val t0 = System.nanoTime()
        val r = Try {
          val df = Inventory.query(q)(spark, sfDir)
          Inventory.plan(df)
          Inventory.execute(df)
        }
        (r, (System.nanoTime() - t0) / 1e9)
      }
      val (r1, cost) = once()
      val (r2, _) = once()
      val after = tmpState()
      val e: ObjectNode = root.putObject(q)
      e.put("module", module)
      e.put("cost_s", cost)
      r1.foreach(n => e.put("rows", n))
      r2.foreach(n => e.put("rows_again", n))
      (r1.failed.toOption orElse r2.failed.toOption).foreach(t => e.put("error", Recorder.describe(t)))
      val wrote = after.collect { case (p, t) if !before.get(p).contains(t) => p }.toSeq.sorted
      if (wrote.nonEmpty) e.put("writes_outside", wrote.take(3).mkString(", "))
      oracle.get(q).foreach(sql => e.put("oracle", sql))
      System.err.println(f"[pin] $q%-40s $cost%7.3fs ${r1.map(_.toString).getOrElse("ERROR")}" +
        (if (wrote.nonEmpty) "  writes /tmp" else ""))
    }
    json.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(out), root)
    spark.stop()
  }
}
