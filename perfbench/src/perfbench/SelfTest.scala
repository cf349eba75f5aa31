package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The benchmark's own tests (run by perfbench/selftest.py). Exits
  * non-zero on the first failure.
  */
object SelfTest {
  private var passed = 0

  private def test(name: String)(body: => Unit): Unit = {
    body
    passed += 1
    println(s"[selftest] ok   $name")
  }

  private def eq[T](got: T, want: T, what: String): Unit =
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")

  private def near(got: Double, want: Double, what: String): Unit =
    if (math.abs(got - want) > 1e-9) throw new AssertionError(s"$what: got $got, want $want")

  def run(work: String, benchmarkJson: String): Unit = {
    test("same seed gives identical inputs, another seed different ones") {
      def corpus(s: Long) = {
        val in = Corpus.inputs(s)
        (in.seedDocs, (0 until 3).map(in.batch), (0 until 3).map(in.takedownIds), in.vectors.map(_.toSeq),
          (0 until 3).flatMap(in.queries).map { case (id, v) => (id, v.toSeq) })
      }
      def lifecycle(s: Long) = (Lifecycle.firstRows(s, 500), Lifecycle.schedule(s).take(6).toList)
      def analytics(s: Long) = Gen.stream(s, "analytics-order").shuffle((0 until 100).map(i => s"q$i"))
      eq(corpus(7), corpus(7), "corpus inputs, same seed")
      eq(lifecycle(7), lifecycle(7), "lifecycle inputs, same seed")
      eq(analytics(7), analytics(7), "analytics order, same seed")
      if (corpus(7) == corpus(8)) throw new AssertionError("corpus inputs ignore the seed")
      if (lifecycle(7) == lifecycle(8)) throw new AssertionError("lifecycle inputs ignore the seed")
      if (analytics(7) == analytics(8)) throw new AssertionError("analytics order ignores the seed")
      eq(analytics(7).sorted, (0 until 100).map(i => s"q$i").sorted, "analytics order is a permutation")
    }

    test("the analytics panel holds each module's cheapest query") {
      val qs = Seq(Pinned("a1", "A", 0, 0.1), Pinned("a2", "A", 0, 0.5), Pinned("a3", "A", 0, 0.9),
        Pinned("b1", "B", 0, 0.2), Pinned("b2", "B", 0, 0.4))
      eq(Pinned.panel(qs).map(_.name), Vector("a1", "b1"), "panel")
    }

    test("percentile helper") {
      eq(Stats.tailPercentile(100), Some(90), "n=100")
      eq(Stats.tailPercentile(1000), Some(99), "n=1000")
      eq(Stats.tailPercentile(200), Some(95), "n=200")
      eq(Stats.tailPercentile(40), Some(75), "n=40")
      eq(Stats.tailPercentile(20), Some(50), "n=20")
      eq(Stats.tailPercentile(19), None, "n=19")
      val xs = (1 to 101).map(_.toDouble)
      near(Stats.quantile(xs, 0.5), 51.0, "median of 1..101")
      near(Stats.quantile(xs, 0.9), 91.0, "p90 of 1..101")
      near(Stats.quantile(Seq(1.0, 2.0), 0.5), 1.5, "interpolated median")
      val s = Stats.summary(xs)
      eq((s.n, s.tailP), (101, Some(90)), "summary count and tail percentile")
      // at least ten samples lie above the reported tail percentile
      if (xs.count(_ > s.tail) < 10) throw new AssertionError("tail has fewer than 10 beyond")
    }

    test("self time on nested and overlapping spans") {
      val spans = Seq(
        Span(0, -1, 0, "root", 0, 100),
        Span(1, 0, 0, "a", 10, 40), // overlaps b
        Span(2, 0, 0, "b", 30, 60),
        Span(3, 1, 0, "c", 20, 30), // nested in a
        Span(4, 2, 0, "d", 50, 80)) // escapes b: clipped to b
      val self = Spans.selfTimes(spans)
      eq(self(0), 50L, "root: 100 minus the union [10,60)")
      eq(self(1), 20L, "a: 30 minus c")
      eq(self(2), 20L, "b: 30 minus d clipped to [50,60)")
      eq(self(3), 10L, "c: leaf")
      eq(self(4), 30L, "d: leaf")
      eq(Spans.unionLength(Seq((0L, 10L), (5L, 20L), (30L, 40L), (35L, 36L), (50L, 50L))), 30L,
        "union of overlapping, contained and empty intervals")
      eq(Spans.selfByName(spans ++ Seq(Span(5, -1, 1, "a", 0, 7))),
        Map("root" -> 50L, "a" -> 27L, "b" -> 20L, "c" -> 10L, "d" -> 30L), "self per name")
      // sequential children (the benchmark's own shape) add up to the wall
      val seq = Seq(Span(0, -1, 0, "bench", 0, 100), Span(1, 0, 0, "x", 5, 50),
        Span(2, 0, 0, "y", 50, 90), Span(3, 2, 0, "z", 60, 70))
      eq(Spans.selfTimes(seq).values.sum, 100L, "self times sum to the op wall")
    }

    test("BENCHMARK.json names every metric the runs print, with the same units") {
      val root = new ObjectMapper().readTree(new java.io.File(benchmarkJson))
      def metrics(key: String) = root.get(key).elements().asScala
        .map(m => m.get("name").asText -> m.get("unit").asText).toVector
      eq(metrics("end_to_end"), Main.EndToEnd.toVector, "end_to_end")
      eq(metrics("per_layer"), Main.perLayer.toVector, "per_layer")
      eq(root.get("workloads").elements().asScala.map(_.get("name").asText).toVector,
        Vector("analytics", "lifecycle", "corpus"), "workloads")
    }

    test("the lifecycle model agrees with the engine on a tiny table") {
      val spark = Session.build()
      try {
        val dirs = Dirs(work, work, "")
        val w = new Lifecycle(11L, dirs,
          Lifecycle.Sizes(initialRows = 300, appendRows = 20, mergeRows = 10))
        w.setup(spark)
        val rec = new Recorder(spark.sparkContext, traced = true)
        (0 until 3).foreach(_ => w.block(spark, rec))
        w.finish(spark, rec)
        eq(rec.ops.size, 31, "ops run: three blocks, the third closed by a compaction")
        eq(rec.ops.flatMap(_.error).toList, Nil, "op errors")
        eq(rec.checkFailures.toList, Nil, "model mismatches")
        eq(rec.ops.map(_.kind).toSet, Lifecycle.BlockKinds.toSet + "compact", "kinds covered")
      } finally spark.stop()
    }

    println(s"[selftest] $passed tests passed")
  }
}
