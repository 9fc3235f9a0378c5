package perfbench

import graft.core.ManifestEntry
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import perfbench.Stats.Span

class HarnessSpec extends AnyFunSuite {

  private def entry(path: String, bytes: Long, bucket: Int = 0,
                    partition: Map[String, String] = Map.empty): ManifestEntry =
    ManifestEntry(kind = 0, path = path, partition = partition, bucket = bucket,
      rowCount = 1L, fileSize = bytes, minSeq = 0L, maxSeq = 0L, level = 0, stats = Map.empty)

  test("a percentile is reported only with ten samples beyond it") {
    assert(Stats.supportedPercentile(19).isEmpty)
    assert(Stats.supportedPercentile(20).contains(50))
    assert(Stats.supportedPercentile(39).contains(50))
    assert(Stats.supportedPercentile(40).contains(75))
    assert(Stats.supportedPercentile(100).contains(90))
    assert(Stats.supportedPercentile(199).contains(90))
    assert(Stats.supportedPercentile(200).contains(95))
    assert(Stats.supportedPercentile(999).contains(95))
    assert(Stats.supportedPercentile(1000).contains(99))
    Seq(20, 57, 200, 1234).foreach { n =>
      val p = Stats.supportedPercentile(n).get
      assert(Stats.beyond(n, p) >= 10, s"n=$n p=$p")
    }
  }

  test("nearest-rank percentiles and medians") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 95) == 95.0)
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 100) == 100.0)
    assert(Stats.percentile(Seq(7.0), 99) == 7.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Metrics.tails("op", (1 to 20).map(_.toDouble)) ==
      Map("e2e.op_tail_ms" -> 10.0, "e2e.op_tail_pct" -> 50.0, "e2e.op_samples" -> 20.0))
    assert(Metrics.tails("op", Seq(5.0, 9.0))("e2e.op_tail_pct") == 100.0)
  }

  test("a mix median weighs every operation kind equally") {
    val xs = Seq("a" -> 1.0, "a" -> 2.0, "b" -> 5.0, "c" -> 9.0, "c" -> 9.0, "c" -> 9.0)
    assert(Stats.mixMedian(xs) == 5.0)
    assert(Stats.mixMedian(xs.filter(_._1 == "c")) == 9.0)
    assert(Stats.mixMedian(Seq("a" -> 3.0, "a" -> 1.0, "a" -> 2.0)) == 2.0)
  }

  test("self time subtracts the union of child intervals inside the parent") {
    val spans = Seq(
      Span(1, "root", 0, 100, 0, 1),
      Span(2, "a", 10, 30, 1, 1),
      Span(3, "b", 20, 50, 1, 1), // overlaps a: [10, 50] counts once
      Span(4, "c", 60, 70, 1, 1),
      Span(5, "d", 65, 68, 4, 1), // grandchild: only c's self time shrinks
      Span(6, "e", 90, 120, 1, 1), // runs past the parent: [90, 100] counts
      Span(7, "other", 200, 250, 0, 2))
    val self = Stats.selfTimes(spans)
    assert(self(1) == 100 - 40 - 10 - 10)
    assert(self(4) == 10 - 3)
    assert(self(5) == 3)
    assert(self(7) == 50)
  }

  test("write and space amplification from manifest entry sizes") {
    val base = Seq(entry("a", 1000), entry("b", 1000, bucket = 1))
    val afterWrite = base ++ Seq(entry("c", 100), entry("d", 100, bucket = 1))
    val written = Stats.added(base, afterWrite)
    assert(written.map(_.path) == Seq("c", "d"))
    val afterCompact = Seq(entry("e", 1050), entry("f", 1050, bucket = 1))
    val compacted = Stats.added(afterWrite, afterCompact)
    assert(Stats.writeAmp(written, compacted) == (200.0 + 2100.0) / 200.0)
    assert(Stats.spaceAmp(afterWrite, 2000L) == 2200.0 / 2000.0)
    assert(Stats.sortedRuns(afterWrite) == ((2, 2.0)))
    val parted = Seq(entry("x", 1, 0, Map("m" -> "1")), entry("y", 1, 0, Map("m" -> "2")),
      entry("z", 1, 0, Map("m" -> "2")))
    assert(Stats.sortedRuns(parted) == ((2, 1.5)))
    intercept[IllegalArgumentException](Stats.writeAmp(Nil, compacted))
  }

  test("whole compaction cycles bound the ingest window") {
    def step(c: Boolean) = IngestUpsert.Step(10, 1.0, c, 0L, 0L)
    val steps = Seq(step(false), step(true), step(false), step(true), step(false), step(true), step(false))
    assert(IngestUpsert.wholeCycles(steps) == steps.slice(2, 6))
    val one = Seq(step(false), step(true), step(false))
    assert(IngestUpsert.wholeCycles(one) == one)
  }

  test("one seed gives identical batches, corpora, payloads and query streams") {
    assert(IngestUpsert.batch(7L, 3, 150000L) == IngestUpsert.batch(7L, 3, 150000L))
    assert(IngestUpsert.batch(7L, 3, 150000L) != IngestUpsert.batch(8L, 3, 150000L))
    val b = IngestUpsert.batch(7L, 0, 150000L)
    assert(b.size == IngestUpsert.BatchRows && b.map(_.getLong(0)).distinct.size == b.size)
    assert(Corpus(7L).texts == Corpus(7L).texts)
    assert(Corpus(7L).texts != Corpus(8L).texts)
    assert(Corpus(7L).clusters == Corpus(7L).clusters)
    assert(Gen.payload(7L, 42L, 1000).sameElements(Gen.payload(7L, 42L, 1000)))
    assert(!Gen.payload(7L, 42L, 1000).sameElements(Gen.payload(8L, 42L, 1000)))
    assert(LakeRead.queries(7L) == LakeRead.queries(7L))
    assert((1 to 5).map(LakeRead.mixBlock(7L, _)) == (1 to 5).map(LakeRead.mixBlock(7L, _)))
    assert(LakeRead.mixBlock(7L, 1).groupBy(identity).map { case (k, v) => k -> v.size } ==
      LakeRead.Mix)
  }

  test("generated tables do not depend on partitioning") {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-test")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try {
      def rows(parts: Int) =
        Gen.orders(spark.range(0, 2000, 1, parts), 7L, 1).collect().toSeq.sortBy(_.getLong(0))
      assert(rows(1) == rows(5))
      assert(rows(1) != Gen.orders(spark.range(0, 2000, 1, 1), 8L, 1).collect().toSeq
        .sortBy(_.getLong(0)))
    } finally spark.stop()
  }

  test("BENCHMARK.json lists exactly the metrics and workloads the harness reports") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(new java.io.File("../BENCHMARK.json"))
    import scala.jdk.CollectionConverters._
    def list(key: String) = root.get(key).elements().asScala.toSeq
    assert(list("workloads").map(_.get("name").asText) == Metrics.Workloads)
    def metrics(key: String) = list(key).map(m =>
      Metrics.Metric(m.get("name").asText, m.get("unit").asText, m.get("better").asText))
    assert(metrics("end_to_end") == Metrics.EndToEnd)
    assert(metrics("per_layer") == Metrics.PerLayer)
  }
}
