package perfbench

import scala.collection.mutable

import graft.core.{GraftTable, Lookup, ManifestEntry, TableConfig}
import graft.core.RowOps._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** `ingest_upsert`: one writer commits seeded upsert batches into a
  * deduplicate primary-key table (4 buckets, write-only, sorted-run
  * trigger). After each commit the harness runs read-your-write point
  * lookups of keys from the batch, then the table's triggered compaction,
  * as a dedicated compaction job would, then a consumer's delta read of
  * the commit. */
final class IngestUpsert(spark: SparkSession, seed: Long) extends Workload {
  import IngestUpsert._

  private var t: GraftTable = _
  private var dir: String = _
  private var nextKey = BaseKeys
  private var batchNo = 0
  private var lastSnap = 0L
  private var live: Seq[ManifestEntry] = Nil
  private val batches = mutable.ArrayBuffer.empty[Seq[Row]]
  private val steps = mutable.ArrayBuffer.empty[Step]
  // traced-window layer figures
  private val writeAdded = mutable.ArrayBuffer.empty[ManifestEntry]
  private val compactAdded = mutable.ArrayBuffer.empty[ManifestEntry]
  private val filesPerCommit = mutable.ArrayBuffer.empty[Double]
  private val runsMax = mutable.ArrayBuffer.empty[Double]
  private val runsMean = mutable.ArrayBuffer.empty[Double]
  private val planned = mutable.ArrayBuffer.empty[Double]
  private var compactions = 0
  private var retries0 = 0L

  def setup(dir: String): Unit = {
    this.dir = dir
    t = GraftTable.create(spark, s"$dir/orders_upsert", Gen.ordersSchema,
      TableConfig(primaryKeys = Seq("o_orderkey"), numBuckets = Buckets,
        options = Map("write-only" -> "true",
          "num-sorted-run.compaction-trigger" -> Trigger.toString)))
    lastSnap = t.write(Gen.orders(spark.range(BaseKeys), seed, 0)).id
    nextKey = BaseKeys
    batchNo = 0
    batches.clear()
  }

  def prepareChecks(dir: String): Unit = {
    live = t.planFiles()
    retries0 = commitRetries()
  }

  def step(rec: Recorder, tr: Tracer): Unit = {
    val rows = batch(seed, batchNo, nextKey)
    batchNo += 1
    nextKey += NewRows
    batches += rows
    val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), Gen.ordersSchema)
    val before = lastSnap
    val snap = rec.op("commit", "commit")(tr.span("core.write")(t.write(df)))
    val commitMs = rec.lastMs
    snap.foreach(s => lastSnap = s.id)
    if (tr.on) {
      val now = t.planFiles()
      val add = Stats.added(live, now)
      writeAdded ++= add
      filesPerCommit += add.size
      val (mx, mn) = Stats.sortedRuns(now)
      runsMax += mx
      runsMean += mn
      live = now
    }

    // read-your-write, before the compaction job has run
    val r = Gen.rng(seed, 102, batchNo)
    (0 until LookupsPerCommit).foreach { _ =>
      val want = rows(r.nextInt(rows.size))
      val key = want.getLong(0)
      val got = rec.op("lookup", "lookup")(tr.span("core.lookup") {
        if (tr.on)
          planned += tr.span("core.plan")(t.planFiles(filter = Some(col("o_orderkey") === key))).size
        tr.span("core.read_build")(Lookup(t, Map("o_orderkey" -> key))).collect()
      })
      val id = rec.lastOp
      got.foreach(g => rec.verifyLater(id, "lookup")(
        if (g.length == 1 && g.head == want) None
        else Some(s"key $key: got ${g.mkString(",")} want $want")))
    }

    val compacted = rec.op("compact", "compact")(tr.span("core.compact")(t.maybeCompactTriggered()))
    val compactMs = rec.lastMs
    compacted.flatten.foreach { s =>
      lastSnap = s.id
      if (tr.on) compactions += 1
    }
    val after = t.planFiles()
    if (tr.on) compactAdded ++= Stats.added(live, after)
    live = after
    if (rec.measuring && snap.isDefined && compacted.isDefined)
      steps += Step(rows.size, commitMs + compactMs, compacted.get.isDefined, Stats.bytes(after), nextKey)

    snap.foreach { s =>
      val delta = rec.op("delta_read", "delta")(tr.span("core.incremental")(
        t.incremental(before, s.id).collect()))
      val id = rec.lastOp
      delta.foreach { d =>
        rec.verifyLater(id, "delta_read") {
          val keys = d.map(_.getLong(0)).toSet
          if (d.length == rows.size && keys == rows.map(_.getLong(0)).toSet) None
          else Some(s"delta ${before}..${s.id}: ${d.length} rows, want ${rows.size}")
        }
      }
    }
  }

  /** Latest row per key over the base dump and every committed batch. */
  private def oracleState(): DataFrame = {
    val base = Gen.orders(spark.range(BaseKeys), seed, 0).withColumn("__seq", lit(0))
    val ups = batches.zipWithIndex.map { case (rows, i) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), Gen.ordersSchema)
        .withColumn("__seq", lit(i + 1))
    }
    ups.foldLeft(base)(_ unionByName _)
      .withColumn("__rn", row_number().over(
        Window.partitionBy("o_orderkey").orderBy(col("__seq").desc)))
      .filter(col("__rn") === 1).drop("__seq", "__rn")
  }

  private def checksum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), bit_xor(xxhash64(df.columns.map(col).toIndexedSeq: _*))).head()
    (r.getLong(0), r.getLong(1))
  }

  private def commitRetries(): Long =
    t.systemTable("metrics").filter(col("metric") === "totalCommitRetries")
      .select("value").collect().headOption.map(_.getDouble(0).toLong).getOrElse(0L)

  /** Bytes per row of the final state written once as plain parquet, laid
    * out like the table (one file per bucket, key-sorted). */
  private def plainBytesPerRow(state: DataFrame): Double = {
    val out = s"$dir/plain_final"
    state.repartition(Buckets, col("o_orderkey")).sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(out)
    Harness.parquetBytes(spark, out).toDouble / state.count()
  }

  private var bytesPerRow = 0.0

  def finish(rec: Recorder): Unit = {
    val state = oracleState().persist()
    val want = checksum(state)
    rec.check("final_state") {
      val got = checksum(t.read())
      if (got == want) None else Some(s"table checksum $got, window oracle $want")
    }
    rec.runChecks()
    bytesPerRow = plainBytesPerRow(state)
    state.unpersist()
  }

  def warmSteps: Int = 2

  val primary = "commit"

  def endToEnd(rec: Recorder): Map[String, Double] = {
    val cycles = IngestUpsert.wholeCycles(steps.toSeq)
    Map(
      "throughput_per_s" -> cycles.map(_.rows).sum / (cycles.map(_.busyMs).sum / 1000.0),
      "op_p50_ms" -> rec.p50("commit"),
      "lookup_p50_ms" -> rec.p50("lookup"),
      "space_amp" -> Stats.mean(cycles.map(c => c.liveBytes / (c.liveKeys * bytesPerRow))))
  }

  def perLayer(rec: Recorder, tr: Tracer): Map[String, Double] =
    Map(
      "core.compact_calls" -> compactions.toDouble,
      "core.write_amp" -> Stats.writeAmp(writeAdded.toSeq, compactAdded.toSeq),
      "core.files_per_commit" -> Stats.mean(filesPerCommit.toSeq),
      "core.sorted_runs_max" -> runsMax.max,
      "core.sorted_runs_mean" -> Stats.mean(runsMean.toSeq),
      // an unpartitioned key lives in exactly one bucket
      "core.plan_files_per_lookup" -> Stats.mean(planned.toSeq),
      "core.commit_retries" -> (commitRetries() - retries0).toDouble,
      "e2e.delta_read_p50_ms" -> rec.p50("delta"))
}

object IngestUpsert {
  /** One timed step: rows committed, ms in the write and compaction calls,
    * whether a compaction ran, and the live data-file bytes and keys after. */
  final case class Step(rows: Int, busyMs: Double, compacted: Boolean,
                        liveBytes: Long, liveKeys: Long)

  /** The steps of whole compaction cycles: from the step after the first
    * compaction through the last one, so every window weighs write and
    * compaction cost alike (all steps when fewer than two compactions). */
  def wholeCycles(steps: Seq[Step]): Seq[Step] = {
    val at = steps.indices.filter(steps(_).compacted)
    if (at.size < 2) steps else steps.slice(at.head + 1, at.last + 1)
  }

  /** Batch `i` of the stream when keys `0 until nextKey` exist: distinct
    * updates of skewed existing keys, then `NewRows` new keys. */
  def batch(seed: Long, i: Int, nextKey: Long): Seq[Row] = {
    val r = Gen.rng(seed, 101, i)
    val keys = mutable.LinkedHashSet.empty[Long]
    while (keys.size < BatchRows - NewRows) keys += (nextKey * math.pow(r.nextDouble(), Skew)).toLong
    (keys.toSeq ++ (nextKey until nextKey + NewRows)).map(k => Gen.orderRow(k, r))
  }

  val BaseKeys = 150000L
  val Buckets = 4
  // every commit leaves two sorted runs per bucket, which the compaction
  // job then merges: each step reads and compacts the same shape
  val Trigger = 2
  val BatchRows = 2000
  // ~80% updates of existing keys, ~20% new keys
  val NewRows = 400
  // key = floor(nKeys * u^Skew): the lowest-numbered keys are updated most
  val Skew = 3.0
  val LookupsPerCommit = 3
}
