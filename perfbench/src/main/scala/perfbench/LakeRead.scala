package perfbench

import scala.collection.mutable

import graft.core.{GraftTable, Lookup, ManifestEntry, TableConfig}
import graft.core.RowOps._
import graft.pipeline.{Blob, Dedup}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `lake_read`: a read-only closed loop over tables built through the
  * engine's write path: point lookups, catalog SQL over a merge-on-read
  * orders table, a month-partitioned z-ordered lineitem table and a
  * customer table, and sampled reads of a blob table whose payloads are
  * about twice the engine's blob pack-cache budget. Set-up also runs the
  * lake's batch near-duplicate job over a documents table: MinHash-LSH
  * pairs, then connected components. */
final class LakeRead(spark: SparkSession, seed: Long) extends Workload {
  import LakeRead._

  private var orders: GraftTable = _
  private var lineitem: GraftTable = _
  private var customer: GraftTable = _
  private var blobs: GraftTable = _
  private var docs: GraftTable = _
  private val corpus = Corpus(seed)
  private var pairsFound = 0L
  // the last set-up's near-duplicate pairs and components
  private var pairs: DataFrame = _
  private var comps: DataFrame = _
  // (SQL operation, ms) of the timed window
  private val sqlMs = mutable.ArrayBuffer.empty[(String, Double)]
  private var block = Seq.empty[String]
  private var blockNo = 0
  private var stepNo = 0
  private var expectedRows: Map[String, Seq[Row]] = Map.empty
  private val lookedUp = mutable.Set.empty[Long]
  // the oracle rows of every looked-up key, read once when checks run
  private lazy val finalState: Map[Long, Row] =
    spark.table("plain_orders").filter(col("o_orderkey").isin(lookedUp.toSeq: _*))
      .collect().map(r => r.getLong(0) -> r).toMap
  private var plainBytes = 0L
  // traced-window layer figures
  private var scanned = 0L
  private var returned = 0L
  private val planned = mutable.ArrayBuffer.empty[Double]
  private var blob0 = (0L, 0L)

  private def wh(dir: String) = s"$dir/wh"

  private def waveIds(w: Int): Dataset[_] =
    spark.range(BaseKeys).filter(Gen.u(seed + w, 61) < WaveShare)

  /** Builds the five tables concurrently, one thread each, as a lake's
    * loader would: the tables share nothing, and one at a time most of
    * the machine would sit idle between small jobs. */
  def setup(dir: String): Unit = {
    val db = s"${wh(dir)}/db.db"
    val s = seed
    val builds: Seq[() => Unit] = Seq(
      () => {
        val cust = Gen.customer(spark, s)
        customer = GraftTable.create(spark, s"$db/customer", cust.schema, TableConfig())
        customer.write(cust)
      },
      () => {
        orders = GraftTable.create(spark, s"$db/orders", Gen.ordersSchema,
          TableConfig(primaryKeys = Seq("o_orderkey"), numBuckets = 4))
        orders.write(Gen.orders(spark.range(BaseKeys), s, 0))
        (1 to Waves).foreach(w => orders.write(Gen.orders(waveIds(w), s, w)))
      },
      () => {
        val li = Gen.lineitem(spark, s, LineitemRows, BaseKeys)
        lineitem = GraftTable.create(spark, s"$db/lineitem", li.schema,
          TableConfig(partitionKeys = Seq("l_shipmonth")))
        lineitem.write(li)
        lineitem.compactSorted("zorder", Seq("l_partkey", "l_suppkey"))
      },
      () => {
        val gen = udf((id: Long) => Gen.payload(s, id, PayloadBytes))
        val src = spark.range(BlobRows).select(col("id"), gen(col("id")).as("payload"))
        blobs = GraftTable.create(spark, s"$db/blobs", src.schema,
          TableConfig(options = Map("blob-field" -> "payload")))
        blobs.write(src)
      },
      () => {
        val docSchema = StructType(Seq(StructField("doc_id", LongType, nullable = false),
          StructField("text", StringType)))
        val rows = corpus.texts.indices.map(i => Row(i.toLong, corpus.texts(i)))
        docs = GraftTable.create(spark, s"$db/docs", docSchema,
          TableConfig(primaryKeys = Seq("doc_id"), numBuckets = 4))
        docs.write(spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), docSchema))
        val (p, c) = dedup(Tracer.Off)
        pairs = p
        comps = c
      })
    val pool = java.util.concurrent.Executors.newFixedThreadPool(builds.size)
    try builds.map(b => pool.submit(new Runnable { def run(): Unit = b() })).foreach(_.get())
    finally pool.shutdown()
  }

  /** Latest-per-key orders state over the base dump and waves `1..upTo`. */
  private def ordersState(upTo: Int): DataFrame = {
    val parts = Gen.orders(spark.range(BaseKeys), seed, 0).withColumn("__v", lit(0)) +:
      (1 to upTo).map(w => Gen.orders(waveIds(w), seed, w).withColumn("__v", lit(w)))
    parts.reduce(_ unionByName _)
      .withColumn("__rn", row_number().over(Window.partitionBy("o_orderkey").orderBy(col("__v").desc)))
      .filter(col("__rn") === 1).drop("__v", "__rn")
  }

  /** Plain parquet copies of every final state, the oracle answer of
    * every SQL variant over them. */
  def prepareChecks(dir: String): Unit = {
    spark.conf.set("spark.sql.catalog.pb", "graft.dsv2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.pb.warehouse", wh(dir))
    val plain = s"$dir/plain"
    ordersState(Waves).repartition(4, col("o_orderkey")).sortWithinPartitions("o_orderkey")
      .write.parquet(s"$plain/orders")
    ordersState(VersionAsOf - 1).write.parquet(s"$plain/orders_v")
    Gen.lineitem(spark, seed, LineitemRows, BaseKeys).write.partitionBy("l_shipmonth")
      .parquet(s"$plain/lineitem")
    Gen.customer(spark, seed).write.parquet(s"$plain/customer")
    Seq("orders", "orders_v", "lineitem", "customer").foreach(n =>
      spark.read.parquet(s"$plain/$n").createOrReplaceTempView(s"plain_$n"))
    expectedRows = queries.map { case (name, sql) =>
      name -> spark.sql(plainSql(sql)).collect().toSeq
    }.toMap
    plainBytes = Seq("orders", "lineitem", "customer").map(n => Harness.parquetBytes(spark, s"$plain/$n")).sum
  }

  private lazy val queries = LakeRead.queries(seed)

  private def nextBlock(): Seq[String] = {
    blockNo += 1
    mixBlock(seed, blockNo - 1)
  }

  private def plainSql(sql: String): String =
    sql.replace(s"$Cat.orders VERSION AS OF $VersionAsOf", "plain_orders_v")
      .replace(s"$Cat.", "plain_")

  def step(rec: Recorder, tr: Tracer): Unit = {
    if (block.isEmpty) block = nextBlock()
    val kind = block.head
    block = block.tail
    val r = Gen.rng(seed, 203, stepNo)
    stepNo += 1
    kind match {
      case "lookup" => lookup(rec, tr, r.nextLong(BaseKeys))
      case "blob" => blobRead(rec, tr, r)
      case sqlOp =>
        val variants = queries.filter(_._1.takeWhile(_ != '.') == sqlOp)
        sql(rec, tr, variants(r.nextInt(variants.size)))
    }
  }

  private def lookup(rec: Recorder, tr: Tracer, key: Long): Unit = {
    val got = rec.op("lookup", "lookup")(tr.span("core.lookup") {
      if (tr.on)
        planned += tr.span("core.plan")(orders.planFiles(filter = Some(col("o_orderkey") === key))).size
      tr.span("core.read_build")(Lookup(orders, Map("o_orderkey" -> key))).collect()
    })
    val id = rec.lastOp
    lookedUp += key
    got.foreach(g => rec.verifyLater(id, "lookup") {
      val want = finalState(key)
      if (g.length == 1 && g.head == want) None
      else Some(s"key $key: got ${g.mkString(",")} want $want")
    })
  }

  private def sql(rec: Recorder, tr: Tracer, q: (String, String)): Unit = {
    val (name, text) = q
    val op = name.takeWhile(_ != '.')
    val got = rec.op(op, "scan")(tr.span("dsv2.sql") {
      val df = tr.span("dsv2.analyze")(spark.sql(text))
      if (tr.on) tr.span("dsv2.plan")(df.queryExecution.executedPlan)
      val rows = tr.span("dsv2.exec")(df.collect())
      if (tr.on) {
        scanned += ScanRows.of(df.queryExecution.executedPlan)
        returned += rows.length
      }
      rows.toSeq
    })
    val id = rec.lastOp
    if (rec.measuring && got.isDefined) sqlMs += op -> rec.lastMs
    got.foreach(g => rec.verifyLater(id, op)(LakeRead.compare(g, expectedRows(name))))
  }

  private def blobRead(rec: Recorder, tr: Tracer, r: java.util.SplittableRandom): Unit = {
    val ids = Seq.fill(BlobSample)(r.nextLong(BlobRows)).distinct
    val got = rec.op("blob_read", "blob")(tr.span("pipeline.blob_read")(
      blobs.read(filter = Some(col("id").isin(ids: _*)))
        .select(col("id"), crc32(col("payload"))).collect()))
    val id = rec.lastOp
    got.foreach(g => rec.verifyLater(id, "blob_read") {
      val have = g.map(x => x.getLong(0) -> x.getLong(1)).toMap
      val bad = ids.filterNot(i => have.get(i).contains(Gen.crc(Gen.payload(seed, i, PayloadBytes))))
      if (bad.isEmpty && have.size == ids.size) None
      else Some(s"payload crc mismatch for ids ${bad.take(5).mkString(",")}")
    })
  }

  /** One near-duplicate pass over the documents table: MinHash-LSH
    * pairs, then connected components, each materialized. */
  private def dedup(tr: Tracer): (DataFrame, DataFrame) = {
    val p = tr.span("pipeline.minhash_pairs") {
      val out = Dedup.minhashLshPairs(docs.read(), "doc_id", "text", threshold = Threshold)
      out.count()
      out
    }
    val c = tr.span("pipeline.components") {
      val out = Dedup.connectedComponents(p, "v1", "v2")
      out.count()
      out
    }
    (p, c)
  }


  def finish(rec: Recorder): Unit = {
    rec.check("dedup") {
      val found = pairs.select("v1", "v2").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val label = comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val split = found.filterNot { case (a, b) => label.get(a).exists(label.get(b).contains) }
      corpus.checkPairs(found, Threshold, PairRecallFloor).orElse(
        if (split.isEmpty) None else Some(s"${split.size} pairs span two components"))
    }
    rec.runChecks()
  }

  def warmSteps: Int = Mix.size

  val primary = "scan"

  private def live: Seq[ManifestEntry] =
    Seq(orders, lineitem, customer).flatMap(_.planFiles())

  def endToEnd(rec: Recorder): Map[String, Double] = {
    // operations per second of the fixed mix, from each kind's mean
    // latency: independent of which operations a window happened to end on
    val perBlockMs = Mix.toSeq.map { case (op, n) =>
      val xs = if (SqlOps.contains(op)) sqlMs.collect { case (`op`, ms) => ms }.toSeq else rec.ms(op)
      require(xs.nonEmpty, s"no $op in the timed window")
      n * Stats.mean(xs)
    }.sum
    Map(
      "throughput_per_s" -> Mix.values.sum / (perBlockMs / 1000.0),
      "op_p50_ms" -> Stats.mixMedian(sqlMs.toSeq),
      "lookup_p50_ms" -> rec.p50("lookup"),
      "space_amp" -> Stats.spaceAmp(live, plainBytes))
  }

  /** Marks the start of a traced window for the blob cache counters. */
  override def markTrace(): Unit = blob0 = Blob.streamCacheStats

  /** Runs one traced near-duplicate pass (set-up ran it untraced) and the
    * signature step alone, after the traced window. */
  def perLayer(rec: Recorder, tr: Tracer): Map[String, Double] = {
    val (p, _) = dedup(tr)
    tr.span("functions.signatures")(Dedup.minhashSignatures(docs.read(), "doc_id", "text", 3, 8).count())
    pairsFound = p.count()
    val (mx, mn) = Stats.sortedRuns(orders.planFiles())
    val (hits, opens) = Blob.streamCacheStats
    Map(
      "core.sorted_runs_max" -> mx.toDouble,
      "core.sorted_runs_mean" -> mn,
      "core.plan_files_per_lookup" -> Stats.mean(planned.toSeq),
      "dsv2.rows_scanned_per_row_out" -> scanned.toDouble / math.max(1L, returned),
      "pipeline.minhash_pairs_found" -> pairsFound.toDouble,
      "pipeline.blob_cache_hits" -> (hits - blob0._1).toDouble,
      "pipeline.blob_stream_opens" -> (opens - blob0._2).toDouble)
  }
}

object LakeRead {
  val Cat = "pb.db"

  /** Seeded variants of each SQL operation over the catalog tables. */
  def queries(seed: Long): Seq[(String, String)] = {
    val r = Gen.rng(seed, 201)
    def day(d: Int) = java.time.LocalDate.of(1992, 1, 1).plusDays(d.toLong)
    val ranges = Seq.fill(Variants) {
      val d = r.nextInt(2000)
      s"date_range.$d" -> (s"SELECT count(*) AS n, sum(o_totalprice) AS s FROM $Cat.orders " +
        s"WHERE o_orderdate >= TIMESTAMP '${day(d)} 00:00:00' AND o_orderdate < TIMESTAMP '${day(d + 120)} 00:00:00'")
    }
    val months = Seq.fill(Variants) {
      val m = java.time.YearMonth.of(1995, 1).plusMonths(r.nextInt(6).toLong)
      s"partition_agg.$m" -> (s"SELECT l_returnflag, count(*) AS n, sum(l_extendedprice) AS s " +
        s"FROM $Cat.lineitem WHERE l_shipmonth = '$m' GROUP BY l_returnflag")
    }
    val boxes = Seq.fill(Variants) {
      val pk = r.nextInt(19000)
      val sk = r.nextInt(950)
      s"zorder_range.$pk.$sk" -> (s"SELECT count(*) AS n, sum(l_quantity) AS q FROM $Cat.lineitem " +
        s"WHERE l_partkey BETWEEN $pk AND ${pk + 999} AND l_suppkey BETWEEN $sk AND ${sk + 49}")
    }
    Seq(
      "mor_status" -> (s"SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS s " +
        s"FROM $Cat.orders GROUP BY o_orderstatus"),
      "topn" -> (s"SELECT o_orderkey, o_totalprice FROM $Cat.orders " +
        "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10"),
      "version_agg" -> (s"SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS s " +
        s"FROM $Cat.orders VERSION AS OF $VersionAsOf GROUP BY o_orderstatus"),
      "join_agg" -> (s"SELECT c_mktsegment, count(*) AS n, sum(o_totalprice) AS s " +
        s"FROM $Cat.orders o JOIN $Cat.customer c ON o.o_custkey = c.c_custkey GROUP BY c_mktsegment")
    ) ++ ranges ++ months ++ boxes
  }

  /** One block of the fixed seeded mix, in a seeded order. Block 0, the
    * warm-up, holds each kind of operation once. */
  def mixBlock(seed: Long, n: Int): Seq[String] = {
    val r = Gen.rng(seed, 202, n)
    if (n == 0) return Mix.keys.toSeq.sorted
    val a = Mix.toSeq.sorted.flatMap { case (op, k) => Seq.fill(k)(op) }.toArray
    for (i <- a.indices.reverse) { val j = r.nextInt(i + 1); val x = a(i); a(i) = a(j); a(j) = x }
    a.toSeq
  }

  val BaseKeys = 150000L
  // the base dump and two upsert waves: three sorted runs per bucket
  val Waves = 2
  val WaveShare = 0.1
  val VersionAsOf = 2
  val LineitemRows = 60000L
  // 256 MiB of payload: twice the engine's 128 MiB blob pack-cache budget
  val PayloadBytes = 16384
  val BlobRows = 16384L
  val BlobSample = 16
  val Variants = 2
  val SqlOps = Seq("mor_status", "date_range", "partition_agg", "zorder_range",
    "topn", "version_agg", "join_agg")
  /** Operations per block of the seeded mix. */
  val Mix: Map[String, Int] =
    Map("lookup" -> 10, "blob" -> 2) ++ SqlOps.map(_ -> 1)
  val Threshold = 0.8
  // LSH with 4 bands of 2 rows finds a pair at jaccard 0.8 with p = 0.98
  val PairRecallFloor = 0.95

  /** Same rows in any order; doubles equal to a relative 1e-9 (sums over
    * differently ordered inputs round differently). */
  def compare(got: Seq[Row], want: Seq[Row]): Option[String] = {
    def key(r: Row) = r.toSeq.map {
      case d: Double => f"$d%.3e"
      case v => String.valueOf(v)
    }.mkString("|")
    val g = got.sortBy(key)
    val w = want.sortBy(key)
    def same(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Double, y: Double) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
      case _ => a == b
    }
    val ok = g.size == w.size && g.zip(w).forall { case (a, b) =>
      a.length == b.length && (0 until a.length).forall(i => same(a.get(i), b.get(i)))
    }
    if (ok) None else Some(s"got ${g.mkString(";")} want ${w.mkString(";")}")
  }
}

/** Rows the leaf scans of an executed plan produced. */
object ScanRows extends AdaptiveSparkPlanHelper {
  def of(plan: SparkPlan): Long =
    collect(plan) {
      case p if p.children.isEmpty && p.metrics.contains("numOutputRows") =>
        p.metrics("numOutputRows").value
    }.sum
}
