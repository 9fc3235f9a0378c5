package perfbench

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of the run
  * seed, a stream number and a row index, so one seed gives byte-identical
  * tables, batches, corpora and query streams regardless of partitioning.
  * Shapes follow the TPC-H-like sf0.1 tables (orders 150k keys, customer
  * 15k, lineitem) and a word-bag documents corpus. */
object Gen {

  /** SplitMix64 finalizer over (seed, stream, index). */
  def mix(seed: Long, stream: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + i + 0x632BE59BD9B4E5L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A local random stream for (seed, stream, index). */
  def rng(seed: Long, stream: Long, i: Long = 0L): java.util.SplittableRandom =
    new java.util.SplittableRandom(mix(seed, stream, i))

  /** Uniform [0, 1) column from the `id` column. */
  def u(seed: Long, salt: Int): Column =
    shiftrightunsigned(xxhash64(lit(seed), lit(salt), col("id")), 11).cast(DoubleType) /
      lit(9007199254740992.0)

  def pick(seed: Long, salt: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), (floor(u(seed, salt) * values.size) + 1).cast(IntegerType))

  def uniformLong(seed: Long, salt: Int, n: Long): Column =
    floor(u(seed, salt) * n).cast(LongType)

  def money(seed: Long, salt: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + u(seed, salt) * (hi - lo), 2)

  def dayFrom(start: String, seed: Long, salt: Int, days: Int): Column =
    date_add(lit(start).cast(DateType), floor(u(seed, salt) * days).cast(IntegerType))
      .cast(TimestampType)

  val Statuses = Seq("O", "F", "P")
  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Customers = 15000L

  val ordersSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  /** Orders rows for the `id` values of `ids`; `version` 0 is the base
    * dump, each later version is one seeded revision of the same keys. */
  def orders(ids: Dataset[_], seed: Long, version: Int): DataFrame = {
    val s = seed + 7919L * version
    ids.select(
      col("id").as("o_orderkey"),
      uniformLong(s, 1, Customers).as("o_custkey"),
      pick(s, 2, Statuses).as("o_orderstatus"),
      money(s, 3, 900.0, 450000.0).as("o_totalprice"),
      dayFrom("1992-01-01", s, 4, 2400).as("o_orderdate"),
      pick(s, 5, Priorities).as("o_orderpriority"))
  }

  /** One orders row from a local stream (upsert batches). */
  def orderRow(key: Long, r: java.util.SplittableRandom): Row = Row(
    key,
    r.nextLong(Customers),
    Statuses(r.nextInt(Statuses.size)),
    math.round((900.0 + r.nextDouble() * 449100.0) * 100) / 100.0,
    java.sql.Timestamp.from(java.time.LocalDate.of(1992, 1, 1).plusDays(r.nextInt(2400).toLong)
      .atStartOfDay(java.time.ZoneOffset.UTC).toInstant),
    Priorities(r.nextInt(Priorities.size)))

  def customer(spark: SparkSession, seed: Long): DataFrame =
    spark.range(Customers).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast(StringType), 9, "0")).as("c_name"),
      floor(u(seed, 11) * 25).cast(IntegerType).as("c_nationkey"),
      money(seed, 12, -999.99, 9999.99).as("c_acctbal"),
      pick(seed, 13, Segments).as("c_mktsegment"))

  /** Lineitem rows over six ship months, with a `l_shipmonth` partition. */
  def lineitem(spark: SparkSession, seed: Long, n: Long, orders: Long): DataFrame =
    spark.range(n).select(
      uniformLong(seed, 21, orders).as("l_orderkey"),
      uniformLong(seed, 22, 20000L).as("l_partkey"),
      uniformLong(seed, 23, 1000L).as("l_suppkey"),
      (floor(u(seed, 24) * 7) + 1).cast(IntegerType).as("l_linenumber"),
      (floor(u(seed, 25) * 50) + 1).cast(DoubleType).as("l_quantity"),
      money(seed, 26, 900.0, 100000.0).as("l_extendedprice"),
      (floor(u(seed, 27) * 11) / 100).as("l_discount"),
      (floor(u(seed, 28) * 9) / 100).as("l_tax"),
      pick(seed, 29, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, 30, Seq("F", "O")).as("l_linestatus"),
      dayFrom("1995-01-01", seed, 31, 181).as("l_shipdate"))
      .withColumn("l_shipmonth", date_format(col("l_shipdate"), "yyyy-MM"))

  /** Seeded payload of blob `id`: incompressible bytes. */
  def payload(seed: Long, id: Long, size: Int): Array[Byte] = {
    val out = new Array[Byte](size)
    val r = rng(seed, 41, id)
    var i = 0
    while (i < size) {
      var v = r.nextLong()
      var k = 0
      while (k < 8 && i < size) { out(i) = v.toByte; v >>>= 8; i += 1; k += 1 }
    }
    out
  }

  /** CRC32 of a payload, as Spark's `crc32` computes it. */
  def crc(bytes: Array[Byte]): Long = {
    val c = new java.util.zip.CRC32
    c.update(bytes)
    c.getValue
  }

  /** A seeded vocabulary of `n` distinct lowercase words. */
  def vocabulary(seed: Long, n: Int): IndexedSeq[String] = {
    val r = rng(seed, 51)
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n)
      seen += Iterator.fill(3 + r.nextInt(6))(letters.charAt(r.nextInt(26))).mkString
    seen.toIndexedSeq
  }

  /** Index drawn from a Zipf(1) law over `n` ranks by inverse CDF on the
    * harmonic prefix sums `cdf`. */
  def zipf(cdf: Array[Double], r: java.util.SplittableRandom): Int = {
    val x = r.nextDouble() * cdf.last
    val i = java.util.Arrays.binarySearch(cdf, x)
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }

  def harmonicCdf(n: Int): Array[Double] =
    (1 to n).scanLeft(0.0)((acc, k) => acc + 1.0 / k).tail.toArray
}
