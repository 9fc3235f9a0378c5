package perfbench

import scala.collection.mutable

/** Operation bookkeeping for one run: latency samples per operation class
  * (kept only while `measuring`), attempted and failed operation counts,
  * and output checks deferred until the timed loop ends. */
final class Recorder {
  var measuring = false
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val failures = mutable.LinkedHashMap.empty[Long, (String, String)]
  private val deferred = mutable.ArrayBuffer.empty[() => Unit]
  private var ops = 0L
  private var lastLatency = 0.0

  def attempted: Long = ops
  def failed: Long = failures.size.toLong

  /** Failed operations per operation name. */
  def failedByName: Map[String, Int] =
    failures.values.groupBy(_._1).map { case (k, v) => k -> v.size }

  /** Times one operation under `cls`. A throwing operation is counted as
    * failed and yields None; the loop goes on. */
  def op[T](name: String, cls: String)(body: => T): Option[T] = {
    ops += 1
    val id = ops
    val t0 = System.nanoTime()
    try {
      val out = body
      lastLatency = (System.nanoTime() - t0) / 1e6
      if (measuring) add(cls, lastLatency)
      Some(out)
    } catch {
      case e: Exception =>
        fail(id, name, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** The id of the operation [[op]] most recently started. */
  def lastOp: Long = ops

  /** Latency in ms of the last operation that completed. */
  def lastMs: Double = lastLatency

  /** An output check that is not one operation (a final-state checksum, a
    * recall floor): counted as an attempted operation of its own. */
  def check(name: String)(problem: => Option[String]): Unit = {
    ops += 1
    val id = ops
    deferred += (() => evalCheck(id, name, problem))
  }

  /** A deferred check of operation `id`'s output. */
  def verifyLater(id: Long, name: String)(problem: => Option[String]): Unit =
    deferred += (() => evalCheck(id, name, problem))

  private def evalCheck(id: Long, name: String, problem: => Option[String]): Unit =
    try problem.foreach(fail(id, name, _))
    catch { case e: Exception => fail(id, name, s"check threw ${e.getMessage}") }

  def runChecks(): Unit = {
    deferred.foreach(_.apply())
    deferred.clear()
  }

  def fail(id: Long, name: String, detail: String): Unit =
    if (!failures.contains(id)) {
      failures(id) = (name, detail)
      System.err.println(s"[perfbench] FAIL op=$name id=$id: $detail")
    }

  private def add(cls: String, ms: Double): Unit =
    samples.getOrElseUpdate(cls, mutable.ArrayBuffer.empty) += ms

  def ms(cls: String): Seq[Double] = samples.get(cls).map(_.toSeq).getOrElse(Nil)

  def p50(cls: String): Double = {
    val xs = ms(cls)
    require(xs.nonEmpty, s"no $cls samples in the timed window")
    Stats.median(xs)
  }
}

/** One workload: a set-up that builds its tables through the engine, and
  * a closed loop of steps issued by one client. */
trait Workload {
  /** Builds every table and index the loop reads, under `dir`. Timed. */
  def setup(dir: String): Unit

  /** Plain-Spark oracles for the checks, from the last set-up's inputs. */
  def prepareChecks(dir: String): Unit

  /** Steps run untimed before the timed loop: enough for one full cycle
    * of the workload's operation mix. */
  def warmSteps: Int

  /** Called as a traced window starts. */
  def markTrace(): Unit = ()

  /** One step of the closed loop. */
  def step(r: Recorder, tr: Tracer): Unit

  /** End-of-run output checks, registered on `r` and run. */
  def finish(r: Recorder): Unit

  /** The operation class behind `op_p50_ms` and its tail. */
  def primary: String

  /** End-to-end values of the timed window, without `setup_s`. */
  def endToEnd(r: Recorder): Map[String, Double]

  /** Per-layer values of a traced window. */
  def perLayer(r: Recorder, tr: Tracer): Map[String, Double]
}

object Harness {
  /** Bytes of the parquet files under `dir`, at any depth. */
  def parquetBytes(spark: org.apache.spark.sql.SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val it = p.getFileSystem(spark.sessionState.newHadoopConf()).listFiles(p, true)
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) bytes += f.getLen
    }
    bytes
  }

  /** Runs `body`, noting its wall time on stderr. */
  def timed[T](label: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally System.err.println(f"[perfbench] $label ${(System.nanoTime() - t0) / 1e9}%.2fs")
  }
}
