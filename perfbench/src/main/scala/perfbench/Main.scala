package perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's one entry point:
  * `--workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *  --cpus <n> [--trace-out <file>]`.
  *
  * Sets the workload up [[SetupReps]] times (reporting the median), warms
  * it, runs its closed loop for `--seconds`, checks every output, and
  * prints one JSON line last: the end-to-end metrics untraced, or with
  * `--trace 1` the per-layer metrics of a traced window that follows an
  * untraced one (their gap is the tracing overhead). */
object Main {
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: String, cpus: Int, traceOut: Option[String])

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match {
        case "0" => false
        case "1" => true
        case v => throw new IllegalArgumentException(s"--trace $v: want 0 or 1")
      },
      need("work"), m.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors),
      m.get("trace-out"))
    require(Metrics.Workloads.contains(a.workload),
      s"unknown workload ${a.workload} (${Metrics.Workloads.mkString(" | ")})")
    require(a.seconds > 0 && a.cpus > 0, "--seconds and --cpus must be positive")
    a
  }

  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.dsv2.GraftSparkExtensions")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val spark = session(a.cpus, a.work)
    val line = try run(spark, a) finally spark.stop()
    println(line)
  }

  private def loop(wl: Workload, r: Recorder, tr: Tracer, seconds: Int): Unit = {
    r.measuring = true
    val end = System.nanoTime() + seconds * 1000000000L
    while (System.nanoTime() < end) wl.step(r, tr)
    r.measuring = false
  }

  private def delete(dir: String, spark: SparkSession): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }

  def run(spark: SparkSession, a: Args): String = {
    val wl: Workload = a.workload match {
      case "ingest_upsert" => new IngestUpsert(spark, a.seed)
      case "lake_read" => new LakeRead(spark, a.seed)
    }
    val dirs = (1 to SetupReps).map(i => s"${a.work}/setup$i")
    val setupS = dirs.zipWithIndex.map { case (d, i) =>
      if (i > 0) delete(dirs(i - 1), spark)
      val t0 = System.nanoTime()
      wl.setup(d)
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] setup ${i + 1}/$SetupReps ${a.workload} $s%.2fs")
      s
    }
    Harness.timed("prepare_checks")(wl.prepareChecks(dirs.last))

    val r = new Recorder
    Harness.timed("warm_up")((0 until wl.warmSteps).foreach(_ => wl.step(r, Tracer.Off)))
    loop(wl, r, Tracer.Off, a.seconds)

    val (metrics, recorders) =
      if (!a.trace) {
        Harness.timed("finish")(wl.finish(r))
        val e2e = wl.endToEnd(r) + ("setup_s" -> Stats.median(setupS))
        (Metrics.EndToEnd.map(m => m.name -> e2e(m.name)), Seq(r))
      } else {
        val tr = new Tracer(spark, on = true)
        val rt = new Recorder
        wl.markTrace()
        val jvm = new JvmMark
        loop(wl, rt, tr, a.seconds)
        val gcMs = jvm.gcMsSince
        val heapMb = jvm.heapPeakMb
        r.runChecks()
        wl.finish(rt)
        val own = wl.perLayer(rt, tr)
        a.traceOut.foreach(f => tr.write(java.nio.file.Paths.get(f)))
        val layer = Metrics.fromSpans(tr, a.cpus) ++ own ++
          Metrics.tails("op", r.ms(wl.primary)) ++ Metrics.tails("lookup", r.ms("lookup")) ++ Map(
            "jvm.gc_ms" -> gcMs,
            "jvm.heap_peak_mb" -> heapMb,
            "trace.overhead_pct" -> (rt.p50("lookup") / r.p50("lookup") - 1) * 100)
        (Metrics.PerLayer.map(m => m.name -> layer.getOrElse(m.name, 0.0)), Seq(r, rt))
      }
    Output.render(metrics, recorders)
  }
}
