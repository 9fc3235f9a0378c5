package perfbench

import graft.core.ManifestEntry

/** The arithmetic behind every reported number, kept free of Spark so the
  * harness tests can pin it on hand-built inputs. */
object Stats {

  /** Nearest-rank percentile `p` (0 < p <= 100) of `xs`. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile $p out of (0, 100]")
    val s = xs.sorted.toIndexedSeq
    s(rank(s.size, p) - 1)
  }

  /** 1-based nearest rank of percentile `p` among `n` samples. */
  def rank(n: Int, p: Int): Int = math.max(1, ((n.toLong * p + 99) / 100).toInt)

  /** Samples strictly above the nearest-rank percentile `p`. */
  def beyond(n: Int, p: Int): Int = n - rank(n, p)

  /** Percentiles a timing may be reported at, highest first. */
  val Ladder: Seq[Int] = Seq(99, 95, 90, 75, 50)

  /** The highest percentile of the ladder with at least `minBeyond` samples
    * beyond it, or None when even the median lacks them. */
  def supportedPercentile(n: Int, minBeyond: Int = 10): Option[Int] =
    Ladder.find(p => beyond(n, p) >= minBeyond)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted.toIndexedSeq
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** Median of a mix of operation kinds with every kind weighted
    * equally, however many samples of each a window happened to hold: the
    * smallest value whose weighted cumulative share reaches one half. */
  def mixMedian(samples: Seq[(String, Double)]): Double = {
    require(samples.nonEmpty, "median of no samples")
    val counts = samples.groupBy(_._1).map { case (k, v) => k -> v.size }
    val kinds = counts.size.toDouble
    val sorted = samples.sortBy(_._2)
    val cum = sorted.scanLeft(0.0) { case (acc, (k, _)) => acc + 1.0 / (counts(k) * kinds) }.tail
    sorted(cum.indexWhere(_ >= 0.5 - 1e-12))._2
  }

  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Files present in `after` but not in `before` (by path): what one
    * commit added to the live set. */
  def added(before: Seq[ManifestEntry], after: Seq[ManifestEntry]): Seq[ManifestEntry] = {
    val seen = before.iterator.map(_.path).toSet
    after.filterNot(e => seen(e.path))
  }

  def bytes(es: Seq[ManifestEntry]): Long = es.iterator.map(_.fileSize).sum

  /** Bytes written by writes and compactions per byte written by writes. */
  def writeAmp(writeAdded: Seq[ManifestEntry], compactAdded: Seq[ManifestEntry]): Double = {
    val w = bytes(writeAdded)
    require(w > 0, "write amplification needs bytes written by writes")
    (w + bytes(compactAdded)).toDouble / w
  }

  /** Live data-file bytes per byte of the same state written once. */
  def spaceAmp(live: Seq[ManifestEntry], plainBytes: Long): Double = {
    require(plainBytes > 0, "space amplification needs a plain size")
    bytes(live).toDouble / plainBytes
  }

  /** (max, mean) live files per (partition, bucket): the sorted runs a
    * read of that bucket merges. */
  def sortedRuns(live: Seq[ManifestEntry]): (Int, Double) = {
    val perBucket = live.groupBy(e => (e.partition, e.bucket)).values.map(_.size).toSeq
    if (perBucket.isEmpty) (0, 0.0) else (perBucket.max, mean(perBucket.map(_.toDouble)))
  }

  /** A timed call: `parent` is 0 for a root span; spans of one operation
    * share `op`. Times are nanoseconds. */
  final case class Span(id: Long, name: String, start: Long, end: Long,
                        parent: Long, op: Long) {
    def dur: Long = end - start
  }

  /** Span duration minus the part of it its children cover (overlapping
    * children count once; child time outside the parent is ignored). */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.filter(_.parent != 0L).groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.dur - covered)
    }.toMap
  }
}
