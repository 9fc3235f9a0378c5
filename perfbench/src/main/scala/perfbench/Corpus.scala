package perfbench

import scala.collection.mutable

/** The seeded documents corpus: unique word-bag documents (Zipf word
  * frequencies) plus planted clusters of near-duplicates (copies with 0-2
  * words substituted), with the exact-jaccard oracle for MinHash pairs. */
final case class Corpus(seed: Long) {
  import Corpus._

  val vocab: IndexedSeq[String] = Gen.vocabulary(seed, VocabSize)
  private val cdf = Gen.harmonicCdf(VocabSize)

  /** Documents in seeded order, and the planted clusters' member ids. */
  val (texts: IndexedSeq[String], clusters: Seq[Seq[Int]]) = {
    val r = Gen.rng(seed, 301)
    def words(n: Int) = Array.fill(n)(vocab(Gen.zipf(cdf, r)))
    val groups = mutable.ArrayBuffer.empty[Seq[String]]
    (0 until UniqueDocs).foreach(_ => groups += Seq(words(40 + r.nextInt(81)).mkString(" ")))
    (0 until Clusters).foreach { _ =>
      val src = words(40 + r.nextInt(81))
      val variants = (1 until 2 + r.nextInt(4)).map { _ =>
        val w = src.clone()
        (0 until r.nextInt(3)).foreach(_ => w(r.nextInt(w.length)) = vocab(Gen.zipf(cdf, r)))
        w.mkString(" ")
      }
      groups += (src.mkString(" ") +: variants)
    }
    val flat = groups.zipWithIndex.flatMap { case (g, gi) => g.map(_ -> gi) }.toArray
    for (i <- flat.indices.reverse) { val j = r.nextInt(i + 1); val x = flat(i); flat(i) = flat(j); flat(j) = x }
    val members = flat.indices.groupBy(i => flat(i)._2).values
      .filter(_.size > 1).map(_.toSeq.sorted).toSeq
    (flat.map(_._1).toIndexedSeq, members)
  }

  /** Word 3-shingles, tokenized as the engine's MinHash does. */
  private def shingles(t: String): Set[String] =
    t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).sliding(3).filter(_.length == 3)
      .map(_.mkString(" ")).toSet

  private lazy val shingleSets = texts.map(shingles)

  def jaccard(a: Int, b: Int): Double = {
    val x = shingleSets(a)
    val y = shingleSets(b)
    x.intersect(y).size.toDouble / x.union(y).size
  }

  /** Planted pairs whose exact jaccard meets `threshold`. */
  def planted(threshold: Double): Set[(Long, Long)] = clusters.flatMap { m =>
    for (a <- m; b <- m if a < b && jaccard(a, b) >= threshold) yield (a.toLong, b.toLong)
  }.toSet

  /** Every reported pair meets the threshold, and at least `recallFloor`
    * of the planted pairs that meet it are reported. */
  def checkPairs(found: Seq[(Long, Long)], threshold: Double,
                 recallFloor: Double): Option[String] = {
    val low = found.filter { case (a, b) => jaccard(a.toInt, b.toInt) < threshold - 1e-9 }
    val want = planted(threshold)
    val got = found.toSet
    val recall = if (want.isEmpty) 1.0 else want.count(got).toDouble / want.size
    if (low.nonEmpty) Some(s"${low.length} pairs below jaccard $threshold: ${low.take(3)}")
    else if (recall < recallFloor) Some(f"planted-pair recall $recall%.3f below $recallFloor")
    else None
  }
}

object Corpus {
  val VocabSize = 2000
  val UniqueDocs = 2000
  val Clusters = 150
}
