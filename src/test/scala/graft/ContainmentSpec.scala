package graft

import graft.operators.Dedup

/** Exact pairwise measures against the per-pair set definition:
  * containment's count-based inverted index (salted hot path included)
  * and jaccard's prefix-filtered join; the embedded-quote case must
  * score containment 1.0 where jaccard collapses. */
class ContainmentSpec extends SparkSuite {
  import spark.implicits._

  /** All-pairs (id_a < id_b, measure ≥ t) by the per-pair set
    * definition, 4dp-rounded like the operators' output. */
  private def brute(rows: Seq[(Long, String)], k: Int, t: Double,
      measure: (Set[String], Set[String]) => Double): Set[(Long, Long, Double)] = {
    def sh(s: String): Set[String] = {
      val toks = s.trim.toLowerCase.split("\\s+").toSeq
      if (toks.size < k) Set(toks.mkString(" "))
      else toks.sliding(k).map(_.mkString(" ")).toSet
    }
    val sets = rows.map { case (id, s0) => id -> sh(s0) }
    (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia < ib
      c = measure(sa, sb) if c >= t
    } yield (ia, ib,
      BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toSet
  }

  private val containment = (a: Set[String], b: Set[String]) =>
    (a & b).size.toDouble / math.min(a.size, b.size)
  private val jaccard = (a: Set[String], b: Set[String]) =>
    (a & b).size.toDouble / (a | b).size

  private def run(rows: Seq[(Long, String)], t: Double,
      hotDf: Int = 4096): Set[(Long, Long, Double)] =
    Dedup.containmentPairs(rows.toDF("doc_id", "text"), "doc_id", "text",
        threshold = t, hotDf = hotDf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("embedded quote scores 1.0 while jaccard misses it") {
    val page = (1 to 60).map(i => s"w$i").mkString(" ")
    val quote = (20 to 26).map(i => s"w$i").mkString(" ")
    val rows = Seq(1L -> page, 2L -> quote)
    val got = run(rows, t = 0.9)
    assert(got === Set((1L, 2L, 1.0)))
    assert(Dedup.ngramJaccardPairs(rows.toDF("doc_id", "text"),
      "doc_id", "text", threshold = 0.5).count() === 0L)
  }

  test("randomized: inverted index equals brute force, salted path exact") {
    val rng = new scala.util.Random(23)
    val words = Vector("a", "b", "c", "d", "e", "f")
    (1 to 3).foreach { trial =>
      val rows = (0 until 50).map { i =>
        (i.toLong, (0 until 4 + rng.nextInt(10))
          .map(_ => words(rng.nextInt(words.size))).mkString(" "))
      }
      val want = brute(rows, k = 3, t = 0.5, containment)
      assert(run(rows, t = 0.5) === want, s"trial $trial diverged")
      assert(run(rows, t = 0.5, hotDf = 2) === want,
        s"trial $trial salted path diverged")
      // the prefix-filtered jaccard join is lossless: every threshold
      // returns exactly the all-pairs answer
      Seq(0.3, 0.5, 0.8).foreach { t =>
        val jac = Dedup.ngramJaccardPairs(rows.toDF("doc_id", "text"),
            "doc_id", "text", threshold = t)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(jac === brute(rows, k = 3, t = t, jaccard),
          s"trial $trial jaccard t=$t diverged")
      }
    }
  }
}
