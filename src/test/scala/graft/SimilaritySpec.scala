package graft

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.Similarity

class SimilaritySpec extends SparkSuite {
  import spark.implicits._

  private val sfDir = sf0001

  private def vecs(rows: (Long, Seq[Float])*) =
    rows.toDF("vec_id", "embedding")

  test("cosine: identical=1, orthogonal=0, opposite=-1") {
    val d = Seq((
      Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), Seq(0.0f, 1.0f), Seq(-1.0f, 0.0f)
    )).toDF("a", "b", "c", "d")
    val r = d.select(
      Similarity.cosine(col("a"), col("b")),
      Similarity.cosine(col("a"), col("c")),
      Similarity.cosine(col("a"), col("d"))).collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
    assert(math.abs(r.getDouble(2) + 1.0) < 1e-12)
  }

  test("cosine of zero vector is null, not a crash") {
    val d = Seq((Seq(0.0f, 0.0f), Seq(1.0f, 0.0f))).toDF("a", "b")
    val r = d.select(Similarity.cosine(col("a"), col("b"))).collect()(0)
    assert(r.isNullAt(0))
  }

  test("bruteForceTopK: k rows per query, self excluded, rank ordered") {
    val d = vecs(
      0L -> Seq(1f, 0f), 1L -> Seq(0.9f, 0.1f), 2L -> Seq(0f, 1f),
      3L -> Seq(0.8f, 0.2f), 4L -> Seq(-1f, 0f))
    val out = Similarity.bruteForceTopK(d, d.filter($"vec_id" === 0), "vec_id", "embedding", 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(out.length === 2)
    assert(out(0) === ((0L, 1L, 1L))) // closest is 1
    assert(out(1) === ((0L, 3L, 2L))) // then 3
  }

  test("lsh bucket is deterministic and identical vectors collide") {
    val d = vecs(0L -> Seq(1f, 2f, 3f, 4f), 1L -> Seq(1f, 2f, 3f, 4f))
    val buckets = d.select(Similarity.lshBucket(col("embedding"), 8, 4).as("b"))
      .collect().map(_.getLong(0))
    assert(buckets(0) === buckets(1))
    val again = d.select(Similarity.lshBucket(col("embedding"), 8, 4).as("b"))
      .collect().map(_.getLong(0))
    assert(buckets.toSeq === again.toSeq)
  }

  test("hyperplanes are seed-deterministic") {
    val a = Similarity.hyperplanes(4, 8, 42L)
    val b = Similarity.hyperplanes(4, 8, 42L)
    val c = Similarity.hyperplanes(4, 8, 43L)
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
    assert(a.map(_.toSeq).toSeq !== c.map(_.toSeq).toSeq)
  }

  test("lshTopK finds identical vector in same bucket with sim 1.0") {
    val d = vecs(
      0L -> Seq(1f, 2f, 3f, 4f), 1L -> Seq(1f, 2f, 3f, 4f),
      2L -> Seq(-1f, -2f, -3f, -4f))
    val out = Similarity.lshTopK(d, d.filter($"vec_id" === 0),
        "vec_id", "embedding", k = 3, numPlanes = 4, dim = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.contains((0L, 1L, 1.0)))
    // opposite vector is in the complementary bucket — LSH prunes it
    assert(!out.exists(_._2 == 2L))
  }

  test("ivfTopK: exact match found via probed lists; recall vs brute force") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = e.filter($"vec_id" < 10)
    val brute = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(e, q, "vec_id", "embedding", k = 5,
        nCentroids = 8, nProbe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall > 0.3, s"IVF recall unexpectedly low: $recall")
    // every query produced k candidates (probed lists are non-empty)
    val counts = Similarity.ivfTopK(e, q, "vec_id", "embedding", 5, 8, 4)
      .groupBy("query_id").count().as[(Long, Long)].collect().toMap
    assert(counts.values.forall(_ === 5L))
  }

  test("pqTopK: identical vector is the ADC argmin; recall vs brute force") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = e.filter($"vec_id" < 10)
    val pq = Similarity.pqTopK(e, q, "vec_id", "embedding", k = 5)
    val rows = pq.collect()
    // k rows per query, self excluded, adist ascending with rank
    val byQuery = rows.groupBy(_.getLong(0))
    assert(byQuery.size === 10 && byQuery.values.forall(_.length === 5))
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    byQuery.values.foreach { rs =>
      val sorted = rs.sortBy(_.getLong(3))
      assert(sorted.map(_.getDouble(2)).toSeq ===
        sorted.map(_.getDouble(2)).sorted.toSeq)
    }
    // a query duplicated into the corpus under a fresh id quantizes to
    // the same codes; those codes hit the per-subspace minimum of the
    // query's LUT in every subspace, so the dup is the ADC argmin (its
    // adist is the query's own quantization error, not 0 — ADC is
    // asymmetric: the query side stays unquantized)
    val base = e.select("vec_id", "embedding")
    val dup = base.filter($"vec_id" === 3)
      .select((lit(9000L)).as("vec_id"), $"embedding")
    val out = Similarity.pqTopK(base.unionByName(dup),
        e.filter($"vec_id" === 3), "vec_id", "embedding", k = 1)
      .collect()(0)
    assert(out.getLong(1) === 9000L)
    // uniformly random unit vectors are PQ's worst case (all cosines
    // near 0, so quantization distortion swamps the neighbor margins);
    // the gate is "clearly above chance", not an absolute recall —
    // chance is k/(N-1) ≈ 0.01 here
    val brute = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = pq.select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recall = (brute intersect approx).size.toDouble / brute.size
    assert(recall > 0.03, s"PQ recall not above chance: $recall")
  }

  test("pqRerankTopK: recall dominates raw PQ and rank-1 is exact-best of shortlist") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = e.filter($"vec_id" < 10)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val brute = pairs(Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 3))
    val raw = pairs(Similarity.pqTopK(e, q, "vec_id", "embedding", 3))
    val rr = Similarity.pqRerankTopK(e, q, "vec_id", "embedding",
      k = 3, shortlist = 20)
    // the re-rank picks the exact-cosine-best 3 of a SUPERSET of the
    // raw top-3, so its recall can never be lower
    assert((brute intersect pairs(rr)).size >= (brute intersect raw).size)
    // sims are exact cosine: rank-1 sim >= every other returned sim
    rr.collect().groupBy(_.getLong(0)).values.foreach { rs =>
      val top = rs.minBy(_.getLong(3)).getDouble(2)
      assert(rs.forall(_.getDouble(2) <= top))
    }
  }

  test("lsh recall vs brute force on real embeddings (sf0.001)") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = e.filter($"vec_id" < 10)
    val brute = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(e, q, "vec_id", "embedding", 5,
        numPlanes = 4, dim = 64)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall > 0.2, s"LSH recall unexpectedly low: $recall")
  }

  test("kmeansStep: corpus == centroid sample → every cluster n=1, shift 0") {
    // with exactly nCentroids vectors, the md5 sample IS the corpus:
    // each vector assigns to itself (cosine 1.0 beats any other), each
    // mean equals its centroid, so movement must be exactly zero
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter($"vec_id" < 16)
    val out = Similarity.kmeansStep(e, "vec_id", "embedding",
        nCentroids = 16, dim = 64)
      .orderBy("cid").collect()
      .map(r => (r.getLong(1), r.getDouble(2)))
    assert(out.length === 16)
    assert(out.forall { case (n, shift) => n === 1L && shift === 0.0 })
  }

  test("int8 quantization error is bounded by a quarter squared step (v06)") {
    // symmetric rounding puts every element within half a grid step of
    // its original, so per-vector MSE can never exceed (step/2)^2
    val out = graft.queries.PipelineQueries
      .v06QuantError(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    assert(out.nonEmpty)
    out.foreach { case (maxAbs, mse) =>
      val step = maxAbs / 127.0
      assert(mse >= 0.0 && mse <= step * step / 4 + 1e-6,
        s"max_abs=$maxAbs mse=$mse exceeds the half-step bound")
    }
  }

  test("kmeansStep populations cover the corpus exactly once") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val total = e.count()
    val out = Similarity.kmeansStep(e, "vec_id", "embedding", 16, 64)
      .agg(sum("n")).collect()(0).getLong(0)
    assert(out === total) // every vector assigned to exactly one centroid
  }

  test("semDedup drops clustered near-duplicates, keeps the lowest id") {
    // 1 and 2 identical (same cluster by construction), 3 orthogonal-ish
    val d = vecs(
      1L -> Seq(1.0f, 0.0f, 0.0f, 0.0f),
      2L -> Seq(1.0f, 0.0f, 0.0f, 0.0f),
      3L -> Seq(0.0f, 1.0f, 0.0f, 0.0f))
    val out = Similarity.semDedup(d, "vec_id", "embedding",
        threshold = 0.9, nCentroids = 2)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getInt(2)))
    assert(out.toSeq === Seq((1L, 1), (2L, 0), (3L, 1)))
    // every corpus row appears exactly once with a verdict
    assert(out.length === 3)
  }

  test("cosineNearDupPairs hot-bucket cap: identical-embedding family stays linear") {
    val clone = Seq(1.0f, 0.5f, 0.25f, 0.125f)
    val d = vecs(((1L to 300L).map(i => i -> clone) :+
      (301L -> Seq(-1.0f, 0.9f, -0.3f, 0.2f))): _*)
    val pairs = Similarity.cosineNearDupPairs(d, "vec_id", "embedding",
        threshold = 0.9, numPlanes = 4, dim = 4, maxBucket = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // rep star: 299 pairs, all anchored at id 1 with sim 1.0
    assert(pairs.length === 299)
    assert(pairs.forall { case (a, _, s) => a == 1L && s == 1.0 })
  }

  test("semDedup hot-cluster cap keeps exactly the family minimum") {
    val clone = Seq(1.0f, 0.5f, 0.25f, 0.125f)
    val d = vecs(((1L to 300L).map(i => i -> clone) :+
      (301L -> Seq(0.0f, 0.0f, 1.0f, 0.0f))): _*)
    val out = Similarity.semDedup(d, "vec_id", "embedding",
        threshold = 0.9, nCentroids = 4, maxCluster = 8)
      .collect().map(r => (r.getLong(0), r.getInt(2))).toMap
    assert(out.size === 301)
    assert(out(1L) === 1)                       // family min survives
    assert((2L to 300L).forall(out(_) === 0))   // clones dropped via star
    assert(out(301L) === 1)                     // the distinct vector kept
  }

  test("semDedup verdicts cover the corpus exactly once (sf0.001)") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val out = Similarity.semDedup(e, "vec_id", "embedding",
      threshold = 0.4, nCentroids = 16)
    assert(out.count() === e.count())
    assert(out.select("id").distinct().count() === e.count())
  }

  test("mmrRerank diversifies: near-duplicate demoted below a distinct hit") {
    // q's plain top-2 is the near-dup pair {11, 10} (cos(10,11) ≈ 0.997,
    // both ≈ 0.90 to q — 11 wins rank 1 by a norm hair); MMR at λ=0.7
    // must put the diverse 12 second, not the near-dup:
    //   10: 0.7·0.900 − 0.3·0.997 ≈ 0.331  <  12: 0.7·0.850 − 0.3·0.538 ≈ 0.433
    val corpus = vecs(
      10L -> Seq(0.9f, 0.436f, 0.0f),
      11L -> Seq(0.9f, 0.43f, 0.07f),
      12L -> Seq(0.85f, -0.527f, 0.0f))
    val q = vecs(1L -> Seq(1.0f, 0.0f, 0.0f))
    val out = Similarity.mmrRerank(corpus, q, "vec_id", "embedding",
        k = 3, c = 3, lambda = 0.7)
      .orderBy("mmr_rank").collect()
      .map(r => (r.getLong(1), r.getLong(2)))
    assert(out.map(_._1).toSeq === Seq(11L, 12L, 10L))
    assert(out.map(_._2).toSeq === Seq(1L, 2L, 3L))
  }

  test("mmrRerank rank-1 equals the plain cosine argmax per query") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val qs = e.filter(col("vec_id") < 3)
    val mmr1 = Similarity.mmrRerank(e, qs, "vec_id", "embedding",
        k = 3, c = 10, lambda = 0.7)
      .filter(col("mmr_rank") === 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val top1 = Similarity.bruteForceTopK(e, qs, "vec_id", "embedding", k = 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mmr1 === top1)
  }

  test("semanticContamination flags an identical train/eval pair at 1.0") {
    val ev = vecs(1L -> Seq(0.6f, 0.8f, 0.0f))
    val tr = vecs(
      10L -> Seq(0.6f, 0.8f, 0.0f),   // verbatim leak
      11L -> Seq(-0.8f, 0.6f, 0.0f))  // orthogonal
    val out = Similarity.semanticContamination(tr, ev,
        "vec_id", "embedding", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq === Seq((10L, 1L, 1.0)))
  }

  // ---- kmeansFit ----

  private def fitRows(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) null else r.getDouble(2))).toSeq

  test("kmeansFit separates two obvious direction clusters") {
    val d = vecs(
      1L -> Seq(1.0f, 0.02f, 0.0f, 0.0f), 2L -> Seq(1.0f, -0.02f, 0.0f, 0.0f),
      3L -> Seq(0.99f, 0.01f, 0.01f, 0.0f), 4L -> Seq(1.0f, 0.0f, 0.02f, 0.0f),
      5L -> Seq(0.0f, 0.01f, 0.0f, 1.0f), 6L -> Seq(0.0f, -0.01f, 0.0f, 0.99f),
      7L -> Seq(0.01f, 0.0f, 0.01f, 1.0f), 8L -> Seq(0.0f, 0.02f, 0.0f, 1.0f))
    val out = fitRows(Similarity.kmeansFit(d, "vec_id", "embedding",
      k = 2, iters = 3, dim = 4))
    assert(out.map(_._2).sum === 8L) // every vector in exactly one cluster
    assert(out.length === 2)
    // tight direction clusters → members nearly colinear with their mean
    out.foreach { case (cid, n, ms) =>
      assert(n > 0 && ms.asInstanceOf[Double] > 0.99, s"($cid, $n, $ms)")
    }
  }

  test("kmeansFit (v19) compiles every generated class: no interpreted fallback") {
    // CODEGEN_ONLY makes a projection or encoder that fails to compile
    // throw instead of quietly switching to interpreted evaluation;
    // codegen.fallback=false does the same for whole-stage codegen
    val strict = Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.fallback" -> "false")
    strict.foreach { case (k, v) => spark.conf.set(k, v) }
    try assert(SparkEntry.queries("v19_kmeans_fit")(spark, sfDir).collect().nonEmpty)
    finally strict.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("kmeansFit == exact driver-side Lloyd reference, iteration for iteration") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val data: Seq[(Long, Seq[Float])] = (0L until 10L).map { i =>
      // deterministic, irregular, strictly positive-norm dim-4 vectors
      i -> Seq((0.1f * i + 0.3f), (1.7f - 0.2f * i),
        (i % 3) * 0.5f - 0.4f, 0.25f * ((i * 7) % 5))
    }
    val k = 3; val iters = 2; val dim = 4

    def r(x: Double, s: Int) =
      BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    def dotd(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => x * y }.foldLeft(0.0)(_ + _)
    def decMean(ts: Seq[Double], n: Long): Double = {
      val sum = ts.map(t => new JBD(java.lang.Double.toString(r(t, 6)))
        .setScale(6, RoundingMode.HALF_UP)).reduce(_.add(_))
      r(sum.doubleValue() / n, 6)
    }
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

    val vs: Map[Long, Seq[Double]] =
      data.map { case (id, v) => id -> v.map(_.toDouble) }.toMap
    val norms: Map[Long, Double] = vs.map { case (id, v) => id -> math.sqrt(dotd(v, v)) }
    // init: md5-smallest ids (tie by id), exactly md5Sample's contract
    var cents: Seq[(Long, Seq[Double])] = data.map(_._1)
      .sortBy(id => (md5hex(id.toString), id)).take(k).sorted
      .map(id => id -> vs(id))
    def assignAll(cs: Seq[(Long, Seq[Double])]): Map[Long, (Long, Double)] =
      vs.map { case (id, v) =>
        val cn = cs.map { case (cid, cv) => cid -> math.sqrt(dotd(cv, cv)) }.toMap
        var best = (-2.0, -1L)
        cs.sortBy(_._1).foreach { case (cid, cv) =>
          val den = norms(id) * cn(cid)
          val s = if (den == 0.0) -2.0 else dotd(v, cv) / den
          if (s > best._1) best = (s, cid)
        }
        id -> (best._2, r(best._1, 6))
      }
    for (_ <- 1 to iters) {
      val asg = assignAll(cents)
      cents = cents.map { case (cid, cv) =>
        val members = asg.collect { case (id, (c, _)) if c == cid => id }.toSeq
        if (members.isEmpty) cid -> cv
        else cid -> (0 until dim).map(j =>
          decMean(members.map(id => vs(id)(j)), members.size))
      }
    }
    val fin = assignAll(cents)
    val expected = cents.map(_._1).sorted.map { cid =>
      val sims = fin.values.collect { case (c, s6) if c == cid => s6 }.toSeq
      if (sims.isEmpty) (cid, 0L, null)
      else {
        val sum = sims.map(s => new JBD(java.lang.Double.toString(s))
          .setScale(6, RoundingMode.HALF_UP)).reduce(_.add(_))
        (cid, sims.size.toLong, r(sum.doubleValue() / sims.size, 4))
      }
    }

    val out = fitRows(Similarity.kmeansFit(vecs(data: _*), "vec_id",
      "embedding", k = k, iters = iters, dim = dim))
    assert(out === expected)
  }

  test("kmeansFit: empty centroid survives with n=0 and null mean_sim") {
    // all vectors IDENTICAL: both seed centroids coincide, every
    // assignment is a tie, the smaller cid wins every tie and its mean
    // never moves — so the other seed's cluster stays EMPTY through
    // every iteration, and must still be reported, not silently vanish
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val ids = (0L until 6L).toSeq
    val seeds = ids.sortBy(id => (md5hex(id.toString), id)).take(2)
    val data = ids.map(id => id -> Seq(1.0f, 0.0f, 0.0f, 0.0f))
    val out = fitRows(Similarity.kmeansFit(data.toDF("vec_id", "embedding"),
      "vec_id", "embedding", k = 2, iters = 2, dim = 4))
    assert(out.map(_._1) === seeds.sorted)
    val (winner, loser) = (seeds.min, seeds.max)
    assert(out === Seq((winner, 6L, 1.0), (loser, 0L, null)))
  }

  test("kmeansFit report plan: broadcast centroids, no extra exchanges") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    // the fit is scoped-eager (input-cached Lloyd loop), so the declared
    // plan is a checkpoint scan — probe the interior materializations
    // and assert on the report's (the scoped exit, probed last)
    val probed = scala.collection.mutable.Buffer
      .empty[org.apache.spark.sql.execution.SparkPlan]
    graft.operators.Caches.planProbe.set(probed)
    try Similarity.kmeansFit(e, "vec_id", "embedding",
      k = 4, iters = 1, dim = 64)
    finally graft.operators.Caches.planProbe.remove()
    val plan = probed.last.toString()
    // the k-row centroid table is DRIVER-RESIDENT: the packed 1-row
    // table rides a broadcast nested-loop built from a LocalTableScan
    // (no build job, no row blow-up), the report joins the
    // LocalTableScan centroid table, and the only hash shuffles are
    // on vec_id (parallelism) and cid (the grouped agg) — never a
    // shuffle of corpus×k scored rows. (The exchange COUNT is gated
    // canonically by the interior budget in plans/exchange_budget.tsv
    // via PlanRegressionSpec; the raw string here holds AQE's
    // initial-plan copy plus the cached input's child plan, so counting
    // matches would double-count.)
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    assert(plan.contains("LocalTableScan"), plan.take(1500))
    val hashParts = "hashpartitioning\\((\\w+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(hashParts.subsetOf(Set("vec_id", "cid")), hashParts.toString)
  }

  test("sqTopK is exact when vectors already sit on the quantization grid") {
    import spark.implicits._
    // integer elements with lo = 0 and hi = 255 pinned by row 0: the SQ
    // grid lo + k·(hi-lo)/255 is exactly the integers, so
    // dequantize(quantize(x)) == x and SQ cosine == exact cosine
    val rnd = new scala.util.Random(11)
    val data = (0L, Seq.tabulate(8)(j => if (j % 2 == 0) 0f else 255f)) +:
      (1L until 60L).map(i => (i, Seq.fill(8)(rnd.nextInt(256).toFloat)))
    val e = data.toDF("vec_id", "embedding")
    val sq = Similarity.sqTopK(e, e.filter($"vec_id" < 3), "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val brute = Similarity.bruteForceTopK(e, e.filter($"vec_id" < 3), "vec_id", "embedding", k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(sq === brute)
  }

  test("sqTopK recall@3 vs brute force is high on the real corpus") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
    val sq = Similarity.sqTopK(e, q, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (sq & brute).size.toDouble / brute.size
    assert(recall >= 0.8, s"SQ8 recall $recall below 0.8")
  }

  test("bqRerankTopK: duplicate vector found at rank 1; recall vs brute force") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    // plant an exact duplicate of vector 0 — hamming 0 guarantees it
    // survives the shortlist, exact re-rank puts it at rank 1 (sim 1.0)
    val dup = e.filter(col("vec_id") === 0)
      .withColumn("vec_id", lit(990000L))
    val corpus = e.unionByName(dup)
    val got = Similarity.bqRerankTopK(corpus, corpus.filter(col("vec_id") === 0),
        "vec_id", "embedding", k = 3)
      .orderBy("rank").collect()
    assert(got.head.getLong(1) === 990000L && got.head.getDouble(2) === 1.0)

    val q = e.filter(col("vec_id") < 10)
    val bq = Similarity.bqRerankTopK(e, q, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (bq & brute).size.toDouble / brute.size
    assert(recall >= 0.5, s"BQ recall $recall below 0.5")
  }

  test("mutualKnnEdges keeps exactly the symmetric pairs, ordered a<b") {
    // hand-built DIRECTED top-k lists: 1↔2 mutual, 3→1 one-way,
    // 2↔3 mutual (listed b-side first to exercise the ordering)
    val topk = Seq(
      (1L, 2L), (2L, 1L), // mutual
      (3L, 1L),           // 1 never lists 3 back
      (3L, 2L), (2L, 3L)  // mutual, emitted as (2,3)
    ).toDF("query_id", "neighbor_id")
    val edges = Similarity.mutualKnnEdges(topk)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges === Set((1L, 2L), (2L, 3L)))
  }

  test("ivfTrainedTopK: Lloyd-trained centroids beat the md5 sample on mean recall") {
    // the whole point of the trained tier — the v28 gate's claim,
    // asserted in-engine on the real corpus at the v28 parameters
    val got = graft.queries.PipelineQueries.v28IvfTrained(spark, sf0001)
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    assert(got.length === 50)
    val meanTrained = got.map(_._1).sum / got.length
    val meanSampled = got.map(_._2).sum / got.length
    assert(meanTrained > meanSampled,
      f"training gained nothing: trained=$meanTrained%.4f sampled=$meanSampled%.4f")
  }

  test("ivfPqTrainedTopK: same ADC geometry as full PQ, lists genuinely " +
      "retrained") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val q = e.filter(col("vec_id") < 5)
    val trained = Similarity.ivfPqTrainedTopK(e, q, "vec_id", "embedding",
        k = 3).collect()
    // restriction property: the codebook is the SAME md5 sample as full
    // PQ's, so every (query, neighbor) v30 scores must carry exactly the
    // adist the unrestricted ADC scan assigns that pair — training moves
    // WHICH candidates are scanned, never how a pair is scored
    val fullAdc = Similarity.pqTopK(e, q, "vec_id", "embedding", k = 499)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
      .toMap
    assert(trained.nonEmpty)
    trained.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      assert(fullAdc(key) === r.getDouble(2),
        s"pair $key scored differently than the full ADC scan")
    }
    // and the training is non-vacuous: the probed candidate sets differ
    // from the sampled-centroid index somewhere in the top-3
    val sampled = Similarity.ivfPqTopK(e, q, "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val trainedSet = trained.map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(trainedSet !== sampled,
      "Lloyd training left every probed list identical to the md5 sample")
  }

  test("protoPrune: floor(frac·n) most-prototypical rows drop per cluster") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val out = Similarity.protoPrune(e, "vec_id", "embedding",
        k = 4, iters = 1, pruneFrac = 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getInt(4)))
    assert(out.length === e.count())
    out.groupBy(_._2).foreach { case (cid, rows) =>
      val n = rows.length
      val pruned = rows.filter(_._5 === 0)
      assert(pruned.length === math.floor(0.25 * n).toInt,
        s"cluster $cid: wrong prune count")
      // the dropped rows are exactly the top-prototypicality ranks, and
      // no kept row is MORE prototypical than a dropped one
      assert(pruned.map(_._4).sorted.toSeq === (1 to pruned.length).map(_.toLong))
      if (pruned.nonEmpty)
        assert(pruned.map(_._3).min >= rows.filter(_._5 === 1).map(_._3).max
          - 1e-12, s"cluster $cid: kept a more prototypical row than a dropped one")
    }
    // ranks are a permutation within each cluster
    out.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.map(_._4).sorted.toSeq === (1L to rows.length).toSeq) }
  }

  test("mutualKnnEdges on brute self-kNN: every edge is in both lists") {
    val e = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val topk = Similarity.bruteForceTopK(e, e, "vec_id", "embedding", k = 2)
    val lists = topk.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val edges = Similarity.mutualKnnEdges(topk)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty, "mutual-2NN graph is empty on the corpus")
    assert(edges.forall { case (a, b) => a < b })
    assert(edges.forall { case (a, b) =>
      lists.contains((a, b)) && lists.contains((b, a)) })
    assert(edges.distinct.length === edges.length)
  }

  test("marginMining: best-margin tgt mined per src, threshold gates") {
    // src s1=(1,0,0,0); tgt t1=(.9,.1,0,0) cos=.9939, t2=(.5,.5,0,0)
    // cos=.7071. deg_src=(.9939+.7071)/2=.8505; deg_tgt(t1)=.9939,
    // deg_tgt(t2)=.7071. margin(s1,t1)=.9939/((.8505+.9939)/2)=1.0778;
    // margin(s1,t2)=.7071/((.8505+.7071)/2)=.9079 — t1 wins.
    // numPlanes=1 so multi-probe covers both buckets: candidates exact.
    val src = vecs(10L -> Seq(1f, 0f, 0f, 0f))
    val tgt = vecs(20L -> Seq(0.9f, 0.1f, 0f, 0f),
      21L -> Seq(0.5f, 0.5f, 0f, 0f))
    val mined = Similarity.marginMining(src, tgt, "vec_id", "embedding",
      k = 2, threshold = 1.0, numPlanes = 1, dim = 4).collect()
    assert(mined.length === 1)
    val r = mined(0)
    assert(r.getLong(0) === 10L && r.getLong(1) === 20L)
    assert(r.getDouble(2) === 0.9939)
    assert(math.abs(r.getDouble(3) - 1.0778) < 5e-4)
    val strict = Similarity.marginMining(src, tgt, "vec_id", "embedding",
      k = 2, threshold = 1.2, numPlanes = 1, dim = 4).collect()
    assert(strict.isEmpty, "threshold 1.2 should mine nothing here")
  }

  test("marginMining keeps diagonal pairs when src/tgt share id values") {
    // parallel-corpus layout: both sides numbered 0.. — the aligned
    // pair (0, 0) is the true match and must be minable, not dropped
    // by the self-kNN id exclusion
    val src = vecs(0L -> Seq(1f, 0f, 0f, 0f))
    val tgt = vecs(0L -> Seq(0.99f, 0.01f, 0f, 0f),
      1L -> Seq(0f, 1f, 0f, 0f))
    val mined = Similarity.marginMining(src, tgt, "vec_id", "embedding",
      k = 2, threshold = 0.5, numPlanes = 1, dim = 4).collect()
    assert(mined.length === 1 &&
      mined(0).getLong(0) === 0L && mined(0).getLong(1) === 0L,
      "equal-id cross-corpus pair was discarded as a self-match")
  }

  test("knnLabelAgreement: purity is the same-label fraction of the kNN") {
    import spark.implicits._
    val d = Seq(
      (0L, Seq(1f, 0f), "A"), (1L, Seq(0.99f, 0.01f), "A"),
      (2L, Seq(0f, 1f), "B"), (3L, Seq(0.01f, 0.99f), "B"))
      .toDF("vec_id", "embedding", "label")
    // k=1: each vector's nearest neighbor is its same-label partner
    val k1 = Similarity.knnLabelAgreement(d, "vec_id", "embedding",
        "label", k = 1, numPlanes = 1, dim = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(k1.length === 4)
    assert(k1.forall { case (_, n, p) => n === 1L && p === 1.0 })
    // k=3: the other three neighbors hold exactly one same-label vector
    val k3 = Similarity.knnLabelAgreement(d, "vec_id", "embedding",
        "label", k = 3, numPlanes = 1, dim = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(k3.forall { case (_, n, p) => n === 3L && p === 0.3333 })
  }

  test("inline ivfFilteredTopK: slices airtight, ≡ label-restricted candidates") {
    val emb = Tables.table(spark, sfDir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val got = Similarity.ivfFilteredTopK(emb, queries, "vec_id", "embedding",
      "label", k = 3, nCentroids = 16, nProbe = 4)
    val labels = emb.select(col("vec_id").as("neighbor_id"), col("label"))
    val qLabels = emb.select(col("vec_id").as("query_id"),
      col("label").as("q_label"))
    val crossed = got.join(labels, "neighbor_id").join(qLabels, "query_id")
      .filter(col("label") =!= col("q_label"))
    assert(crossed.isEmpty, "filtered IVF returned an off-label neighbor")
    assert(got.count() > 0)
  }

  test("ivfPqTopK: an identical vector is found at rank 1 through the probed lists") {
    val emb = Tables.table(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    // the dup assigns to the same centroid the query probes first, so
    // list pruning cannot lose it, and it is the ADC argmin (the pq
    // dup-argmin argument, per subspace)
    val dup = emb.filter(col("vec_id") === 3)
      .select(lit(9000L).as("vec_id"), col("embedding"))
    val out = Similarity.ivfPqTopK(emb.unionByName(dup),
        emb.filter(col("vec_id") === 3), "vec_id", "embedding", k = 1)
      .collect()(0)
    assert(out.getLong(1) === 9000L)
  }
}
