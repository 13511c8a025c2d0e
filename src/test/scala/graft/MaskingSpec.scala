package graft

import org.apache.spark.sql.functions._
import graft.pii.Masking

class MaskingSpec extends SparkSuite {
  import spark.implicits._

  test("dpNoisyCounts: deterministic, replayable, noise matches the inverse CDF") {
    val d = Seq.tabulate(100)(i => (s"g${i % 4}", i)).toDF("g", "x")
    def run() = Masking.dpNoisyCounts(d, "g", epsilon = 1.0, seedTag = "t")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val once = run()
    assert(once === run(), "seeded noise must be run-stable")
    // replay the mechanism driver-side: md5 digits → uniform → Laplace
    val md = java.security.MessageDigest.getInstance("MD5")
    once.foreach { case (g, noisy) =>
      val hex = md.digest(s"t|$g".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(6)
      val u = (java.lang.Long.parseLong(hex, 16) + 0.5) / math.pow(16, 6)
      val noise = if (u < 0.5) math.log(u * 2) else -math.log((1 - u) * 2)
      val want = BigDecimal(25 + noise)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(noisy - want) < 1e-9, s"$g: $noisy vs $want")
    }
    // group identity never leaks through the noise sign alone: counts stay
    // within a plausible band for eps=1 (|noise| < 20 w.p. ~1-2e-9)
    assert(once.values.forall(v => math.abs(v - 25) < 20))
  }

  private def maskAll(values: Seq[String]): Seq[(String, String, String, String, String)] =
    values.toDF("v").select(
      col("v"),
      Masking.maskPan(col("v"), "admin").as("adm"),
      Masking.maskPan(col("v"), "auditor").as("aud"),
      Masking.maskPan(col("v"), "analyst").as("ana"),
      Masking.maskPan(col("v"), "intern").as("oth"))
      .collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4)))

  test("masks never leak more than 4 trailing digits (seeded property)") {
    val rnd = new scala.util.Random(42)
    val cards = Seq.fill(200) {
      val len = 13 + rnd.nextInt(7) // 13..19 digits, the PAN shapes
      Seq.fill(len)(rnd.nextInt(10)).mkString
    }
    maskAll(cards).foreach { case (v, adm, aud, ana, oth) =>
      val last4 = v.takeRight(4)
      assert(adm === v)
      // auditor: 12 hex + '...' + last4, and the clear part is ONLY last4
      assert(aud.matches("^[0-9a-f]{12}\\.\\.\\." + last4 + "$"), aud)
      // analyst: card-shaped → all but last 4 starred
      if (v.length <= 19) {
        assert(ana === "*" * 15 + last4, ana)
        assert(!ana.contains(v.dropRight(4)))
      }
      assert(oth === "MASKED")
    }
  }

  test("analyst mask passes non-card-shaped values through (reference regexp semantics)") {
    val out = maskAll(Seq("not-a-card", "12ab34"))
    out.foreach { case (v, _, _, ana, _) => assert(ana === v) }
  }

  test("surrogate keys are stable and irreversible-shaped") {
    val out = Seq(1L, 2L, 1L).toDF("k")
      .select(Masking.surrogateKey(col("k")).as("sk"))
      .as[String].collect()
    assert(out(0) === out(2)) // stable
    assert(out(0) !== out(1))
    assert(out.forall(_.matches("^[0-9a-f]{12}$")))
  }

  test("retentionKeep keeps exactly the trailing window") {
    val d = Seq("2024-01-01 00:00:00", "2024-03-02 23:59:59",
      "2024-03-03 00:00:00", "2024-05-31 00:00:00")
      .toDF("s").select(col("s").cast("timestamp").as("ts"))
    val kept = Masking.retentionKeep(d, "ts",
      lit("2024-06-01 00:00:00").cast("timestamp"), 90).count()
    assert(kept === 2) // cutoff is 2024-03-03 00:00:00 inclusive
  }

  test("partitioned retention drops whole expired partitions (G13 scale path)") {
    val dir = java.nio.file.Files.createTempDirectory("ret").toString + "/t"
    val d = Seq("2024-01-01 10:00:00", "2024-02-15 10:00:00",
      "2024-05-30 10:00:00")
      .zipWithIndex.map { case (s, i) => (i, s) }.toDF("id", "s")
      .select(col("id"), col("s").cast("timestamp").as("ts"))
    graft.core.Tables.ctas(d, dir, partitionDateCol = Some("ts"))
    val dropped = Masking.retentionDropPartitions(spark, dir,
      java.time.LocalDate.parse("2024-06-01"), days = 90)
    assert(dropped.sorted === Seq("p_date=2024-01-01", "p_date=2024-02-15"))
    val left = spark.read.parquet(dir)
    assert(left.count() === 1)
    assert(left.select("id").as[Int].collect().toSeq === Seq(2))
    // idempotent: nothing more to drop
    assert(Masking.retentionDropPartitions(spark, dir,
      java.time.LocalDate.parse("2024-06-01"), 90).isEmpty)
  }

  test("retention keeps (and survives) the null-timestamp partition") {
    val dir = java.nio.file.Files.createTempDirectory("ret_null").toString + "/t"
    val d = Seq((1, Some("2024-01-01 10:00:00")), (2, None))
      .toDF("id", "s")
      .select(col("id"), col("s").cast("timestamp").as("ts"))
    // the writer itself produces p_date=__HIVE_DEFAULT_PARTITION__ for
    // the null-ts row — retention must neither crash on the unparseable
    // name nor delete rows of unknowable age
    graft.core.Tables.ctas(d, dir, partitionDateCol = Some("ts"))
    val dropped = Masking.retentionDropPartitions(spark, dir,
      java.time.LocalDate.parse("2024-06-01"), days = 90)
    assert(dropped === Seq("p_date=2024-01-01"))
    val left = spark.read.parquet(dir)
    assert(left.select("id").as[Int].collect().toSeq === Seq(2))
  }

  test("anonymize hashes keys, buckets quasi-ids, keeps the rest") {
    val d = Seq((7L, 23, "seg")).toDF("id", "nk", "seg")
    val r = Masking.anonymize(d, Seq("id"), Map("nk" -> 10)).collect()(0)
    assert(r.schema.fieldNames.toSeq === Seq("id_sk", "nk_bucket", "seg"))
    assert(r.getString(0).matches("^[0-9a-f]{12}$"))
    assert(r.getInt(1) === 3)
    assert(r.getString(2) === "seg")
  }
}
