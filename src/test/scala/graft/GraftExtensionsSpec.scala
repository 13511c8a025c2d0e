package graft

import org.apache.spark.sql.{GraftTestExtensions, SparkSessionExtensions}

import graft.functions.GraftExtensions

/** SQL-surface registration of the native functions, through the
  * `spark.sql.extensions` path: inject into an extensions container,
  * then register into the session's function registry. */
class GraftExtensionsSpec extends SparkSuite {
  import spark.implicits._

  private def register(): Unit =
    GraftTestExtensions(spark, new GraftExtensions())

  test("minhash_sig is callable from spark.sql after registration") {
    register()
    Seq((1L, 10L), (1L, 20L), (2L, 30L)).toDF("id", "h")
      .createOrReplaceTempView("hashes")
    val sql = spark.sql(
      "SELECT id, minhash_sig(h, 16) AS sig FROM hashes GROUP BY id ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    // must equal the DataFrame-API formulation
    val api = ExprTwins.signaturesFromHashesExpr(
      Seq((1L, Seq(10L, 20L)), (2L, Seq(30L))).toDF("id", "hs"), 16)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    assert(sql === api)
  }

  test("shingle_hashes is callable from spark.sql after registration") {
    register()
    Seq((1L, "the quick brown fox jumps"), (2L, "tiny"))
      .toDF("id", "text").createOrReplaceTempView("sh_docs")
    val sql = spark.sql(
      "SELECT id, shingle_hashes(text, 3) AS hs FROM sh_docs ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    val api = Seq((1L, "the quick brown fox jumps"), (2L, "tiny"))
      .toDF("id", "text")
      .select($"id", ExprTwins.hashedShinglesExpr($"text", 3).as("hs"))
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
    assert(sql === api)
  }

  test("freq_sketch is callable from spark.sql after registration") {
    register()
    import spark.implicits._
    Seq("a", "a", "b", "a", "c").toDF("v").createOrReplaceTempView("fs_in")
    val m = spark.sql("SELECT freq_sketch(v, 8) AS sk FROM fs_in")
      .collect()(0).getMap[String, Long](0)
    assert(m === Map("a" -> 3L, "b" -> 1L, "c" -> 1L))
  }

  test("rand_project is callable from spark.sql and matches the API path") {
    register()
    spark.read.parquet(s"$sf0001/embeddings.parquet")
      .createOrReplaceTempView("rp_emb")
    val sql = spark.sql(
      "SELECT vec_id, rand_project(embedding, 64, 16) AS p FROM rp_emb ORDER BY vec_id")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val api = graft.operators.Projection.randProject(
        spark.read.parquet(s"$sf0001/embeddings.parquet"),
        "vec_id", "embedding", 64, 16)
      .groupBy("id").agg(
        org.apache.spark.sql.functions.collect_list(
          org.apache.spark.sql.functions.struct("component", "val")).as("cv"))
      .orderBy("id")
      .collect().map(r => (r.getLong(0),
        r.getSeq[org.apache.spark.sql.Row](1)
          .sortBy(_.getLong(0)).map(_.getDouble(1)))).toSeq
    assert(sql === api)
  }

  test("extensions class injects without a session (config-based deploys)") {
    // instantiable + applies cleanly to a fresh extensions container —
    // what spark.sql.extensions=graft.functions.GraftExtensions does
    new GraftExtensions().apply(new SparkSessionExtensions)
  }

  test("minhash_sig rejects a non-bigint child at ANALYSIS time") {
    register()
    import spark.implicits._
    Seq(1, 2).toDF("i").createOrReplaceTempView("mh_bad_input")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT minhash_sig(i, 4) FROM mh_bad_input").collect()
    }
    // a type error, not an unregistered function
    assert(e.getMessage.toLowerCase.contains("minhash_sig") &&
      !e.getMessage.contains("UNRESOLVED_ROUTINE"),
      s"unexpected analysis error: ${e.getMessage}")
  }
}
