package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.functions._
import graft.gen.{CarCatalog, OrderGenerator}
import graft.ingest.{CopyInto, JsonBatchLoader}

class IngestSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("JSON-lines round trip: generate → write → load → parquet table") {
    val json = tmp("graft_json")
    val table = tmp("graft_table") + "/orders"
    val enriched = OrderGenerator.enrich(
      OrderGenerator.rawOrders(spark, 300, seed = 1), CarCatalog.df(spark))
    enriched.write.mode("overwrite").json(json) // S1 wire format out
    val n = JsonBatchLoader.load(spark, json, table)
    assert(n === 300)
    // a second load APPENDS and still reports only its own batch size
    assert(JsonBatchLoader.load(spark, json, table) === 300)
    assert(spark.read.parquet(table).count() === 600)
    val back = spark.read.parquet(table)
    assert(back.schema.fieldNames.toSeq ===
      JsonBatchLoader.orderSchema.fieldNames.toSeq)
    // nested structs survive the round trip
    assert(back.filter($"address".isNotNull)
      .filter($"address.state".isNull).count() === 0)
  }

  test("normalize defaults non-PII optionals, keeps PII nulls") {
    val df = Seq("""{"txid":"t1","car_model":"X"}""").toDS()
    val parsed = spark.read.schema(JsonBatchLoader.orderSchema)
      .json(df)
    val r = JsonBatchLoader.normalize(parsed).collect()(0)
    assert(r.getAs[String]("brand") === "UNKNOWN")
    assert(r.getAs[Long]("horsepower") === 0L)
    assert(r.getAs[Long]("days") === 1L)
    assert(r.getAs[String]("phone") === null) // PII stays null
  }

  test("quarantine load splits good rows from bad lines, nothing lost") {
    val landing = tmp("graft_quar_in")
    val target = tmp("graft_quar_t") + "/t"
    val quarantine = tmp("graft_quar_q") + "/q"
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    Files.write(java.nio.file.Paths.get(landing, "batch.json"),
      Seq("""{"id":1,"v":"a"}""",
        """{"id":2 "v":"broken}""", // malformed line
        """{"id":3,"v":"c"}""",
        """not json at all""").mkString("\n").getBytes)
    val (good, bad) = JsonBatchLoader.loadWithQuarantine(
      spark, landing, sch, target, quarantine)
    assert(good === 2 && bad === 2)
    assert(spark.read.parquet(target).orderBy("id")
      .collect().map(_.getLong(0)).toSeq === Seq(1L, 3L))
    val q = spark.read.parquet(quarantine).collect()
    assert(q.length === 2)
    // bad lines kept verbatim for replay, with provenance
    assert(q.map(_.getAs[String]("raw_record")).toSet ===
      Set("""{"id":2 "v":"broken}""", "not json at all"))
    assert(q.forall(_.getAs[String]("source_file").contains("batch.json")))
  }

  test("copyInto is exactly-once per file, pattern-filtered, ledgered") {
    val landing = tmp("graft_landing")
    val target = tmp("graft_target") + "/t"
    val ledgerDir = tmp("graft_ledger") + "/l"
    def stage(name: String, rows: Seq[String]): Unit =
      Files.write(java.nio.file.Paths.get(landing, name),
        rows.mkString("\n").getBytes)

    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    val clock = () => Timestamp.valueOf("2024-01-01 00:00:00")

    stage("cc_txn_1.json", Seq("""{"id":1,"v":"a"}""", """{"id":2,"v":"b"}"""))
    stage("ignore.txt", Seq("not json"))
    val r1 = CopyInto.copyInto(spark, landing, "cc_txn_.*\\.json$", sch,
      target, ledgerDir, now = clock)
    assert(r1.map(x => (x.file_name.split('/').last, x.row_count)) ===
      Seq(("cc_txn_1.json", 2L)))
    assert(spark.read.parquet(target).count() === 2)

    // re-run: load history skips the already-loaded file
    val r2 = CopyInto.copyInto(spark, landing, "cc_txn_.*\\.json$", sch,
      target, ledgerDir, now = clock)
    assert(r2.isEmpty)
    assert(spark.read.parquet(target).count() === 2)

    // a new file loads incrementally
    stage("cc_txn_2.json", Seq("""{"id":3,"v":"c"}"""))
    val r3 = CopyInto.copyInto(spark, landing, "cc_txn_.*\\.json$", sch,
      target, ledgerDir, now = clock)
    assert(r3.map(_.row_count) === Seq(1L))
    assert(spark.read.parquet(target).count() === 3)

    // copy_history volume accounting
    val h = CopyInto.copyHistory(spark, ledgerDir).collect()(0)
    assert(h.getAs[Long]("n_files") === 2L)
    assert(h.getAs[Long]("n_rows") === 3L)
  }

  test("copyInto counts rows of files whose names need URI encoding") {
    val landing = tmp("graft_landing_enc")
    val target = tmp("graft_target_enc") + "/t"
    val ledgerDir = tmp("graft_ledger_enc") + "/l"
    // a space renders as %20 in input_file_name(); '+' stays raw — the
    // two cases that break naive suffix matching and naive decoding
    Files.write(java.nio.file.Paths.get(landing, "cc txn sp.json"),
      """{"id":1,"v":"a"}""".getBytes)
    Files.write(java.nio.file.Paths.get(landing, "cc+txn+pl.json"),
      ("""{"id":2,"v":"b"}""" + "\n" + """{"id":3,"v":"c"}""").getBytes)
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    val r = CopyInto.copyInto(spark, landing, "cc.*\\.json$", sch,
      target, ledgerDir)
    assert(r.map(x => (x.file_name.split('/').last, x.row_count)).sorted ===
      Seq(("cc txn sp.json", 1L), ("cc+txn+pl.json", 2L)))
  }

  test("copyInto purge removes staged files after commit") {
    val landing = tmp("graft_purge")
    val target = tmp("graft_purge_t") + "/t"
    val ledgerDir = tmp("graft_purge_l") + "/l"
    Files.write(java.nio.file.Paths.get(landing, "cc_txn_1.json"),
      """{"id":1,"v":"a"}""".getBytes)
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    CopyInto.copyInto(spark, landing, "cc_txn_.*\\.json$", sch, target,
      ledgerDir, purge = true)
    assert(CopyInto.listStage(spark, landing, ".*").isEmpty)
    assert(spark.read.parquet(target).count() === 1)
  }

  test("copyInto >256-file batch: per-file counts come from the cached " +
      "pass, not input_file_name over the cache") {
    val landing = tmp("graft_big")
    val target = tmp("graft_big_t") + "/t"
    val ledgerDir = tmp("graft_big_l") + "/l"
    val sch = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    // 260 files, file i holding (i % 3) + 1 rows — past the observe()
    // cutoff, so the persist-and-count fallback branch runs
    (0 until 260).foreach { i =>
      val rows = (0 to i % 3).map(j => s"""{"id":${i * 10 + j}}""")
      Files.write(java.nio.file.Paths.get(landing, f"cc_txn_$i%03d.json"),
        rows.mkString("\n").getBytes)
    }
    val recs = CopyInto.copyInto(spark, landing, "cc_txn_.*\\.json$", sch,
      target, ledgerDir)
    assert(recs.length === 260)
    val wantTotal = (0 until 260).map(i => (i % 3) + 1).sum
    assert(recs.map(_.row_count).sum === wantTotal.toLong,
      "per-file counts do not sum to the staged rows")
    recs.foreach { r =>
      val i = r.file_name.split('/').last.stripPrefix("cc_txn_")
        .stripSuffix(".json").toInt
      assert(r.row_count === (i % 3) + 1L,
        s"wrong count for file $i: ${r.row_count}")
    }
    assert(spark.read.parquet(target).count() === wantTotal.toLong)
  }
}
