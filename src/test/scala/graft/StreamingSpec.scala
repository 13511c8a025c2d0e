package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types._
import graft.streaming.PipeStream

class StreamingSpec extends SparkSuite {

  private val sch = StructType(Seq(
    StructField("id", LongType), StructField("v", StringType)))

  private def tmp(p: String): String = Files.createTempDirectory(p).toString

  test("drain ingests staged files exactly once across restarts (checkpoint = load history)") {
    val landing = tmp("ps_landing")
    val target = tmp("ps_target") + "/t"
    val cp = tmp("ps_cp") + "/cp"
    def stage(name: String, lines: String*): Unit =
      Files.write(Paths.get(landing, name), lines.mkString("\n").getBytes)

    stage("cc_txn_1.json", """{"id":1,"v":"a"}""", """{"id":2,"v":"b"}""")
    PipeStream.drain(spark, landing, sch, target, cp,
      pattern = Some("cc_txn_*.json"))
    assert(spark.read.parquet(target).count() === 2)

    // restart with the same checkpoint: nothing new → no duplicates
    PipeStream.drain(spark, landing, sch, target, cp,
      pattern = Some("cc_txn_*.json"))
    assert(spark.read.parquet(target).count() === 2)

    // new file + a non-matching file: only the matching one loads
    stage("cc_txn_2.json", """{"id":3,"v":"c"}""")
    stage("other.json", """{"id":99,"v":"x"}""")
    PipeStream.drain(spark, landing, sch, target, cp,
      pattern = Some("cc_txn_*.json"))
    val rows = spark.read.parquet(target)
    assert(rows.count() === 3)
    assert(rows.filter("id = 99").count() === 0)
    // CDC metadata: append-only source → every row INSERT (ST2)
    assert(rows.filter("_action != 'INSERT'").count() === 0)
  }

  test("PipeStream continuous form starts, drains, and stops (ST4/ST10)") {
    val landing = Files.createTempDirectory("ps_cont").toString
    val target = Files.createTempDirectory("ps_cont_t").toString + "/t"
    val cp = Files.createTempDirectory("ps_cont_cp").toString + "/cp"
    val sch = StructType(Seq(StructField("id", LongType)))
    Files.write(Paths.get(landing, "a.json"), """{"id":1}""".getBytes)
    val q = PipeStream.start(spark, landing, sch, target, cp, "1 second")
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(target).count() === 1)
      Files.write(Paths.get(landing, "b.json"), """{"id":2}""".getBytes)
      q.processAllAvailable()
      assert(spark.read.parquet(target).count() === 2)
    } finally q.stop() // ST10: suspend ≡ stop; checkpoint resumes later
  }
}
