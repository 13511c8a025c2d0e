package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.gen.{CarCatalog, OrderGenerator}
import graft.ingest.JsonBatchLoader

/** Seeded inputs shared by the workloads. Every table comes from one
  * Spark job (the generator costs a job launch per call, so per-batch
  * generation would dominate set-up); batches are cut on the driver. */
object Inputs {

  /** Enriched orders, the shape the reference lands as JSON. */
  def orders(spark: SparkSession, n: Long, seed: Long): DataFrame =
    OrderGenerator.enrich(OrderGenerator.rawOrders(spark, n, seed), CarCatalog.df(spark))

  /** A CDC change event: an order plus its sequence number and action
    * (`I`, `U` or `D`). */
  val changeSchema: StructType = StructType(JsonBatchLoader.orderSchema.fields ++ Seq(
    StructField("seq", LongType), StructField("action", StringType)))

  /** `n` change events as JSON lines, sequence numbers from `seq0`.
    * Inserts carry a new order; updates and deletes pick a key already
    * in the table (the seed keys plus every key inserted so far) and
    * carry a fresh order's attributes. */
  def changeLines(spark: SparkSession, n: Int, seed: Long, seedKeys: IndexedSeq[String],
      insertShare: Double, updateShare: Double, seq0: Long,
      reshape: DataFrame => DataFrame = identity): IndexedSeq[String] = {
    import spark.implicits._
    val attrCols = orders(spark, 0, 0).columns.filterNot(_ == "txid").map(col).toSeq
    val cand = reshape(orders(spark, n, seed * 1000003L + 17L))
      .select(col("txid"), to_json(struct(attrCols: _*)).as("attrs"))
      .as[(String, String)].collect().sortBy(_._1)
    val rng = new java.util.SplittableRandom(seed)
    val keys = scala.collection.mutable.ArrayBuffer.from(seedKeys)
    (0 until n).map { i =>
      val (txid, attrs) = cand(i)
      val r = rng.nextDouble()
      val (key, action) =
        if (r < insertShare || keys.isEmpty) { keys += txid; (txid, "I") }
        else (keys(rng.nextInt(keys.size)), if (r < insertShare + updateShare) "U" else "D")
      s"""{"txid":"$key","seq":${seq0 + i},"action":"$action",${attrs.drop(1)}"""
    }
  }

  def writeLines(path: String, lines: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), lines.asJava, StandardCharsets.UTF_8)
  }

  /** Recursive copy of a local directory (the seed snapshot is copied so
    * the one-shot reference can still read the original). */
  def copyDir(from: String, to: String): Unit = {
    val src = Paths.get(from)
    Files.walk(src).iterator().asScala.foreach { p =>
      val t = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }
  }

  /** Total size of the parquet files under a local directory. */
  def parquetBytes(path: String): Long =
    Files.walk(Paths.get(path)).iterator().asScala
      .filter(_.toString.endsWith(".parquet")).map(Files.size(_)).sum

  def deleteDir(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(Files.delete)
  }
}
