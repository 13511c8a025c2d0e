package graft.bus

import java.nio.charset.StandardCharsets
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** S12 as a REAL Spark streaming source: the [[FileTopic]] log exposed
  * through the standard DataSource V2 `readStream.format("graft-topic")`
  * surface, with the Kafka connector's 7-column schema — a consumer
  * written against `format("kafka")` ports by changing the format string
  * and options, nothing else (the reference's broker consumers,
  * simple_kafka_setup.py:114-177). The reverse port, onto a real broker,
  * is the same one-line edit; the build bundles no Kafka connector, so
  * no kafka branch lives here.
  *
  * Mapping: one topic part-file = one (partition, offset-range) unit —
  * `partition` carries the file sequence, `offset` the line index.
  * Streaming offsets advance at file granularity (the log's append unit);
  * the sink-side checkpoint provides the consumer-group contract:
  * checkpoint == group offset, restart == resume, each group sees every
  * message exactly once. Claim-splitting INSIDE a group is Spark's own
  * partition parallelism — every file is an [[InputPartition]] read by
  * whichever executor claims the task.
  */
object TopicSource {
  val schema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  /** Convenience reader: `readStream.format("graft-topic")` bound. */
  def readStream(spark: SparkSession, root: String, topic: String): DataFrame =
    spark.readStream.format("graft-topic")
      .option("path", root).option("topic", topic).load()

  /** The schemeless-root pinning rule, single-sourced and unit-testable:
    * an explicit filesystem scheme is honored only in its absolute forms
    * — `scheme://authority/...` or `scheme:/path` — because that is the
    * only shape that UNAMBIGUOUSLY names a filesystem. A bare
    * `new URI(root).getScheme != null` sniff would also accept a
    * RELATIVE path whose first segment contains a colon (`data:2026/bus`
    * parses as scheme "data"), skip the file:// pinning, and resolve the
    * root through fs.defaultFS — exactly the silent producer/consumer
    * filesystem divergence the pinning exists to prevent. */
  private[bus] def qualifyRoot(root: String): String =
    if (root.matches("^[A-Za-z][A-Za-z0-9+.-]*:/.*")) root
    else "file://" + java.nio.file.Paths.get(root).toAbsolutePath
}

class TopicSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-topic"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TopicSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val root = Option(opts.get("path")).getOrElse(
      sys.error("graft-topic source requires option 'path' (the topic root)"))
    val topic = Option(opts.get("topic")).getOrElse(
      sys.error("graft-topic source requires option 'topic'"))
    new TopicTable(root, topic)
  }
}

private[bus] class TopicTable(root: String, topic: String)
    extends Table with SupportsRead {
  override def name(): String = s"graft-topic:$topic"
  override def schema(): StructType = TopicSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = TopicSource.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new TopicMicroBatchStream(root, topic)
    }
}

/** Offset = highest fully-published file sequence (files are immutable
  * once written — [[FileTopic.publish]] uses CREATE_NEW). */
private[bus] case class TopicOffset(seq: Int) extends Offset {
  override def json(): String = s"""{"seq":$seq}"""
}

private[bus] class TopicMicroBatchStream(root: String, topic: String)
    extends MicroBatchStream {

  // captured at stream construction (driver-side): carries the session's
  // Hadoop conf to the listing below AND — via [[TopicReaderFactory]] —
  // to every executor-side partition read, so the topic root may live on
  // any Hadoop-visible filesystem (shared NFS/HDFS/S3), not only a POSIX
  // path local to each node. java.nio reads here would silently demand
  // that every executor sees the driver's local disk.
  private val hadoopConf = new org.apache.spark.util.SerializableConfiguration(
    org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)

  // [[FileTopic]]'s producer writes via java.nio — ALWAYS the local
  // filesystem. A schemeless root here would instead resolve through
  // fs.defaultFS (HDFS/S3 on a real cluster), silently pointing the
  // stream at a DIFFERENT filesystem than the producer: an empty topic
  // forever, no error. Schemeless roots are therefore pinned to file://
  // (absolute, so executor-side reads agree with the driver's listing);
  // an explicit ABSOLUTE scheme is honored as given — that is the
  // contract for a topic root that genuinely lives on shared HDFS/NFS.
  // The absolute-form requirement ([[TopicSource.qualifyRoot]]) keeps a
  // relative path with a colon in its first segment from masquerading
  // as a scheme.
  private val qualifiedRoot = TopicSource.qualifyRoot(root)

  private def maxSeq(): Int = {
    val dir = new org.apache.hadoop.fs.Path(qualifiedRoot, topic)
    val fs = dir.getFileSystem(hadoopConf.value)
    if (!fs.exists(dir)) -1
    else fs.listStatus(dir).iterator
      .map(_.getPath.getName)
      .filter(_.matches(FileTopic.PartFileRegex))
      .map(FileTopic.seqOf)
      .foldLeft(-1)(math.max)
  }

  override def initialOffset(): Offset = TopicOffset(-1)
  override def latestOffset(): Offset = TopicOffset(maxSeq())
  override def deserializeOffset(json: String): Offset =
    TopicOffset("""-?\d+""".r.findFirstIn(json).get.toInt)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[TopicOffset].seq
    val e = end.asInstanceOf[TopicOffset].seq
    ((s + 1) to e).map { seq =>
      TopicFilePartition(
        new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(qualifiedRoot, topic),
          FileTopic.partFileName(seq)).toString, topic, seq)
        : InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    TopicReaderFactory(hadoopConf)
}

private[bus] case class TopicFilePartition(file: String, topic: String, seq: Int)
    extends InputPartition

private[bus] case class TopicReaderFactory(
    conf: org.apache.spark.util.SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new PartitionReader[InternalRow] {
      private val part = p.asInstanceOf[TopicFilePartition]
      private lazy val path = new org.apache.hadoop.fs.Path(part.file)
      private lazy val fs = path.getFileSystem(conf.value)
      private lazy val lines: IndexedSeq[String] = {
        val in = fs.open(path)
        val bytes =
          try org.apache.hadoop.io.IOUtils.readFullyToByteArray(in)
          finally in.close()
        // Files.readAllLines semantics: \n, \r, \r\n all terminate a
        // line; a trailing terminator does not produce a final empty
        // line, interior empty lines survive
        val split = new String(bytes, StandardCharsets.UTF_8)
          .split("\r\n|\r|\n", -1)
        (if (split.nonEmpty && split.last.isEmpty) split.dropRight(1)
         else split).toIndexedSeq
      }
      private lazy val mtimeMicros: Long =
        fs.getFileStatus(path).getModificationTime * 1000L
      private var i = -1

      override def next(): Boolean = { i += 1; i < lines.size }
      override def get(): InternalRow = InternalRow(
        null, // key: the jsonl log has no message keys
        lines(i).getBytes(StandardCharsets.UTF_8),
        UTF8String.fromString(part.topic),
        part.seq,
        i.toLong,
        mtimeMicros,
        0) // TimestampType.CREATE_TIME, as the kafka source reports
      override def close(): Unit = ()
    }
}
