package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.operators.Caches.EagerOps

/** The one owner of a materialized index directory's lifecycle, shared
  * by every index family — LSH, IVF, PQ and IVF-PQ ([[Similarity]]),
  * MinHash ([[Dedup]]), BM25 ([[SearchIndex]]) and [[TokenIndex]].
  * Layout under `indexDir`:
  *  - `meta` — ONE frozen row written at build ([[create]]): the
  *    family, its parameters (serve and append replay them) and its
  *    growable tables with their id and partition columns;
  *  - the growable tables — build and append land rows here, one
  *    writer task per partition value ([[write]]);
  *  - `deltas/batch=<id>` — streaming epochs of an index's single
  *    growable table ([[writeEpoch]]), merged on read by [[live]] and
  *    folded in by [[foldDeltas]];
  *  - `tombstones` — deleted ids ([[delete]]), anti-joined out of every
  *    [[live]] read until [[purge]] removes the rows.
  *
  * A family supplies only encode (build/append rows) and probe (serve);
  * delete, purge, compact and the delta fold exist here once, each
  * taking just the directory and reading what it touches from `meta`,
  * all under [[Tables.withMaintenanceLock]]. This keeps the design that
  * partition-pruned probes over frozen, reused index state argue for
  * (REPOSE, ICDE 2021; incremental top-k, EDBT 2020) in one place. */
object IndexStore {

  /** A growable table under the index dir. `idCol` keys tombstones and
    * purges (None: not id-keyed, e.g. token counts); `partCol` is its
    * directory partition key, the serve side's pruning filter. */
  final case class Table(name: String, idCol: Option[String],
      partCol: Option[String])

  /** The frozen meta row. `tombCols` are columns of the first id-keyed
    * table that each tombstone row carries (BM25 keeps a deleted doc's
    * length to correct N/avgdl); with any, [[delete]] tombstones only
    * ids that are indexed and not yet tombstoned. */
  final case class Meta(family: String, params: Map[String, Long],
      tables: Seq[Table], tombCols: Seq[String] = Nil) {
    def int(key: String): Int = params(key).toInt
  }

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write an index's meta row (build time; overwrites). */
  def create(spark: SparkSession, indexDir: String, meta: Meta): Unit = {
    import spark.implicits._
    Seq(meta).toDS().coalesce(1)
      .write.mode("overwrite").parquet(s"$indexDir/meta")
  }

  /** Read an index's meta row; a directory without one fails here,
    * before any maintenance touches it. */
  def meta(spark: SparkSession, indexDir: String): Meta = {
    val p = new Path(s"$indexDir/meta")
    require(fs(spark, p).exists(p),
      s"$indexDir has no meta: not a materialized index")
    import spark.implicits._
    spark.read.parquet(p.toString).as[Meta].head()
  }

  /** Land rows in a growable table, one writer task per partition
    * value — without the repartition every upstream task writes a
    * sliver into every partition dir (the small-file pile [[compact]]
    * exists to fold). */
  def write(rows: DataFrame, indexDir: String, t: Table,
      mode: String): Unit =
    writeTo(rows, s"$indexDir/${t.name}", t.partCol, mode)

  /** Write a streaming epoch of the index's single growable table to
    * `deltas/batch=<id>`, with overwrite: a crash-replayed epoch
    * rewrites itself instead of posting twice. */
  def writeEpoch(rows: DataFrame, indexDir: String, batchId: Long): Unit = {
    val m = meta(rows.sparkSession, indexDir)
    require(m.tables.size == 1,
      s"${m.family} has ${m.tables.size} growable tables; delta epochs " +
        "need exactly one to merge into")
    writeTo(rows, s"$indexDir/deltas/batch=$batchId",
      m.tables.head.partCol, "overwrite")
  }

  private def writeTo(rows: DataFrame, path: String,
      partCol: Option[String], mode: String): Unit = partCol match {
    case Some(p) =>
      rows.repartition(col(p)).write.mode(mode).partitionBy(p).parquet(path)
    case None => rows.write.mode(mode).parquet(path)
  }

  /** The serve-side read of a growable table: the settled rows merged
    * with any delta epochs, pruned to the partition `keys` a probe
    * collected (a LITERAL filter, so the scan lists only those
    * directories), with tombstoned ids dropped. */
  def live(spark: SparkSession, indexDir: String, t: Table,
      keys: Option[Seq[Any]] = None): DataFrame = {
    val base = spark.read.parquet(s"$indexDir/${t.name}")
    val deltas = new Path(s"$indexDir/deltas")
    val rows =
      if (fs(spark, deltas).exists(deltas))
        base.unionByName(epochs(spark, indexDir, base).drop("batch"))
      else base
    val pruned = keys.fold(rows)(ks =>
      rows.filter(col(t.partCol.get).isin(ks: _*)))
    t.idCol.fold(pruned)(id =>
      Tables.antiTombstones(spark, s"$indexDir/tombstones", pruned, id))
  }

  /** The delta tree, read with the settled table's schema plus `batch`:
    * an epoch whose write died before commit (only `_temporary` inside)
    * reads as zero rows instead of failing schema inference. */
  private def epochs(spark: SparkSession, indexDir: String,
      base: DataFrame): DataFrame =
    spark.read.schema(base.schema.add("batch", "long"))
      .parquet(s"$indexDir/deltas")

  /** Tombstone ids: every serve drops them before scoring, so the index
    * serves exactly like one that never held them (the yardsticks are
    * frozen at build, never derived from the deleted rows). Terminal
    * until [[purge]]. With `tombCols`, the tombstone rows carry those
    * columns from the indexed rows, and ids that are not indexed or
    * already tombstoned write nothing — a repeat request is a no-op and
    * a purged index's tombstone dir stays gone. */
  def delete(spark: SparkSession, indexDir: String, ids: DataFrame): Unit = {
    val m = meta(spark, indexDir)
    val t = m.tables.find(_.idCol.nonEmpty).getOrElse(
      throw new IllegalArgumentException(
        s"$indexDir: ${m.family} index has no id-keyed table to delete from"))
    val tomb = s"$indexDir/tombstones"
    Tables.withMaintenanceLock(spark, indexDir) {
      if (m.tombCols.isEmpty) Tables.appendTombstones(spark, tomb, ids)
      else {
        val idc = t.idCol.get
        // materialized before the write: the rows feed an append INTO
        // the tombstone table their anti-join reads
        val victims = broadcast(Tables.antiTombstones(spark, tomb,
          ids.select(col(ids.columns.head).cast("long").as(idc)).distinct(),
          idc))
        val carried = m.tombCols.map(c => first(c).as(c))
        val rows = spark.read.parquet(s"$indexDir/${t.name}")
          .join(victims, Seq(idc), "left_semi")
          .groupBy(col(idc)).agg(carried.head, carried.tail: _*)
          .select(col(idc).as("id") +: m.tombCols.map(col): _*)
          .eagerCheckpoint()
        if (!rows.isEmpty) rows.coalesce(1).write.mode("append").parquet(tomb)
      }
    }
  }

  /** Physically remove tombstoned rows, then clear the tombstones: fold
    * the delta epochs first (a deleted row still sitting in an epoch
    * would otherwise resurrect once the tombstones are gone), run the
    * family's own pre-purge step, purge every id-keyed table
    * ([[Tables.purgeRows]]: cost ∝ the affected partition dirs), delete
    * the tombstones. Serves are identical before and after; the purge
    * buys back scan bytes. Every step is idempotent, so a re-run after a
    * crash converges. */
  def purge(spark: SparkSession, indexDir: String): Unit = {
    val m = meta(spark, indexDir)
    val tomb = new Path(s"$indexDir/tombstones")
    Tables.withMaintenanceLock(spark, indexDir) {
      if (fs(spark, tomb).exists(tomb)) {
        fold(spark, indexDir, m)
        if (m.family == SearchIndex.Family)
          SearchIndex.foldTombstonesIntoStats(spark, indexDir)
        val ids = spark.read.parquet(tomb.toString).select("id")
        for (t <- m.tables; idc <- t.idCol)
          Tables.purgeRows(spark, s"$indexDir/${t.name}", idc, ids)
        fs(spark, tomb).delete(tomb, true)
      }
      // BM25's fold marker must go with the tombstones (also the residue
      // of a purge that crashed between the two deletes), or it shadows
      // the next delete of a set with the same signature
      if (m.family == SearchIndex.Family)
        SearchIndex.dropFoldedMarker(spark, indexDir)
    }
  }

  /** Fold each growable table's append-file pile back to target-size
    * files per partition ([[Tables.compactTable]]'s staged swaps). Pure
    * layout change: serves are identical before and after. Returns
    * (files before, files after). */
  def compact(spark: SparkSession, indexDir: String): (Int, Int) = {
    val m = meta(spark, indexDir)
    Tables.withMaintenanceLock(spark, indexDir) {
      m.tables.map(t => Tables.compactTable(spark, s"$indexDir/${t.name}"))
        .foldLeft((0, 0)) { case ((b, a), (pb, pa)) => (b + pb, a + pa) }
    }
  }

  /** Fold the delta epochs into the settled table. Served results are
    * identical before and after; the fold buys back the per-probe delta
    * listing cost continuous ingest accumulates. */
  def foldDeltas(spark: SparkSession, indexDir: String): Unit = {
    val m = meta(spark, indexDir)
    Tables.withMaintenanceLock(spark, indexDir)(fold(spark, indexDir, m))
  }

  /** Append the epochs LISTED AT ENTRY to the settled table, then drop
    * them — a live streaming writer may commit new epochs meanwhile,
    * and those must survive. Appending (not rewriting) keeps the
    * table's partition layout and costs ∝ the deltas; rows whose id the
    * table already holds are skipped, so a re-run after a crash between
    * the append and the epoch delete posts nothing twice. */
  private def fold(spark: SparkSession, indexDir: String, m: Meta): Unit = {
    val deltas = new Path(s"$indexDir/deltas")
    val dfs = fs(spark, deltas)
    val listed =
      if (!dfs.exists(deltas)) Array.empty[Path]
      else dfs.listStatus(deltas).filter(_.isDirectory).map(_.getPath)
        .filter(_.getName.startsWith("batch="))
    if (listed.nonEmpty) {
      val t = m.tables.head
      val idc = t.idCol.get
      val target = s"$indexDir/${t.name}"
      Tables.recoverReplaceAtomic(spark, target)
      val base = spark.read.parquet(target)
      val batches = listed.map(_.getName.stripPrefix("batch=").toLong)
      val fresh = epochs(spark, indexDir, base)
        .filter(col("batch").isin(batches.toIndexedSeq: _*))
        .dropDuplicates(idc)
        .join(base.select(idc), Seq(idc), "left_anti")
        .select(base.columns.map(col).toIndexedSeq: _*)
      writeTo(fresh, target, t.partCol, "append")
      listed.foreach(dfs.delete(_, true))
      if (dfs.listStatus(deltas).isEmpty) dfs.delete(deltas, true)
    }
  }
}
