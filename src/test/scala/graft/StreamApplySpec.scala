package graft

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.StreamApply

case class Change(id: Long, seq: Long, action: String, v: String)

/** Continuous CDC materialization: upserts/deletes land batch by batch,
  * the snapshot stays consistent between batches, restarts resume. */
class StreamApplySpec extends SparkSuite {
  import spark.implicits._

  /** A file-source change stream with a real checkpoint — the shape
    * whose kill and restart can be staged on disk. */
  private final class FileFed(snapshot: Seq[(Long, String)]) {
    private val root = Files.createTempDirectory("stream_apply_ff")
    val dir: String = root.resolve("t").toString
    val landing: String = root.resolve("landing").toString
    val ckpt: String = root.resolve("ckpt").toString
    snapshot.toDF("id", "v").write.parquet(dir)

    def sibling(suffix: String): Path = root.resolve(s".t$suffix")
    def stage(name: String, changes: Change*): Unit =
      changes.toDF().coalesce(1).write.mode("overwrite")
        .json(s"$landing/$name")
    /** One run: start from the checkpoint, drain what is staged, stop. */
    def run(): Unit = {
      val q = StreamApply.start(
        spark.readStream.schema(Encoders.product[Change].schema)
          .json(s"$landing/*/"),
        dir, "id", "seq", "action", ckpt)
      try q.processAllAvailable() finally q.stop()
    }
    /** Forget epoch `n`'s commit, as a run killed before it would. */
    def uncommit(n: Int): Unit = {
      val commit = Paths.get(ckpt, "commits", n.toString)
      assert(Files.exists(commit), s"expected a committed epoch $n")
      Files.delete(commit)
      Files.deleteIfExists(Paths.get(ckpt, "commits", s".$n.crc"))
    }
    def snapshotRows: Seq[(Long, String)] =
      spark.read.parquet(dir).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq
  }

  test("change stream materializes onto the snapshot across micro-batches") {
    implicit val sc: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = Files.createTempDirectory("stream_apply").toString + "/t"
    val ckpt = Files.createTempDirectory("stream_apply_ckpt").toString
    Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")
      .write.parquet(dir)

    val changes = MemoryStream[Change]
    val q = StreamApply.start(changes.toDF(), dir, "id", "seq", "action", ckpt)
    try {
      changes.addData(Change(1, 1, "U", "a2"), Change(2, 1, "D", "b"),
        Change(4, 1, "I", "d"))
      q.processAllAvailable()
      assert(spark.read.parquet(dir).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq ===
        Seq(1L -> "a2", 3L -> "c", 4L -> "d"))

      // a second batch applies on top of the first batch's snapshot
      changes.addData(Change(4, 2, "U", "d2"), Change(3, 2, "D", "c"))
      q.processAllAvailable()
      assert(spark.read.parquet(dir).orderBy("id").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSeq ===
        Seq(1L -> "a2", 4L -> "d2"))
    } finally q.stop()
  }

  test("a swap that crashed between its two renames heals on the replayed batch") {
    val f = new FileFed(Seq((1L, "a"), (2L, "b"), (3L, "c")))
    f.stage("b0", Change(1, 1, "U", "a2"), Change(4, 1, "I", "d"))
    f.run()
    val before = Files.createTempDirectory("stream_apply_s1").resolve("t")
    spark.read.parquet(f.dir).write.parquet(before.toString)

    f.stage("b1", Change(2, 2, "D", "b"), Change(4, 2, "U", "d2"))
    f.run()
    assert(f.snapshotRows === Seq(1L -> "a2", 3L -> "c", 4L -> "d2"))
    // rebuild the disk as batch 1 leaves it when killed between the two
    // renames: the old snapshot moved aside, the staged one not yet in
    // place, `t` missing, and epoch 1 uncommitted
    Files.move(Paths.get(f.dir), f.sibling("__swap_tmp"))
    Files.move(before, f.sibling("__swap_old"))
    f.uncommit(1)
    assert(!Files.exists(Paths.get(f.dir)))

    // the restart replays epoch 1: recoverReplaceAtomic restores the
    // backup before the snapshot read, then the swap lands batch 1
    f.run()
    assert(f.snapshotRows === Seq(1L -> "a2", 3L -> "c", 4L -> "d2"))
    assert(!Files.exists(f.sibling("__swap_old")) &&
      !Files.exists(f.sibling("__swap_tmp")), "swap residue left behind")
    assert(Files.exists(Paths.get(f.ckpt, "commits", "1")))
  }

  test("mid-batch kill: the replayed batch converges to the same snapshot, " +
      "no duplicate keys, across two restarts") {
    val f = new FileFed(Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // epoch 0: an insert, an update and a delete
    f.stage("b0", Change(4, 1, "I", "d"), Change(1, 1, "U", "a2"),
      Change(2, 1, "D", "b"))
    f.run()
    // kill AFTER epoch 0's snapshot swap but BEFORE its epoch commit,
    // with a dying attempt's half-staged swap directory left behind
    f.uncommit(0)
    Seq((9L, "ZZ_orphan")).toDF("id", "v").write
      .parquet(f.sibling("__swap_tmp").toString)

    // restart 1: epoch 0 replays onto its own output (a re-insert of 4,
    // a delete of the already-gone 2), epoch 1 applies on top
    f.stage("b1", Change(3, 2, "U", "c2"), Change(5, 2, "I", "e"))
    f.run()
    // restart 2: one more epoch on the replayed history
    f.stage("b2", Change(4, 3, "D", "d"), Change(1, 3, "U", "a3"))
    f.run()

    assert(Files.exists(Paths.get(f.ckpt, "commits", "2")),
      "expected three committed epochs")
    val rows = f.snapshotRows
    assert(rows.map(_._1).distinct.size === rows.size,
      "duplicate keys after the replay")
    assert(rows === Seq(1L -> "a3", 3L -> "c2", 5L -> "e"))
    assert(!Files.exists(f.sibling("__swap_tmp")),
      "the dead attempt's staged directory survived the replay")
  }
}
