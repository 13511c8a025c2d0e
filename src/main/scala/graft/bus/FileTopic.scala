package graft.bus

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import scala.jdk.CollectionConverters._

/** S12 + ST12-ST13: the reference's SQLite-backed Kafka clone
  * (assignment3/simple_kafka_setup.py) re-expressed as a zero-dependency
  * directory-per-topic log.
  *
  * Layout: `root/<topic>/part-%06d.jsonl` are immutable appended message
  * files; `root/<topic>/claims/<group>.<seq>` is one group's claim on one
  * part file (the reference's `claimed_by`, simple_kafka_setup.py:146-177),
  * holding `owner:timestamp:claimed:nonce` while in flight and
  * `owner:timestamp:done` once consumed.
  *
  * Delivery semantics: within a consumer group every part file goes to
  * exactly one member (the exclusive claim); independent groups each see
  * every message. The broker is deliberately metadata-scale (driver-side
  * file IO, like the reference's SQLite): high-volume streams belong on
  * [[graft.streaming.PipeStream]], this is the pub/sub control plane.
  */
object FileTopic {
  /** The naming scheme, single-sourced for every producer and consumer
    * path (including [[TopicSource]]'s micro-batch listing): writes are
    * zero-padded to 6 digits and GROW PAST the padding at sequence
    * 1,000,000 (`%06d` never truncates), so the listing pattern accepts
    * 6-or-more digits and ordering is numeric, never lexicographic —
    * a `\d{6}`-only match would make every batch past the millionth
    * invisible to consumers while `nextSeq` kept colliding on it,
    * permanently wedging the topic. */
  private[bus] val PartFileRegex = "part-\\d{6,}\\.jsonl"

  private[bus] def partFileName(seq: Int): String = f"part-$seq%06d.jsonl"

  /** The one parse of a part file's sequence number. */
  private[bus] def seqOf(name: String): Int =
    name.stripPrefix("part-").takeWhile(_.isDigit).toInt
}

class FileTopic(root: String) {

  private def topicDir(topic: String): Path = Paths.get(root, topic)

  /** create_topic (simple_kafka_setup.py:80-93) — idempotent. */
  def createTopic(topic: String): Unit = {
    Files.createDirectories(topicDir(topic))
  }

  /** Files.list returns a stream holding a directory fd — must be closed
    * eagerly, not left to finalization, or busy brokers exhaust fds. */
  private def listDir(dir: Path): Seq[Path] = {
    val s = Files.list(dir)
    try s.iterator().asScala.toList finally s.close()
  }

  private def partFiles(topic: String): Seq[Path] =
    listDir(topicDir(topic))
      .filter(p => p.getFileName.toString.matches(FileTopic.PartFileRegex))
      .sortBy(seqOf) // numeric: "part-1000000" sorts before "part-999999" as text

  private def seqOf(p: Path): Int = FileTopic.seqOf(p.getFileName.toString)

  private def nextSeq(topic: String): Int =
    partFiles(topic).lastOption.map(seqOf(_) + 1).getOrElse(0)

  /** publish_message (simple_kafka_setup.py:95-112): one immutable file
    * per publish batch, made visible ATOMICALLY AND COMPLETE. A direct
    * CREATE_NEW write is atomic for the file's EXISTENCE, not its
    * content — a consumer listing the directory mid-write would read a
    * half-written batch and mark it done with its tail missing, losing
    * the tail forever. So the batch is staged to a dot-prefixed temp
    * name (invisible to [[partFiles]]' pattern) and linked into place
    * with create-exclusive semantics; a concurrent publisher racing to
    * the same sequence loses the link atomically and retries with the
    * next one instead of throwing its batch away. */
  def publish(topic: String, messages: Seq[String]): Int = {
    createTopic(topic)
    val tmp = Files.createTempFile(topicDir(topic), ".staging-", ".tmp")
    try {
      Files.write(tmp, messages.asJava, StandardCharsets.UTF_8,
        StandardOpenOption.TRUNCATE_EXISTING)
      var attempts = 0
      var published = -1
      while (published < 0) {
        val seq = nextSeq(topic)
        val target = topicDir(topic).resolve(FileTopic.partFileName(seq))
        try {
          try Files.createLink(target, tmp)
          catch {
            // filesystems without hard links (SMB/FAT/some FUSE):
            // degrade to the create-exclusive direct write — existence
            // stays atomic vs racing publishers; content atomicity
            // (the reason links are preferred) is lost only where the
            // filesystem gives us no rename-into-place primitive that
            // refuses existing targets
            case _: UnsupportedOperationException =>
              Files.write(target, messages.asJava, StandardCharsets.UTF_8,
                StandardOpenOption.CREATE_NEW)
          }
          published = seq
        } catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            attempts += 1
            require(attempts < 1000,
              s"publish: lost the sequence race $attempts times on $topic")
        }
      }
      published
    } finally Files.deleteIfExists(tmp)
  }

  // ---- claim-based consumption with dynamic rebalancing ----

  private def claimsDir(topic: String): Path = topicDir(topic).resolve("claims")
  private def claimFile(topic: String, group: String, seq: Int): Path =
    claimsDir(topic).resolve(f"$group.$seq%06d")

  /** The reference broker's claim model (simple_kafka_setup.py:146-177)
    * at file granularity: a consumer CLAIMS a part file, processes it,
    * and marks it DONE. A claim older than `claimTtlMs` whose file never
    * reached DONE means its owner died mid-flight — any live member may
    * reclaim it. So when a consumer disappears, its outstanding work
    * rebalances to the survivors on their next poll with no coordinator:
    * exactly-once per group for completed files, at-least-once takeover
    * for a dead consumer's in-flight file (the same contract as the
    * reference's claim table).
    *
    * `markDone = false` leaves this poll's claims in-flight — used by
    * tests (and crash-simulations) to model a consumer dying after
    * claiming.
    *
    * Claim atomicity: the initial claim is a CREATE_NEW — the filesystem
    * picks exactly one winner among concurrent claimers, so two members
    * polling the same unclaimed file can never both consume it (the
    * exactly-once-per-group-for-completed-files contract holds under
    * concurrency, not just in single-threaded tests). A TTL reclaim of a
    * dead owner's file can't use CREATE_NEW (the stale file exists), so
    * it writes a uniquely-nonced token and re-reads to confirm ownership
    * before consuming — concurrent reclaimers that lose the last-write
    * race observe the winner's token and back off. A reclaim race that
    * interleaves exactly between a loser's write and re-read can still
    * double-deliver, which is the documented at-least-once takeover
    * semantics for dead-owner files (same contract as the reference's
    * claim table). */
  def pollClaims(topic: String, group: String, consumer: Int,
      claimTtlMs: Long = 30000L,
      now: () => Long = () => System.currentTimeMillis(),
      markDone: Boolean = true): Seq[String] = {
    createTopic(topic)
    Files.createDirectories(claimsDir(topic))
    val mine = partFiles(topic).flatMap { f =>
      val seq = seqOf(f)
      val cf = claimFile(topic, group, seq)
      // token fields: owner:timestamp:state:nonce — the nonce
      // disambiguates two claim attempts by the same (owner, timestamp)
      val token = s"$consumer:${now()}:claimed:${java.util.UUID.randomUUID()}"
      def readToken(): Option[String] =
        if (Files.exists(cf))
          Some(new String(Files.readAllBytes(cf), StandardCharsets.UTF_8).trim)
        else None
      val owned = readToken() match {
        case None =>
          // atomic initial claim: CREATE_NEW admits exactly one creator
          try {
            Files.write(cf, token.getBytes(StandardCharsets.UTF_8),
              StandardOpenOption.CREATE_NEW)
            true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => false
          }
        case Some(cur) =>
          // defensive parse: a token mangled by interleaved concurrent
          // writes must not poison this file's polling forever with a
          // parse throw — but an UNREADABLE token is also what a reader
          // sees transiently between a winner's CREATE_NEW and its byte
          // write, so corrupt tokens become reclaimable only once the
          // claim FILE itself has gone stale (mtime past the TTL on the
          // same injectable clock as every other decision here), never
          // immediately; an unreadable mtime is NOT proof of staleness
          def staleByMtime: Boolean =
            scala.util.Try(Files.getLastModifiedTime(cf).toMillis).toOption
              .exists(m => now() - m > claimTtlMs)
          val reclaimable = cur.split(":") match {
            case Array(_, ts, "claimed", _*) =>
              scala.util.Try(ts.toLong).toOption match {
                case Some(t) => now() - t > claimTtlMs
                case None => staleByMtime
              }
            case Array(_, _, "done", _*) => false
            case _ => staleByMtime
          }
          if (!reclaimable) false
          else {
            // TTL reclaim: write, then re-read to confirm we won the race
            Files.write(cf, token.getBytes(StandardCharsets.UTF_8),
              StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
            readToken().contains(token)
          }
      }
      if (!owned) None
      else {
        val msgs = Files.readAllLines(f, StandardCharsets.UTF_8).asScala.toSeq
        if (markDone)
          Files.write(cf, s"$consumer:${now()}:done".getBytes(StandardCharsets.UTF_8),
            StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
        Some(msgs)
      }
    }
    mine.flatten
  }

  /** get_topic_stats (simple_kafka_setup.py:179-198) with the reference's
    * definitions: total messages and part files; queue depth = messages in
    * part files that no group has claimed (`claimed_by IS NULL`); consumer
    * count = distinct (group, owner) pairs named in claim tokens. A token
    * caught mid-write names no owner, but its file still counts as claimed. */
  def stats(topic: String): Map[String, Long] = {
    createTopic(topic)
    val files = partFiles(topic)
    val lineCounts = files.map(f => seqOf(f) -> Files.readAllLines(f).size().toLong)
    val ClaimName = """(.+)\.(\d{6,})""".r
    val claims =
      if (!Files.isDirectory(claimsDir(topic))) Nil
      else listDir(claimsDir(topic)).flatMap { cf =>
        cf.getFileName.toString match {
          case ClaimName(group, seq) => Some((group, seq.toInt, cf))
          case _ => None
        }
      }
    val claimed = claims.map(_._2).toSet
    val owners = claims.flatMap { case (group, _, cf) =>
      scala.util.Try(new String(Files.readAllBytes(cf), StandardCharsets.UTF_8))
        .toOption.map(_.trim.split(":")).collect {
          case Array(owner, _, _, _*) => group -> owner
        }
    }.distinct
    Map("total_messages" -> lineCounts.map(_._2).sum,
      "n_files" -> files.size.toLong,
      "n_consumers" -> owners.size.toLong,
      "queue_depth" -> lineCounts.collect { case (seq, n) if !claimed(seq) => n }.sum)
  }
}
