package graft

import java.nio.file.Files

import graft.bus.FileTopic

class FileTopicSpec extends SparkSuite {

  private def broker(): FileTopic =
    new FileTopic(Files.createTempDirectory("bus").toString)

  test("publish/poll round trip with per-group offsets") {
    val b = broker()
    b.publish("orders", Seq("m1", "m2"))
    b.publish("orders", Seq("m3"))
    val got = b.pollClaims("orders", "g1", 0)
    assert(got === Seq("m1", "m2", "m3"))
    // claimed and done: nothing new on re-poll, by any member of the group
    assert(b.pollClaims("orders", "g1", 0).isEmpty)
    assert(b.pollClaims("orders", "g1", 1).isEmpty)
    // new publish arrives incrementally
    b.publish("orders", Seq("m4"))
    assert(b.pollClaims("orders", "g1", 0) === Seq("m4"))
    // another group keeps its own progress and sees every message
    assert(b.pollClaims("orders", "g2", 0) === Seq("m1", "m2", "m3", "m4"))
  }

  test("stats reports depth, consumers, totals (ST13)") {
    val b = broker()
    b.publish("t", Seq("a", "b"))
    val s0 = b.stats("t")
    assert(s0("total_messages") === 2 && s0("queue_depth") === 2 &&
      s0("n_consumers") === 0 && s0("n_files") === 1)
    b.pollClaims("t", "g1", 0)
    val s1 = b.stats("t")
    assert(s1("queue_depth") === 0 && s1("n_consumers") === 1)
    b.publish("t", Seq("c"))
    assert(b.stats("t")("queue_depth") === 1)
    // depth counts files NO group has claimed: g2's claim of the new
    // file empties the queue although g1 has not read it
    b.pollClaims("t", "g2", 0)
    val s2 = b.stats("t")
    assert(s2("queue_depth") === 0 && s2("n_consumers") === 2)
    // an in-flight claim is a claim too, and its owner a consumer
    b.publish("t", Seq("d", "e"))
    b.pollClaims("t", "g1", 3, markDone = false)
    val s3 = b.stats("t")
    assert(s3("queue_depth") === 0 && s3("n_consumers") === 3 &&
      s3("total_messages") === 5 && s3("n_files") === 3)
  }

  test("claim polling rebalances a dead consumer's in-flight work") {
    val b = broker()
    var clock = 1000L
    val now = () => clock
    b.publish("t", Seq("m0"))
    b.publish("t", Seq("m1", "m2"))

    // consumer 0 claims everything but dies before finishing (no DONE)
    val dying = b.pollClaims("t", "g", consumer = 0, claimTtlMs = 5000,
      now = now, markDone = false)
    assert(dying === Seq("m0", "m1", "m2"))

    // survivor polls while the claims are fresh: nothing to take
    clock += 1000
    assert(b.pollClaims("t", "g", consumer = 1, claimTtlMs = 5000, now = now).isEmpty)

    // after the claim TTL the dead consumer's files rebalance to it
    clock += 10000
    val taken = b.pollClaims("t", "g", consumer = 1, claimTtlMs = 5000, now = now)
    assert(taken === Seq("m0", "m1", "m2"))

    // completed files never redeliver — exactly-once per group
    clock += 60000
    assert(b.pollClaims("t", "g", consumer = 2, claimTtlMs = 5000, now = now).isEmpty)
    // and an independent group still sees everything
    assert(b.pollClaims("t", "g2", consumer = 0, claimTtlMs = 5000, now = now).size === 3)
  }

  test("concurrent claim polling never double-delivers an unclaimed file") {
    // the CREATE_NEW atomic-claim path: N members of one group race over
    // the same fresh files; exactly-once requires the union to be exact
    // with zero duplicates — a read-check-write protocol fails this
    val b = broker()
    val msgs = (1 to 24).map(i => f"m$i%03d")
    msgs.grouped(2).foreach(g => b.publish("t", g)) // 12 part files
    val nConsumers = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nConsumers)
    val start = new java.util.concurrent.CountDownLatch(1)
    val results = (0 until nConsumers).map { c =>
      pool.submit(new java.util.concurrent.Callable[Seq[String]] {
        def call(): Seq[String] = { start.await(); b.pollClaims("t", "g", c) }
      })
    }
    start.countDown()
    val got = results.flatMap(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    assert(got.sorted === msgs.sorted) // complete AND duplicate-free
  }

  test("concurrent publishers all land their batches; no staging leftovers") {
    // the create-exclusive link path: N publishers race for sequence
    // numbers; every batch must survive under a distinct seq, and the
    // staged temp files must all be cleaned up (they are invisible to
    // consumers either way — partFiles' pattern excludes dot names)
    val root = Files.createTempDirectory("bus_race").toString
    val b = new FileTopic(root)
    val nPublishers = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nPublishers)
    val start = new java.util.concurrent.CountDownLatch(1)
    val seqs = (0 until nPublishers).map { p =>
      pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = { start.await(); b.publish("t", Seq(s"batch-$p")) }
      })
    }
    start.countDown()
    val landed = seqs.map(_.get(30, java.util.concurrent.TimeUnit.SECONDS))
    pool.shutdown()
    assert(landed.distinct.length === nPublishers,
      "two publishers claimed the same sequence")
    val got = b.pollClaims("t", "g", 0)
    assert(got.sorted === (0 until nPublishers).map(p => s"batch-$p").sorted,
      "a racing publisher's batch was lost")
    val s = Files.list(java.nio.file.Paths.get(root, "t"))
    val leftovers =
      try {
        val it = s.iterator()
        var acc = List.empty[String]
        while (it.hasNext) {
          val n = it.next().getFileName.toString
          if (n.startsWith(".staging-")) acc ::= n
        }
        acc
      } finally s.close()
    assert(leftovers.isEmpty, s"staging files left behind: $leftovers")
  }

  test("a file that lands late in a sequence gap is claimed on the next poll and holds back no later file") {
    val root = Files.createTempDirectory("bus")
    val b = new FileTopic(root.toString)
    b.publish("t", Seq("m0"))
    b.publish("t", Seq("m1"))
    b.publish("t", Seq("m2"))
    // model a listing that sees part-000000 and part-000002 but not yet
    // part-000001 (linked mid-scan, or restored later)
    val late = root.resolve("t/part-000001.jsonl")
    val aside = root.resolve("t/.part-000001.hidden")
    Files.move(late, aside)
    assert(b.pollClaims("t", "g", 0) === Seq("m0", "m2"),
      "a later file must not wait behind the gap")
    Files.move(aside, late)
    assert(b.pollClaims("t", "g", 0) === Seq("m1"))
    assert(b.pollClaims("t", "g", 0).isEmpty)
  }

  test("an unreadable claim token is reclaimable only after the claim file's mtime passes the TTL") {
    val root = Files.createTempDirectory("bus")
    val b = new FileTopic(root.toString)
    b.publish("t", Seq("m0"))
    b.publish("t", Seq("m1"))
    val claims = Files.createDirectories(root.resolve("t/claims"))
    val mtime = 1000000L
    // one token with no parseable fields, one whose timestamp is garbage:
    // both fall back to the claim file's own age
    Seq("g.000000" -> "garbage", "g.000001" -> "7:notatime:claimed:x")
      .foreach { case (name, token) =>
        val cf = claims.resolve(name)
        Files.write(cf, token.getBytes)
        Files.setLastModifiedTime(cf,
          java.nio.file.attribute.FileTime.fromMillis(mtime))
      }
    var clock = mtime + 1000
    val now = () => clock
    assert(b.pollClaims("t", "g", 1, claimTtlMs = 5000, now = now).isEmpty,
      "a fresh claim file with an unreadable token must stay claimed")
    clock = mtime + 6000
    assert(b.pollClaims("t", "g", 1, claimTtlMs = 5000, now = now) ===
      Seq("m0", "m1"))
    // the reclaim completed: the files are done for the group
    clock += 60000
    assert(b.pollClaims("t", "g", 2, claimTtlMs = 5000, now = now).isEmpty)
  }
}
