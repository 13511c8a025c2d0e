package graft

import graft.operators.Caches
import org.apache.spark.sql.functions._

/** The deterministic block-release layer: iterative operators drop
  * superseded checkpoint state NOW instead of leaving dead blocks to
  * GC + the async ContextCleaner (the storage-pressure failure mode a
  * 200-query harness session or a 50-iteration fit hits first). */
class CachesSpec extends SparkSuite {
  import spark.implicits._

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("release drops exactly the checkpoint blocks behind a frame") {
    val before = persistedIds
    val a = Caches.eager(Seq(1, 2, 3).toDF("x"))
    val b = Caches.eager(Seq(4, 5).toDF("y"))
    val mid = persistedIds
    assert((mid -- before).size === 2, "each eager() registers one RDD")
    Caches.release(a.select(col("x") * 2)) // projection OVER the checkpoint
    // unpersist(blocking=false) is enqueued immediately (not GC-gated);
    // registration removal is synchronous
    assert((persistedIds -- before).size === 1, "a's blocks released via a view")
    assert(b.count() === 2, "b untouched")
    Caches.release(b)
    assert((persistedIds -- before).isEmpty)
  }

  test("release REFUSES a composite frame instead of destroying live blocks") {
    val before = persistedIds
    val dead = Caches.eager(Seq((1, "a")).toDF("id", "v"))
    val live = Caches.eager(Seq((1, "b")).toDF("id", "w"))
    // a lazy join of superseded state with a live lookup: releasing its
    // leaves would also kill `live`'s lineage-free blocks irrecoverably
    val composite = dead.join(live, "id")
    val e = intercept[IllegalArgumentException](Caches.release(composite))
    assert(e.getMessage.contains("exactly ONE"))
    assert((persistedIds -- before).size === 2, "refusal must not release anything")
    assert(live.count() === 1)
    Caches.release(dead)
    Caches.release(live)
    assert((persistedIds -- before).isEmpty)
  }

  test("releaseAllPersistent sweeps checkpoint AND persisted blocks") {
    val d1 = Caches.eager(Seq(1, 2).toDF("x"))
    val d2 = Seq(3, 4).toDF("y").persist()
    d2.count()
    assert(persistedIds.nonEmpty)
    Caches.releaseAllPersistent(spark)
    assert(persistedIds.isEmpty)
    assert(d1.columns.sameElements(Array("x"))) // frames stay usable as metadata
  }

  test("broadcast gates: row cap, conf override, and worth-it ratio") {
    def hasHint(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.analyzed.collectFirst {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
      }.nonEmpty
    val small = spark.range(10).toDF("k")
    assert(hasHint(Caches.broadcastIfSmall(small, 10)))
    assert(!hasHint(Caches.broadcastIfSmall(small, 3000000L)),
      "above the default 2M-row cap the hint must be withheld")
    spark.conf.set("spark.graft.broadcast.maxRows", "5")
    try assert(!hasHint(Caches.broadcastIfSmall(small, 10)),
      "conf cap override must gate the hint")
    finally spark.conf.unset("spark.graft.broadcast.maxRows")
    // worth-it: fixed broadcast costs only pay off when the streamed
    // side genuinely dwarfs the build side
    assert(!hasHint(Caches.broadcastIfWorthIt(small, 10, 50)), "ratio 5 < 8")
    assert(hasHint(Caches.broadcastIfWorthIt(small, 10, 100)), "ratio 10 >= 8")
    assert(hasHint(Caches.broadcastIfWorthIt(small, 0, 8)),
      "an empty build side broadcasts once the stream clears the floor")
  }

  test("iteration state is released per round: block count is O(1) in rounds") {
    import graft.operators.Dedup
    Caches.releaseAllPersistent(spark)
    // a 12-hop chain takes several star rounds; each round checkpoints
    // a fresh canonical edge set. With per-round release the resident
    // set stays {current edge set}; without it, one dead snapshot per
    // round accumulates (the 50-iteration-fit OOM shape at scale).
    val n = 13L
    val docs = (1L to n).toDF("doc_id")
    val pairs = (1L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // forced distributed: the local union-find finish would otherwise
    // skip the rounds whose release discipline this test pins
    spark.conf.set("spark.graft.cc.localFinishEdges", "0")
    val out =
      try Dedup.dupClusters(docs, "doc_id", pairs, maxRounds = 20)
      finally spark.conf.unset("spark.graft.cc.localFinishEdges")
    assert(out.select(countDistinct(col("cluster_id"))).head.getLong(0) === 1L,
      "one chain, one component")
    assert(persistedIds.size <= 3,
      s"superseded per-round state leaked: ${persistedIds.size} RDDs resident " +
        "after the component rounds (expected the final edge set only)")
    Caches.releaseAllPersistent(spark)
  }

  test("withIterationConf restores the session conf, even on failure") {
    val aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    val parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    Caches.withIterationConf(spark, stateRows = 1000L) {
      assert(spark.conf.get("spark.sql.adaptive.enabled") === "false")
      assert(spark.conf.get("spark.sql.shuffle.partitions") === "1")
    }
    assert(spark.conf.get("spark.sql.adaptive.enabled") === aqe0)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === parts0)
    // an exception inside the loop must not leave the session de-AQE'd
    intercept[RuntimeException] {
      Caches.withIterationConf(spark, stateRows = 10L) {
        throw new RuntimeException("mid-fit failure")
      }
    }
    assert(spark.conf.get("spark.sql.adaptive.enabled") === aqe0)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === parts0)
    // ABOVE the broadcast-state cap the override is a NO-OP: per-round
    // exchanges are genuinely large there and AQE's skew handling must
    // keep governing
    Caches.withIterationConf(spark, stateRows = 10_000_000_000L) {
      assert(spark.conf.get("spark.sql.adaptive.enabled") === aqe0)
      assert(spark.conf.get("spark.sql.shuffle.partitions") === parts0)
    }
  }

  test("withIterationConf: the concurrency contract — session-scoped, clone-isolated") {
    // the override mutates THIS SessionState's conf for the body's
    // duration (the documented single-driver-thread contract: every
    // per-iteration action runs on the calling thread), so a query
    // submitted concurrently through the SAME session object would plan
    // under it. The escape hatch the contract names: SQL conf lives on
    // the SessionState, so a newSession() clone — same SparkContext,
    // same cached data — is provably untouched. A multi-tenant driver
    // that interleaves unrelated work with an iterative fit submits it
    // through its own session and never sees the override.
    val aqe0 = spark.conf.get("spark.sql.adaptive.enabled")
    val parts0 = spark.conf.get("spark.sql.shuffle.partitions")
    Caches.withIterationConf(spark, stateRows = 1000L) {
      assert(spark.conf.get("spark.sql.adaptive.enabled") === "false")
      val other = spark.newSession()
      assert(other.conf.get("spark.sql.adaptive.enabled") === aqe0,
        "a newSession clone must not inherit the loop override")
      assert(other.conf.get("spark.sql.shuffle.partitions") === parts0)
      // and the override genuinely drives planning where it applies:
      // the PARENT session's shuffle runs at the loop width (AQE off,
      // so nothing re-coalesces it), while the clone's conf still
      // reads the session default the assertions above pinned
      val parent = spark.range(100).groupBy(col("id") % 7).count()
      assert(parent.rdd.getNumPartitions === 1,
        "parent-session shuffle must run at the loop's override width")
    }
    assert(spark.conf.get("spark.sql.adaptive.enabled") === aqe0)
  }

  test("sweepAfter releases exactly its own scope's checkpoints; nesting is scoped") {
    Caches.releaseAllPersistent(spark)
    val outside = Caches.eager(Seq((1L, "keep")).toDF("id", "v"))
    val before = persistedIds.size
    Caches.sweepAfter {
      val inner = Caches.eager(Seq((2L, "drop")).toDF("id", "v"))
      assert(inner.count() === 1)
      Caches.sweepAfter {
        val nested = Caches.eager(Seq((3L, "drop2")).toDF("id", "v"))
        assert(nested.count() === 1)
      }
      // the nested scope released ITS frame only; inner is still live
      assert(inner.count() === 1)
    }
    // both swept frames' blocks are gone; the outside frame survives
    assert(persistedIds.size === before,
      s"sweepAfter leaked or over-released: ${persistedIds.size} vs $before")
    assert(outside.count() === 1, "sweepAfter released a frame outside its scope")
    Caches.releaseAllPersistent(spark)
  }

  test("localize: maxRows rows pass, maxRows + 1 fail before a full collect") {
    val ok = Caches.localize(spark.range(5).toDF("id"), maxRows = 5)
    assert(ok.count() === 5L)
    assert(ok.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    val e = intercept[IllegalArgumentException] {
      Caches.localize(spark.range(6).toDF("id"), maxRows = 5)
    }
    assert(e.getMessage.contains("more than 5 rows exceed the yardstick bound"))
    // rows past maxRows + 1 are never evaluated: a frame that raises
    // from its 11th row on still fails on the bound, not on the raise
    val poisoned = spark.range(0, 1000, 1, 1).select(
      when(col("id") >= 10, raise_error(lit("evaluated past the bound")))
        .otherwise(col("id")).as("id"))
    val e2 = intercept[IllegalArgumentException] {
      Caches.localize(poisoned, maxRows = 5)
    }
    assert(e2.getMessage.contains("yardstick bound"))
  }

  test("localize: an IVF centroid sample above its own bound fails at the call site") {
    val sample = spark.range(5).select(col("id").as("neighbor_id"),
      array(col("id").cast("double")).as("v"), lit(1.0).as("vn"))
    assert(graft.operators.Similarity.ivfCentroids(sample, nCentroids = 5)
      .count() === 5L)
    val e = intercept[IllegalArgumentException] {
      graft.operators.Similarity.ivfCentroids(sample, nCentroids = 4)
    }
    assert(e.getMessage.contains("more than 4 rows exceed the yardstick bound"))
  }
}
