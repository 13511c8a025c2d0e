package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column handling.
  *
  * Assets travel as opaque `binary` columns plus a typed metadata struct —
  * the pattern that scales: bytes stay columnar in parquet, metadata is
  * prunable, and heavy decode runs per-partition so one task amortizes
  * decoder setup over its whole split.
  *
  * Decoding is pluggable behind [[AssetCodec]]. The DEFAULT is
  * [[StubCodec]] — a deterministic modular byte-fold, so the oracled
  * m01–m06 queries replay exactly in any engine — and
  * [[graft.operators.ImageIoCodec]] is a REAL decoder on the JDK's own
  * `javax.imageio` (PNG/JPEG, zero external dependencies): decoded
  * per-stripe luma means, so [[phashChunks]] becomes a genuine
  * difference hash over pixels (MultimodalCodecSpec asserts real
  * near-dup detection across a noisy re-render and a JPEG re-encode).
  * Audio/video decode (ffmpeg-class) stays behind the same seam. The
  * Spark-side plumbing — schema, partitioning, per-partition batch
  * shape, frame sampling — is identical for every codec.
  */
object Multimodal {

  /** Synthesize an asset table from any (id, text) table — deterministic
    * fake payloads so the pipeline is testable without real media. */
  def syntheticAssets(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).cast("long").as("asset_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col(idCol), lit(3)) + 1).cast("int")).as("kind"),
      col(textCol).cast("binary").as("data"),
      struct(
        (pmod(col(idCol), lit(64)) * 16 + 64).cast("int").as("width"),
        (pmod(col(idCol), lit(48)) * 16 + 64).cast("int").as("height"),
        lit(16000).as("sample_rate"),
        round(pmod(col(idCol), lit(300)) / lit(10.0), 1).as("duration_s"),
        element_at(array(lit("png"), lit("opus"), lit("h264")),
          (pmod(col(idCol), lit(3)) + 1).cast("int")).as("codec")).as("meta"))

  /** The decode seam: a codec turns raw asset bytes into the per-stripe
    * accumulator grid that [[decodeFeatures]] projects into a feature
    * vector and [[phashChunks]] compares into a difference-hash — the
    * stand-in for a decoded, downscaled pixel/sample grid. The OPERATOR
    * shape (typed mapPartitions, schema, partitioning, null handling)
    * is codec-agnostic: a real JPEG/ffmpeg/ONNX decoder drops in by
    * implementing this trait, touching nothing else
    * (MultimodalCodecSpec runs the full m01-m06 shapes against a second
    * codec to pin that).
    *
    * Implementations are serialized into the task closure, so per-task
    * heavy state — model load, codec context, JNI handles — must NOT
    * ride the closure: acquire it in [[init]], which every operator
    * calls exactly once per partition before the first decode (mark the
    * fields `@transient`). */
  trait AssetCodec extends Serializable {
    /** Once-per-task/partition setup hook; default no-op for pure codecs. */
    def init(): Unit = ()
    /** bytes → `dims` stripe accumulators. Must tolerate empty input
      * (the operators already map a NULL payload to zero bytes). */
    def accumulators(bytes: Array[Byte], dims: Int): Array[Long]
  }

  /** Default STUB codec: deterministic AND modular at every step
    * (`acc = (acc*31 + byte) mod 1000003`, never exceeding 31·10⁶), so
    * the exact integers are reproducible by any engine — the DuckDB
    * oracle replays the same fold. Stripe d folds the bytes at positions
    * ≡ d (mod dims), in order. */
  private[graft] val StubMod = 1000003L
  object StubCodec extends AssetCodec {
    def accumulators(bytes: Array[Byte], dims: Int): Array[Long] =
      stubAccumulators(bytes, dims)
  }
  private[graft] def stubAccumulators(bytes: Array[Byte], dims: Int): Array[Long] = {
    val acc = new Array[Long](dims)
    var i = 0
    while (i < bytes.length) {
      val d = i % dims
      acc(d) = (acc(d) * 31 + (bytes(i) & 0xff)) % StubMod
      i += 1
    }
    acc
  }

  /** Decoded-asset row: feature vector (floats, as a real embed would
    * yield) plus an exact integer checksum of the accumulators so
    * correctness checks never ride on float rounding. */
  private[graft] case class DecodedAsset(asset_id: Long, kind: String,
    byte_len: Long, feature: Array[Float], feat_checksum: Long)

  /** Per-partition decode/feature-extract. Two load-bearing choices:
    *  - mapPartitions (not per-row): real decoders pay per-task init
    *    (model load, codec context) once per split;
    *  - the TYPED `Dataset.mapPartitions`, not `df.rdd`: the plan stays a
    *    single DeserializeToObject → MapPartitions → SerializeFromObject
    *    pipeline inside the SQL engine — no RDD scan boundary, no
    *    row-format round-trip, and Catalyst can still prune the three
    *    input columns at the parquet scan. */
  def decodeFeatures(assets: DataFrame, dims: Int = 16,
      codec: AssetCodec = StubCodec): DataFrame = {
    val spark = assets.sparkSession
    import spark.implicits._
    Caches.spreadByKey(assets, col("asset_id"))
      .select(col("asset_id").cast("long"), col("kind"),
        col("data").cast("binary"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        codec.init() // decoder/context setup, once per partition
        rows.map { case (id, kind, bytes0) =>
          // `data` is a nullable binary column; one null payload must
          // decode like a zero-byte asset, not NPE-kill the whole job
          // after four task retries (this is the repo's only per-row
          // JVM code path — everywhere else nulls flow declaratively)
          val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
          val acc = codec.accumulators(bytes, dims)
          DecodedAsset(id, kind, bytes.length.toLong,
            acc.map(v => v.toFloat / StubMod), acc.sum)
        }
      }
      .toDF()
  }

  /** Perceptual fingerprint (dHash) per asset over the stub decode:
    * bit d is the comparison of ADJACENT stripe accumulators
    * (`acc_d > acc_{d+1}`) — the classic difference-hash shape, with
    * the stub accumulators standing in for the downscaled-pixel grid a
    * real dHash compares (swap [[stubAccumulators]] for a decode +
    * 8×8 luma grid and nothing else changes). 65 stripes → a 64-bit
    * fingerprint, emitted as the four 16-bit chunks
    * [[graft.operators.Dedup.simhashPairsFromChunks]] consumes. Like
    * [[decodeFeatures]], the per-byte fold runs in the typed
    * mapPartitions decode pass (per-task decoder init amortized over
    * the split); every integer is modular and engine-replayable, so
    * the DuckDB oracle replays the exact fingerprint. */
  def phashChunks(assets: DataFrame, dims: Int = 65,
      codec: AssetCodec = StubCodec): DataFrame = {
    require(dims >= 2 && dims <= 65,
      s"dims ($dims) must be in [2, 65] — 64 fingerprint bits max")
    val spark = assets.sparkSession
    import spark.implicits._
    Caches.spreadByKey(assets, col("asset_id"))
      .select(col("asset_id").cast("long"), col("data").cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        codec.init() // decoder/context setup, once per partition
        rows.map { case (id, bytes0) =>
          // same null-payload guard as decodeFeatures
          val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
          val acc = codec.accumulators(bytes, dims)
          var h = 0L
          var d = 0
          while (d < dims - 1) {
            if (acc(d) > acc(d + 1)) h |= (1L << d)
            d += 1
          }
          (id, h & 0xFFFFL, (h >>> 16) & 0xFFFFL,
            (h >>> 32) & 0xFFFFL, (h >>> 48) & 0xFFFFL)
        }
      }
      .toDF("id", "c0", "c1", "c2", "c3")
  }

  /** Near-dup IMAGE pairs by perceptual hash — the multimodal member
    * of the dedup family: assets whose fingerprints sit within
    * `maxHamming` bits pair up, exact copies at hamming 0, small
    * corruptions (a re-encode, an appended trailer) within a few bits.
    * Pair generation, pigeonhole blocking (EXACT for maxHamming ≤ 3),
    * and the hot-bucket representative-star cap are
    * [[graft.operators.Dedup.simhashPairsFromChunks]] VERBATIM — one
    * pair algebra for text SimHash and image dHash, two fingerprint
    * sources. Returns (id_a, id_b, hamming). */
  def phashPairs(assets: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = Dedup.DefaultMaxBucket,
      codec: AssetCodec = StubCodec): DataFrame =
    Dedup.simhashPairsFromChunks(phashChunks(assets, codec = codec),
      maxHamming, maxBucket)

  private def withFrameBytes(assets: DataFrame, nFrames: Int): DataFrame = {
    // nFrames=0 would make sequence(0, -1) DESCEND (Spark defaults the
    // step to -1 when start > stop), emitting phantom frames with
    // div-by-zero null bytes instead of failing
    require(nFrames >= 1, s"nFrames ($nFrames) must be >= 1")
    assets
      .withColumn("frame_idx",
        explode(sequence(lit(0), lit(nFrames - 1))))
      .withColumn("frame_bytes",
        expr(s"substring(data, frame_idx * (octet_length(data) div $nFrames) + 1, " +
          s"octet_length(data) div $nFrames)"))
  }

  /** Resize/transcode STUB: cap the longer image edge at `maxDim`,
    * scale the metadata exactly (aspect preserved, floor to the pixel
    * grid), and shrink the payload to the area ratio (stands in for a
    * real resample whose output bytes scale with pixel count). A pure
    * per-row projection — the shape a real transcoder keeps: bytes in,
    * bytes out, metadata recomputed, no shuffle, trivially parallel at
    * any corpus size. All the scaling arithmetic is plain double math
    * on the typed meta, so an external oracle replays the output
    * dimensions and byte lengths exactly; swap the substring for a
    * codec call and nothing else changes. */
  def resizeAssets(assets: DataFrame, maxDim: Int = 256): DataFrame = {
    val wd = col("meta.width").cast("double")
    val hd = col("meta.height").cast("double")
    val scale = least(lit(1.0), lit(maxDim.toDouble) / greatest(wd, hd))
    assets
      .withColumn("__scale", scale)
      // NO floor-to-1 clamp: an empty payload must stay empty (substring
      // of zero bytes yields zero bytes — a clamp would desync the
      // metadata from the actual payload and any external replay)
      .withColumn("__new_len",
        ceil(octet_length(col("data")).cast("double") *
          col("__scale") * col("__scale")).cast("int"))
      .select(col("asset_id"), col("kind"),
        expr("substring(data, 1, __new_len)").as("data"),
        struct(
          greatest(floor(wd * col("__scale")), lit(1.0)).cast("int").as("width"),
          greatest(floor(hd * col("__scale")), lit(1.0)).cast("int").as("height"),
          col("meta.sample_rate").as("sample_rate"),
          col("meta.duration_s").as("duration_s"),
          col("meta.codec").as("codec")).as("meta"))
  }

  /** Frame sampling STUB: slice the byte payload into n equal "frames"
    * (stands in for video frame extraction); emits one row per frame with
    * the frame index — the explode shape a real sampler produces. */
  def sampleFrames(assets: DataFrame, nFrames: Int): DataFrame =
    withFrameBytes(assets, nFrames)
      .select(col("asset_id"), col("frame_idx").cast("long").as("frame_idx"),
        octet_length(col("frame_bytes")).cast("long").as("frame_len"))

  /** Per-frame content fingerprints (md5 over the raw frame bytes —
    * engine-portable, so an external oracle replays it). The input to
    * frame-level dedup: identical frames collide on the fingerprint no
    * matter which asset they came from. */
  def frameFingerprints(assets: DataFrame, nFrames: Int): DataFrame =
    withFrameBytes(assets, nFrames)
      .select(col("asset_id"), col("frame_idx").cast("long").as("frame_idx"),
        md5(col("frame_bytes")).as("frame_md5"))

  /** Frame-level exact dedup across assets: fingerprint every sampled
    * frame and group — a hash-partitioned aggregate over fixed-width
    * digests (the shuffle carries 32-char hashes, never frame bytes), so
    * it scales exactly like row-level exact dedup. Returns fingerprint
    * groups seen more than once: duplicated intros/stills/padding across
    * a video corpus. */
  def frameDedup(assets: DataFrame, nFrames: Int): DataFrame =
    frameFingerprints(assets, nFrames)
      .groupBy("frame_md5")
      .agg(count(lit(1)).as("n_frames"),
        countDistinct(col("asset_id")).as("n_assets"),
        min(col("asset_id")).as("first_asset"))
      .filter(col("n_frames") > 1)
}
