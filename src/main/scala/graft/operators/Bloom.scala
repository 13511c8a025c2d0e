package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A Bloom-filter bitset composed ENTIRELY from built-in (codegen'd)
  * expressions — no UDF, no custom Expression, no driver-side hashing.
  *
  * The bitset is an `Array[Long]` (`nWords` × 64 bits). Build: each
  * value's `nProbes` positions come from seeded `xxhash64` re-hashes;
  * positions fold into per-word masks with a map-side-combined
  * `bit_or` groupBy (the shuffle carries ≤ nWords rows), and the words
  * are collected to the driver — a broadcast-sized index artifact
  * (8·nWords bytes). Probe: the word
  * array rides into the plan as one literal; each probe is
  * element_at + shift + mask — all inside whole-stage codegen.
  *
  * The 100 TB use: pre-filtering a corpus-scale side of a join against
  * a small-set membership test (benchmark shingles, stop lists, id
  * allowlists) BEFORE the shuffle. No false negatives, so composing
  * `bloomMightContain` with the exact join downstream preserves exact
  * semantics while the shuffle only carries probable hits. */
object Bloom {

  /** The built artifact: bits plus the probe count they were built
    * with. Carrying `nProbes` INSIDE the artifact makes the classic
    * misuse impossible — probing with a different probe count than the
    * build silently yields false negatives, the one failure mode a
    * Bloom filter promises not to have. (The probe column must also be
    * the same TYPE as the build column: xxhash64 is type-sensitive.) */
  case class BitsFilter(bits: Array[Long], nProbes: Int)

  /** Build the bitset from a one-column DataFrame of values.
    * Runs a (tiny) job at call time — the build pass of an index
    * artifact, not query lineage. */
  def buildBits(values: DataFrame, valueCol: Column,
      nWords: Int = 1024, nProbes: Int = 3): BitsFilter = {
    require(nWords >= 1 && nProbes >= 1, "nWords and nProbes must be >= 1")
    val nBits = nWords.toLong * 64L
    val positions = (0 until nProbes).map(p =>
      pmod(xxhash64(valueCol, lit(p)), lit(nBits)))
    val rows = values
      .select(explode(array(positions: _*)).as("bitpos"))
      .select((col("bitpos") / 64).cast("int").as("w"),
        call_function("shiftleft", lit(1L),
          (col("bitpos") % 64).cast("int")).as("mask"))
      .groupBy("w").agg(bit_or(col("mask")).as("bits"))
      .collect()
    val arr = new Array[Long](nWords)
    rows.foreach(r => arr(r.getInt(0)) = r.getLong(1))
    BitsFilter(arr, nProbes)
  }

  /** Membership probe against a built filter: true if every probe bit
    * is set (possible false positives, never false negatives). The
    * probe count comes FROM the filter. */
  def mightContain(f: BitsFilter, valueCol: Column): Column = {
    val bits = f.bits
    val nProbes = f.nProbes
    val nBits = bits.length.toLong * 64L
    val arr = typedlit(bits.toSeq)
    (0 until nProbes).map { p =>
      val bitpos = pmod(xxhash64(valueCol, lit(p)), lit(nBits))
      val word = element_at(arr, (bitpos / 64).cast("int") + 1)
      call_function("shiftrightunsigned", word, (bitpos % 64).cast("int"))
        .bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
  }
}
