package graft.lsh

import org.apache.spark.sql.DataFrame

/**
 * LSH-banded candidate generation over the 64-bit DCT pHash — the second
 * grouping algorithm of the reference (`HammingHash for u64`,
 * hamminghash.rs:23-41: 8 chunks × 8 bits, 256 buckets/chunk, default max
 * dist MAX_SIMILARITY_64 = 15, hamminghash.rs:5).
 *
 * The [[BandJoin]] core bound to [[HashLayout.Phash64]]: the same rep
 * collapse, radius split, packed key, codegen'd verify and exact star,
 * over 8-bit chunks of `phash64`. The probe side expands the 8 BITWISE
 * dihedral variant hashes in `phash_variants` (phash.rs:242-255 —
 * store-1/query-8, derived by bit transpose + parity sign flips, no pixel
 * access), the index side holds originals.
 *
 * The low-quality gate (scanner.rs:1579-1594) applies unchanged: PDQ
 * quality is the featurelessness signal for the image regardless of which
 * hash is being banded, so low-confidence rows match exact-only here too.
 */
object BandJoin64 {
  final val BitsPerChunk = 8   // hamminghash.rs:39-41
  final val DefaultThreshold = 15 // MAX_SIMILARITY_64, hamminghash.rs:5

  /** Confident-row count past which 8-bit chunks (256 buckets/chunk)
    * degenerate toward n²/256 collisions — measured in MillionBench:
    * 1M random u64s = 99.9 s at 8-bit vs 10.02 s at 16-bit, identical
    * edge set by pigeonhole. */
  final val AutoWideCutoff = 100000L

  /** All verified duplicate edges (a < b, minimal dist per pair).
    * `sig` needs: ord, phash64, phash_variants, low_conf, has_pdq.
    * `chunkBits = 0` auto-selects the width from the corpus size;
    * `nConfHint` skips the resolution count when the caller knows it. */
  def edges(sig: DataFrame, threshold: Int = DefaultThreshold,
            chunkBits: Int = 0, saltFactor: Int = 0,
            nConfHint: Long = -1): DataFrame =
    BandJoin.edges(sig, threshold, saltFactor, chunkBits, nConfHint,
      HashLayout.Phash64)
}
