package graft.lsh

import graft.ckpt.Store
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/**
 * Incremental band probe — how a delta of new images finds every
 * duplicate edge it has in corpus ∪ delta without re-running the batch
 * join (the Spark answer to the reference's incremental rescan,
 * scanner.rs:1251-1294). Like the reference, which caches each file's
 * hash and rebuilds its MIH index in memory on every scan
 * (hamminghash.rs:82-149), nothing is persisted beside the corpus
 * signatures: a probe scans (ord, low_conf, hash longs) of the corpus's
 * hash-carrying rows — one row per image — and cuts the m chunks of each
 * row itself. The delta expands its probe keys (8 dihedral variants ×
 * chunks × radius-tol masks — the reference's probe-side scheme,
 * scanner.rs:1729-1767); the scanned side is radius-0.
 *
 * IN-MEMORY PROBING: a delta whose probe ball fits [[MaxProbeBallDraws]]
 * (a delta of up to ~110 distinct images at the default threshold over 16-bit
 * chunks) is never exploded into rows. Its representatives are collected
 * once and broadcast; each signature-scan task holds the ball as one sorted
 * primitive table and looks each chunk of every scanned row up in it —
 * the reference's in-memory mask walk. Only verified pairs leave the
 * tasks. A larger ball takes the exploded band join, see [[probe]].
 *
 * TWO HASH ALGORITHMS: the 256-bit PDQ hash (h0..h3, chunk widths 16/32)
 * or the 64-bit DCT pHash (`phash64`, widths 8/16 — HammingHash<u64>
 * semantics, hamminghash.rs:23-41), named by a [[HashLayout]]; the
 * chunker, the variant expansion (`variants` / `phash_variants` —
 * store-1/query-8 either way), the mask explode and the Hamming verify are
 * the [[BandJoin]] core's, over that layout. The width is chosen per probe
 * ([[autoBuildBits]]), so nothing freezes it.
 *
 * Semantics match the full-join path including the low-quality gate
 * (scanner.rs:1579-1594): low-confidence rows are scanned and probed at
 * per-side limit 0 (exact match only, SINGLE bucket per chunk — their
 * probe keys expand no masks), confident rows at the threshold.
 */
object BandIndex {
  final val AlgoPdq = "pdq"
  final val AlgoPhash64 = "phash64"

  /** Probe-ball budget: the most (variant × chunk × mask) draws a delta's
    * probe ball may hold for the in-memory probe, whose table packs one
    * draw per 8-byte word (~16 MB per executor at the cap). A larger ball
    * takes the batch's band join, whose hash build is the scanned side. */
  final val MaxProbeBallDraws = 2000000L

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Export of a corpus's radius-0 band keys as an index dir: one
    * committed segment (`seg_base`) of the hash-carrying rows' band
    * rows, beside `_meta_algo` and `_meta_chunk_bits`. No production path
    * reads it — [[probe]] scans the signatures; its only caller is the
    * benchmark's `ingest_delta` set-up. */
  def build(sig: DataFrame, path: String,
            chunkBits: Int = BandJoin.BitsPerChunk,
            algo: String = AlgoPdq): Unit = {
    require(algo == AlgoPdq || algo == AlgoPhash64,
      s"unknown band index algorithm '$algo' ($AlgoPdq | $AlgoPhash64)")
    val spark = sig.sparkSession
    Seq("algo" -> algo, "chunk_bits" -> chunkBits.toString).foreach { case (name, value) =>
      val committed = Store.writeOnce(spark, s"$path/_meta_$name", value).trim
      require(committed == value, s"band index $name is $committed; cannot use $value")
    }
    val hs = HashLayout.of(algo).hashCols.map(col)
    Store.commitSegment(spark, path, "seg_base")(BandJoin.bandKeys(
      sig.filter(col("has_pdq")).select(col("ord") +: col("low_conf") +: hs: _*), hs, 0, chunkBits))
  }

  /** Auto chunk width of a probe over `nConf` confident corpus rows: wide
    * only when the corpus is past the parity width's degeneracy cutoff AND
    * the probe ball still fits the mask cap at the threshold — the scanned
    * side is radius-0, so the whole ball is probe-side (at 32-bit PDQ
    * chunks that admits threshold ≤ 31: V(4,32) = 41k masks fit, V(5,32) =
    * 242k do not). */
  def autoBuildBits(algo: String, nConf: Long, threshold: Int): Int = {
    val l = HashLayout.of(algo)
    if (nConf > l.wideCutoff && BandJoin.maskCount(threshold / l.numChunks(l.wideBits),
      l.wideBits) <= BandJoin.MaxMasksPerSide) l.wideBits
    else l.parityBits
  }

  /**
   * Probe the corpus signatures with a delta: every verified duplicate
   * edge a delta row has in corpus ∪ delta (a < b, min dist per pair),
   * per-side low-confidence limits applied, over `chunkBits`-wide chunks
   * of `layout`'s hash. Delta ords must be disjoint from the corpus's (a
   * delta's ords start past the corpus max). The delta expands probe keys
   * at the full chunk tolerance (pigeonhole over the chunks, exhaustive
   * recall ≤ 63); low-confidence delta rows expand NO masks (exact-only
   * per F2, so they pay one bucket per chunk, not the whole radius ball —
   * scanner.rs:1579-1594 probes low-quality hashes at limit 0).
   *
   * The scanned side is the corpus's hash-carrying rows ∪ the delta's own
   * stored hashes, so a pair inside the delta is probed in both directions
   * — each row sits on both sides — which is the batch join's symmetric
   * probing; no second band join over the delta is needed. Delta rows
   * sharing hash, variants and confidence collapse to one representative
   * first ([[BandJoin.collapse]], materialized once), so k byte-identical
   * copies cost one probe, not k² collisions.
   *
   * Two paths, chosen by one job that collects the representatives
   * (limit + 1, as connected components decide theirs):
   *  - IN MEMORY, when the probe ball holds at most [[MaxProbeBallDraws]]
   *    draws ([[ballDraws]]): the collected reps are broadcast as a
   *    [[ProbeBall]], and each task of a plain scan over the scanned side
   *    looks every chunk of every row up in the ball's table and verifies
   *    it — the reference's in-memory mask walk (hamminghash.rs:82-149,
   *    scanner.rs:1729-1767). Neither side is exploded, shuffled or sorted
   *    as rows; no exchange precedes the group-by.
   *  - BAND JOIN, past the budget: the batch's [[BandJoin.bandJoin]] core
   *    with the scanned rows as its stored side at radius 0 and the reps
   *    as its probe side at the full tolerance. At tol ≥ 1 the scanned
   *    side has the smaller radius, so the shuffled hash join builds on
   *    it — the corpus's m band rows per image, never the ball, whatever
   *    the delta's size (SCALING.md gives the build's ceiling); at tol 0
   *    it builds the reps' variant rows, as the batch does.
   */
  def probe(corpusSig: DataFrame, deltaSig: DataFrame, threshold: Int,
            chunkBits: Int, layout: HashLayout = HashLayout.Pdq): DataFrame = {
    val spark = deltaSig.sparkSession
    val numChunks = layout.numChunks(chunkBits)
    val tol = BandJoin.chunkTolerance(layout, threshold, chunkBits)
    // the scanned side is radius-0, so the whole probe ball sits on the
    // delta — feasibility is arithmetic-checked BEFORE any mask array
    // materializes (at 32-bit chunks this limits threshold ≤ 31:
    // V(4,32) = 41k fits, V(5,32) = 242k does not)
    val confMasks = BandJoin.maskCount(tol, chunkBits)
    require(confMasks <= BandJoin.MaxMasksPerSide,
      s"threshold $threshold over $chunkBits-bit chunks needs " +
        s"$confMasks probe masks/chunk (> ${BandJoin.MaxMasksPerSide}) — " +
        "use narrower chunks or lower the threshold")

    val hashRow = col("ord") +: col("low_conf") +: layout.hashCols.map(col)
    val corpus = corpusSig.filter(col("has_pdq")).select(hashRow: _*)

    // the membership is computed once: the reps collect below and both
    // reads of `mem` in expandReps reuse it
    val (delta, mem) = BandJoin.collapse(deltaSig.filter(col("has_pdq")),
      (layout.hashCols :+ layout.variantsCol :+ "low_conf").map(col), _.localCheckpoint())
    // per rep: its variants as |variants| × hash-width longs (the ball)
    // and its stored hash (its scanned row)
    val w = layout.hashCols.size
    val repCols = delta.select(col("ord") +: col("low_conf") +:
      (if (w == 1) col(layout.variantsCol) else flatten(col(layout.variantsCol))).as("vs") +:
      layout.hashCols.map(col): _*)
    val maxReps = (MaxProbeBallDraws / (8L * numChunks)).toInt
    val reps = repCols.limit(maxReps + 1).collect()
    val draws =
      if (reps.length > maxReps) Long.MaxValue
      else ballDraws(reps.iterator.map(r => (r.getSeq[Long](2).size / w, r.getBoolean(1))),
        numChunks, confMasks)

    val repEdges = if (draws <= MaxProbeBallDraws) {
      log.info(s"band probe: in memory (${reps.length} reps, $draws ball draws)")
      val ball = spark.sparkContext.broadcast(new ProbeBall(reps.map(_.getLong(0)),
        reps.map(_.getBoolean(1)), reps.map(_.getSeq[Long](2).toArray), w, numChunks,
        chunkBits, BandJoin.masksB(tol, chunkBits), threshold))
      val repRows = spark.createDataFrame(java.util.Arrays.asList(reps: _*), repCols.schema)
      import spark.implicits._
      corpus.unionByName(repRows.select(hashRow: _*))
        .mapPartitions(rows => ball.value.probe(rows))
        .toDF("ra", "rb", "dist")
        .groupBy("ra", "rb").agg(min("dist").as("dist"))
    } else {
      log.info("band probe: band join (" +
        (if (reps.length > maxReps) s"over $maxReps reps" else s"$draws ball draws") +
        s", budget $MaxProbeBallDraws draws)")
      BandJoin.bandJoin(layout, corpus.unionByName(delta.select(hashRow: _*)), 0,
        delta.select(col("ord"), col("low_conf"), col(layout.variantsCol)), tol,
        threshold, chunkBits, 1, None)
    }
    BandJoin.expandReps(repEdges, mem)
  }

  /** Draws of a probe ball over reps given as (|variants|, low_conf):
    * Σ |variants| × m × (V(tol, b), or 1 for a low-confidence rep, which
    * probes exact-only). */
  private[graft] def ballDraws(reps: Iterator[(Int, Boolean)], numChunks: Int,
                               confMasks: Long): Long =
    reps.map { case (nv, low) => nv.toLong * numChunks * (if (low) 1L else confMasks) }.sum
}

/**
 * A small delta's probe ball, held in memory by the signature-scan tasks
 * of [[BandIndex.probe]]. Entry e is one variant of one representative:
 * its rep ord `ords(e)`, confidence `low(e)` and hash `hashes(e·w until
 * (e+1)·w)`. The lookup table is one sorted `long[]` of packed
 * (band_idx, chunk ⊕ mask, e) words — every mask of the radius-tol ball
 * for a confident entry, mask 0 for a low-confidence one — built once per
 * executor JVM on first use (the broadcast value is shared by its tasks).
 */
private[graft] final class ProbeBall(repOrds: Array[Long], repLow: Array[Boolean],
                                     repVariants: Array[Array[Long]], w: Int,
                                     numChunks: Int, chunkBits: Int,
                                     masks: Array[Long], threshold: Int)
    extends Serializable {
  private val repOf = repVariants.indices.toArray.flatMap(i => Array.fill(repVariants(i).length / w)(i))
  private val ords = repOf.map(repOrds)
  private val low = repOf.map(repLow)
  private val hashes = repVariants.flatten
  private val entryBits = ProbeBall.entryBits(numChunks, chunkBits, ords.length)
  private val entryMask = (1L << entryBits) - 1
  private val perLong = 64 / chunkBits
  private val chunkMask = (1L << chunkBits) - 1

  /** Chunk k of the w-long hash at `hs(off until off + w)`. */
  private def chunk(hs: Array[Long], off: Int, k: Int): Long =
    (hs(off + k / perLong) >>> (k % perLong) * chunkBits) & chunkMask

  @transient private lazy val table: Array[Long] = {
    val out = new Array[Long](low.map(l => if (l) numChunks else numChunks * masks.length).sum)
    var i = 0
    for (e <- ords.indices; k <- 0 until numChunks) {
      val c = chunk(hashes, e * w, k)
      // masks(0) == 0: a low-confidence entry probes its own bucket only
      for (m <- 0 until (if (low(e)) 1 else masks.length)) {
        out(i) = key(k, c ^ masks(m)) | e
        i += 1
      }
    }
    java.util.Arrays.sort(out)
    out
  }

  private def key(bandIdx: Int, value: Long): Long =
    ((bandIdx.toLong << chunkBits) | value) << entryBits

  /** Verified (ra < rb, dist) pairs of scanned rows (c_ord, c_low, the w
    * hash longs), each looked up at every one of its m chunks: per-side
    * limit — either side low-confidence ⇒ dist 0 — and never a rep with
    * itself. Walks each chunk's run of equal-key table words; allocates
    * only the emitted pairs. */
  def probe(rows: Iterator[Row]): Iterator[(Long, Long, Int)] =
    if (table.isEmpty) Iterator.empty
    else new Iterator[(Long, Long, Int)] {
      private[this] val t = table
      private[this] val c = new Array[Long](w)
      private[this] var cOrd = 0L
      private[this] var cLow = false
      private[this] var k = numChunks // the current row's next chunk
      private[this] var run = 0L      // the current chunk's key, entry bits 0
      private[this] var i = t.length  // its next table word
      private[this] var pending: (Long, Long, Int) = null

      def hasNext: Boolean = {
        while (pending == null) {
          if (i < t.length && (t(i) & ~entryMask) == run) {
            val e = (t(i) & entryMask).toInt
            i += 1
            if (ords(e) != cOrd) {
              var d = 0
              var j = 0
              while (j < w) { d += java.lang.Long.bitCount(hashes(e * w + j) ^ c(j)); j += 1 }
              if (d <= (if (low(e) || cLow) 0 else threshold))
                pending = (math.min(ords(e), cOrd), math.max(ords(e), cOrd), d)
            }
          } else if (k < numChunks) {
            run = key(k, chunk(c, 0, k))
            i = lowerBound(t, run)
            k += 1
          } else if (rows.hasNext) {
            val r = rows.next()
            cOrd = r.getLong(0)
            cLow = r.getBoolean(1)
            var j = 0
            while (j < w) { c(j) = r.getLong(2 + j); j += 1 }
            k = 0
          } else return false
        }
        true
      }

      def next(): (Long, Long, Int) = {
        if (!hasNext) throw new NoSuchElementException
        val p = pending
        pending = null
        p
      }
    }

  private def lowerBound(t: Array[Long], x: Long): Int = {
    var (lo, hi) = (0, t.length)
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (t(mid) < x) lo = mid + 1 else hi = mid
    }
    lo
  }
}

private[graft] object ProbeBall {
  /** Bits of a table entry index, with the packed word's budget enforced:
    * band_idx bits + chunk bits + entry bits ≤ 64. */
  def entryBits(numChunks: Int, chunkBits: Int, entries: Int): Int = {
    def bits(n: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(math.max(n - 1, 1L))
    val eb = bits(entries.toLong)
    require(bits(numChunks.toLong) + chunkBits + eb <= 64,
      s"probe ball key: ${bits(numChunks.toLong)} band_idx bits + $chunkBits chunk " +
        s"bits + $eb entry bits ($entries entries) exceed 64")
    eb
  }
}
