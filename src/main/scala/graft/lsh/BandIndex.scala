package graft.lsh

import graft.ckpt.Store
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Persisted band index — the Iceberg-shaped inverted index that makes
 * dedup INCREMENTAL at corpus scale (the Spark answer to the reference's
 * LMDB cache chain, scanner.rs:1251-1294 + hamminghash.rs:82-149): instead
 * of re-exploding all N images per run, the corpus's exact chunk keys
 * per image are written once as a **range-partitioned, sorted** table;
 * a delta of new images expands its probe keys (8 dihedral variants ×
 * chunks × radius-tol masks — the reference's probe-side scheme,
 * scanner.rs:1729-1767) and equi-joins the index plus its own radius-0
 * keys, so one probe finds every edge the delta brings.
 *
 * Why repartitionByRange on (band_idx, band_val) + sortWithinPartitions:
 * every parquet file then covers a tight contiguous key range, so file /
 * row-group min-max statistics prune probe scans (each probe batch
 * touches the narrow slice of files its band values fall in), compaction
 * stays local, and the 10^12-scale table can be split/merged by key range
 * — none of which hash partitioning gives. Storage is radius-0 (one row
 * per chunk per image, like the reference's MIH buckets); the multi-probe
 * masks stay on the small delta side.
 *
 * O(delta) PROBING (round 4): when the delta's probe-key set is small
 * relative to the band-key space, the index side is SEMI-FILTERED by a
 * broadcast of the exact probed keys before the join — the index is then
 * scanned (columnar, embarrassingly parallel, nothing materializes) but
 * only the rows in probed buckets are ever exchanged, which is precisely
 * the set of entries the reference's LMDB point lookups touch
 * (scanner.rs:1729-1767). When the probe ball saturates the key space
 * (high threshold over 16-bit chunks), every bucket genuinely holds
 * candidates — the reference's lookups touch every bucket too — and the
 * filter is skipped as pure overhead. The gate is arithmetic (no extra
 * jobs beyond one delta-sized count), see [[probe]].
 *
 * Layout: a directory of SEGMENT subdirectories (`seg_*`) committed and
 * compacted through [[graft.ckpt.Store]] — the Iceberg-snapshot-commit
 * analog. A resumed append with the same segment name is a no-op once the
 * segment exists, so appends are exactly-once without any side marker.
 *
 * TWO HASH ALGORITHMS (round 4): an index is built for either the 256-bit
 * PDQ hash (h0..h3, chunk widths 16/32) or the 64-bit DCT pHash
 * (`phash64`, widths 8/16 — HammingHash<u64> semantics,
 * hamminghash.rs:23-41). The algorithm is frozen into `_meta` at build
 * alongside the chunk width and names a [[HashLayout]]; the chunker, the
 * variant expansion (`variants` / `phash_variants` — store-1/query-8
 * either way), the mask explode and the Hamming verify are the
 * [[BandJoin]] core's, over that layout.
 *
 * Semantics match the full-join path including the low-quality gate
 * (scanner.rs:1579-1594): low-confidence rows are indexed and probed at
 * per-side limit 0 (exact match only, SINGLE bucket per chunk — their
 * probe keys expand no masks), confident rows at the threshold.
 */
object BandIndex {
  final val BaseSegment = "seg_base"
  final val AlgoPdq = "pdq"
  final val AlgoPhash64 = "phash64"

  /** Broadcast-key-prefilter cap: the probed (band_idx, band_val) set is
    * broadcast for an index semi-join only below this many keys (~24 MB of
    * (int, long) rows). Above it the probe falls back to the full shuffled
    * join — which is the right plan there, because a key set that large
    * only arises when the probe ball covers most buckets anyway. */
  final val MaxKeyFilterRows = 2000000L

  /** Range partitions per written segment (the file count of a base or
    * compacted segment). */
  private final val NumPartitions = 32

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  // ---- persisted chunk width + algorithm -------------------------------
  // The index stores radius-0 keys, so probe masks all live on the delta
  // side: covering chunk tolerance ⌊t/m⌋ needs V(tol, b) masks per chunk
  // (no radius split is possible against a pre-materialized index). At
  // 16-bit (reference parity) that caps cleanly for any t ≤ 63; at 32-bit
  // chunks (the ≥10⁹-row build: 2¹⁶× sparser buckets, SCALING.md) the
  // probe-side mask cap limits t ≤ 31 — checked at probe time. Width and
  // algorithm are written once at build (exclusive meta files) and every
  // later append/probe reads them, so an index can never hold mixed keys.

  private def metaPath(path: String) = s"$path/_meta_chunk_bits"
  private def algoPath(path: String) = s"$path/_meta_algo"

  private def readMeta(spark: SparkSession, p: String): Option[String] =
    Store.read(spark, p).map(_.trim)

  private def writeMetaOnce(spark: SparkSession, p: String, value: String,
                            what: String): Unit = {
    val committed = Store.writeOnce(spark, p, value).trim
    require(committed == value, s"band index $what is $committed; cannot use $value")
  }

  /** Chunk width this index was built with (16 when the marker predates
    * the knob — every pre-round-3 index is 16-bit PDQ). */
  def chunkBitsOf(spark: SparkSession, path: String): Int =
    readMeta(spark, metaPath(path)).map(_.toInt).getOrElse(BandJoin.BitsPerChunk)

  /** Hash algorithm this index was built for ([[AlgoPdq]] when the marker
    * predates the knob — pre-round-4 indexes are all PDQ). */
  def algoOf(spark: SparkSession, path: String): String =
    readMeta(spark, algoPath(path)).getOrElse(AlgoPdq)

  /** True when the index has at least one committed segment. */
  def exists(spark: SparkSession, path: String): Boolean =
    Store.segments(spark, path).nonEmpty

  /** The full index as a DataFrame (union of committed segments). */
  def read(spark: SparkSession, path: String): DataFrame = {
    val segs = Store.segments(spark, path)
    require(segs.nonEmpty, s"band index at $path has no committed segments")
    spark.read.parquet(segs: _*)
  }

  /** 16-bit values keep the historical INT band_val column (a pre-r3
    * segment and an r3 append must share one parquet schema within an
    * index dir); wider chunks need LONG and only occur in new indexes. */
  private def bandValTyped(c: Column, chunkBits: Int) =
    if (chunkBits <= 16) c.cast("int") else c

  /** Radius-0 band rows of hash-carrying `rows`, with the layout's hash
    * columns beside each key (what the in-join Hamming verify needs). */
  private def bandRows(rows: DataFrame, chunkBits: Int, algo: String): DataFrame = {
    val hs = HashLayout.of(algo).hashCols.map(col)
    rows.select(col("ord") +: col("low_conf") +: hs: _*)
      .select(col("*"),
        posexplode(BandJoin.chunksArrayB(hs, chunkBits))
          .as(Seq("band_idx", "band_val")))
      .withColumn("band_val", bandValTyped(col("band_val"), chunkBits))
  }

  /** The segment layout: range-partitioned and sorted on the band key. */
  private def rangeSorted(rows: DataFrame): DataFrame =
    rows.repartitionByRange(NumPartitions, col("band_idx"), col("band_val"))
      .sortWithinPartitions("band_idx", "band_val")

  // ---- per-segment max-ord sidecars (round-4 VERDICT #3) ---------------
  // The index/signature consistency audit needs the index's max ord every
  // incremental run; computing it used to scan every segment's ord column
  // — a shuffle-free columnar read, but still O(corpus) per delta at 10⁹
  // images. Each committed segment now carries a `_segmax_<segName>`
  // sidecar holding its max ord (written right after the segment commits,
  // derived from the pre-explode input in the same lineage), so the audit
  // costs one directory listing plus tiny file reads — zero Spark jobs.
  // Legacy segments self-heal: a missing sidecar triggers ONE single-
  // segment single-column scan that backfills it. A crash between commit
  // and sidecar write likewise just means one self-heal scan later — the
  // sidecar is derived metadata, never load-bearing for correctness.

  private def segMaxPath(path: String, segName: String) = s"$path/_segmax_$segName"

  private def writeSegMax(spark: SparkSession, path: String, segName: String,
                          mo: Long): Unit =
    writeMetaOnce(spark, segMaxPath(path, segName), mo.toString, s"max ord of $segName")

  private def maxOrdOf(rows: DataFrame): Long = {
    val r = rows.agg(max("ord")).head()
    if (r.isNullAt(0)) -1L else r.getLong(0)
  }

  private def segMaxOrd(spark: SparkSession, path: String, segPath: String): Long = {
    val segName = new Path(segPath).getName
    readMeta(spark, segMaxPath(path, segName)) match {
      case Some(v) => v.toLong
      case None => // legacy / crash-window segment — scan once, backfill
        val mo = maxOrdOf(spark.read.parquet(segPath))
        writeSegMax(spark, path, segName, mo)
        mo
    }
  }

  /** Commit one segment ([[Store.commitSegment]]) and its sidecar; an
    * already committed segment is left untouched, without any job. */
  private def writeSegment(sig: DataFrame, path: String, segName: String): Unit = {
    val spark = sig.sparkSession
    val rows = sig.filter(col("has_pdq"))
    // segment rows = has_pdq rows × chunks, so the segment's max ord is
    // computable from the narrow pre-explode input
    if (Store.commitSegment(spark, path, segName)(
        rangeSorted(bandRows(rows, chunkBitsOf(spark, path), algoOf(spark, path)))))
      writeSegMax(spark, path, segName, maxOrdOf(rows))
  }

  /** Build the index from a full corpus (base segment). `chunkBits` is
    * frozen into the index (PDQ: 16 = reference parity, 32 = the
    * ≥10⁹-row build — probes then require threshold ≤ 31; pHash: 8 =
    * reference parity, 16 = the ≥10⁵-row build). `algo` selects the hash
    * the index bands on and is frozen alongside. */
  def build(sig: DataFrame, path: String,
            chunkBits: Int = BandJoin.BitsPerChunk,
            algo: String = AlgoPdq): Unit = {
    require(algo == AlgoPdq || algo == AlgoPhash64,
      s"unknown band index algorithm '$algo' ($AlgoPdq | $AlgoPhash64)")
    val spark = sig.sparkSession
    writeMetaOnce(spark, algoPath(path), algo, "algorithm")
    writeMetaOnce(spark, metaPath(path), chunkBits.toString, "chunk width")
    writeSegment(sig, path, BaseSegment)
  }

  /** Append a delta's band keys as a new named segment (width + algorithm
    * come from the index's own metadata). `segName` is the idempotency
    * key: pass one derived from the delta run identity so a crashed-and-
    * resumed append commits exactly once. */
  def append(sig: DataFrame, path: String, segName: String = "seg_delta"): Unit =
    writeSegment(sig, path, segName)

  /**
   * Compact all committed segments into one (the Iceberg rewrite-data-files
   * analog): after many deltas the index is N small range-sorted segments,
   * each probed file-by-file; compaction restores one tight global range
   * order ([[Store.compactSegments]]). A crash between commit and deletes
   * leaves duplicate band rows — semantically benign (probe dedups via
   * groupBy/min) and removed by the next compact; the index is never
   * unreadable or missing keys at any point.
   */
  def compact(spark: SparkSession, path: String): Unit =
    Store.compactSegments(spark, path)(
      // row-identical dups from a prior crash window
      all => rangeSorted(all.dropDuplicates()),
      // the merged sidecar derives from the inputs' sidecars
      // (metadata-only) BEFORE any input is deleted
      (merged, inputs) =>
        writeSegMax(spark, path, merged, inputs.map(segMaxOrd(spark, path, _)).max)
    ).foreach { case (_, inputs) =>
      val f = Store.fs(spark, path)
      inputs.foreach(s => f.delete(new Path(segMaxPath(path, new Path(s).getName)), false))
    }

  /** Highest ord present in the index, or -1 when empty — the indexed-ord
    * ceiling used to audit index/signature consistency (a lagging index
    * means committed signatures whose keys were never appended). Reads
    * per-segment sidecars only: zero Spark jobs once they exist. */
  def maxOrd(spark: SparkSession, path: String): Long = {
    val segs = Store.segments(spark, path)
    require(segs.nonEmpty, s"band index at $path has no committed segments")
    segs.map(s => segMaxOrd(spark, path, s)).max
  }

  // ---- chunk-width lifecycle (round-4 VERDICT #4) ----------------------

  /** Auto chunk width for an index BUILD (shared by Incremental's first
    * build and [[maybeWiden]]): wide only when the corpus is past the
    * parity width's degeneracy cutoff AND the probe ball still fits the
    * mask cap at the operating threshold — the index stores radius-0
    * keys, so the whole ball is probe-side. Cutoffs are parameters so
    * tests can cross them with small corpora. */
  def autoBuildBits(algo: String, nConf: Long, threshold: Int,
                    wideCutoff: Long = BandJoin.AutoWideCutoff,
                    wideCutoff64: Long = BandJoin64.AutoWideCutoff): Int = {
    val l = HashLayout.of(algo)
    val cutoff = if (l == HashLayout.Phash64) wideCutoff64 else wideCutoff
    if (nConf > cutoff && BandJoin.maskCount(threshold / l.numChunks(l.wideBits),
      l.wideBits) <= BandJoin.MaxMasksPerSide) l.wideBits
    else l.parityBits
  }

  /** Rebuild this index at `newBits` from the corpus signatures — an
    * explicit O(corpus) maintenance operation. Protocol: build a complete
    * staged index beside the live one, then swap with two renames. A crash
    * between the renames leaves NO live index; the next incremental run
    * sees the absence and rebuilds from corpus signatures (self-healing),
    * so no window ever serves wrong results — only, at worst, a repeated
    * rebuild. */
  def rebuildWidth(spark: SparkSession, path: String, sig: DataFrame,
                   newBits: Int): Unit = {
    val algo = algoOf(spark, path)
    val f = Store.fs(spark, path)
    val staging = new Path(s"$path.rebuild")
    f.delete(staging, true)
    build(sig, staging.toString, newBits, algo)
    val trash = new Path(s"$path.old")
    f.delete(trash, true)
    if (!f.rename(new Path(path), trash))
      throw new java.io.IOException(s"width rebuild: cannot retire $path")
    if (!f.rename(staging, new Path(path)))
      throw new java.io.IOException(s"width rebuild: cannot swap in $staging")
    f.delete(trash, true)
  }

  /** Width lifecycle across the degeneracy cutoff: chunkBits is frozen at
    * first build, so a corpus that grows 10⁵ → 10⁸ would keep parity-width
    * buckets forever even though every batch join would auto-pick the wide
    * width. Called from maintenance (MaintenanceCli / the auto-compact
    * hook): when the CURRENT confident-row count crosses the cutoff and
    * the operating threshold's probe ball fits the wide masks, the index
    * is rebuilt at the auto width. Only ever widens — a narrow index stays
    * correct at any size, just skewed. Returns the new width when a
    * rebuild happened. */
  def maybeWiden(spark: SparkSession, path: String, sig: DataFrame,
                 threshold: Int,
                 wideCutoff: Long = BandJoin.AutoWideCutoff,
                 wideCutoff64: Long = BandJoin64.AutoWideCutoff): Option[Int] = {
    val cur = chunkBitsOf(spark, path)
    val nConf = sig.filter(col("has_pdq") && !col("low_conf")).count()
    val want = autoBuildBits(algoOf(spark, path), nConf, threshold,
      wideCutoff, wideCutoff64)
    if (want > cur) {
      log.info(s"widening band index $path: $cur-bit -> $want-bit chunks " +
        s"($nConf confident rows past the cutoff)")
      rebuildWidth(spark, path, sig, want)
      Some(want)
    } else None
  }

  /**
   * Probe the persisted index with a delta: every verified duplicate edge
   * a delta row has in corpus ∪ delta (a < b, min dist per pair),
   * per-side low-confidence limits applied. Delta ords must be disjoint
   * from the index's (a delta's ords start past the corpus max). The delta
   * expands probe keys at the full chunk tolerance (pigeonhole over the
   * chunks, exhaustive recall ≤ 63); low-confidence delta rows expand NO
   * masks (exact-only per F2, so they pay one bucket per chunk, not the
   * whole radius ball — scanner.rs:1579-1594 probes low-quality hashes at
   * limit 0).
   *
   * The delta's own radius-0 rows join the index side, so a pair inside
   * the delta is probed in both directions — each row sits on both sides
   * — which is the batch join's symmetric probing; no second band join
   * over the delta is needed. Delta rows sharing hash, variants and
   * confidence collapse to one representative first ([[BandJoin.collapse]]),
   * so k byte-identical copies cost one probe, not k² collisions.
   *
   * Index-side cost: when the probed key set is provably ≤
   * [[MaxKeyFilterRows]] AND below half the band-key space (so pruning
   * can actually bite), the exact key set is broadcast and the index is
   * semi-joined BEFORE the main join — the full index is scanned but only
   * rows in probed buckets shuffle, making the exchange O(touched
   * entries) like the reference's LMDB lookups instead of O(corpus).
   * Both gates are arithmetic from one delta-sized count.
   */
  def probe(spark: SparkSession, path: String, deltaSig: DataFrame,
            threshold: Int): DataFrame = {
    val algo = algoOf(spark, path)
    val layout = HashLayout.of(algo)
    val chunkBits = chunkBitsOf(spark, path)
    val numChunks = layout.numChunks(chunkBits)
    val tol = BandJoin.chunkTolerance(layout, threshold, chunkBits)
    // the index side is radius-0, so the whole probe ball sits on the
    // delta — feasibility is arithmetic-checked BEFORE any mask array
    // materializes (at 32-bit chunks this limits threshold ≤ 31:
    // V(4,32) = 41k fits, V(5,32) = 242k does not)
    require(BandJoin.maskCount(tol, chunkBits) <= BandJoin.MaxMasksPerSide,
      s"threshold $threshold over a $chunkBits-bit index needs " +
        s"${BandJoin.maskCount(tol, chunkBits)} probe masks/chunk " +
        s"(> ${BandJoin.MaxMasksPerSide}) — rebuild the index with " +
        "narrower chunks or lower the threshold")

    val (cNames, vNames) = (layout.hashNames("c"), layout.hashNames("v"))
    val vCols = vNames.map(col)
    def indexSide(rows: DataFrame): DataFrame =
      rows.select(col("band_idx") +: col("band_val") +: col("ord").as("c_ord") +:
        col("low_conf").as("c_low") +:
        layout.hashCols.zip(cNames).map { case (h, c) => col(h).as(c) }: _*)
    val idx = indexSide(read(spark, path))

    val (delta, mem) = BandJoin.collapse(deltaSig.filter(col("has_pdq")),
      (layout.hashCols :+ layout.variantsCol :+ "low_conf").map(col))
    val prbBase = delta
      .select(col("ord"), col("low_conf").as("q_low"),
        explode(col(layout.variantsCol)).as("v"))
      .select(col("ord") +: col("q_low") +: layout.splitVariant(col("v"), vNames): _*)

    // F2 split (scanner.rs:1579-1594): confident rows expand the full
    // radius-tol ball; low-confidence rows match exact-only, so they probe
    // a SINGLE bucket per chunk (mask 0) instead of paying V(tol, bits)
    // exploded keys that the dist ≤ 0 filter would discard anyway
    def expand(base: DataFrame, radius: Int): DataFrame =
      BandJoin.bandKeys(base, vCols, radius, chunkBits)
        .withColumn("band_val", bandValTyped(col("band_val"), chunkBits))
        .select(col("band_idx") +: col("band_val") +: col("ord").as("q_ord") +:
          col("q_low") +: vCols: _*)
    val prb = expand(prbBase.filter(!col("q_low")), tol)
      .unionByName(expand(prbBase.filter(col("q_low")), 0))

    // O(delta) gate: expected probed keys, arithmetically (saturating).
    // draws = variant rows × chunks × masks; distinct keys ≤ min(draws,
    // key space). Engage the broadcast semi-filter only when the EXACT
    // key set is broadcastable AND sparse in the key space (draws ≤
    // space/2 ⇒ ≥39% of buckets provably untouched; past that the ball
    // covers most buckets and filtering is overhead with no pruning).
    val counts = delta.agg(count(lit(1)),
      count(when(col("low_conf"), lit(1)))).head()
    val (nDelta, nLow) = (counts.getLong(0), counts.getLong(1))
    val confMasks = BandJoin.maskCount(tol, chunkBits)
    val draws = {
      val perConf = 8L * numChunks * confMasks
      val perLow = 8L * numChunks
      val conf = nDelta - nLow
      if (conf > 0 && perConf > Long.MaxValue / conf) Long.MaxValue
      else conf * perConf + nLow * perLow
    }
    val keySpace =
      if (chunkBits >= 62) Long.MaxValue
      else numChunks.toLong * (1L << chunkBits)
    val idxSide =
      if (draws <= MaxKeyFilterRows && 2 * draws <= keySpace) {
        log.info(s"band index probe: semi-filtering index by ~$draws probed " +
          s"keys (space $keySpace) — exchange is O(touched buckets)")
        val keys = prb.select("band_idx", "band_val").distinct()
        idx.join(broadcast(keys), Seq("band_idx", "band_val"), "left_semi")
      } else {
        log.info(s"band index probe: full join (~$draws probe-key draws vs " +
          s"key space $keySpace — ball covers most buckets, filter would not prune)")
        idx
      }

    // per-side limit: either side low-confidence ⇒ exact only (F2)
    // sort-merge, as in BandJoin.exactEdges: it keeps the planner from
    // broadcasting the under-estimated explode and spills, where a hash
    // build over the probe ball (~17.5k rows per delta image at t = 40)
    // fails for a large delta
    val repEdges = prb.hint("shuffle_merge")
      .join(idxSide.unionByName(indexSide(bandRows(delta, chunkBits, algo))),
        Seq("band_idx", "band_val"))
      .where(col("q_ord") =!= col("c_ord"))
      .withColumn("dist", BandJoin.hammingCols(vCols, cNames.map(col)))
      .where(col("dist") <=
        when(col("q_low") || col("c_low"), lit(0)).otherwise(lit(threshold)))
      .groupBy(least(col("q_ord"), col("c_ord")).as("ra"),
        greatest(col("q_ord"), col("c_ord")).as("rb"))
      .agg(min("dist").as("dist"))
    BandJoin.expandReps(repEdges, mem)
  }
}
