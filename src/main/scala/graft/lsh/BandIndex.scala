package graft.lsh

import graft.ckpt.Store
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
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
 * IN-MEMORY PROBING: a delta whose probe ball fits [[MaxProbeBallDraws]]
 * (a delta of up to ~110 distinct images at the default threshold over 16-bit
 * chunks) is never exploded into rows. Its representatives are collected
 * once and broadcast; each index-scan task holds the ball as one sorted
 * primitive table and looks every scanned row up in it — the reference's
 * in-memory mask walk (hamminghash.rs:82-149, scanner.rs:1729-1767). The
 * index is scanned (columnar, embarrassingly parallel) and only verified
 * pairs leave the tasks. A larger ball takes the exploded sort-merge
 * join, see [[probe]].
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

  /** Probe-ball budget: the most (variant × chunk × mask) draws a delta's
    * probe ball may hold for the in-memory probe, whose table packs one
    * draw per 8-byte word (~16 MB per executor at the cap). A larger ball
    * takes the sort-merge join, which spills instead. */
  final val MaxProbeBallDraws = 2000000L

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
   * Two paths, chosen by one job that collects the representatives
   * (limit + 1, as connected components decide theirs):
   *  - IN MEMORY, when the probe ball holds at most [[MaxProbeBallDraws]]
   *    draws ([[ballDraws]]): the collected reps are broadcast as a
   *    [[ProbeBall]], and each task of a plain scan over the index
   *    segments ∪ the delta's own radius-0 rows looks every scanned row up
   *    in the ball's table and verifies it — the reference's in-memory
   *    mask walk (hamminghash.rs:82-149, scanner.rs:1729-1767). The ball
   *    is never exploded, shuffled or sorted as rows; no exchange precedes
   *    the group-by.
   *  - SORT-MERGE, past the budget: the ball is exploded into probe rows
   *    and sort-merge joined with the index, which spills where a larger
   *    ball's table or hash build would not fit.
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
    val confMasks = BandJoin.maskCount(tol, chunkBits)
    require(confMasks <= BandJoin.MaxMasksPerSide,
      s"threshold $threshold over a $chunkBits-bit index needs " +
        s"$confMasks probe masks/chunk (> ${BandJoin.MaxMasksPerSide}) — " +
        "rebuild the index with narrower chunks or lower the threshold")

    val (cNames, vNames) = (layout.hashNames("c"), layout.hashNames("v"))
    val vCols = vNames.map(col)
    def indexSide(rows: DataFrame): DataFrame =
      rows.select(col("band_idx") +: col("band_val") +: col("ord").as("c_ord") +:
        col("low_conf").as("c_low") +:
        layout.hashCols.zip(cNames).map { case (h, c) => col(h).as(c) }: _*)
    val idx = indexSide(read(spark, path))

    val (delta, mem) = BandJoin.collapse(deltaSig.filter(col("has_pdq")),
      (layout.hashCols :+ layout.variantsCol :+ "low_conf").map(col))
    // per rep: its variants as |variants| × hash-width longs (the ball)
    // and its stored hash (its radius-0 rows)
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
      log.info(s"band index probe: in memory (${reps.length} reps, $draws ball draws)")
      val ball = spark.sparkContext.broadcast(new ProbeBall(reps.map(_.getLong(0)),
        reps.map(_.getBoolean(1)), reps.map(_.getSeq[Long](2).toArray), w, numChunks,
        chunkBits, BandJoin.masksB(tol, chunkBits), threshold))
      val repRows = spark.createDataFrame(java.util.Arrays.asList(reps: _*), repCols.schema)
      import spark.implicits._
      idx.unionByName(indexSide(bandRows(repRows, chunkBits, algo)))
        .select(col("band_idx") +: col("band_val").cast("long") +: col("c_ord") +:
          col("c_low") +: cNames.map(col): _*)
        .mapPartitions(rows => ball.value.probe(rows))
        .toDF("ra", "rb", "dist")
        .groupBy("ra", "rb").agg(min("dist").as("dist"))
    } else {
      log.info("band index probe: sort-merge join (" +
        (if (reps.length > maxReps) s"over $maxReps reps" else s"$draws ball draws") +
        s", budget $MaxProbeBallDraws draws)")
      val prbBase = delta
        .select(col("ord"), col("low_conf").as("q_low"),
          explode(col(layout.variantsCol)).as("v"))
        .select(col("ord") +: col("q_low") +: layout.splitVariant(col("v"), vNames): _*)
      // F2 split (scanner.rs:1579-1594): confident rows expand the full
      // radius-tol ball; low-confidence rows match exact-only, so they
      // probe a SINGLE bucket per chunk (mask 0)
      def expand(base: DataFrame, radius: Int): DataFrame =
        BandJoin.bandKeys(base, vCols, radius, chunkBits)
          .withColumn("band_val", bandValTyped(col("band_val"), chunkBits))
          .select(col("band_idx") +: col("band_val") +: col("ord").as("q_ord") +:
            col("q_low") +: vCols: _*)
      val prb = expand(prbBase.filter(!col("q_low")), tol)
        .unionByName(expand(prbBase.filter(col("q_low")), 0))
      // per-side limit: either side low-confidence ⇒ exact only (F2)
      // sort-merge, as in BandJoin.exactEdges: it keeps the planner from
      // broadcasting the under-estimated explode and spills, where a hash
      // build over the probe ball fails for a large delta
      prb.hint("shuffle_merge")
        .join(idx.unionByName(indexSide(bandRows(delta, chunkBits, algo))),
          Seq("band_idx", "band_val"))
        .where(col("q_ord") =!= col("c_ord"))
        .withColumn("dist", BandJoin.hammingCols(vCols, cNames.map(col)))
        .where(col("dist") <=
          when(col("q_low") || col("c_low"), lit(0)).otherwise(lit(threshold)))
        .groupBy(least(col("q_ord"), col("c_ord")).as("ra"),
          greatest(col("q_ord"), col("c_ord")).as("rb"))
        .agg(min("dist").as("dist"))
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
 * A small delta's probe ball, held in memory by the index-scan tasks of
 * [[BandIndex.probe]]. Entry e is one variant of one representative: its
 * rep ord `ords(e)`, confidence `low(e)` and hash `hashes(e·w until
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

  @transient private lazy val table: Array[Long] = {
    val perLong = 64 / chunkBits
    val chunkMask = (1L << chunkBits) - 1
    val out = new Array[Long](low.map(l => if (l) numChunks else numChunks * masks.length).sum)
    var i = 0
    for (e <- ords.indices; k <- 0 until numChunks) {
      val chunk = (hashes(e * w + k / perLong) >>> (k % perLong) * chunkBits) & chunkMask
      // masks(0) == 0: a low-confidence entry probes its own bucket only
      for (m <- 0 until (if (low(e)) 1 else masks.length)) {
        out(i) = key(k, chunk ^ masks(m)) | e
        i += 1
      }
    }
    java.util.Arrays.sort(out)
    out
  }

  private def key(bandIdx: Int, value: Long): Long =
    ((bandIdx.toLong << chunkBits) | value) << entryBits

  /** Verified (ra < rb, dist) pairs of scanned radius-0 rows (band_idx,
    * band_val as long, c_ord, c_low, the w hash longs): per-side limit —
    * either side low-confidence ⇒ dist 0 — and never a rep with itself.
    * Walks each row's run of equal-key table words; allocates only the
    * emitted pairs. */
  def probe(rows: Iterator[Row]): Iterator[(Long, Long, Int)] =
    if (table.isEmpty) Iterator.empty
    else new Iterator[(Long, Long, Int)] {
      private[this] val t = table
      private[this] val c = new Array[Long](w)
      private[this] var run = 0L     // the current row's key, entry bits 0
      private[this] var i = t.length // its next table word
      private[this] var cOrd = 0L
      private[this] var cLow = false
      private[this] var pending: (Long, Long, Int) = null

      def hasNext: Boolean = {
        while (pending == null) {
          if (i < t.length && (t(i) & ~entryMask) == run) {
            val e = (t(i) & entryMask).toInt
            i += 1
            if (ords(e) != cOrd) {
              var d = 0
              var k = 0
              while (k < w) { d += java.lang.Long.bitCount(hashes(e * w + k) ^ c(k)); k += 1 }
              if (d <= (if (low(e) || cLow) 0 else threshold))
                pending = (math.min(ords(e), cOrd), math.max(ords(e), cOrd), d)
            }
          } else if (rows.hasNext) {
            val r = rows.next()
            run = key(r.getInt(0), r.getLong(1))
            i = lowerBound(t, run)
            if (i < t.length && (t(i) & ~entryMask) == run) {
              cOrd = r.getLong(2)
              cLow = r.getBoolean(3)
              var k = 0
              while (k < w) { c(k) = r.getLong(4 + k); k += 1 }
            }
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
