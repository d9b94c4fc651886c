package graft.lsh

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * LSH-banded candidate generation + Hamming verification — the Spark-native
 * re-expression of the reference's Multi-Index-Hashing probe
 * (hamminghash.rs:82-149 index, scanner.rs:1640-1776 probe loop).
 *
 * Shape: the CSR inverted index becomes an `explode` of the 16 little-endian
 * u16 chunks of the 256-bit hash into (band_idx, band_val) keys; the
 * pigeonhole multi-probe (R-bit flips of the queried chunk) becomes a second
 * `explode` over XOR masks; candidate generation is a self equi-join on the
 * band key; verification is a pure-Catalyst `bit_count(xor)` residual over
 * the hash carried as 4 longs — the whole verify filter stays inside
 * whole-stage codegen.
 *
 * Scale notes (the parts the single-process reference never needed):
 *  - The probe radius is SPLIT between the two join sides: covering chunk
 *    distance `tol` needs radius-r_i flips on the index side and r_p on the
 *    probe side with r_i + r_p = tol (triangle inequality over the 16-bit
 *    chunk). Probe-side-only (the reference's choice, free in RAM) would
 *    shuffle 1+16+120=137 keys/chunk at tol=2; the (1,1) split shuffles
 *    17 keys/chunk on each side — ~7× less exploded volume with identical
 *    recall.
 *  - Low-quality (quality<50) hashes are exact-match-only
 *    (scanner.rs:1579-1594). They are excluded from the fuzzy join entirely
 *    and handled by a linear-cost star join on exact hash equality — this
 *    removes the worst skew source (near-flat images collapse onto a few
 *    band values) *before* the shuffle instead of salting it after.
 *  - Exact (distance-0) matching builds STAR edges per identical hash via
 *    groupBy + min instead of pairwise edges: a cluster of k byte-identical
 *    images costs k edges, not k²/2, with the same connected components.
 *  - AQE skew-join splitting is enabled session-wide for the residual skew.
 *
 * One core serves both hash widths (the reference's `HammingHash` for the
 * 256-bit PDQ hash and for the u64 pHash, hamminghash.rs:23-149): every
 * entry point takes a [[HashLayout]] naming the hash columns, the variant
 * column and the chunk widths; [[BandJoin64]] and [[BandIndex]] bind it.
 */
object BandJoin {
  final val NumChunks = 16
  final val BitsPerChunk = 16

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Confident-row count above which 16-bit chunks degenerate: E[bucket] =
    * n/2¹⁶, so expected collision volume grows as n²/2¹⁶ per chunk — at
    * n=10⁷ that is ~10¹⁰ rows before the verify filter. Past this, auto
    * width switches to 32-bit chunks (the SCALING.md configuration:
    * Norouzi m ≈ 256/log₂n, CVPR'12). */
  final val AutoWideCutoff = 10000000L

  /** MIH chunk width from corpus size — used when callers pass
    * `chunkBits = 0` (auto). 16 = reference parity, right up to ~10⁷
    * confident rows; 32 = the ≥10⁷ setting (identical edge set by
    * pigeonhole, proven by LshSpec width-equality). */
  def autoChunkBits(n: Long): Int = HashLayout.Pdq.autoChunkBits(n)

  /** XOR masks within Hamming radius r of a 16-bit value (r ∈ 0..2 used;
    * r=3 supported for threshold 48..63, scanner.rs:1755-1767). */
  def masks(radius: Int): Array[Int] =
    masksB(radius, BitsPerChunk).map(_.toInt)

  /** Hard cap on XOR masks materialized per explode side: the masks become
    * a `lit` array in the plan, so an unbounded radius×width combination
    * (e.g. 64-bit chunks at tol 15 → ~10¹³ masks) must fail fast instead of
    * hanging the driver. 697 (16-bit R=3, reference parity) and 5.5k
    * (32-bit r=3, the SCALING.md split) sit comfortably below it. */
  final val MaxMasksPerSide = 65536L

  /** Rows-per-band-bucket past which AUTO salting engages: 200k index rows
    * on one (band_idx, band_val) key is a multi-GB single-key join task —
    * beyond what AQE skew-split absorbs comfortably and the SURVEY §4
    * adversarial scenario (a corpus of near-flat images collapsing onto a
    * few chunk values). Below it, AQE's partition-level splitting is
    * enough (measured 27× bench-corpus skew absorbed; BASELINE.md
    * "Band-join candidate volume"). */
  final val SaltBucketCap = 200000L

  /** Ceiling on the derived salt factor: probe rows replicate ×S, so an
    * unbounded factor would trade one skew problem for explode volume. */
  final val MaxSaltFactor = 32

  /** Confident-row floor below which auto mode skips the occupancy
    * measurement entirely: with ≤ 2M rows no bucket can exceed 10× the
    * cap, AQE's partition-level skew split absorbs that comfortably
    * (measured 27× bench-corpus skew; BASELINE.md "Band-join candidate
    * volume"), and the
    * measurement pass would be a visible fraction of the whole join. Past
    * the floor the join itself costs minutes and the one extra agg is
    * noise. */
  final val AutoSaltMinRows = 2000000L

  /** Row budget for the exact ball-occupancy agg inside [[autoSaltFactor]]:
    * collapsed radius-0 occupancy rows × rIdx mask multiplicity. 256M
    * skinny (int, long, long) rows agg in seconds at local[32]; past it
    * (only reachable at 32-bit chunks over ~10⁸⁺ distinct chunk values)
    * the conservative upper bound is used instead. */
  final val BallAggBudget = 256000000L

  /** Ceiling on the TARGETED-salt hot-key set: past it (≤ n·numChunks/cap
    * keys can exceed the cap, so ~10⁸ rows at 16-bit) the InSet literal
    * stops being cheap to ship per task and global salting takes over. */
  final val MaxHotKeys = 100000

  /** Combined (band_idx, band_val) key for hot-key membership tests —
    * collision-free while band_val < 2³², i.e. chunkBits ≤ 32. */
  private def combinedKey(idx: Column, value: Column): Column =
    idx.cast("long") * lit(1L << 32) + value

  /** AUTO salt factor (`saltFactor = 0`): top JOIN-KEY bucket occupancy
    * over the confident rows, divided by [[SaltBucketCap]].
    *
    * The index side builds keys at radius `rIdx`, so the bucket the join
    * task actually sees at key (i, v) holds every row whose chunk lies in
    * the Hamming ball B(v, rIdx) — radius-0 occupancy alone lower-bounds
    * it by up to the ball size |B(rIdx)| (round-4 ADVICE: the undershoot
    * hits precisely the near-flat adversarial corpora salting targets,
    * where the degenerate mass spreads across a few neighboring chunk
    * values). So: one cheap agg collapses the corpus to the radius-0
    * occupancy table (≤ numChunks·2^chunkBits rows), then, only when the
    * measured max COULD breach the cap after ball expansion, a second agg
    * over that collapsed table × the rIdx masks computes the exact ball
    * occupancy Σ_m occ0(i, v⊕m). The corpus itself is never mask-exploded
    * for the measurement. Falls back to the conservative upper bound
    * max₀·|B(rIdx)| (over-salting is recall-neutral) if the occupancy
    * table itself is too wide for the budget. */
  private[graft] def autoSaltFactor(layout: HashLayout, conf: DataFrame,
                                    chunkBits: Int, rIdx: Int = 0,
                                    cap: Long = SaltBucketCap): Int =
    autoSalt(layout, conf, chunkBits, rIdx, cap)._1

  /** AUTO salt decision: (factor, hot-key set). The key set — join keys
    * whose ball occupancy exceeds the cap — enables TARGETED salting:
    * only rows landing on a hot key are split/replicated, so the probe
    * side pays ×S on the degenerate mass alone instead of on the whole
    * corpus. None ⇒ salt globally (set too large to ship, conservative
    * fallback path, or 64-bit chunks where keys can't be combined). */
  private def autoSalt(layout: HashLayout, conf: DataFrame, chunkBits: Int,
                       rIdx: Int, cap: Long): (Int, Option[Array[Long]]) = {
    val occ0 = conf
      .select(posexplode(chunksArrayB(layout.hashCols.map(col), chunkBits))
        .as(Seq("band_idx", "band_val")))
      .groupBy("band_idx", "band_val").agg(count(lit(1)).as("n"))
    val mc = maskCount(rIdx, chunkBits)
    def headMax(df: DataFrame): Long = {
      val r = df.head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    // hot join keys from an occupancy table keyed (band_idx, key, occ)
    def hotKeys(occ: DataFrame, keyCol: String, occCol: String): Option[Array[Long]] =
      if (chunkBits > 32) None
      else {
        val ks = occ.where(col(occCol) > cap)
          .select(combinedKey(col("band_idx"), col(keyCol)))
          .limit(MaxHotKeys + 1).collect().map(_.getLong(0))
        if (ks.length > MaxHotKeys) {
          log.warn(s"${ks.length}+ hot band buckets exceed the $cap cap — " +
            "past the targeted-salt key budget, salting globally")
          None
        } else Some(ks)
      }
    val (bmax, keys) =
      if (mc <= 1L) {
        occ0.persist()
        try {
          val m = headMax(occ0.agg(max("n")))
          (m, if (m > cap) hotKeys(occ0, "band_val", "n") else None)
        } finally occ0.unpersist()
      } else {
        occ0.persist()
        try {
          val h = occ0.agg(max("n"), count(lit(1))).head()
          val max0 = if (h.isNullAt(0)) 0L else h.getLong(0)
          val occRows = h.getLong(1)
          if (max0 == 0L || max0 > cap / mc && occRows * mc > BallAggBudget) {
            if (max0 * mc > cap)
              log.warn(s"radius-0 occupancy table too wide for the exact " +
                s"ball agg ($occRows rows × $mc masks > $BallAggBudget) — " +
                s"using the conservative bound ${max0 * mc}")
            (if (max0 > Long.MaxValue / mc) Long.MaxValue else max0 * mc, None)
          } else if (max0 * mc <= cap)
            (max0 * mc, None) // cannot breach even if the whole ball were max-size
          else {
            val ball = occ0
              .withColumn("m", explode(lit(masksB(rIdx, chunkBits))))
              .groupBy(col("band_idx"),
                col("band_val").bitwiseXOR(col("m")).as("ball_val"))
              .agg(sum("n").as("bn")).persist()
            try {
              val m = headMax(ball.agg(max("bn")))
              (m, if (m > cap) hotKeys(ball, "ball_val", "bn") else None)
            } finally ball.unpersist()
          }
        } finally occ0.unpersist()
      }
    val s = math.min(MaxSaltFactor.toLong, (bmax + cap - 1) / cap).toInt
    if (s > 1)
      log.info(s"hot radius-$rIdx band bucket has $bmax rows (cap $cap) — " +
        s"auto-engaging salt factor $s over " +
        keys.fold("ALL keys (global)")(k => s"${k.length} hot keys (targeted)"))
    (math.max(s, 1), keys.filter(_ => s > 1))
  }

  /** Index-side salt column: pmod(ord, S) on hot keys (or everywhere
    * when `hotKeys` is None), 0 elsewhere. */
  private[lsh] def saltIndexCol(saltF: Int, hotKeys: Option[Array[Long]],
                                ord: Column): Column = hotKeys match {
    case Some(ks) =>
      when(combinedKey(col("band_idx"), col("band_val")).isin(ks.map(Long.box): _*),
        pmod(ord, lit(saltF))).otherwise(lit(0)).cast("int")
    case None => pmod(ord, lit(saltF)).cast("int")
  }

  /** Probe-side salt values to explode: all S on hot keys (or everywhere
    * when `hotKeys` is None), the single 0 elsewhere. */
  private[lsh] def saltProbeCol(saltF: Int, hotKeys: Option[Array[Long]]): Column = {
    val all = lit((0 until saltF).toArray)
    hotKeys match {
      case Some(ks) =>
        when(combinedKey(col("band_idx"), col("band_val")).isin(ks.map(Long.box): _*),
          all).otherwise(lit(Array(0)))
      case None => all
    }
  }

  /** Σ_{i≤r} C(bits, i) — the mask count masksB would materialize, computed
    * arithmetically (saturating) so guards can run BEFORE allocation. */
  def maskCount(radius: Int, bits: Int): Long = {
    var total = 0L
    var c = 1L // C(bits, 0)
    var i = 0
    while (i <= math.min(radius, bits)) {
      total += c
      if (total < 0 || total > Long.MaxValue / 2) return Long.MaxValue
      if (c > Long.MaxValue / math.max(bits - i, 1)) return Long.MaxValue
      c = c * (bits - i) / (i + 1)
      i += 1
    }
    total
  }

  /** XOR masks within Hamming radius r of a b-bit value: all subsets of
    * {0..b-1} of size ≤ r as bit masks (recursive combination walk). */
  def masksB(radius: Int, bits: Int): Array[Long] = {
    require(bits >= 1 && bits <= 64)
    require(maskCount(radius, bits) <= MaxMasksPerSide,
      s"radius $radius over $bits-bit chunks needs ${maskCount(radius, bits)} " +
        s"probe masks (> $MaxMasksPerSide) — lower the threshold or widen chunks")
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    def rec(start: Int, left: Int, acc: Long): Unit = {
      out += acc
      if (left > 0)
        for (i <- start until bits) rec(i + 1, left - 1, acc | (1L << i))
    }
    rec(0, radius, 0L)
    out.distinct.toArray
  }

  /** All 16 chunks of (h0..h3) as an array column: chunk k = little-endian
    * u16 k of the 256-bit hash — static shifts, fully codegen'd. */
  def chunksArray(h: Seq[Column]): Column =
    array((0 until NumChunks).map { k =>
      shiftrightunsigned(h(k / 4), (k % 4) * 16)
        .bitwiseAND(lit(0xffffL)).cast("int")
    }: _*)

  /** Generalized chunk extraction: 64·|h|/bits chunks of width `bits` (8,
    * 16, 32 or 64) of the hash held in the longs `h` (low word first) —
    * the MIH chunk-count knob, at either hash width. The reference pins 16
    * chunks (right for n≈10⁶: E[bucket] = n/2¹⁶ ≈ 15); at corpus scale the
    * optimal chunk count shrinks toward 256/log₂(n) (Norouzi et al., "Fast
    * Search in Hamming Space with Multi-Index Hashing", CVPR'12), so 8×32-bit
    * chunks keep buckets sparse at n≈10⁹⁺. See SCALING.md for the cost model. */
  def chunksArrayB(h: Seq[Column], bits: Int): Column = {
    require(Set(8, 16, 32, 64)(bits), s"chunk width $bits must divide 64")
    val perLong = 64 / bits
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    array((0 until h.size * perLong).map { k =>
      shiftrightunsigned(h(k / perLong), (k % perLong) * bits)
        .bitwiseAND(lit(mask)).cast("long")
    }: _*)
  }

  /** Σ bit_count(xor) over the hash longs — Hamming distance as a
    * codegen'd Catalyst expression (hamminghash.rs:55-58 semantics). */
  def hammingCols(a: Seq[Column], b: Seq[Column]): Column =
    a.zip(b).map { case (x, y) => bit_count(x.bitwiseXOR(y)) }.reduce(_ + _)

  /** Explode a hash-carrying frame into (band_idx, band_val) keys with
    * radius-r multi-probe masks: band_val = chunk ⊕ mask for every mask of
    * the radius-r ball. `hs` are the hash longs to band on. */
  private[lsh] def bandKeys(df: DataFrame, hs: Seq[Column], radius: Int,
                            chunkBits: Int): DataFrame =
    df.select(col("*"),
        posexplode(chunksArrayB(hs, chunkBits)).as(Seq("band_idx", "chunk")))
      .withColumn("mask", explode(lit(masksB(radius, chunkBits))))
      .withColumn("band_val", col("chunk").bitwiseXOR(col("mask")))
      .drop("chunk", "mask")

  /** Per-chunk tolerance ⌊t/m⌋ — pigeonhole: dist ≤ t over m chunks ⇒
    * some chunk differs in ≤ ⌊t/m⌋ bits, exhaustive recall at any width.
    * The reference caps similarity at 63 for EITHER hash width
    * (group_files_generic asserts MAX_SIMILARITY_256, scanner.rs:1649-1655). */
  private[lsh] def chunkTolerance(layout: HashLayout, threshold: Int,
                                  chunkBits: Int): Int = {
    require(threshold <= 63,
      s"similarity $threshold > 63 needs R=4 probing (scanner.rs:1649-1655)")
    threshold / layout.numChunks(chunkBits)
  }

  /** (rIdx, rPrb): the probe radius split between the index and probe
    * sides of the join, rIdx + rPrb = ⌊t/m⌋ (triangle inequality over the
    * chunk). Minimizes total exploded rows: the probe side is 8× heavier
    * (one row per dihedral variant), so it weighs 8×. 16-bit chunks,
    * tol=2 → (2,0): 137+8 rows/chunk vs (1,1): 17+136 — and the shuffled
    * probe side stays minimal. The same choice also minimizes JOIN
    * COLLISIONS: expected collisions scale with the mask PRODUCT
    * |B(rIdx)|·|B(rPrb)|, minimized at the extremes — (2,0): 137·1 vs
    * (1,1): 17·17=289. Feasibility (per-side mask cap) is checked
    * ARITHMETICALLY before any mask array materializes, so an infeasible
    * width/threshold combination fails fast (maskCount grows as C(bits,
    * tol) — e.g. 64-bit chunks at threshold 63 would need ~10¹³ masks and
    * must never reach the driver-side lit() build). */
  private[graft] def radiusSplit(layout: HashLayout, threshold: Int,
                                 chunkBits: Int): (Int, Int) = {
    val tol = chunkTolerance(layout, threshold, chunkBits)
    val feasible = (0 to tol).filter(r =>
      maskCount(r, chunkBits) <= MaxMasksPerSide &&
        maskCount(tol - r, chunkBits) <= MaxMasksPerSide)
    require(feasible.nonEmpty,
      s"threshold $threshold over $chunkBits-bit chunks: no probe-radius " +
        s"split fits $MaxMasksPerSide masks/side — lower the threshold or " +
        s"use narrower chunks")
    val rIdx = feasible.minBy(r =>
      maskCount(r, chunkBits) + 8L * maskCount(tol - r, chunkBits))
    (rIdx, tol - rIdx)
  }

  /**
   * Fuzzy duplicate edges among confident rows: band join + Hamming ≤
   * threshold verify + canonical a<b + distinct. Matches the reference's
   * probe semantics: the PROBE side expands all 8 dihedral variant hashes
   * (store-1/query-8, scanner.rs:1700-1724), the INDEX side holds originals.
   *
   * `saltFactor` > 1 splits every band bucket into S sub-buckets on the
   * index side (salt = pmod(ord, S)) and replicates the probe side ×S —
   * the explicit-salting fallback for corpora whose hot buckets exceed
   * what AQE skew-join splitting handles (SURVEY.md §4). Recall-neutral:
   * every (probe, index) pair still meets in exactly one salted bucket.
   * `saltFactor` = 0 (the default) MEASURES the top bucket and engages a
   * derived factor only past [[SaltBucketCap]] — see [[autoSaltFactor]].
   *
   * `sig` needs: ord, the layout's hash and variant columns, low_conf,
   * has_pdq. Returns (a, b, dist) with a < b.
   */
  def fuzzyEdges(sig: DataFrame, threshold: Int, saltFactor: Int = 0,
                 chunkBits: Int = 0, nConfHint: Long = -1,
                 layout: HashLayout = HashLayout.Pdq): DataFrame = {
    val conf = sig.filter(col("has_pdq") && !col("low_conf"))
    val (reps, mem) = collapse(conf, (layout.hashCols :+ layout.variantsCol).map(col))
    // ONE shared count feeds both auto knobs (width + salt), resolved over
    // the ORIGINAL conf rows so the auto width is the pre-collapse one; a
    // caller that pins both, or passes its already-known count (Pipeline's
    // signatures-stage metric), pays no job
    val nConf =
      if (nConfHint >= 0) nConfHint
      else if (chunkBits == 0 || saltFactor == 0) conf.count()
      else -1L

    val repEdges = bandMatches(layout, reps, threshold, saltFactor, chunkBits, nConf)
      .withColumn("dist", hammingCols(layout.hashNames("v").map(col),
        layout.hashNames("c").map(col)))
      .where(col("dist") <= threshold)
      .groupBy(least(col("q_ord"), col("c_ord")).as("ra"),
        greatest(col("q_ord"), col("c_ord")).as("rb"))
      .agg(min("dist").as("dist"))
    expandReps(repEdges, mem)
  }

  /** Rep collapse (guide §2.3 "shuffle fewer bytes" / §8 "decide with
    * small rows"): whether two rows collide in a band join, and the
    * verified distance of the pair, depend ONLY on `keys` (the hash and its
    * variants) — never on ord. Rows sharing them (lossless transcodes,
    * exact copies, re-containered pixels) collapse to one REPRESENTATIVE,
    * the min ord, before the ×(numChunks·masks) band explode; collision
    * volume falls with the SQUARE of the distinct ratio. Returns the reps
    * (ord + `keys`) and the (rep, ord) membership of every row, from which
    * [[expandReps]] rebuilds the member edges. */
  private[lsh] def collapse(rows: DataFrame, keys: Seq[Column]): (DataFrame, DataFrame) = {
    val members = rows.select(col("ord") +: keys: _*)
      .withColumn("rep", min("ord").over(Window.partitionBy(keys: _*)))
    (members.where(col("ord") === col("rep")).drop("rep"),
      members.select(col("rep"), col("ord")))
  }

  /** Member edges (a < b) of the rep-level edges (ra, rb, dist) over the
    * membership `mem` of [[collapse]]: intra-cluster pairs are all C(k,2)
    * pairs at dist 0 (precondition, true of every producer here: the
    * variants hold the hash itself — PDQ's identity variant,
    * PHash.dihedral(h)(0) == h); cross-cluster member pairs inherit their
    * rep pair's dist because dist is hash-determined. An endpoint that is
    * no rep in `mem` (a persisted-index row beside a collapsed delta)
    * stands for itself. */
  private[lsh] def expandReps(repEdges: DataFrame, mem: DataFrame): DataFrame = {
    def side(rep: String, ord: String) = mem.select(col("rep").as(rep), col("ord").as(ord))
    val intra = side("rep", "a").join(side("rep", "b"), "rep")
      .where(col("a") < col("b"))
      .select(col("a"), col("b"), lit(0).as("dist"))
    // rep-level edges expanded to member pairs (linear joins on tiny keys)
    val (oa, ob) = (coalesce(col("oa"), col("ra")), coalesce(col("ob"), col("rb")))
    val cross = repEdges
      .join(side("ra", "oa"), Seq("ra"), "left")
      .join(side("rb", "ob"), Seq("rb"), "left")
      .select(least(oa, ob).as("a"), greatest(oa, ob).as("b"), col("dist"))
    cross.unionByName(intra)
  }

  /** The raw band-collision rows (post-join, pre-verify) of `conf` — rows
    * already filtered to the confident ones — with the probe variant in
    * v0.. and the stored hash in c0..; the verify step above reads them
    * (their volume is measured in BASELINE.md "Band-join candidate
    * volume"). `nConf` feeds the auto
    * width (`chunkBits0 = 0`) and auto salt (`saltFactor = 0`). */
  private def bandMatches(layout: HashLayout, conf: DataFrame,
                          threshold: Int, saltFactor: Int,
                          chunkBits0: Int, nConf: Long): DataFrame = {
    // the packed key below holds the salt (0..S-1) in 6 bits: a factor
    // past 64 would make distinct (band_val, salt) pairs share a key
    require(saltFactor >= 0 && saltFactor <= 64,
      s"salt factor $saltFactor outside 0..64 (the packed band key's 6 salt bits)")
    val chunkBits = if (chunkBits0 != 0) chunkBits0 else {
      val bits = layout.autoChunkBits(nConf)
      log.info(s"${layout.algo} band join auto chunk width: $nConf confident " +
        s"rows -> $bits-bit chunks")
      bits
    }
    val (rIdx, rPrb) = radiusSplit(layout, threshold, chunkBits)

    val (saltF, hotKeySet) =
      if (saltFactor != 0) (saltFactor, None)
      else if (nConf <= AutoSaltMinRows) (1, None)
      else autoSalt(layout, conf, chunkBits, rIdx, SaltBucketCap)

    // Packed single-long join key (guide §2.3 narrower types): band_idx
    // (< 32) ∙ band_val (< 2^chunkBits ≤ 2^32) ∙ salt (< 64) fold into one
    // non-overlapping long — one 8-byte key instead of three columns
    // halves the shuffled key bytes and gives the shuffled-hash join a
    // single-long lookup. Only at chunkBits ≤ 32 (64-bit chunk values
    // cannot pack); the 64-bit path keeps the 3-column key.
    val packed = chunkBits <= 32
    val joinKeys = if (packed) Seq("bkey") else Seq("band_idx", "band_val", "salt")
    def keyed(df: DataFrame, payload: Seq[String]): DataFrame =
      if (!packed) df
      else df.select((col("band_idx").cast("long") * lit(1L << 38) +
        col("band_val") * lit(64L) + col("salt")).as("bkey") +: payload.map(col): _*)

    val hs = layout.hashCols
    val (cNames, vNames) = (layout.hashNames("c"), layout.hashNames("v"))
    val idx0 = bandKeys(conf.select(col("ord") +: hs.map(col): _*),
      hs.map(col), rIdx, chunkBits)
      .select(col("band_idx") +: col("band_val") +: col("ord").as("c_ord") +:
        hs.zip(cNames).map { case (h, c) => col(h).as(c) }: _*)
    val idx = keyed(if (saltF <= 1) idx0.withColumn("salt", lit(0))
      else idx0.withColumn("salt", saltIndexCol(saltF, hotKeySet, col("c_ord"))),
      "c_ord" +: cNames)

    // array_distinct: symmetric images repeat dihedral hashes (rot180 ==
    // id etc.); duplicate variant rows would generate duplicate collisions
    // that the verify pays for and the groupBy then discards
    val prbBase = conf
      .select(col("ord"), explode(array_distinct(col(layout.variantsCol))).as("v"))
      .select(col("ord") +: layout.splitVariant(col("v"), vNames): _*)
    val prb0 = bandKeys(prbBase, vNames.map(col), rPrb, chunkBits)
      .select(col("band_idx") +: col("band_val") +: col("ord").as("q_ord") +:
        vNames.map(col): _*)
    val prb = keyed(if (saltF <= 1) prb0.withColumn("salt", lit(0))
      else prb0.withColumn("salt", explode(saltProbeCol(saltF, hotKeySet))),
      "q_ord" +: vNames)

    // Symmetric probing (vs the reference's scan-order-dependent i<j,
    // scanner.rs:1714-1717): a pair is an edge when EITHER side's dihedral
    // variants match the other's stored hash — deterministic under any
    // partitioning/ord assignment, and a superset of any single scan order.
    // NOT reducible to q < c: PDQ dihedral variants are derived from the
    // DCT COEFFICIENTS (transpose + sign flips before binarization), not a
    // bit permutation of the hash, so dist(v(a), b) ≠ dist(v⁻¹(b), a) in
    // general — a round-6 directed-probing attempt changed 7.7k of 185k
    // edges on the bench corpus and was reverted.
    // SHUFFLE_HASH, build side = probe: the planner must not broadcast
    // either side — Catalyst estimates relation size from the pre-explode
    // scan, which under-counts the band explosion by 100-2000×, and a
    // broadcast of the exploded index is a GB-scale driver build. A
    // partitioned hash join needs no sort and scales with executors.
    prb.hint("shuffle_hash").join(idx, joinKeys)
      .where(col("q_ord") =!= col("c_ord"))
  }

  /**
   * Exact (distance-0) edges for ALL rows, including low-quality ones:
   * a probe variant equal to some stored original hash (the limit-0 path of
   * scanner.rs:1699-1724). Star construction: per identical original hash,
   * hub = min ord; every row holding that hash (as original or any dihedral
   * variant) links to the hub. Components are identical to pairwise edges
   * at linear instead of quadratic edge count.
   */
  def exactEdges(sig: DataFrame, layout: HashLayout = HashLayout.Pdq): DataFrame = {
    val hs = layout.hashCols
    val withPdq = sig.filter(col("has_pdq"))
    val hubs = withPdq.groupBy(hs.map(col): _*).agg(min("ord").as("hub"))
    val vars = withPdq
      .select(col("ord"), explode(array_distinct(col(layout.variantsCol))).as("v"))
      .select(col("ord") +: layout.splitVariant(col("v"), hs): _*)
    // both sides scale with N (hubs ≈ distinct hashes) — never broadcast;
    // sort-merge degrades gracefully on the skewed identical-hash keys
    vars.hint("shuffle_merge").join(hubs, hs)
      .where(col("ord") =!= col("hub"))
      .select(least(col("ord"), col("hub")).as("a"),
        greatest(col("ord"), col("hub")).as("b"), lit(0).as("dist"))
      .distinct()
  }

  /** Byte-identity star edges (hub = min ord per content_hash): linear
    * edge count, same components as pairwise. The batch pipeline's
    * contentStar edges; an incremental delta links each of its rows to
    * the same hub over corpus ∪ delta in [[graft.Incremental]]. */
  def contentStarEdges(sig: DataFrame): DataFrame = {
    val hubs = sig.groupBy("content_hash").agg(min("ord").as("hub"))
    sig.join(hubs, Seq("content_hash"))
      .where(col("ord") =!= col("hub"))
      .select(least(col("ord"), col("hub")).as("a"),
        greatest(col("ord"), col("hub")).as("b"), lit(0).as("dist"))
  }

  /** All verified duplicate edges (a < b, minimal dist per pair).
    * `chunkBits = 0` auto-selects the MIH width from the corpus size;
    * `saltFactor = 0` auto-engages hot-bucket salting past the cap;
    * `nConfHint` lets a caller that already knows the confident-row count
    * (Pipeline's signatures-stage metric) skip the resolution job;
    * `layout` picks the hash (PDQ here, pHash via [[BandJoin64.edges]]). */
  def edges(sig: DataFrame, threshold: Int, saltFactor: Int = 0,
            chunkBits: Int = 0, nConfHint: Long = -1,
            layout: HashLayout = HashLayout.Pdq): DataFrame =
    fuzzyEdges(sig, threshold, saltFactor, chunkBits, nConfHint, layout)
      .unionByName(exactEdges(sig, layout))
      .groupBy("a", "b").agg(min("dist").as("dist"))
}

/** Where a hash lives in a signature frame and how the band join cuts it:
  * `hashCols` hold the stored hash as longs (low word first),
  * `variantsCol` its probe-side dihedral variants (an array of
  * `hashCols.size`-long arrays, or of plain longs for a one-long hash);
  * chunks are `parityBits` wide (reference parity) up to `wideCutoff`
  * confident rows and `wideBits` past it. `algo` is the name a persisted
  * [[BandIndex]] records and `name` the one a run is asked for; a run's
  * threshold defaults to `defaultThreshold` and may not exceed
  * `maxThreshold`; the corpus's persisted index lives in `indexDir`. */
final case class HashLayout(algo: String, name: String, hashCols: Seq[String],
                            variantsCol: String, parityBits: Int,
                            wideBits: Int, wideCutoff: Long,
                            defaultThreshold: Int, maxThreshold: Int,
                            indexDir: String) {
  def numChunks(chunkBits: Int): Int = 64 * hashCols.size / chunkBits

  def autoChunkBits(n: Long): Int = if (n <= wideCutoff) parityBits else wideBits

  /** The threshold a run operates at: `t < 0` ⇒ the default; past the
    * cap is refused before a run writes anything. */
  def threshold(t: Int): Int = {
    val thr = if (t < 0) defaultThreshold else t
    require(thr <= maxThreshold, s"$name threshold $thr > $maxThreshold, the " +
      s"cap for ${64 * hashCols.size}-bit hashes (pdq: R=4 probing, " +
      "scanner.rs:1649-1655; phash: MAX_SIMILARITY_64, hamminghash.rs:5 — " +
      "over 64-bit hashes a higher cap matches most random pairs)")
    thr
  }

  /** Names for the hash longs as a join payload: prefix0, prefix1, … */
  def hashNames(prefix: String): Seq[String] = hashCols.indices.map(i => s"$prefix$i")

  /** One element of `variantsCol` as long columns named `names`. */
  def splitVariant(v: Column, names: Seq[String]): Seq[Column] =
    if (hashCols.size == 1) Seq(v.as(names.head))
    else names.indices.map(i => v.getItem(i).as(names(i)))
}

object HashLayout {
  /** The 256-bit PDQ hash: 16×16-bit chunks, 32-bit past 10⁷ rows;
    * threshold 40 by default (phdupes.rs:353-355), at most 63. The index
    * keeps the unsuffixed dir pre-round-4 corpora already use. */
  val Pdq: HashLayout = HashLayout(BandIndex.AlgoPdq, "pdq",
    Seq("h0", "h1", "h2", "h3"), "variants", BandJoin.BitsPerChunk, 32,
    BandJoin.AutoWideCutoff, 40, 63, "band_index")

  /** The 64-bit DCT pHash (hamminghash.rs:23-41): 8×8-bit chunks, 16-bit
    * past 10⁵ rows; threshold 15 by default and at most 15. */
  val Phash64: HashLayout = HashLayout(BandIndex.AlgoPhash64, "phash",
    Seq("phash64"), "phash_variants", BandJoin64.BitsPerChunk, 16,
    BandJoin64.AutoWideCutoff, BandJoin64.DefaultThreshold,
    BandJoin64.DefaultThreshold, "band_index_phash")

  val All: Seq[HashLayout] = Seq(Pdq, Phash64)

  /** The layout a run's `algorithm` argument names ("pdq" | "phash"). */
  def forAlgorithm(algorithm: String): HashLayout =
    All.find(_.name == algorithm).getOrElse(throw new IllegalArgumentException(
      s"unknown algorithm '$algorithm' (${All.map(_.name).mkString(" | ")})"))

  /** The layout a persisted index's algorithm name stands for. */
  def of(algo: String): HashLayout = if (algo == Phash64.algo) Phash64 else Pdq
}
