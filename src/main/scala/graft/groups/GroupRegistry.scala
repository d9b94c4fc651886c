package graft.groups

import graft.ckpt.Store
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Cross-run-stable group identity (SURVEY.md S11/J7, db.rs:1277-1403):
 * every duplicate group gets a UUID; when any member's PDQ hash already
 * maps to a UUID in the registry, that UUID is reused (first match by
 * lowest ord, mirroring the reference's first-found semantics,
 * db.rs:1304-1321); otherwise the group gets a deterministic new UUID
 * derived from its minimum member hash — so re-running the same corpus
 * yields identical UUIDs (idempotent, unlike the reference's random v4).
 *
 * STORAGE (round 3): a directory of atomically-committed `seg_*` parquet
 * segments, merged on read — the same Iceberg-shaped commit protocol as
 * BandIndex/CorpusState. Each run appends only the (hash → uuid) rows it
 * newly produced (anti-join against the existing segments), so the commit
 * is O(delta); the round-2 design rewrote the whole table through one
 * `coalesce(1)` task per run — a single-task straggler writing O(corpus)
 * twice at 10⁸ groups. Reads resolve duplicate hashes with min(uuid)
 * (deterministic, order-independent), and [[compact]] folds segments into
 * one resolved, hash-clustered segment.
 *
 * IGNORED GROUPS (S11 completion, db.rs:236-244 IgnoredEntry +
 * db.rs:1277-1336 suppression): a per-uuid `ignored` flag persists under
 * `<path>/ignored/` as append-only (uuid, ignored, seq) rows —
 * latest-seq-wins, so clearing the flag re-surfaces the group. Pipeline
 * and Incremental filter ignored uuids out of assembled output.
 */
object GroupRegistry {
  /** Auto-compact once this many registry segments accumulate. */
  final val CompactAfter = 32

  private val MergedSegment = "seg_d(\\d+)".r

  private def fsOf(spark: SparkSession, path: String) = Store.fs(spark, path)

  private def segments(spark: SparkSession, path: String): Seq[String] = {
    val f = fsOf(spark, path)
    val p = new Path(path)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).map(_.getPath).filter(_.getName.startsWith("seg_"))
      .map(_.toString).sorted.toSeq
  }

  private def emptyRegistry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Long, Long, Long, String)]
      .toDF("h0", "h1", "h2", "h3", "group_uuid")
  }

  /** Raw appended rows (may hold several uuids per hash across segments). */
  private def readRaw(spark: SparkSession, path: String): DataFrame = {
    val segs = segments(spark, path)
    if (segs.isEmpty) emptyRegistry(spark)
    else spark.read.parquet(segs: _*)
      .select("h0", "h1", "h2", "h3", "group_uuid")
  }

  /** The resolved registry view: one row per hash, min uuid (stable under
    * any segment order — the merge-on-read resolution). */
  def read(spark: SparkSession, path: String): DataFrame =
    readRaw(spark, path)
      .groupBy("h0", "h1", "h2", "h3")
      .agg(min("group_uuid").as("group_uuid"))

  /** Stage-and-rename atomic segment commit (BandIndex protocol). */
  private def writeSegment(rows: DataFrame, path: String, segName: String): Unit = {
    val spark = rows.sparkSession
    val f = fsOf(spark, path)
    f.mkdirs(new Path(path))
    val finalP = new Path(path, segName)
    if (f.exists(finalP)) return
    val staging = new Path(path, s".tmp_$segName")
    rows.write.mode(SaveMode.Overwrite).parquet(staging.toString)
    if (!f.rename(staging, finalP))
      throw new java.io.IOException(s"registry commit failed: $staging -> $finalP")
  }

  /**
   * O(delta) merge: append only (hash, uuid) rows not already present in
   * any committed segment. A re-run over an unchanged corpus appends zero
   * rows; the read-side min(uuid) resolution keeps semantics identical to
   * the old full-rewrite (min of min). Auto-compacts past [[CompactAfter]]
   * segments so the read-side union stays shallow.
   */
  def merge(spark: SparkSession, path: String, rows: DataFrame): Unit = {
    val existing = readRaw(spark, path)
    val delta = rows.select("h0", "h1", "h2", "h3", "group_uuid").distinct()
      .join(existing, Seq("h0", "h1", "h2", "h3", "group_uuid"), "left_anti")
      .localCheckpoint() // materialize once: emptiness probe + segment write
    // a re-run over an unchanged corpus appends NOTHING — an empty segment
    // per run would still grow the count toward CompactAfter and trigger
    // periodic full-registry compactions with no data change
    if (delta.isEmpty) return
    // one past the highest existing index, never the segment count: a
    // compaction that crashed mid-delete leaves e.g. [seg_d3, seg_d4,
    // seg_zc…], where the count would name the existing seg_d3 and
    // writeSegment would keep the old segment and drop these rows
    val next = segments(spark, path).map(new Path(_).getName)
      .collect { case MergedSegment(i) => i.toInt + 1 }.maxOption.getOrElse(0)
    val segName = f"seg_d$next%06d"
    writeSegment(delta, path, segName)
    if (segments(spark, path).size > CompactAfter) compact(spark, path)
  }

  /** Fold all segments into one resolved segment (Iceberg rewrite-data-
    * files analog), named from its input set like the band index's.
    * Crash-safe: the merged segment commits before the subsumed ones
    * delete; a crash in between leaves duplicate rows that read()
    * resolves and the next compact removes. */
  def compact(spark: SparkSession, path: String): Unit = {
    val all = segments(spark, path)
    if (all.size <= 1) return
    val segName = Store.compactedSegment(all)
    val f = fsOf(spark, path)
    val finalP = new Path(path, segName)
    if (!f.exists(finalP)) {
      val staging = new Path(path, s".tmp_$segName")
      spark.read.parquet(all: _*)
        .groupBy("h0", "h1", "h2", "h3")
        .agg(min("group_uuid").as("group_uuid"))
        .repartitionByRange(math.max(spark.sparkContext.defaultParallelism, 1),
          col("h0"), col("h1"))
        .write.mode(SaveMode.Overwrite).parquet(staging.toString)
      if (!f.rename(staging, finalP))
        throw new java.io.IOException(s"registry compact failed: $staging -> $finalP")
    }
    all.filterNot(_.endsWith(s"/$segName"))
      .foreach(s => f.delete(new Path(s), true))
  }

  // ======================= ignored groups =======================

  private def ignoredDir(path: String) = s"$path/ignored"

  /** Persist an ignore/unignore mark for group uuids (the reference's Q
    * keypress, IgnoredEntry db.rs:236-244). Append-only; latest mark per
    * uuid wins, so `ignored = false` re-surfaces a group. */
  def setIgnored(spark: SparkSession, path: String, uuids: Seq[String],
                 ignored: Boolean = true): Unit = {
    if (uuids.isEmpty) return
    import spark.implicits._
    val dir = ignoredDir(path)
    val seq = segments(spark, dir).size
    val rows = uuids.distinct.map(u => (u, ignored, seq.toLong))
      .toDF("group_uuid", "ignored", "seq").coalesce(1)
    writeSegment(rows, dir, f"seg_i$seq%06d")
  }

  /** Currently-ignored uuids (latest mark per uuid, filtered true). */
  def ignoredUuids(spark: SparkSession, path: String): DataFrame = {
    val segs = segments(spark, ignoredDir(path))
    if (segs.isEmpty) {
      import spark.implicits._
      Seq.empty[String].toDF("group_uuid")
    } else spark.read.parquet(segs: _*)
      .groupBy("group_uuid")
      .agg(max(struct(col("seq"), col("ignored"))).as("m"))
      .where(col("m.ignored"))
      .select("group_uuid")
  }

  /** Drop members of ignored groups from assembled output (db.rs:1277-1336
    * suppression: dismissed groups stop resurfacing on re-runs until the
    * flag clears). `df` needs a group_uuid column. */
  def suppressIgnored(spark: SparkSession, path: String, df: DataFrame): DataFrame =
    df.join(ignoredUuids(spark, path), Seq("group_uuid"), "left_anti")

  /** Deterministic UUID (v8-style: md5 of the group's min hash words). */
  private val mintUuid = udf((h0: Long, h1: Long, h2: Long, h3: Long) => {
    val md = java.security.MessageDigest.getInstance("MD5")
    val bb = java.nio.ByteBuffer.allocate(32)
    bb.putLong(h0).putLong(h1).putLong(h2).putLong(h3)
    val d = md.digest(bb.array())
    new java.util.UUID(
      java.nio.ByteBuffer.wrap(d, 0, 8).getLong,
      java.nio.ByteBuffer.wrap(d, 8, 8).getLong).toString
  })

  /**
   * assembled: per-member group rows (needs comp, ord, h0..h3).
   * registry: (h0,h1,h2,h3, group_uuid) — may be empty.
   * Returns (comp, group_uuid) one row per group.
   */
  def assign(assembled: DataFrame, registry: DataFrame): DataFrame = {
    val members = assembled.select("comp", "ord", "h0", "h1", "h2", "h3")
    // earliest member whose hash is already registered wins
    val matched = members.join(registry, Seq("h0", "h1", "h2", "h3"))
      .groupBy("comp").agg(min(struct(col("ord"), col("group_uuid"))).as("m"))
      .select(col("comp"), col("m.group_uuid").as("reused_uuid"))
    // deterministic mint from the group's minimum member hash
    val minted = members
      .groupBy("comp")
      .agg(min(struct(col("h0"), col("h1"), col("h2"), col("h3"))).as("mh"))
      .select(col("comp"), mintUuid(col("mh.h0"), col("mh.h1"), col("mh.h2"),
        col("mh.h3")).as("minted_uuid"))
    minted.join(matched, Seq("comp"), "left")
      .select(col("comp"),
        coalesce(col("reused_uuid"), col("minted_uuid")).as("group_uuid"))
  }

  /** Registry rows implied by an assignment (every member hash → uuid) —
    * append/merge into the registry table for the next run. */
  def registryRows(assembled: DataFrame, assigned: DataFrame): DataFrame =
    assembled.select("comp", "h0", "h1", "h2", "h3").distinct()
      .join(assigned, "comp")
      .select("h0", "h1", "h2", "h3", "group_uuid")
}
