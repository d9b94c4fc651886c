package graft.tools

import graft.groups.GroupRegistry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Registry scale evidence (round-3 VERDICT #7): the O(delta)
 * segment-append registry is spec-gated at fixture size only — this
 * bench drives it at ~10⁷ rows and verifies the contract holds:
 *
 *  - base merge of 10⁷ synthetic (hash → uuid) rows
 *  - a delta merge of `deltaRows` NEW hashes mixed with `deltaRows`
 *    ALREADY-REGISTERED hashes: the committed segment must contain
 *    exactly the new rows (anti-join discards re-registrations), and the
 *    wall is the O(corpus-scan + delta-write) steady-state cost
 *  - an idempotent re-merge of the same rows appends NOTHING
 *  - compact folds the segments into one resolved segment (the
 *    amortized O(corpus) rewrite, every CompactAfter runs)
 *
 * Usage: runMain graft.tools.RegistryBench [baseRows] [deltaRows] [cpus]
 */
object RegistryBench {
  def main(args: Array[String]): Unit =
    Harness.run(args.lift(2).fold(16)(_.toInt))(measure(_,
      baseRows = args.headOption.fold(10000000L)(_.toLong),
      deltaRows = args.lift(1).fold(10000L)(_.toLong)))

  def measure(spark: SparkSession, baseRows: Long, deltaRows: Long): String = {
    val cpus = spark.sparkContext.defaultParallelism
    val path = Harness.workDir("graft-regbench") + "/registry"
    // deterministic synthetic registry rows: 4 hash words + a uuid-shaped
    // string, all derived from the row id
    def rows(from: Long, until: Long) =
      spark.range(from, until, 1, cpus).select(
        xxhash64(col("id")).as("h0"),
        xxhash64(col("id"), lit(1)).as("h1"),
        xxhash64(col("id"), lit(2)).as("h2"),
        xxhash64(col("id"), lit(3)).as("h3"),
        md5(col("id").cast("string")).as("group_uuid"))

    val (_, baseSec) = Harness.timed(GroupRegistry.merge(spark, path, rows(0, baseRows)))

    // delta: half new hashes, half re-registrations of existing ones
    val delta = rows(baseRows, baseRows + deltaRows)
      .unionByName(rows(0, deltaRows))
    val (_, deltaSec) = Harness.timed(GroupRegistry.merge(spark, path, delta))

    val segs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("seg_")).map(_.getName).sorted
    require(segs.length == 2, s"expected 2 segments, got ${segs.mkString(",")}")
    val deltaSegRows = spark.read.parquet(s"$path/${segs.last}").count()
    require(deltaSegRows == deltaRows,
      s"delta segment has $deltaSegRows rows, want exactly $deltaRows " +
        "(re-registered hashes must be anti-joined away)")

    // idempotent re-merge: nothing new ⇒ no segment at all
    val (_, rerunSec) = Harness.timed(GroupRegistry.merge(spark, path, delta))
    require(new java.io.File(path).listFiles()
      .count(_.getName.startsWith("seg_")) == 2,
      "idempotent re-merge appended a segment")

    val (_, compactSec) = Harness.timed(GroupRegistry.compact(spark, path))
    val total = GroupRegistry.read(spark, path).count()
    require(total == baseRows + deltaRows,
      s"resolved registry has $total rows, want ${baseRows + deltaRows}")

    Harness.emit("REGISTRYBENCH", "base_rows" -> baseRows, "delta_rows" -> deltaRows,
      "base_merge_sec" -> Harness.dec(baseSec, 1), "delta_merge_sec" -> Harness.dec(deltaSec, 1),
      "idempotent_rerun_sec" -> Harness.dec(rerunSec, 1),
      "compact_sec" -> Harness.dec(compactSec, 1), "delta_seg_rows" -> deltaSegRows,
      "cpus" -> cpus)
  }
}
