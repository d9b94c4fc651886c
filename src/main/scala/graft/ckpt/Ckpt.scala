package graft.ckpt

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Checkpointed, idempotently-resumable stage writer — the Iceberg-shaped
 * contract (SURVEY.md §7): every stage materializes to Parquet with a
 * lineage row; a re-run finds the committed output and skips the work,
 * matching the reference's meta_key cache-hit semantics
 * (scanner.rs:1251-1294, db.rs:292-321) where the "cache key" here is the
 * (stage, workDir) pair and the parquet _SUCCESS marker is the commit.
 *
 * Lineage + metrics are append-only side tables (the reference's
 * last_seen_ts / comparison-count analogs, db.rs:909-911,
 * scanner.rs:1778).
 */
final class Ckpt(spark: SparkSession, workDir: String) {
  private def path(stage: String) = s"$workDir/$stage"

  private val pendingLineage =
    scala.collection.mutable.ArrayBuffer[(String, Long, Long, String)]()
  private val pendingMetrics =
    scala.collection.mutable.ArrayBuffer[(String, Double, String)]()
  private val pendingPartLineage =
    scala.collection.mutable.ArrayBuffer[(String, String, Long)]()

  /** Run `compute` unless `stage` is already committed; always returns the
    * materialized frame (reads back from parquet so downstream plans start
    * from a stable scan, and `monotonically_increasing_id`-derived columns
    * are frozen). Returns (frame, cacheHit). Lineage rows are buffered —
    * call flush() once per run so the side-table writes cost one job, not
    * one per stage. */
  def stage(stageName: String)(compute: => DataFrame): (DataFrame, Boolean) = {
    // a filesystem error propagates: taken for "not committed", it would
    // recompute the stage and overwrite frozen ords later stages refer to
    if (Store.committed(spark, path(stageName))) {
      (spark.read.parquet(path(stageName)), true)
    } else {
      val t0 = System.nanoTime()
      compute.write.mode(SaveMode.Overwrite).parquet(path(stageName))
      val out = spark.read.parquet(path(stageName))
      // per-file lineage in ONE zero-column job: row counts keyed by the
      // WRITTEN file (input_file_name is stable across re-reads, unlike
      // spark_partition_id which reflects the reader's split assignment),
      // summed for the stage total — the per-partition replacement for the
      // reference's per-file last_seen rows (db.rs:909-911). The projection
      // is empty, so only parquet batch row counts are scanned, no columns.
      val parts = out.groupBy(input_file_name().as("file"))
        .agg(count(lit(1)).as("rows")).collect()
      parts.foreach { r =>
        val leaf = r.getString(0).substring(r.getString(0).lastIndexOf('/') + 1)
        pendingPartLineage += ((stageName, leaf, r.getLong(1)))
      }
      appendLineage(stageName, parts.map(_.getLong(1)).sum,
        (System.nanoTime() - t0) / 1000000)
      (out, false)
    }
  }

  /** Rows `stage` committed in THIS run (its pending lineage row), so a
    * caller reuses the count instead of re-counting the stage's output. */
  def stagedRows(stageName: String): Long =
    pendingLineage.reverseIterator.find(_._1 == stageName).map(_._2).getOrElse(
      throw new IllegalStateException(s"stage $stageName was not computed in this run"))

  def appendLineage(stageName: String, rows: Long, wallMs: Long): Unit =
    pendingLineage += ((stageName, rows, wallMs, java.time.Instant.now.toString))

  def appendMetric(name: String, value: Double): Unit =
    pendingMetrics += ((name, value, java.time.Instant.now.toString))

  /** Commit buffered lineage + metrics rows (one append job each). */
  def flush(): Unit = {
    import spark.implicits._
    if (pendingLineage.nonEmpty) {
      pendingLineage.toSeq.toDF("stage", "rows", "wall_ms", "committed_at")
        .coalesce(1).write.mode(SaveMode.Append).parquet(s"$workDir/_lineage")
      pendingLineage.clear()
    }
    if (pendingMetrics.nonEmpty) {
      pendingMetrics.toSeq.toDF("metric", "value", "at")
        .coalesce(1).write.mode(SaveMode.Append).parquet(s"$workDir/_metrics")
      pendingMetrics.clear()
    }
    if (pendingPartLineage.nonEmpty) {
      // _lineage_files, not the pre-r3 _lineage_partitions: that table's
      // schema changed (partition_id:int → file:string) and SaveMode.Append
      // into the old directory would mix schemas when resuming a work dir
      // written by an older build — a new directory name versions the schema
      pendingPartLineage.toSeq.toDF("stage", "file", "rows")
        .coalesce(1).write.mode(SaveMode.Append)
        .parquet(s"$workDir/_lineage_files")
      pendingPartLineage.clear()
    }
  }

  /** Latest committed value of a metric, if any — lets a resumed run read
    * back a count another stage already paid for (e.g. confident_rows
    * feeding the auto chunk width) instead of re-running the job. Checks
    * the in-memory buffer first so a metric appended THIS run is visible
    * before flush(). */
  def readMetric(name: String): Option[Double] = {
    pendingMetrics.reverseIterator.find(_._1 == name).map(_._2).orElse {
      try {
        val p = new org.apache.hadoop.fs.Path(s"$workDir/_metrics")
        if (!p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
          None
        else {
          // latest by PARSED instant, not by string order: Instant
          // .toString drops trailing zero fractions ("…:56Z" vs
          // "…:56.500Z"), and '.' < 'Z' makes the lexicographic max the
          // EARLIER row when two appends land in the same second. The
          // per-metric row set is tiny — collect and compare properly.
          spark.read.parquet(p.toString)
            .where(col("metric") === name)
            .select("value", "at").collect()
            .maxByOption(r => java.time.Instant.parse(r.getString(1)))
            .map(_.getDouble(0))
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  def lineage: DataFrame = spark.read.parquet(s"$workDir/_lineage")
  def metrics: DataFrame = spark.read.parquet(s"$workDir/_metrics")
}
