package dedupbench

import dedupbench.Checks.Truth
import graft.synth.Synth
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One generated image plus its truth and the batch it is fed in
  * (0 = the corpus, k ≥ 1 = the k-th delta). */
final case class GenRow(image_id: String, bytes: Array[Byte], w: Int, h: Int,
                        fmt: String, caption: String, phash: Long, part: Int,
                        group_id: Long, variant: String, batch: Int)

/**
 * Seeded inputs: `Synth.rowsForBase` over a window of base ids (Synth's
 * own seed is fixed, so the benchmark seed picks the window). The program
 * only ever sees the generated images table, never the truth.
 */
object Inputs {
  /** Windows per region: seeds map onto disjoint base-id windows, and
    * seeds that differ by a multiple of this share a window. */
  final val Slots = 1000000L

  /** First base id of `seed`'s window of `width` bases in `region`
    * (regions keep the workloads' windows apart). Base ids stay below
    * 10⁹, the range `Synth.rowsForBase` keeps its caption-pair ids unique
    * in. */
  def windowStart(seed: Long, width: Long, region: Int): Long = {
    require(width * Slots <= 300000000L, s"window width $width too large")
    100000L + region * 300000000L + java.lang.Math.floorMod(seed, Slots) * width
  }

  /** Generate the rows of bases [from, until) and tag each with its
    * batch; keep, per batch in `sizes`, exactly the first `sizes(batch)`
    * rows by image id (fewer fails the run), so every seed feeds the
    * program the same number of images. Writes the images table (partitioned by
    * batch) under `dir` and returns the truth of every row written. */
  def writeImages(spark: SparkSession, from: Long, until: Long, dir: String,
                  batchOf: (Long, String) => Int, sizes: Map[Int, Int]): Seq[(Truth, Int)] = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{coalesce, col, lit, row_number, typedLit}
    import spark.implicits._
    val rows = spark.range(from, until, 1, Session.Cores).as[Long]
      .mapPartitions(_.flatMap(b => Synth.rowsForBase(b).map(r =>
        GenRow(r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash, r.part,
          r.group_id, r.variant, batchOf(b, r.variant)))))
      .withColumn("n", row_number().over(Window.partitionBy("batch").orderBy("image_id")))
      .where(col("n") <= coalesce(typedLit(sizes).apply(col("batch")), lit(Int.MaxValue)))
      .localCheckpoint()
    rows.select("image_id", "bytes", "w", "h", "fmt", "caption", "phash", "batch")
      .write.mode("overwrite").partitionBy("batch").parquet(dir)
    val truth = rows.select("image_id", "group_id", "variant", "batch").collect()
      .map(r => (Truth(r.getString(0), r.getLong(1), r.getString(2)), r.getInt(3)))
      .toSeq
    rows.unpersist()
    sizes.foreach { case (b, n) =>
      val got = truth.count(_._2 == b)
      require(got == n, s"batch $b of bases [$from, $until) holds $got < $n images")
    }
    truth
  }

  /** The images of one batch, in the schema the pipeline reads. */
  def readImages(spark: SparkSession, dir: String, batch: Int): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.read.parquet(dir).where(col("batch") === batch)
      .select("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
  }
}
