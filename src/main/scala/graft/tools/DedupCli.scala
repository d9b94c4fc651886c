package graft.tools

import graft.Pipeline
import graft.groups.Groups
import graft.lsh.HashLayout
import graft.synth.Synth

/**
 * CLI entry — the `phdupes <paths>` analog (phdupes.rs:540-610): run the
 * dedup pipeline over an images table and print the ordered group report.
 *
 * Usage:
 *   runMain graft.tools.DedupCli <imagesDirOrSYNTH[:nBases]> <workDir> [threshold] [pdq|phash] [registryPath] [dropManifestDir]
 *
 * `SYNTH:200` synthesizes a 200-base deterministic corpus first (no
 * external data in this sandbox); otherwise the first arg is a directory
 * holding an `images` parquet table with the input_hint schema. The
 * optional 4th arg selects the grouping hash (the library-level algorithm
 * switch, hamminghash.rs u64 vs [u8;32]); `phash` defaults its threshold
 * to 15 (MAX_SIMILARITY_64) when none is given. With a 5th arg, groups
 * carry cross-run-stable UUIDs from that registry, ignored groups are
 * suppressed (manage them with [[RegistryCli]]), and each group line
 * prints its uuid. A 6th arg writes the KEEP/DROP MANIFEST there: one
 * row per group member with `keep` = largest-bytes member (image_id
 * tiebreak) — the `keep=false` rows are the deletion list a
 * training-data dedup run feeds downstream (physical deletion stays out
 * of scope — OS side effects).
 */
object DedupCli {
  def main(args: Array[String]): Unit = {
    val input = args.headOption.getOrElse("SYNTH:50")
    val workDir = if (args.length > 1) args(1)
      else java.nio.file.Files.createTempDirectory("graft-dedup").toString
    val algorithm = if (args.length > 3) args(3) else "pdq"
    // "-" or "" for threshold = use the algorithm's default; resolved (and
    // an unknown algorithm or over-cap threshold refused) before any work
    val threshold = HashLayout.forAlgorithm(algorithm)
      .threshold(args.lift(2).filter(t => t.nonEmpty && t != "-").fold(-1)(_.toInt))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")

    val spark = Pipeline.session(s"local[$cpus]")
    spark.sparkContext.setLogLevel("WARN")

    val images =
      if (input.startsWith("SYNTH")) {
        val n = input.split(":").lift(1).map(_.toLong).getOrElse(50L)
        Synth.generate(spark, n, s"$workDir/corpus")
        Synth.readImages(spark, s"$workDir/corpus")
      } else Synth.readImages(spark, input)

    val registryPath = args.lift(4).filter(a => a.nonEmpty && a != "-")

    val t0 = System.nanoTime()
    val grouped = Pipeline.run(spark, images, s"$workDir/work", threshold,
      algorithm = algorithm, registryPath = registryPath)
    val summary = registryPath match {
      case None => Groups.groupSummary(grouped)
      case Some(_) =>
        import org.apache.spark.sql.functions.first
        Groups.groupSummary(grouped.drop("group_uuid"))
          .join(grouped.groupBy("comp").agg(first("group_uuid").as("group_uuid")),
            "comp")
    }
    val rows = summary.collect()
    val wall = (System.nanoTime() - t0) / 1e9
    val nImages = images.count()

    println(s"== graft dedup: $nImages images, threshold $threshold, $algorithm ==")
    rows.take(50).foreach { r =>
      val members = r.getAs[scala.collection.Seq[String]]("members")
      val uuid = if (registryPath.isDefined)
        s" uuid=${r.getAs[String]("group_uuid")}" else ""
      println(f"group size=${r.getAs[Long]("group_size")}%3d max_dist=${r.getAs[Int]("max_dist")}%3d " +
        f"status=${r.getAs[String]("status")}%-13s$uuid ${members.sorted.mkString(", ")}")
    }
    if (rows.length > 50) println(s"... ${rows.length - 50} more groups")
    println(f"== ${rows.length} duplicate groups, ${wall}%.1f s wall, " +
      f"${nImages / wall}%.0f img/s ==")

    args.lift(5).filter(a => a.nonEmpty && a != "-").foreach { dropsOut =>
      import org.apache.spark.sql.functions._
      val sizes = images.select(col("image_id"), length(col("bytes")).as("size"))
      val manifest = Groups.keepList(grouped.join(sizes, "image_id"),
        Seq(-col("size")))
        .select("image_id", "comp", "size", "keep")
      manifest.write.mode("overwrite").parquet(dropsOut)
      val written = spark.read.parquet(dropsOut)
      val drops = written.where(!col("keep")).count()
      println(s"== drop manifest: $drops of ${written.count()} grouped rows " +
        s"marked drop -> $dropsOut ==")
    }
    spark.stop()
  }
}
