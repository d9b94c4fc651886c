package graft

import graft.synth.Synth
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.io.File

/** Both entry points, `Pipeline.run` and `Incremental.run`, resolve the
  * algorithm and threshold through [[graft.lsh.HashLayout]] before they
  * write anything: a refused run leaves no stage, pin or corpus marker
  * behind, and `threshold = -1` means the algorithm's own default. */
class AlgorithmResolutionSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def toDF(rs: Seq[synth.SynthRow]) = {
    import spark.implicits._
    rs.map(r => (r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash))
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
  }

  private val refused = Seq(("dhash", -1), ("phash", 16), ("pdq", 64))

  /** The corpus work dir's entries, with the content of its marker files
    * (`_meta_*` stamps, `_state_v*` version markers). */
  private def markers(work: String): Map[String, Option[String]] =
    new File(work).listFiles().map(f => f.getName -> (if (f.isFile)
      Some(new String(java.nio.file.Files.readAllBytes(f.toPath))) else None)).toMap

  test("refused algorithm/threshold leaves nothing behind; -1 resolves to the pHash default 15") {
    val base = java.nio.file.Files.createTempDirectory("graft-algo").toString
    val work = s"$base/corpus-work"
    // three confident rows of unrelated bases whose pHash is then set to
    // 0, 15 bits and 16 other bits: only the distance-15 pair may group
    val images = toDF((0L until 12L).map(b => Synth.rowsForBase(b).head))
    Pipeline.signatures(spark, images).write.parquet(s"$base/kernel")
    val conf = spark.read.parquet(s"$base/kernel")
      .where(col("has_pdq") && !col("low_conf")).orderBy("ord").limit(3)
    val crafted = Seq(0L, 0x7fffL, 0x7fff8000L)
    val byOrd = conf.select("ord").collect().map(_.getLong(0)).zip(crafted)
    assert(byOrd.length == 3, "need three confident rows")
    val ph = byOrd.foldLeft(lit(0L)) { case (acc, (o, h)) =>
      when(col("ord") === o, lit(h)).otherwise(acc) }
    // committed as the signatures stage, which Pipeline.run then resumes
    conf.withColumn("phash64", ph).withColumn("phash_variants", array(ph))
      .write.parquet(s"$work/signatures")
    val ids = spark.read.parquet(s"$work/signatures").select("ord", "image_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    val grouped = Pipeline.run(spark, images, work, -1, algorithm = "phash")
    val groups = grouped.select("comp", "image_id").collect()
      .groupBy(_.getLong(0)).values.map(_.map(_.getString(1)).toSet).toSet
    assert(groups == Set(Set(ids(byOrd(0)._1), ids(byOrd(1)._1))), groups)

    val delta = toDF(Seq(Synth.rowsForBase(20L).head))
    Incremental.run(spark, delta, work, s"$base/delta-ok", algorithm = "phash")

    val before = markers(work)
    assert(before.keySet("_meta_content_star") && before.keySet("_state_v1"), before.keySet)
    refused.zipWithIndex.foreach { case ((algo, thr), i) =>
      val batchWork = s"$base/refused-batch-$i"
      intercept[IllegalArgumentException] {
        Pipeline.run(spark, images, batchWork, thr, algorithm = algo)
      }
      assert(!new File(batchWork).exists(), s"$algo/$thr: batch run wrote $batchWork")

      val deltaWork = s"$base/refused-delta-$i"
      intercept[IllegalArgumentException] {
        Incremental.run(spark, delta, work, deltaWork, thr, algorithm = algo)
      }
      assert(!new File(s"$deltaWork/delta_signatures").exists(), s"$algo/$thr")
      assert(!new File(s"$deltaWork/_base_version").exists(), s"$algo/$thr")
      assert(markers(work) == before, s"$algo/$thr changed the corpus work dir")
    }
  }
}
