package graft

import graft.kernel.SignatureKernel
import graft.model.ImageRow
import graft.synth.Synth
import org.scalatest.funsuite.AnyFunSuite

import java.security.MessageDigest

/**
 * End-to-end gate (FIXTURES.md §5): the Spark pipeline's duplicate-pair set
 * must match (a) an in-process oracle re-implementing the reference's
 * grouping semantics (scanner.rs:1640-1823: min-over-8-dihedral-variants
 * Hamming ≤ per-side limit → union-find → groups>1) with recall ≥ 0.99 and
 * precision ≥ 0.99, and (b) the synthetic ground truth on the well-behaved
 * variant classes.
 */
class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Threshold = Pipeline.DefaultThreshold

  private val nBases = 60L
  private lazy val rows = (0L until nBases).flatMap(Synth.rowsForBase)

  /** reference-semantics oracle over the same rows */
  private lazy val oraclePairs: Set[(String, String)] = {
    val sha = MessageDigest.getInstance("SHA-256")
    val sigs = rows.map { r =>
      SignatureKernel.computeOne(
        ImageRow(r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash), sha)
    }
    val n = sigs.length
    val parent = Array.tabulate(n)(identity)
    def find(i: Int): Int = { var x = i; while (x != parent(x)) x = parent(x); x }
    def union(i: Int, j: Int): Unit = {
      val (a, b) = (find(i), find(j)); if (a != b) parent(a) = b
    }
    for (i <- 0 until n; j <- i + 1 until n) {
      val si = sigs(i); val sj = sigs(j)
      if (si.has_pdq && sj.has_pdq) {
        val baseLimit = if (si.low_conf) 0 else Threshold
        val limit = if (sj.low_conf) 0 else baseLimit
        val hj = Array(sj.h0, sj.h1, sj.h2, sj.h3)
        val hi = Array(si.h0, si.h1, si.h2, si.h3)
        // symmetric: either side's dihedral variants vs the other's hash
        // (the pipeline is scan-order-independent; see BandJoin.fuzzyEdges)
        val minDist = math.min(
          si.variants.map(v => graft.kernel.Pdq.hammingLongs(v, hj)).min,
          sj.variants.map(v => graft.kernel.Pdq.hammingLongs(v, hi)).min)
        if (minDist <= limit) union(i, j)
      }
    }
    val groups = (0 until n).groupBy(find).values.filter(_.size > 1)
    groups.flatMap { g =>
      val ids = g.map(i => sigs(i).image_id).sorted
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet
  }

  private lazy val pipelinePairs: Set[(String, String)] = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-e2e").toString
    val images = rows
      .map(r => (r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash))
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    val grouped = Pipeline.run(spark, images, s"$dir/work", Threshold)
    Pipeline.dupPairs(grouped).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
  }

  test("pipeline matches the reference-semantics oracle (recall & precision ≥ 0.99)") {
    val oracle = oraclePairs
    val pipe = pipelinePairs
    assert(oracle.nonEmpty, "oracle found no duplicate pairs — corpus broken")
    val recall = oracle.intersect(pipe).size.toDouble / oracle.size
    val precision = if (pipe.isEmpty) 1.0 else oracle.intersect(pipe).size.toDouble / pipe.size
    info(s"oracle pairs=${oracle.size} pipeline pairs=${pipe.size} " +
      f"recall=$recall%.4f precision=$precision%.4f")
    assert(recall >= 0.99, f"recall $recall%.4f < 0.99")
    assert(precision >= 0.99, f"precision $precision%.4f < 0.99")
  }

  test("ground-truth recall ≥ 0.99 on well-behaved variant classes") {
    val good = Set("orig", "exact", "recompress", "resize", "rot90", "rot180",
      "rot270", "fliph", "flipv", "gray-raw", "flat", "flatcopy",
      "bright", "contrast", "tiff16", "rawprev", "pdfwrap", "webp",
      "webpanim", "qoi", "ffeld", "hdrimg", "ddsimg")
    val byGroup = rows.filter(r => good(r.variant))
      .groupBy(r => (r.group_id, if (r.variant.startsWith("flat")) "flat" else "fuzzy"))
      .values.filter(_.size > 1)
    val truthPairs = byGroup.flatMap { g =>
      val ids = g.map(_.image_id).sorted
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet
    val pipe = pipelinePairs
    val recall = truthPairs.intersect(pipe).size.toDouble / truthPairs.size
    val missing = truthPairs -- pipe
    if (missing.nonEmpty) {
      val vByIds = rows.map(r => r.image_id -> s"${r.variant}(${r.w}x${r.h})").toMap
      missing.foreach(p => info(s"missing: ${p._1}=${vByIds(p._1)} ↔ ${p._2}=${vByIds(p._2)}"))
    }
    info(f"truth pairs=${truthPairs.size} recall=$recall%.4f")
    assert(recall >= 0.99, f"truth recall $recall%.4f < 0.99")
  }

  test("crop5 stress class reported separately (FIXTURES.md §2)") {
    val cropIds = rows.filter(_.variant == "crop5").map(_.image_id).toSet
    assume(cropIds.nonEmpty)
    val origOf = cropIds.map(id => id -> id.replace("-crop5", "-orig")).toMap
    val pipe = pipelinePairs
    val hits = cropIds.count { c =>
      val o = origOf(c)
      pipe.contains(if (c < o) (c, o) else (o, c))
    }
    info(s"crop5 matched $hits/${cropIds.size} (borderline class, no gate)")
  }

  test("unrelated images and caption-dups never group (precision guard)") {
    val solos = rows.filter(r => r.variant == "unrelated").map(_.image_id).toSet
    val pipe = pipelinePairs
    val soloInPair = pipe.exists(p => solos(p._1) || solos(p._2))
    assert(!soloInPair, "an unrelated singleton was grouped")
    val caps = rows.filter(_.variant == "caption-dup").map(_.image_id).toSet
    assert(!pipe.exists(p => caps(p._1) && caps(p._2)),
      "caption-dup pair grouped by the image pipeline")
  }

  test("group status analytics: flat copies are AllIdentical") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-status").toString
    val flatRows = rows.filter(_.variant.startsWith("flat"))
    assume(flatRows.nonEmpty)
    val images = rows
      .map(r => (r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash))
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    val grouped = Pipeline.run(spark, images, s"$dir/work", Threshold)
    val statuses = grouped
      .filter($"image_id".isin(flatRows.map(_.image_id): _*))
      .select("image_id", "status", "group_size").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // byte-identical copies: AllIdentical when the component is exactly the
    // pair; if distinct flat bases collapsed onto one hash (legal at dist 0)
    // the merged group is SomeIdentical — both accepted, None is not.
    flatRows.foreach { m =>
      statuses.get(m.image_id).foreach { case (st, sz) =>
        if (sz == 2) assert(st == "AllIdentical", s"${m.image_id}: $st")
        else assert(st == "SomeIdentical" || st == "AllIdentical", s"${m.image_id}: $st")
      }
    }
  }

  test("phash algorithm mode matches its reference-semantics oracle") {
    // the reference's second grouping algorithm (HammingHash<u64>,
    // hamminghash.rs:23-41): 8×8-bit chunks, threshold MAX_SIMILARITY_64=15,
    // bitwise dihedral probe variants (phash.rs:242-255)
    import spark.implicits._
    val phThreshold = graft.lsh.BandJoin64.DefaultThreshold
    val sha = MessageDigest.getInstance("SHA-256")
    val sigs = rows.map { r =>
      SignatureKernel.computeOne(
        ImageRow(r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash), sha)
    }
    val n = sigs.length
    val parent = Array.tabulate(n)(identity)
    def find(i: Int): Int = { var x = i; while (x != parent(x)) x = parent(x); x }
    def union(i: Int, j: Int): Unit = {
      val (a, b) = (find(i), find(j)); if (a != b) parent(a) = b
    }
    for (i <- 0 until n; j <- i + 1 until n) {
      val si = sigs(i); val sj = sigs(j)
      if (si.has_pdq && sj.has_pdq) {
        val baseLimit = if (si.low_conf) 0 else phThreshold
        val limit = if (sj.low_conf) 0 else baseLimit
        val minDist = math.min(
          si.phash_variants.map(v => java.lang.Long.bitCount(v ^ sj.phash64)).min,
          sj.phash_variants.map(v => java.lang.Long.bitCount(v ^ si.phash64)).min)
        if (minDist <= limit) union(i, j)
      }
    }
    val oracle = (0 until n).groupBy(find).values.filter(_.size > 1).flatMap { g =>
      val ids = g.map(i => sigs(i).image_id).sorted
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet

    val dir = java.nio.file.Files.createTempDirectory("graft-phmode").toString
    val images = rows
      .map(r => (r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash))
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    val grouped = Pipeline.run(spark, images, s"$dir/work", phThreshold,
      algorithm = "phash")
    val pipe = Pipeline.dupPairs(grouped).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(oracle.nonEmpty, "phash oracle found no duplicate pairs")
    val recall = oracle.intersect(pipe).size.toDouble / oracle.size
    val precision = if (pipe.isEmpty) 1.0 else oracle.intersect(pipe).size.toDouble / pipe.size
    info(s"phash oracle=${oracle.size} pipeline=${pipe.size} " +
      f"recall=$recall%.4f precision=$precision%.4f")
    assert(recall >= 0.99, f"phash recall $recall%.4f < 0.99")
    assert(precision >= 0.99, f"phash precision $precision%.4f < 0.99")
  }

  test("per-fmt decode metrics: unsupported vs error vs too_small split out") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-fmtmetrics").toString
    val ok = rows.head
    val images = Seq(
      (ok.image_id, ok.bytes, ok.w, ok.h, ok.fmt, ok.caption, ok.phash),
      ("bad-jxl", Array[Byte](1, 2, 3), 10, 10, "jxl", "c", 0L),
      ("bad-jpg", Array[Byte](9, 9, 9, 9), 10, 10, "jpg", "c", 0L),
      ("tiny", Array.fill[Byte](9)(7), 3, 3, "gray-raw", "c", 0L))
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    Pipeline.run(spark, images, s"$dir/work", Threshold)
    val metrics = spark.read.parquet(s"$dir/work/_metrics")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(metrics("images") == 4.0)
    assert(metrics("decode_failures") == 3.0)
    assert(metrics("decode:jxl:unsupported") == 1.0, metrics.toString)
    assert(metrics("decode:jpg:error") == 1.0, metrics.toString)
    assert(metrics("decode:gray-raw:too_small") == 1.0, metrics.toString)
  }

  test("contentStar groups byte-identical undecodable rows (off by default)") {
    import spark.implicits._
    val corrupt = Array[Byte](1, 2, 3, 4, 5)
    val ok = rows.head
    val images = Seq(
      (ok.image_id, ok.bytes, ok.w, ok.h, ok.fmt, ok.caption, ok.phash),
      ("corrupt-a", corrupt, 10, 10, "jpg", "c", 0L),
      ("corrupt-b", corrupt, 10, 10, "jpg", "c", 0L), // identical bytes
      ("corrupt-c", Array[Byte](9, 9, 9), 10, 10, "jpg", "c", 0L))
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    val d1 = java.nio.file.Files.createTempDirectory("graft-cstar1").toString
    val off = Pipeline.run(spark, images, s"$d1/work", Threshold)
      .select("image_id").collect().map(_.getString(0)).toSet
    assert(!off.contains("corrupt-a"),
      "reference parity: undecodable rows must not group by default")
    val d2 = java.nio.file.Files.createTempDirectory("graft-cstar2").toString
    val on = Pipeline.run(spark, images, s"$d2/work", Threshold,
      contentStar = true)
    val comps = on.select("image_id", "comp").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(comps.contains("corrupt-a") && comps("corrupt-a") == comps("corrupt-b"),
      "byte-identical undecodable rows must group with contentStar on")
    assert(!comps.contains("corrupt-c"), "distinct corrupt bytes must stay solo")
  }

  test("all-undecodable corpus completes with zero groups (degenerate input)") {
    import spark.implicits._
    val images = (0 until 20).map(i =>
      (s"bad-$i", Array[Byte](i.toByte, 1, 2), 10, 10, "jpg", s"cap $i", 0L))
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    val dir = java.nio.file.Files.createTempDirectory("graft-allbad").toString
    val grouped = Pipeline.run(spark, images, s"$dir/work", Threshold)
    assert(grouped.count() == 0, "no hashes ⇒ no groups (reference parity)")
    val metrics = spark.read.parquet(s"$dir/work/_metrics")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(metrics("decode_failures") == 20.0)
  }

  test("checkpoint resume is idempotent (no recompute on second run)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-resume").toString
    val images = rows.take(30)
      .map(r => (r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash))
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    Pipeline.run(spark, images, s"$dir/work", Threshold).count()
    val lineage1 = spark.read.parquet(s"$dir/work/_lineage").count()
    val g2 = Pipeline.run(spark, images, s"$dir/work", Threshold)
    assert(g2.count() >= 0)
    val lineage2 = spark.read.parquet(s"$dir/work/_lineage").count()
    assert(lineage1 == lineage2, "second run recomputed a committed stage")
    // per-partition lineage: partition row counts must sum to stage totals
    val perStage = spark.read.parquet(s"$dir/work/_lineage_files")
      .groupBy("stage").sum("rows").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = spark.read.parquet(s"$dir/work/_lineage")
      .select("stage", "rows").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(perStage.nonEmpty, "no per-partition lineage rows")
    perStage.foreach { case (st, n) =>
      assert(totals(st) == n, s"stage $st: partition sum $n != total ${totals(st)}")
    }
  }

  test("comparisons is the edges stage's lineage count, and a resumed run adds none") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-comparisons").toString
    val images = rows.take(40)
      .map(r => (r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash))
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    def comparisons() = spark.read.parquet(s"$dir/work/_metrics")
      .where($"metric" === "comparisons").select("value").as[Double].collect().toSeq
    Pipeline.run(spark, images, s"$dir/work", Threshold).count()
    val edgeRows = spark.read.parquet(s"$dir/work/_lineage")
      .where($"stage" === "edges").select("rows").as[Long].collect().toSeq
    assert(edgeRows.size == 1 && edgeRows.head > 0, s"edges lineage rows: $edgeRows")
    assert(edgeRows.head == spark.read.parquet(s"$dir/work/edges").count())
    assert(comparisons() == Seq(edgeRows.head.toDouble))
    Pipeline.run(spark, images, s"$dir/work", Threshold).count()
    assert(comparisons() == Seq(edgeRows.head.toDouble), "resumed run appended comparisons")
  }
}
