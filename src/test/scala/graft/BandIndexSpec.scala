package graft

import graft.kernel.{Pdq, SignatureKernel}
import graft.lsh.BandIndex
import graft.model.{ImageRow, Signature}
import graft.synth.Synth
import org.scalatest.funsuite.AnyFunSuite

import java.security.MessageDigest

/** Persisted range-partitioned band index: probing a delta against the
  * corpus index must find exactly the pairs the full verification finds
  * over corpus ∪ delta (reference probe semantics: query-side dihedral
  * variants vs stored originals at the per-side low-quality limit; a pair
  * inside the delta is probed both ways). */
class BandIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Threshold = Pipeline.DefaultThreshold

  private lazy val sigs = {
    val sha = MessageDigest.getInstance("SHA-256")
    (0L until 40L).flatMap(Synth.rowsForBase).zipWithIndex.map { case (r, i) =>
      SignatureKernel.computeOne(
        ImageRow(r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash), sha)
        .copy(ord = i.toLong)
    }
  }
  private lazy val corpus = sigs.filter(_.ord % 3 != 0)
  private lazy val delta = sigs.filter(_.ord % 3 == 0)

  private def pdqDist(d: Signature, c: Signature): Int =
    d.variants.map(v => Pdq.hammingLongs(v, Array(c.h0, c.h1, c.h2, c.h3))).min

  /** The probe's contract by brute force: every pair a delta row has in
    * corpus ∪ delta within the per-side limit, as (a < b) at the min dist
    * over the directions it is probed in. */
  private def oracle(thr: Int, dist: (Signature, Signature) => Int,
                     delta: Seq[Signature] = delta): Map[(Long, Long), Int] =
    (for {
      d <- delta if d.has_pdq
      c <- corpus ++ delta if c.has_pdq && c.ord != d.ord
      limit = if (d.low_conf || c.low_conf) 0 else thr
      dc = dist(d, c)
      if dc <= limit
    } yield (math.min(d.ord, c.ord), math.max(d.ord, c.ord)) -> dc)
      .groupMapReduce(_._1)(_._2)(math.min)

  test("index probe == brute-force per-side-limit verification") {
    import spark.implicits._
    // plus byte-identical copies of a confident and a low-confidence delta
    // row: the probe collapses each set to one representative and must
    // rebuild every member pair
    val src = Seq(delta.find(d => d.has_pdq && !d.low_conf),
      delta.find(d => d.has_pdq && d.low_conf)).flatten
    assert(src.size == 2, "fixture lacks a confident or a low-confidence delta row")
    val copies = for ((d, i) <- src.zipWithIndex; k <- 1 to 3)
      yield d.copy(image_id = s"${d.image_id}-copy$k", ord = 1000L + 10 * i + k)
    val withCopies = delta ++ copies
    val dir = java.nio.file.Files.createTempDirectory("graft-bandindex").toString
    BandIndex.build(corpus.toDS().toDF(), s"$dir/index")
    val got = BandIndex.probe(spark, s"$dir/index", withCopies.toDS().toDF(), Threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap

    val want = oracle(Threshold, pdqDist, withCopies)

    assert(got.keySet == want.keySet,
      s"missing=${(want.keySet -- got.keySet).take(5)} extra=${(got.keySet -- want.keySet).take(5)}")
    want.foreach { case (k, v) => assert(got(k) == v, s"pair $k dist ${got(k)} != $v") }
    val deltaOrds = withCopies.map(_.ord).toSet
    assert(want.keySet.exists(p => !deltaOrds(p._1) || !deltaOrds(p._2)),
      "oracle found no cross pairs — split broken")
    assert(want.keySet.exists(p => deltaOrds(p._1) && deltaOrds(p._2) &&
      p._2 < 1000L), "oracle found no pairs inside the delta")
    src.foreach { d =>
      val set = d.ord +: copies.filter(_.image_id.startsWith(s"${d.image_id}-copy")).map(_.ord)
      for (x <- set; y <- set if x < y) assert(got.get((x, y)).contains(0), s"copy pair ($x, $y)")
    }
  }

  test("append extends the index; re-probe finds pairs in the appended part") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bandindex2").toString
    val (half1, half2) = corpus.splitAt(corpus.size / 2)
    BandIndex.build(half1.toDS().toDF(), s"$dir/index")
    val before = BandIndex.probe(spark, s"$dir/index", delta.toDS().toDF(), Threshold).count()
    BandIndex.append(half2.toDS().toDF(), s"$dir/index")
    val after = BandIndex.probe(spark, s"$dir/index", delta.toDS().toDF(), Threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = {
      val d2 = java.nio.file.Files.createTempDirectory("graft-bandindex3").toString
      BandIndex.build(corpus.toDS().toDF(), s"$d2/index")
      BandIndex.probe(spark, s"$d2/index", delta.toDS().toDF(), Threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(after == full, "append+probe differs from fresh full index")
    assert(after.size >= before, "appending shrank the result")
  }

  test("compact: many segments collapse to one, probe results unchanged") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bandindex5").toString
    val thirds = corpus.grouped(math.max(corpus.size / 3, 1)).toSeq
    BandIndex.build(thirds.head.toDS().toDF(), s"$dir/index")
    thirds.tail.zipWithIndex.foreach { case (part, i) =>
      BandIndex.append(part.toDS().toDF(), s"$dir/index", s"seg_delta_$i")
    }
    val before = BandIndex.probe(spark, s"$dir/index", delta.toDS().toDF(), Threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    BandIndex.compact(spark, s"$dir/index")
    val segsAfter = new java.io.File(s"$dir/index").listFiles()
      .filter(_.getName.startsWith("seg_"))
    assert(segsAfter.length == 1, s"expected 1 segment, got ${segsAfter.map(_.getName).toSeq}")
    val after = BandIndex.probe(spark, s"$dir/index", delta.toDS().toDF(), Threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(after == before, "compaction changed probe results")
    // idempotent / no-op on a single segment
    BandIndex.compact(spark, s"$dir/index")
    assert(BandIndex.maxOrd(spark, s"$dir/index") ==
      corpus.map(_.ord).max)
  }

  test("recompaction after new deltas keeps every row (name-collision regression)") {
    import spark.implicits._
    // compact(base+2 deltas) → +2 deltas → compact again must MERGE, not
    // reuse the first compaction's name and delete the unmerged deltas
    val dir = java.nio.file.Files.createTempDirectory("graft-bandindex6").toString
    val parts = corpus.grouped(math.max(corpus.size / 5, 1)).toSeq
    BandIndex.build(parts(0).toDS().toDF(), s"$dir/index")
    BandIndex.append(parts(1).toDS().toDF(), s"$dir/index", "seg_delta_a")
    BandIndex.append(parts(2).toDS().toDF(), s"$dir/index", "seg_delta_b")
    BandIndex.compact(spark, s"$dir/index") // 3 segments → 1
    BandIndex.append(parts(3).toDS().toDF(), s"$dir/index", "seg_delta_c")
    BandIndex.append(parts(4).toDS().toDF(), s"$dir/index", "seg_delta_d")
    val wantRows = BandIndex.read(spark, s"$dir/index").count()
    // grouped() may emit a 6th remainder part that never gets appended —
    // the expectation covers exactly the five appended parts
    val wantMax = parts.take(5).flatten.filter(_.has_pdq).map(_.ord).max
    BandIndex.compact(spark, s"$dir/index") // again 3 segments → 1
    assert(BandIndex.read(spark, s"$dir/index").count() == wantRows,
      "second compaction dropped rows")
    assert(BandIndex.maxOrd(spark, s"$dir/index") == wantMax)
  }

  test("compaction crash window: merged segment committed, no input deleted yet") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bandindex-crash").toString
    val idx = s"$dir/index"
    val thirds = corpus.grouped(math.max(corpus.size / 3, 1)).toSeq
    BandIndex.build(thirds.head.toDS().toDF(), idx)
    BandIndex.append(thirds(1).toDS().toDF(), idx, "seg_delta_x")
    BandIndex.append(thirds(2).toDS().toDF(), idx, "seg_delta_y")
    def edges() = BandIndex.probe(spark, idx, delta.toDS().toDF(), Threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val (wantEdges, wantMax) = (edges(), BandIndex.maxOrd(spark, idx))
    // the inputs and their sidecars as they stand before the compaction
    val inputs = new java.io.File(idx).listFiles().map(_.getName)
      .filter(n => n.startsWith("seg_") || n.startsWith("_segmax_"))
    val aside = java.nio.file.Files.createTempDirectory("graft-bandindex-crash-aside")
    def copy(from: java.io.File, to: java.io.File): Unit =
      if (from.isDirectory) org.apache.commons.io.FileUtils.copyDirectory(from, to)
      else org.apache.commons.io.FileUtils.copyFile(from, to)
    inputs.foreach(n => copy(new java.io.File(s"$idx/$n"), aside.resolve(n).toFile))
    BandIndex.compact(spark, idx)
    inputs.foreach(n => copy(aside.resolve(n).toFile, new java.io.File(s"$idx/$n")))
    def segs = new java.io.File(idx).listFiles().map(_.getName).filter(_.startsWith("seg_"))
    assert(segs.length == 4, segs.toSeq)
    assert(edges() == wantEdges, "crash window changed probe edges")
    assert(BandIndex.maxOrd(spark, idx) == wantMax)
    BandIndex.compact(spark, idx)
    assert(segs.length == 1, segs.toSeq)
    assert(edges() == wantEdges, "compaction after the crash window changed probe edges")
    assert(BandIndex.maxOrd(spark, idx) == wantMax)
  }

  test("maxOrd is metadata-only: zero Spark jobs once sidecars exist") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bandindex7").toString
    BandIndex.build(corpus.toDS().toDF(), s"$dir/index")
    BandIndex.append(delta.toDS().toDF(), s"$dir/index", "seg_delta_m")
    val wantMax = sigs.filter(_.has_pdq).map(_.ord).max
    // legacy path: delete the sidecars — maxOrd must self-heal (scans once)
    new java.io.File(s"$dir/index").listFiles()
      .filter(_.getName.startsWith("_segmax_")).foreach(f => assert(f.delete()))
    assert(BandIndex.maxOrd(spark, s"$dir/index") == wantMax)
    // sidecars are back; the audit is now zero Spark jobs
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      assert(BandIndex.maxOrd(spark, s"$dir/index") == wantMax)
      Thread.sleep(1000) // listener bus is async — let any job event land
      assert(jobs.get() == 0, s"maxOrd launched ${jobs.get()} Spark jobs")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("32-bit index: same probe edges as 16-bit at threshold ≤ 31 (scale build)") {
    import spark.implicits._
    // radius-0 index ⇒ the whole probe ball is delta-side; at 32-bit
    // chunks V(3,32)=5.5k masks fit the cap for threshold ≤ 31
    val thr = 24
    val d16 = java.nio.file.Files.createTempDirectory("graft-bi16").toString
    val d32 = java.nio.file.Files.createTempDirectory("graft-bi32").toString
    BandIndex.build(corpus.toDS().toDF(), s"$d16/index")
    BandIndex.build(corpus.toDS().toDF(), s"$d32/index", chunkBits = 32)
    assert(BandIndex.chunkBitsOf(spark, s"$d32/index") == 32)
    def probe(p: String) = BandIndex.probe(spark, p, delta.toDS().toDF(), thr)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val e16 = probe(s"$d16/index")
    val e32 = probe(s"$d32/index")
    assert(e16 == e32, s"width changed probe edges: only16=${(e16 -- e32).take(5)} " +
      s"only32=${(e32 -- e16).take(5)}")
    assert(e16.nonEmpty, "no probe edges at threshold 24 — corpus too sparse")
    // infeasible combination fails fast, arithmetically (no mask alloc)
    val err = intercept[IllegalArgumentException] {
      BandIndex.probe(spark, s"$d32/index", delta.toDS().toDF(), Threshold)
    }
    assert(err.getMessage.contains("probe masks"), err.getMessage)
    // an appended segment inherits the index's width (single-width dirs)
    BandIndex.append(delta.toDS().toDF(), s"$d32/index", "seg_delta_w")
    assert(BandIndex.read(spark, s"$d32/index")
      .agg(org.apache.spark.sql.functions.max("band_idx")).head().getInt(0) == 7)
  }

  test("phash64 index: probe == brute-force u64 per-side-limit verification") {
    import spark.implicits._
    val thr = graft.lsh.BandJoin64.DefaultThreshold
    val dir = java.nio.file.Files.createTempDirectory("graft-bandindex-ph").toString
    BandIndex.build(corpus.toDS().toDF(), s"$dir/index",
      chunkBits = graft.lsh.BandJoin64.BitsPerChunk, algo = BandIndex.AlgoPhash64)
    assert(BandIndex.algoOf(spark, s"$dir/index") == BandIndex.AlgoPhash64)
    val got = BandIndex.probe(spark, s"$dir/index", delta.toDS().toDF(), thr)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap

    val want = oracle(thr, (d, c) =>
      d.phash_variants.map(v => java.lang.Long.bitCount(v ^ c.phash64)).min)

    assert(got.keySet == want.keySet,
      s"missing=${(want.keySet -- got.keySet).take(5)} extra=${(got.keySet -- want.keySet).take(5)}")
    want.foreach { case (k, v) => assert(got(k) == v, s"pair $k dist ${got(k)} != $v") }
    assert(want.nonEmpty, "oracle found no u64 cross pairs — fixture broken")

    // 16-bit u64 index (the ≥10⁵-row width): identical probe edges
    val d16 = java.nio.file.Files.createTempDirectory("graft-bandindex-ph16").toString
    BandIndex.build(corpus.toDS().toDF(), s"$d16/index",
      chunkBits = 16, algo = BandIndex.AlgoPhash64)
    val got16 = BandIndex.probe(spark, s"$d16/index", delta.toDS().toDF(), thr)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got16 == got, "u64 chunk width changed probe edges")
  }

  test("tol-0 probe (daily-ops threshold): semi-filtered index == brute force") {
    import spark.implicits._
    // threshold < numChunks ⇒ tol 0 ⇒ one probe key per chunk: the probed
    // key set is provably sparse, the broadcast semi-filter engages, and
    // the index exchange is O(touched buckets) — results must be identical
    val thr = 8
    val dir = java.nio.file.Files.createTempDirectory("graft-bandindex-t0").toString
    BandIndex.build(corpus.toDS().toDF(), s"$dir/index")
    val got = BandIndex.probe(spark, s"$dir/index", delta.toDS().toDF(), thr)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val want = oracle(thr, pdqDist)
    assert(got == want,
      s"missing=${(want.keySet -- got.keySet).take(5)} extra=${(got.keySet -- want.keySet).take(5)}")
    assert(want.nonEmpty, "no tol-0 pairs — fixture lacks exact/near dups")
  }

  test("range layout: files carry tight band_idx min-max (pruning basis)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bandindex4").toString
    BandIndex.build(corpus.toDS().toDF(), s"$dir/index")
    // each physical file must cover a narrow slice of the key space:
    // read per-file min/max of band_idx via input_file_name grouping
    val stats = BandIndex.read(spark, s"$dir/index")
      .groupBy(org.apache.spark.sql.functions.input_file_name())
      .agg(org.apache.spark.sql.functions.min("band_idx").as("lo"),
        org.apache.spark.sql.functions.max("band_idx").as("hi"))
      .collect()
    assert(stats.length > 1, "expected multiple range files")
    val avgSpan = stats.map(r => r.getInt(2) - r.getInt(1) + 1).sum.toDouble / stats.length
    assert(avgSpan <= 4.0,
      f"files span $avgSpan%.1f of 16 band indexes on average — not range-clustered")
  }
}
