package graft

import graft.kernel.{Pdq, SignatureKernel}
import graft.lsh.{BandIndex, BandJoin, HashLayout, ProbeBall}
import graft.model.{ImageRow, Signature}
import graft.synth.Synth
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BaseJoinExec, ShuffledHashJoinExec}
import org.scalatest.funsuite.AnyFunSuite

import java.security.MessageDigest

/** Incremental band probe: probing a delta against the corpus signatures
  * must find exactly the pairs the full verification finds over corpus ∪
  * delta (reference probe semantics: query-side dihedral variants vs
  * stored originals at the per-side low-quality limit; a pair inside the
  * delta is probed both ways), at any chunk width and on either path. */
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

  private object Plans extends AdaptiveSparkPlanHelper

  /** Probe edges as (a, b, dist), and the executed plan's join on the band
    * key (`bkey`, or `band_idx` past 32-bit chunks), if any — the fallback
    * path; the in-memory path has no band join at all. */
  private def probeRun(chunkBits: Int, thr: Int, d: Seq[Signature] = delta,
                       layout: HashLayout = HashLayout.Pdq)
      : (Set[(Long, Long, Int)], Option[BaseJoinExec]) = {
    import spark.implicits._
    val df = BandIndex.probe(corpus.toDS().toDF(), d.toDS().toDF(), thr, chunkBits, layout)
    val edges = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val bandJoin = Plans.collect(df.queryExecution.executedPlan) {
      case j: BaseJoinExec if j.leftKeys.exists(_.references.exists(a =>
        a.name == "bkey" || a.name == "band_idx")) => j
    }.headOption
    (edges, bandJoin)
  }

  /** The probe ball's draws over the distinct (hash, variants, low_conf)
    * representatives of `d`'s hash-carrying rows. */
  private def ballDraws(numChunks: Int, tol: Int, chunkBits: Int, phash: Boolean = false,
                        d: Seq[Signature] = delta): Long = {
    val reps = d.filter(_.has_pdq).map(s =>
      if (phash) (Seq(s.phash64), s.phash_variants.toSeq.map(Seq(_)), s.low_conf)
      else (Seq(s.h0, s.h1, s.h2, s.h3), s.variants.toSeq.map(_.toSeq), s.low_conf)).distinct
    BandIndex.ballDraws(reps.iterator.map(r => (r._2.size, r._3)), numChunks,
      BandJoin.maskCount(tol, chunkBits))
  }

  private def asTriples(m: Map[(Long, Long), Int]) = m.map { case ((a, b), d) => (a, b, d) }.toSet

  test("index probe == brute-force per-side-limit verification") {
    // plus byte-identical copies of a confident and a low-confidence delta
    // row: the probe collapses each set to one representative and must
    // rebuild every member pair
    val src = Seq(delta.find(d => d.has_pdq && !d.low_conf),
      delta.find(d => d.has_pdq && d.low_conf)).flatten
    assert(src.size == 2, "fixture lacks a confident or a low-confidence delta row")
    val copies = for ((d, i) <- src.zipWithIndex; k <- 1 to 3)
      yield d.copy(image_id = s"${d.image_id}-copy$k", ord = 1000L + 10 * i + k)
    val withCopies = delta ++ copies
    // the copies collapse into their sources' reps: the ball is the delta's
    assert(ballDraws(16, 2, 16, d = withCopies) == 649344L)
    val (edges, band) = probeRun(16, Threshold, withCopies)
    assert(band.isEmpty, "a ball within the budget took the band join")
    val got = edges.map { case (a, b, d) => (a, b) -> d }.toMap

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

  test("32-bit index: same probe edges as 16-bit at threshold ≤ 31 (scale build)") {
    import spark.implicits._
    // radius-0 scanned side ⇒ the whole probe ball is delta-side; at
    // 32-bit chunks V(3,32)=5.5k masks fit the cap for threshold ≤ 31
    val thr = 24
    // 16-bit: V(1,16) = 17 masks, in memory; 32-bit: V(3,32) = 5,489
    // masks, past the budget — so this is also the cross-path check
    assert(ballDraws(16, 1, 16) == 81024L)
    assert(ballDraws(8, 3, 32) == 12998208L)
    val (e16, band16) = probeRun(16, thr)
    val (e32, band32) = probeRun(32, thr)
    assert(band16.isEmpty, s"16-bit ball took the band join: $band16")
    // the fallback hash-joins with the scanned side (c_ord, radius 0) as
    // its build, never the exploded ball
    band32 match {
      case Some(j: ShuffledHashJoinExec) =>
        val build = if (j.buildSide == BuildLeft) j.left else j.right
        assert(build.output.exists(_.name == "c_ord") &&
          !build.output.exists(_.name == "q_ord"), s"build side: ${j.buildSide}")
      case other => fail(s"32-bit ball: expected a shuffled hash join, got $other")
    }
    assert(e16 == e32, s"width changed probe edges: only16=${(e16 -- e32).take(5)} " +
      s"only32=${(e32 -- e16).take(5)}")
    assert(e16 == asTriples(oracle(thr, pdqDist)), "probe edges differ from brute force")
    assert(e16.nonEmpty, "no probe edges at threshold 24 — corpus too sparse")
    // threshold 16: V(2,32) = 529 masks keep the 32-bit ball in memory,
    // with its band_val read as long
    assert(ballDraws(8, 2, 32) <= BandIndex.MaxProbeBallDraws)
    val (m16, _) = probeRun(16, 16)
    val (m32, band32m) = probeRun(32, 16)
    assert(band32m.isEmpty, "32-bit ball within the budget took the band join")
    assert(m32 == m16 && m32 == asTriples(oracle(16, pdqDist)), "32-bit in-memory edges differ")
    // infeasible combination fails fast, arithmetically (no mask alloc)
    val err = intercept[IllegalArgumentException] {
      BandIndex.probe(corpus.toDS().toDF(), delta.toDS().toDF(), Threshold, 32)
    }
    assert(err.getMessage.contains("probe masks"), err.getMessage)
  }

  test("phash64 index: probe == brute-force u64 per-side-limit verification") {
    val thr = graft.lsh.BandJoin64.DefaultThreshold
    // the u64 key collapses the delta to 38 reps (PDQ's 41): 34 × 8·8·9 + 4 × 8·8
    assert(ballDraws(8, 1, 8, phash = true) == 19840L)
    val (edges, band) = probeRun(8, thr, layout = HashLayout.Phash64)
    assert(band.isEmpty, "8-bit u64 ball took the band join")
    val got = edges.map { case (a, b, d) => (a, b) -> d }.toMap

    val want = oracle(thr, (d, c) =>
      d.phash_variants.map(v => java.lang.Long.bitCount(v ^ c.phash64)).min)

    assert(got.keySet == want.keySet,
      s"missing=${(want.keySet -- got.keySet).take(5)} extra=${(got.keySet -- want.keySet).take(5)}")
    want.foreach { case (k, v) => assert(got(k) == v, s"pair $k dist ${got(k)} != $v") }
    assert(want.nonEmpty, "oracle found no u64 cross pairs — fixture broken")

    // 16-bit u64 chunks (the ≥10⁵-row width): identical probe edges
    assert(ballDraws(4, 3, 16, phash = true) == 758464L)
    val (edges16, band16) = probeRun(16, thr, layout = HashLayout.Phash64)
    assert(band16.isEmpty, "16-bit u64 ball took the band join")
    assert(edges16 == edges, "u64 chunk width changed probe edges")
  }

  test("tol-0 probe (daily-ops threshold): in-memory probe == brute force") {
    // threshold < numChunks ⇒ tol 0 ⇒ one probe key per chunk and variant
    val thr = 8
    assert(ballDraws(16, 0, 16) == 5248L)
    val (edges, band) = probeRun(16, thr)
    assert(band.isEmpty, "tol-0 ball took the band join")
    val got = edges.map { case (a, b, d) => (a, b) -> d }.toMap
    val want = oracle(thr, pdqDist)
    assert(got == want,
      s"missing=${(want.keySet -- got.keySet).take(5)} extra=${(got.keySet -- want.keySet).take(5)}")
    assert(want.nonEmpty, "no tol-0 pairs — fixture lacks exact/near dups")
  }

  test("16-bit fallback at threshold 48 (ball past the budget) == brute force") {
    // tol 3 over 16-bit chunks: V(3,16) = 697 masks; 296 confident
    // variants × 16 × 697 + 32 low-confidence ones × 16 draws
    val thr = 48
    assert(ballDraws(16, 3, 16) == 3301504L)
    // plus a low-confidence delta row 3 bits from a confident corpus row:
    // it shares 15 of its 16 chunks, so it collides, and the per-side
    // limit 0 must drop the pair
    val c = corpus.find(r => r.has_pdq && !r.low_conf).get
    val lowNear = c.copy(image_id = s"${c.image_id}-lownear", ord = 2000L, low_conf = true,
      h0 = c.h0 ^ 7L, variants = c.variants.map(v => v.updated(0, v(0) ^ 7L)))
    val d = delta :+ lowNear
    val (edges, band) = probeRun(16, thr, d)
    assert(band.nonEmpty, "a ball past the budget probed in memory")
    assert(edges == asTriples(oracle(thr, pdqDist, d)), "probe edges differ from brute force")
  }

  test("build exports one base segment beside its meta files") {
    import spark.implicits._
    // the export nothing in the program reads: its width and algorithm
    // are write-once, and a second build is a no-op
    val dir = java.nio.file.Files.createTempDirectory("graft-bandindex-export").toString
    val idx = s"$dir/index"
    BandIndex.build(corpus.toDS().toDF(), idx, chunkBits = 32)
    BandIndex.build(corpus.toDS().toDF(), idx, chunkBits = 32)
    def text(name: String) = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(idx, name)), "UTF-8")
    assert(text("_meta_algo") == BandIndex.AlgoPdq && text("_meta_chunk_bits") == "32")
    assert(new java.io.File(idx).list().filter(_.startsWith("seg_")).toSeq == Seq("seg_base"))
    val rows = spark.read.parquet(s"$idx/seg_base")
    assert(rows.count() == 8L * corpus.count(_.has_pdq), "one row per 32-bit chunk")
    val err = intercept[IllegalArgumentException](
      BandIndex.build(corpus.toDS().toDF(), idx, chunkBits = 16))
    assert(err.getMessage.contains("chunk_bits is 32"), err.getMessage)
  }

  test("probe ball key: the packed word's bit budget is enforced at 32-bit chunks") {
    // 8 × 32-bit chunks: 3 band_idx bits + 32 chunk bits leave 29 entry bits
    assert(ProbeBall.entryBits(8, 32, 1 << 29) == 29)
    val err = intercept[IllegalArgumentException](ProbeBall.entryBits(8, 32, (1 << 29) + 1))
    assert(err.getMessage.contains("exceed 64"), err.getMessage)
    // the largest ball the budget admits at that width fits with room
    assert(ProbeBall.entryBits(8, 32, (BandIndex.MaxProbeBallDraws / 8).toInt) <= 29)
  }
}
