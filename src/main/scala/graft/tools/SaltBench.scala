package graft.tools

import graft.cc.ConnectedComponents
import graft.lsh.{BandJoin, HashLayout}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/**
 * The SURVEY §4 adversarial flat-corpus scenario, driven end-to-end:
 * ≥ 2M confident rows with ONE band bucket holding ≥ 10⁶ index rows —
 * the pathology auto-salting exists for (scanner.rs:1579-1594 bounds the
 * reference's own flat-image case by exact-only routing of low-quality
 * rows; this corpus is the CONFIDENT-row version, e.g. diverse images
 * whose DCT chunk 0 collapses to one value).
 *
 * Why salting and not AQE: AQE's skew-join split detects skew by
 * shuffle-partition INPUT bytes (skewedPartitionThresholdInBytes,
 * default 256 MB). The hot bucket here is ~60 MB of input rows that
 * expand to billions of collision rows in ONE task's join output — an
 * output-volume skew AQE never sees. Salting splits the bucket S ways
 * BEFORE the shuffle, bounding every task's collision product.
 *
 * Collision accounting (why the hot bucket's probe side is 6k, not
 * 10⁶): a bucket hot on BOTH sides is inherently quadratic — 10⁶×10⁶ =
 * 10¹² candidate pairs that no engine, salted or not, single-node or
 * 1000-executor, can verify; the reference's MIH probe would walk the
 * same 10¹² candidates. Salting's honest claim is parallelizing the
 * collision volume, so the bench sizes it tractable-but-skewed:
 * 10⁶ (index) × 6000 (probe) = 6·10⁹ verify evaluations that land in
 * one task unsalted and in S parallel tasks salted.
 *
 * Asserts: (a) the AUTO path derives the expected factor from the
 * measured bucket, (b) salted edges == unsalted edges exactly (200
 * planted 3-member clusters + any incidentals), (c) the max task wall
 * collapses ≥ 1.5×.
 *
 * Usage: runMain graft.tools.SaltBench [nRows] [hotRows] [cpus]
 * Prints one SALTBENCH JSON line.
 */
object SaltBench {
  final val HotChunk = 0xabcdL

  // 2.6M rows × 16 chunks explode to ~42M probe-side build rows: at
  // `cpus` shuffle partitions each SHJ task would build a ~2.6M-row
  // hash map and OOM the execution pool — 64 partitions keeps builds
  // ~650k rows (the shuffle-partition sizing rule SCALING.md states)
  def main(args: Array[String]): Unit =
    Harness.run(args.lift(2).fold(16)(_.toInt), minPartitions = 64)(measure(_,
      n = args.headOption.fold(2600000L)(_.toLong), hot = args.lift(1).fold(1000000L)(_.toLong)))

  def measure(spark: SparkSession, n: Long, hot: Long): String = {
    val cpus = spark.sparkContext.defaultParallelism
    val hotProbes = 6000L
    val threshold = 8 // tol 0: 1 mask/side — collision volume is pure bucket product
    require(n > BandJoin.AutoSaltMinRows,
      s"corpus $n must exceed the auto-salt floor ${BandJoin.AutoSaltMinRows}")
    import spark.implicits._

    // Deterministic corpus:
    //  - ords [0, hot): INDEX hash chunk 0 pinned to HotChunk (the hot
    //    bucket), everything else random; their PROBE variant re-draws
    //    chunk 0 away from HotChunk (dihedral variant hashes genuinely
    //    differ from originals) so the bucket is hot on one side only —
    //    see the collision accounting above.
    //  - ords [n-6000, n): probe variant chunk 0 pinned to HotChunk —
    //    the 6k rows that drag the hot bucket through the join.
    //  - 200 planted 3-member clusters (pairwise dist ≤ threshold) in
    //    the random region — the recall payload both runs must agree on.
    val plantedBase = hot + 1000
    val sig = spark.range(0, n, 1, cpus).map { i =>
      val r = new java.util.Random(97L * 1000003L + i)
      val hs = Array(r.nextLong(), r.nextLong(), r.nextLong(), r.nextLong())
      var v0 = hs(0)
      if (i < hot) {
        hs(0) = (hs(0) & ~0xffffL) | HotChunk
        val alt = r.nextInt(0x10000)
        v0 = (hs(0) & ~0xffffL) |
          (if (alt == HotChunk.toInt) alt + 1 else alt).toLong
      } else if (i >= n - hotProbes) {
        v0 = (hs(0) & ~0xffffL) | HotChunk
      } else if (i >= plantedBase && i < plantedBase + 600) {
        val c = (i - plantedBase) / 3
        val rc = new java.util.Random(55L * 1000003L + c)
        hs(0) = rc.nextLong(); hs(1) = rc.nextLong()
        hs(2) = rc.nextLong(); hs(3) = rc.nextLong()
        val rf = new java.util.Random(77L * 1000003L + i)
        (0 until 1 + rf.nextInt(threshold / 2)).foreach { _ =>
          val bit = rf.nextInt(256)
          hs(bit / 64) ^= (1L << (bit % 64))
        }
        v0 = hs(0)
      }
      (i, hs(0), hs(1), hs(2), hs(3),
        Array(Array(v0, hs(1), hs(2), hs(3))), false, true)
    }.toDF("ord", "h0", "h1", "h2", "h3", "variants", "low_conf", "has_pdq")
      .localCheckpoint() // freeze: time only the join

    val durations = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskInfo != null) durations.add(e.taskInfo.duration)
    })

    def run(saltFactor: Int): (Double, Long, Set[(Long, Long, Int)]) = {
      durations.clear()
      val (edges, wall) = Harness.timed(BandJoin.fuzzyEdges(sig, threshold,
          saltFactor = saltFactor, nConfHint = n).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet)
      val maxTask = durations.asScala.foldLeft(0L)((a, b) =>
        math.max(a, b.longValue))
      (wall, maxTask, edges)
    }

    // measured occupancy -> derived factor (the exact agg the auto path runs)
    val conf = sig.filter(col("has_pdq") && !col("low_conf"))
    val derived = BandJoin.autoSaltFactor(HashLayout.Pdq, conf,
      BandJoin.BitsPerChunk, rIdx = 0)
    // exact bucket population: the pinned hot rows PLUS random strays
    // whose chunk 0 happens to draw HotChunk (~n/2¹⁶ of them)
    val bucketRows = sig
      .where(col("h0").bitwiseAND(lit(0xffffL)) === lit(HotChunk)).count()
    val expectedS =
      ((bucketRows + BandJoin.SaltBucketCap - 1) / BandJoin.SaltBucketCap).toInt
    require(derived == expectedS,
      s"auto-derived salt factor $derived, expected " +
        s"ceil($bucketRows/${BandJoin.SaltBucketCap}) = $expectedS")

    val (wallU, maxTaskU, edgesU) = run(1) // pinned OFF
    val (wallS, maxTaskS, edgesS) = run(0) // AUTO (engages)
    require(edgesU == edgesS,
      s"salted edges diverge: only-unsalted=${(edgesU -- edgesS).take(3)} " +
        s"only-salted=${(edgesS -- edgesU).take(3)}")
    // all 200 planted clusters must come back as single, separate components
    val comps = ConnectedComponents.run(spark,
      edgesS.toSeq.toDF("a", "b", "dist"))
    val plantedComps = comps
      .where(col("id").between(plantedBase, plantedBase + 599))
      .select("comp").distinct().count()
    require(plantedComps == 200, s"planted clusters merged/split: $plantedComps")

    val line = Harness.emit("SALTBENCH", "rows" -> n, "hot_bucket" -> hot,
      "hot_probes" -> hotProbes, "threshold" -> threshold, "derived_salt" -> derived,
      "edges" -> edgesS.size, "wall_unsalted_sec" -> Harness.dec(wallU, 2),
      "wall_salted_sec" -> Harness.dec(wallS, 2),
      "max_task_unsalted_sec" -> Harness.dec(maxTaskU / 1e3, 2),
      "max_task_salted_sec" -> Harness.dec(maxTaskS / 1e3, 2), "cpus" -> cpus)
    require(maxTaskS.toDouble * 1.5 <= maxTaskU.toDouble,
      s"salting did not collapse the straggler: max task $maxTaskU ms -> $maxTaskS ms")
    line
  }
}
