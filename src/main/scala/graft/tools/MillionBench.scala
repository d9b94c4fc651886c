package graft.tools

import graft.cc.ConnectedComponents
import graft.kernel.Pdq
import graft.lsh.{BandJoin, HashLayout}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * The reference's 1M-hash planted-cluster benchmark at Spark level
 * (hamminghash.rs:335-412: 1M random hashes, 5 near-duplicates injected,
 * group must contain all 5; NOTES.txt:19 — 12.27 s on 14 threads at
 * max_dist 5 for u64). Here: 1M random 256-bit hashes, threshold 15
 * (chunk tolerance 0 — the same R≤1-free probing regime as the
 * reference's u64 run), identity variant only (hash-level, no dihedral).
 *
 * `phash` mode is the EXACT reference configuration (u64 hashes, 8×8-bit
 * chunks, max_dist 5, BandJoin64) — the apples-to-apples row for
 * NOTES.txt:19's 12.27 s / 14 threads.
 *
 * Usage: runMain graft.tools.MillionBench [nHashes] [cpus] [pdq|phash]
 */
object MillionBench {
  def main(args: Array[String]): Unit =
    Harness.run(args.lift(1).fold(32)(_.toInt))(measure(_,
      args.headOption.fold(1000000)(_.toInt), args.lift(2).getOrElse("pdq")))

  /** `modeArg`: pdq | phash (u64, auto chunk width from corpus size) |
    * phash8 (pin 8-bit reference-parity chunks) | phash16 (pin 16-bit —
    * identical edges by pigeonhole). Defaults are the SAFE path now: at
    * 1M hashes auto resolves to 16-bit (~10 s) instead of the degenerate
    * 8-bit (measured 99.9 s), closing the round-2 config trap. */
  def measure(spark: SparkSession, n: Int, modeArg: String): String = {
    val chunkBits = modeArg match {
      case "phash8" => 8
      case "phash16" => 16
      case _ => 0 // auto
    }
    val mode = if (modeArg.startsWith("phash")) "phash" else "pdq"
    val cpus = spark.sparkContext.defaultParallelism
    import spark.implicits._

    // deterministic corpus with a 5-member planted cluster at ids 0..4
    val planted = Seq(0L, 1L, 2L, 3L, 4L)
    val (sig, threshold) = if (mode == "phash") {
      val s = spark.range(0, n, 1, cpus).map { i =>
        var h = new scala.util.Random(42L * 1000003L + i).nextLong()
        if (i > 0 && i < 5) {
          val h0 = new scala.util.Random(42L * 1000003L).nextLong()
          val rf = new java.util.Random(777L + i)
          var v = h0
          (0 until 1 + rf.nextInt(5)).foreach(_ => v ^= (1L << rf.nextInt(64)))
          h = v
        }
        (i, h, Array(h), false, true)
      }.toDF("ord", "phash64", "phash_variants", "low_conf", "has_pdq")
        .localCheckpoint()
      (s, 5)
    } else {
      val s = spark.range(0, n, 1, cpus).map { i =>
        val r = new java.util.Random(42L * 1000003L + i)
        val h = new Array[Byte](32)
        r.nextBytes(h)
        if (i > 0 && i < 5) {
          // near-duplicates of id 0: flip ≤ 7 bits of its hash
          val r0 = new java.util.Random(42L * 1000003L)
          r0.nextBytes(h)
          val rf = new java.util.Random(777L + i)
          (0 until 1 + rf.nextInt(7)).foreach { _ =>
            val bit = rf.nextInt(256)
            h(bit / 8) = (h(bit / 8) ^ (1 << (bit % 8))).toByte
          }
        }
        val l = Pdq.toLongs(h)
        (i, l(0), l(1), l(2), l(3), Array(l), false, true)
      }.toDF("ord", "h0", "h1", "h2", "h3", "variants", "low_conf", "has_pdq")
        .localCheckpoint() // materialize: time only the grouping
      (s, 15)
    }

    val layout = if (mode == "phash") HashLayout.Phash64 else HashLayout.Pdq
    val ((nEdges, comps, plantedComps), sec) = Harness.timed {
      val edges = BandJoin.edges(sig, threshold, chunkBits = chunkBits,
        layout = layout).localCheckpoint()
      val nEdges = edges.count()
      val comps = ConnectedComponents.run(spark, edges)
      (nEdges, comps, comps.where(col("id").isin(planted: _*))
        .select("comp").distinct().count())
    }
    val plantedFound = comps.where(col("id").isin(planted: _*)).count()
    val line = Harness.emit("MILLIONBENCH", "mode" -> modeArg, "hashes" -> n,
      "edges" -> nEdges, "sec" -> Harness.dec(sec, 2),
      "hashes_per_sec" -> Harness.dec(n / sec, 0), "planted_found" -> plantedFound,
      "planted_components" -> plantedComps, "cpus" -> cpus)
    require(plantedFound == 5 && plantedComps == 1,
      s"planted cluster not recovered: found=$plantedFound comps=$plantedComps")
    line
  }
}
