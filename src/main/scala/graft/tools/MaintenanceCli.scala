package graft.tools

import graft.{CorpusState, Pipeline}
import graft.groups.GroupRegistry
import graft.lsh.{BandIndex, HashLayout}

/**
 * Corpus maintenance — the `--prune` / cache-GC entry point (§3.3,
 * db.rs:892-1002) re-expressed for the segment stores: fold merge-on-read
 * layers into snapshots and expire the versions they subsume. Safe to run
 * any time (all three compactions are idempotent and crash-tolerant —
 * commit-then-delete, reads never see a gap); `Incremental.run` triggers
 * the same maintenance automatically every K versions, so this CLI is for
 * off-peak scheduling or recovering from a long un-compacted chain.
 *
 * Width lifecycle (round-4 VERDICT #4): compaction also checks whether the
 * corpus's confident-row count has crossed the chunk-width degeneracy
 * cutoff and rebuilds the index at the current auto width when it has.
 * The optional threshold argument is the chain's OPERATING threshold —
 * widening is gated on the probe ball fitting the wide masks at that
 * threshold (a 32-bit PDQ index cannot serve probes above 31, so a
 * default-threshold-40 chain correctly never widens).
 *
 *   runMain graft.tools.MaintenanceCli <corpusWorkDir> [registryPath] [threshold]
 */
object MaintenanceCli {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: MaintenanceCli <corpusWorkDir> [registryPath] [threshold]")
    val corpusWork = args(0)
    val registryPath = args.lift(1).filter(a => a.nonEmpty && a != "-")
    val thresholdArg = args.lift(2).filter(a => a.nonEmpty && a != "-").map(_.toInt)
    val spark = Pipeline.session(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
    spark.sparkContext.setLogLevel("WARN")
    // every algorithm-stamped index present (a corpus can carry a pdq and a
    // phash index side by side since round 4), each with the explicit
    // threshold (or its algorithm's default) resolved before any write
    val indexes = HashLayout.All.map(l => l -> s"$corpusWork/${l.indexDir}")
      .filter { case (_, p) => BandIndex.exists(spark, p) }
      .map { case (l, p) => (l, p, l.threshold(thresholdArg.getOrElse(-1))) }

    val vBefore = CorpusState.version(spark, corpusWork)
    CorpusState.compact(spark, corpusWork)
    CorpusState.gc(spark, corpusWork)
    val stateDirs = new java.io.File(corpusWork).listFiles()
      .map(_.getName).count(_.startsWith("state_v"))
    println(s"== corpus state: version $vBefore, $stateDirs version dir(s) after gc ==")

    lazy val curSig = CorpusState.readSignatures(spark, corpusWork,
      CorpusState.version(spark, corpusWork))
    indexes.foreach { case (layout, indexPath, argThr) =>
      BandIndex.compact(spark, indexPath)
      // operating threshold: the MAX of the explicit arg (or algorithm
      // default, `argThr`) and the chain's recorded high-water mark — a
      // mistyped low CLI arg must not widen an index that real runs probe at a
      // threshold the wide masks cannot serve (32-bit caps at 31).
      // A corpus with NO recorded hwm (batch-built, never incremented)
      // contributes nothing to the max: the explicit arg is then the
      // only statement of the operating threshold and must be honored
      // (hwm.getOrElse(default) would silently override it and make
      // widening unreachable until an incremental run happened by).
      val hwm = CorpusState.hwm(spark, corpusWork, s"thr_hwm_${layout.algo}")
      val thr = math.max(argThr, hwm.getOrElse(0))
      val widened = BandIndex.maybeWiden(spark, indexPath, curSig, thr)
      val segs = new java.io.File(indexPath).listFiles()
        .map(_.getName).count(_.startsWith("seg_"))
      println(s"== band index (${BandIndex.algoOf(spark, indexPath)}): " +
        s"compacted to $segs segment(s) " +
        s"(${BandIndex.chunkBitsOf(spark, indexPath)}-bit chunks" +
        widened.map(w => s", WIDENED to $w-bit").getOrElse("") + ") ==")
    }

    registryPath.foreach { p =>
      GroupRegistry.compact(spark, p)
      println(s"== registry compacted: ${GroupRegistry.read(spark, p).count()} resolved rows ==")
    }
    spark.stop()
  }
}
