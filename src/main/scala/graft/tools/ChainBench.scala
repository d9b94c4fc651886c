package graft.tools

import graft.{CorpusState, Incremental, Pipeline}
import graft.synth.Synth
import org.apache.spark.sql.SparkSession

/**
 * Steady-state ingest evidence: apply K equal-sized deltas sequentially
 * to a growing corpus and print per-delta wall — with merge-on-read
 * state and auto-compaction the cost must stay FLAT as versions pile up
 * (the 10¹²-corpus daily-ingest loop), not grow with the layer stack.
 *
 * Delta proportionality (SCALING.md lever #1) rides along: the corpus
 * batch run is timed too (`full_sec`), and the first delta's per-image
 * cost against it is `delta_vs_full_per_img` — at 10¹²-scale the full
 * join happens once ever, so that ratio IS the steady-state cost model.
 * After the flatness window one more delta runs with `fullOutput = true`
 * (the reference's report-everything UX): `full_report_delta_sec`.
 *
 * Usage: runMain graft.tools.ChainBench [corpusBases] [deltaBases] [k] [cpus]
 */
object ChainBench {
  def main(args: Array[String]): Unit =
    Harness.run(args.lift(3).fold(16)(_.toInt))(measure(_,
      nCorpus = args.headOption.fold(4000L)(_.toLong), nDelta = args.lift(1).fold(200L)(_.toLong),
      k = args.lift(2).fold(8)(_.toInt)))

  def measure(spark: SparkSession, nCorpus: Long, nDelta: Long, k: Int): String = {
    val base = Harness.workDir("graft-chainbench")
    val corpusWork = s"$base/corpus-work"
    // disjoint base-id ranges → corpus and deltas share no dup families,
    // but every delta still probes the whole corpus index
    def images(from: Long, until: Long) = {
      val df = Synth.imagesDF(spark, from, until).localCheckpoint()
      (df, df.count())
    }
    def ingest(i: Int, fullOutput: Boolean): (Long, Double) = {
      val (delta, n) = images(nCorpus + i * nDelta, nCorpus + (i + 1) * nDelta)
      n -> Harness.timed(Incremental.run(spark, delta, corpusWork, s"$base/delta-$i",
        fullOutput = fullOutput).count())._2
    }

    val (corpusImages, nCorpusImgs) = images(0L, nCorpus)
    val (_, fullSec) = Harness.timed(Pipeline.run(spark, corpusImages, corpusWork).count())
    val deltas = (0 until k).map(ingest(_, fullOutput = false))
    val times = deltas.map(_._2)
    val (nFullReport, fullReportSec) = ingest(k, fullOutput = true)

    // state consistency: one version per delta, merged rows = corpus + every delta
    val ver = CorpusState.version(spark, corpusWork)
    val merged = CorpusState.readSignatures(spark, corpusWork, ver).count()
    val want = nCorpusImgs + deltas.map(_._1).sum + nFullReport
    require(ver == k + 1 && merged == want,
      s"state inconsistent: v$ver rows=$merged want v${k + 1} rows=$want")

    val layers = new java.io.File(corpusWork).listFiles()
      .map(_.getName).count(_.startsWith("state_v"))
    // flatness: mean of the last 3 deltas vs the first 3 — growth with
    // version count would show here as a rising tail. Below 6 deltas the
    // two windows share deltas and the ratio means nothing: null
    val head3 = times.take(3).sum / 3
    val tail3 = times.takeRight(3).sum / 3
    val perImgFull = fullSec / nCorpusImgs
    val perImgDelta = times.head / deltas.head._1
    Harness.emit("CHAINBENCH", "corpus_bases" -> nCorpus, "delta_bases" -> nDelta,
      "k" -> k, "per_delta_sec" -> times.map(Harness.dec(_, 1)),
      "head3_avg" -> Harness.dec(head3, 1), "tail3_avg" -> Harness.dec(tail3, 1),
      "tail_over_head" -> Option.when(k >= 6)(Harness.dec(tail3 / head3, 2)), "versions" -> ver,
      "state_dirs_on_disk" -> layers, "full_sec" -> Harness.dec(fullSec, 1),
      "delta_ms_per_img" -> Harness.dec(perImgDelta * 1000, 2),
      "delta_vs_full_per_img" -> Harness.dec(perImgDelta / perImgFull, 2),
      "full_report_delta_sec" -> Harness.dec(fullReportSec, 1),
      "cpus" -> spark.sparkContext.defaultParallelism)
  }
}
