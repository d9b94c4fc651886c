package graft.tools

import graft.Pipeline
import graft.lsh.{BandJoin, HashLayout}
import graft.synth.Synth
import org.apache.spark.sql.SparkSession

/** Edge-equivalence check for band-join changes: dump the full edge set
  * of `BandJoin.edges` over a corpus with one build, dump it again with
  * the other, and diff the two dumps both ways (`exceptAll`). A change
  * to the join is behaviour-neutral only when both directions read 0.
  *
  * The dump reads the corpus's signatures from `<corpusDir>-sig`,
  * computing them with `Pipeline.signatures` on first use, so two builds
  * join the very same rows.
  *
  * Usage: runMain graft.tools.EdgeDiff dump <corpusDir> <outDir> [pdq|phash] [threshold|-] [chunkBits]
  *        runMain graft.tools.EdgeDiff diff <dumpA> <dumpB>
  */
object EdgeDiff {
  def main(args: Array[String]): Unit =
    Harness.run(Runtime.getRuntime.availableProcessors, minPartitions = 8)(spark => args.toSeq match {
      case Seq("dump", corpus, out, rest @ _*) => dump(spark, corpus, out,
        HashLayout.forAlgorithm(rest.headOption.getOrElse("pdq")),
        rest.lift(1).filter(_ != "-").fold(-1)(_.toInt), rest.lift(2).fold(0)(_.toInt))
      case Seq("diff", a, b) => diff(spark, a, b)
      case _ => sys.error("usage: EdgeDiff dump <corpusDir> <outDir> [pdq|phash] " +
        "[threshold|-] [chunkBits] | diff <dumpA> <dumpB>")
    })

  /** `threshold < 0` is the layout's default; `chunkBits = 0` auto-selects. */
  def dump(spark: SparkSession, corpusDir: String, out: String, layout: HashLayout,
           threshold: Int, chunkBits: Int): String = {
    val sigPath = s"$corpusDir-sig"
    Harness.once(spark, sigPath)(Pipeline.signatures(spark, Synth.readImages(spark, corpusDir))
      .write.mode("overwrite").parquet(sigPath))
    val thr = layout.threshold(threshold)
    BandJoin.edges(spark.read.parquet(sigPath), thr, chunkBits = chunkBits, layout = layout)
      .write.mode("overwrite").parquet(out)
    Harness.emit("EDGEDIFF", "dump" -> out, "layout" -> layout.name, "threshold" -> thr,
      "chunk_bits" -> chunkBits, "edges" -> spark.read.parquet(out).count())
  }

  def diff(spark: SparkSession, pathA: String, pathB: String): String = {
    val a = spark.read.parquet(pathA)
    val b = spark.read.parquet(pathB)
    val onlyA = a.exceptAll(b).count()
    val onlyB = b.exceptAll(a).count()
    val line = Harness.emit("EDGEDIFF", "rows_a" -> a.count(), "rows_b" -> b.count(),
      "only_a" -> onlyA, "only_b" -> onlyB)
    require(onlyA == 0 && onlyB == 0, s"edge sets differ: $line")
    line
  }
}
