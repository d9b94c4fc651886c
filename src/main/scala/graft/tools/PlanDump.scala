package graft.tools

import graft.{Pipeline, SparkEntry}
import graft.lsh.{BandIndex, BandJoin, BandJoin64}
import graft.queries.ImageQueries
import graft.synth.Synth
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dump `.explain("formatted")` for declared queries to
  * plans/<round>/<query>_<suffix>.txt — the judge-checkable record of plan
  * shapes before/after an optimization round. Plans depend on schema, not
  * data volume, so the smallest SF suffices.
  *
  * Besides the SparkEntry queries it names the pipeline's own plans over
  * the verify corpus (the one q_img_* reads): `img_signatures` (kernel),
  * `img_groups`, `pdq_band_join`, `phash_band_join` (`BandJoin64.edges`
  * itself — q_phash_groups shows only a scan of the edges its
  * components step already materialized), `pdq_band_probe` (`BandIndex.probe`
  * of the rows with `ord % 3 == 0` against the rest, at 16-bit t = 48, a
  * ball past the in-memory budget, so the plan is the fallback band join)
  * and `multimodal_cosine`. Check that scans prune to the columns the join
  * needs and that the band joins — the probe's too, built on its scanned
  * side — stay ShuffledHashJoin, never Broadcast.
  *
  * `--time` runs a query `reps` times and prints each wall and the best.
  *
  * Usage: runMain graft.tools.PlanDump [outDir] [suffix] [query...]
  *        runMain graft.tools.PlanDump --time <query> [reps]
  */
object PlanDump {
  private val pipelinePlans: Map[String, SparkSession => DataFrame] = Map(
    "img_signatures" -> (s =>
      Pipeline.signatures(s, Synth.readImages(s, ImageQueries.corpus(s)))),
    "img_groups" -> { s =>
      val sig = ImageQueries.sigs(s)
      graft.groups.Groups.assemble(sig, sig.select(col("ord").as("id"), col("ord").as("comp")))
    },
    "pdq_band_join" -> (s => BandJoin.edges(ImageQueries.sigs(s), Pipeline.DefaultThreshold)),
    "phash_band_join" -> (s =>
      BandJoin64.edges(ImageQueries.sigs(s), BandJoin64.DefaultThreshold)),
    "pdq_band_probe" -> { s =>
      val sig = ImageQueries.sigs(s)
      BandIndex.probe(sig.where(col("ord") % 3 =!= 0), sig.where(col("ord") % 3 === 0), 48, 16)
    },
    "multimodal_cosine" -> { s =>
      val feats = ImageQueries.sigs(s).select(col("ord").cast("string").as("media_id"),
        lit(true).as("ok"),
        transform(sequence(lit(0), lit(31)), i => (col("ord") % (i + 7)).cast("float"))
          .as("feature"))
      graft.multimodal.Multimodal.cosinePairs(feats, 0.95)
    })

  def main(args: Array[String]): Unit = {
    val timing = args.headOption.contains("--time")
    val outDir = args.headOption.getOrElse("/root/repo/plans/r06")
    val suffix = if (args.length > 1) args(1) else "after"
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names: Seq[String] = if (args.length > 2) args.drop(2).toSeq else Seq(
      "q_img_edges", "q_minhash_band_pairs", "q_doc_minhash",
      "q_substring_dup", "phash_band_join", "q_hamming_hist")
    val spark = Harness.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, 32)
    def frame(n: String): DataFrame =
      pipelinePlans.get(n).fold(SparkEntry.queries(n)(spark, sfDir))(_(spark))
    if (timing) {
      val name = args(1)
      val times = (1 to args.lift(2).fold(2)(_.toInt)).map { _ =>
        val (n, s) = Harness.timed(frame(name).count())
        println(f"TIMEQUERY $name rows=$n sec=$s%.3f")
        s
      }
      println(f"TIMEQUERY $name best=${times.min}%.3f")
    } else {
      Files.createDirectories(Paths.get(outDir))
      names.foreach { n =>
        val plan = frame(n).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${n}_$suffix.txt"), plan)
        println(s"wrote $outDir/${n}_$suffix.txt")
      }
    }
    spark.stop()
  }
}
