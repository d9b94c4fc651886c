package graft.tools

import graft.Pipeline
import graft.lsh.BandJoin
import graft.synth.Synth
import org.apache.hadoop.fs.Path

/** Print the physical plans of the pipeline stages for audit: column
  * pruning into the parquet scans, join strategies, codegen coverage.
  * Self-sufficient: synthesizes a tiny corpus + signature checkpoint
  * when none is supplied (plans depend on schema, not data volume). */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val corpus = args.headOption.getOrElse("/root/repo/target/plan-audit-corpus")
    val spark = Pipeline.session("local[4]")
    spark.sparkContext.setLogLevel("WARN")
    val fs = new Path(corpus).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(s"$corpus/images/_SUCCESS")))
      Synth.generate(spark, 60, corpus)
    if (!fs.exists(new Path(s"$corpus-sig/_SUCCESS")))
      Pipeline.signatures(spark, Synth.readImages(spark, corpus))
        .write.mode("overwrite").parquet(s"$corpus-sig")
    val sig = spark.read.parquet(s"$corpus-sig")

    println("########## signatures (kernel) plan")
    Pipeline.signatures(spark, Synth.readImages(spark, corpus)).explain("formatted")

    println("########## edges (band join) plan")
    BandJoin.edges(sig, 40).explain("formatted")

    println("########## groups plan")
    graft.groups.Groups.assemble(sig,
      sig.select(org.apache.spark.sql.functions.col("ord").as("id"),
        org.apache.spark.sql.functions.col("ord").as("comp")))
      .explain("formatted")

    println("########## edges64 (u64 pHash band join, 16-bit chunks) plan")
    BandJoin.edges(sig, 15, chunkBits = 16, layout = graft.lsh.HashLayout.Phash64)
      .explain("formatted")

    println("########## multimodal bucketed cosine plan")
    import org.apache.spark.sql.functions._
    val feats = sig.select(col("ord").cast("string").as("media_id"),
      lit(true).as("ok"),
      transform(sequence(lit(0), lit(31)),
        i => (col("ord") % (i + 7)).cast("float")).as("feature"))
    graft.multimodal.Multimodal.cosinePairs(feats, 0.95).explain("formatted")
    spark.stop()
  }
}
