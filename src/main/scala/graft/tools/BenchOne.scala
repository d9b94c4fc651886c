package graft.tools

import graft.Pipeline
import graft.synth.Synth
import org.apache.spark.sql.SparkSession

/** One isolated dedup-pipeline measurement (spawned by graft.Bench as a
  * child JVM — the local-mode stand-in for one spark-submit at a given
  * executor count). Prints one line: `BENCHONE {"images":N,"sec":S}`. */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val Array(cpus, corpusDir, workDir) = args.take(3)
    val reps = if (args.length > 3) args(3).toInt else 2
    Harness.run(cpus.toInt, minPartitions = 8)(measure(_, corpusDir, workDir, reps))
  }

  def measure(spark: SparkSession, corpusDir: String, workDir: String, reps: Int): String = {
    // JIT/codegen warmup on a small corpus so N and 4N measure steady state
    val warmupDir = s"$workDir/warmup-corpus"
    Synth.generate(spark, 300, warmupDir)
    Pipeline.run(spark, Synth.readImages(spark, warmupDir), s"$workDir/warm").count()
    val images = Synth.readImages(spark, corpusDir)
    val n = images.count()
    // repeated timed runs, keep the best: the sandbox shares hardware with
    // noisy neighbors (host loadavg >10 while this container idles)
    val (bestRep, sec) = (1 to reps).map { i =>
      val t0 = System.nanoTime()
      Pipeline.run(spark, images, s"$workDir/work$i").count()
      i -> (System.nanoTime() - t0) / 1e9
    }.minBy(_._2)
    // per-stage wall from the winning run's lineage table, so a
    // round-over-round throughput drift names its stage (kernel vs edges
    // vs CC vs groups) instead of hiding in the total
    val stages = spark.read.parquet(s"$workDir/work$bestRep/_lineage")
      .collect().map(r => r.getString(0) -> r.getLong(2))
    Harness.emit("BENCHONE", "images" -> n, "sec" -> Harness.dec(sec, 3),
      "stages" -> Harness.Obj(stages.sortBy(_._1).toSeq
        .map { case (s, ms) => s -> Harness.dec(ms / 1000.0, 3) }: _*))
  }
}
