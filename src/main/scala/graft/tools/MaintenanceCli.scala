package graft.tools

import graft.{CorpusState, Pipeline}
import graft.groups.GroupRegistry

/**
 * Corpus maintenance — the `--prune` / cache-GC entry point (§3.3,
 * db.rs:892-1002) re-expressed for the segment stores: fold the corpus
 * state's merge-on-read layers into a snapshot, expire the versions it
 * subsumes, and fold the group registry's segments. Safe to run any time
 * (every step is idempotent and crash-tolerant — commit-then-delete,
 * reads never see a gap); `Incremental.run` snapshots and expires state
 * automatically every K versions, so this CLI is for off-peak scheduling,
 * a long un-compacted chain, or a registry that ingest never folds.
 *
 *   runMain graft.tools.MaintenanceCli <corpusWorkDir> [registryPath]
 */
object MaintenanceCli {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: MaintenanceCli <corpusWorkDir> [registryPath]")
    val corpusWork = args(0)
    val registryPath = args.lift(1).filter(a => a.nonEmpty && a != "-")
    val spark = Pipeline.session(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
    spark.sparkContext.setLogLevel("WARN")

    val vBefore = CorpusState.version(spark, corpusWork)
    CorpusState.compact(spark, corpusWork)
    CorpusState.gc(spark, corpusWork)
    val stateDirs = new java.io.File(corpusWork).listFiles()
      .map(_.getName).count(_.startsWith("state_v"))
    println(s"== corpus state: version $vBefore, $stateDirs version dir(s) after gc ==")

    registryPath.foreach { p =>
      GroupRegistry.compact(spark, p)
      println(s"== registry compacted: ${GroupRegistry.read(spark, p).count()} resolved rows ==")
    }
    spark.stop()
  }
}
