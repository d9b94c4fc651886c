package graft.tools

import graft.cc.ConnectedComponents
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/**
 * Distributed connected-components at real size (round-3 VERDICT #2):
 * every pipeline bench so far routed CC through the driver union-find
 * (edge counts ≪ 2M), so the large-star/small-star path that a 10⁹-image
 * corpus actually needs had only toy-scale coverage (CcSpec). This bench
 * pushes ≥10⁷ synthetic edges through the ITERATIVE path
 * (driverPathMaxEdges = 0) and records wall + rounds, then asserts label
 * equality against the exact driver union-find on a ~10⁶-edge slice.
 *
 * Edge shape mirrors a dedup corpus plus its adversarial tail:
 *  - families of W nodes with chain + random intra-family edges (the
 *    bulk: many small components, like dup groups)
 *  - one GIANT pure-chain component (diameter = its size) — the
 *    worst case for min-label propagation, converging in ~log₂(size)
 *    doubling rounds; a flat-image corpus that exact-stars into one
 *    component is the real-world analog
 *
 * Usage: runMain graft.tools.CcBench [nFamilies] [familyWidth] [giantLen] [cpus]
 * Defaults: 1.2M families × 10 nodes (~13M edges) + 100k-node chain.
 */
object CcBench {
  def main(args: Array[String]): Unit =
    Harness.run(args.lift(3).fold(16)(_.toInt))(measure(_,
      nFamilies = args.headOption.fold(1200000L)(_.toLong),
      width = args.lift(1).fold(10)(_.toInt), giantLen = args.lift(2).fold(100000L)(_.toLong)))

  def measure(spark: SparkSession, nFamilies: Long, width: Int, giantLen: Long): String = {
    val cpus = spark.sparkContext.defaultParallelism
    val famNodes = nFamilies * width
    // distributed deterministic generation — no driver-side
    // materialization. Each union branch gets its OWN range: branches
    // sharing one range's attribute ids trip Union constraint rewriting.
    val chain = spark.range(0, famNodes, 1, cpus)
      .where((col("id") % width) =!= (width - 1))
      .select(col("id").as("a"), (col("id") + 1).as("b"))
    // one extra pseudo-random intra-family edge per node (cycles + skew)
    val extra = spark.range(0, famNodes, 1, cpus).select(col("id").as("a"),
      ((col("id") - (col("id") % width)) +
        pmod(xxhash64(col("id")), lit(width))).as("b"))
    val giant = spark.range(0, giantLen - 1, 1, cpus)
      .select((col("id") + famNodes).as("a"), (col("id") + famNodes + 1).as("b"))
    // materialize the union before handing it to CC: a live
    // union→project→filter→distinct plan trips a Catalyst constraint-
    // rewrite NoSuchElement edge case in 4.1, and a materialized edge
    // table is also what the real edges stage hands CC
    val edges = chain.unionByName(extra).unionByName(giant)
      .withColumn("dist", lit(0))
      .localCheckpoint()

    val ((labelled, rounds, nEdges, nComps), wall) = Harness.timed {
      val (labels, rounds, nEdges) = ConnectedComponents.runWithStats(
        spark, edges, maxIter = 40, driverPathMaxEdges = 0L)
      val labelled = labels.localCheckpoint()
      (labelled, rounds, nEdges, labelled.select("comp").distinct().count())
    }

    // the giant chain must be ONE component rooted at its min node
    val giantComps = labelled.where(col("id") >= famNodes)
      .select("comp").distinct().collect()
    require(giantComps.length == 1 && giantComps.head.getLong(0) == famNodes,
      s"giant chain split into ${giantComps.length} components")

    // equality vs the exact driver union-find on a ~10⁶-edge slice
    // (each family contributes 2·width − 1 edges)
    val sliceFamilies = math.min(nFamilies, 1100000L / (2L * width - 1))
    val sliceMax = sliceFamilies * width
    val slice = edges.where(col("a") < sliceMax && col("b") < sliceMax)
      .localCheckpoint()
    val iterLabels = ConnectedComponents.run(spark, slice,
      maxIter = 40, driverPathMaxEdges = 0L)
    val ufLabels = ConnectedComponents.run(spark, slice,
      driverPathMaxEdges = Long.MaxValue)
    val diff = iterLabels.withColumnRenamed("comp", "c1")
      .join(ufLabels.withColumnRenamed("comp", "c2"), Seq("id"), "full")
      .where(col("c1").isNull || col("c2").isNull || col("c1") =!= col("c2"))
      .count()
    require(diff == 0, s"iterative vs driver union-find diverged on $diff nodes")

    Harness.emit("CCBENCH", "edges" -> nEdges, "nodes" -> (famNodes + giantLen),
      "components" -> nComps, "rounds" -> rounds, "giant_chain" -> giantLen,
      "wall_sec" -> Harness.dec(wall, 1), "edges_per_sec" -> Harness.dec(nEdges / wall, 0),
      "slice_equality_nodes_checked" -> sliceMax, "cpus" -> cpus)
  }
}
