package graft.cc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Distributed connected components over the verified duplicate edges —
 * the scale-out replacement for the reference's sequential union-find
 * (scanner.rs:1781-1807, SURVEY.md A1).
 *
 * Alternating large-star / small-star iteration (Kiveris et al.,
 * "Connected Components in MapReduce and Beyond", SoCC'14): converges in
 * O(log n) rounds, each round two shuffles (groupBy min + join), with
 * `localCheckpoint` per round to break lineage growth. Duplicate groups
 * are small, so in practice 3-5 rounds; the iteration bound is a guard.
 *
 *   large-star: every neighbor v > u points to min(N(u) ∪ {u})
 *   small-star: every neighbor v ≤ u (plus u) points to min(N≤(u) ∪ {u})
 *
 * Convergence: the edge multiset is a fixpoint (checked by count +
 * xxhash64 checksum — two cheap aggregates, no expensive EXCEPT).
 */
object ConnectedComponents {

  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("src"), col("dst"))
      .unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
    val mins = sym.groupBy("src").agg(min(col("dst")).as("mnd"))
      .select(col("src"), least(col("mnd"), col("src")).as("mn"))
    sym.join(mins, "src")
      .where(col("dst") > col("src"))
      .select(col("dst").as("src"), col("mn").as("dst"))
      .distinct()
  }

  private def smallStar(e: DataFrame): DataFrame = {
    val oriented = e.select(
      greatest(col("src"), col("dst")).as("src"),
      least(col("src"), col("dst")).as("dst"))
    val grouped = oriented.groupBy("src").agg(min(col("dst")).as("mn"))
    val neighborEdges = oriented.join(grouped, "src")
      .where(col("dst") =!= col("mn"))
      .select(col("dst").as("src"), col("mn").as("dst"))
    val selfEdges = grouped.select(col("src"), col("mn").as("dst"))
    neighborEdges.unionByName(selfEdges).distinct()
  }

  private def checksum(e: DataFrame): (Long, String) = {
    // decimal(38,0) sum: overflow-free under ANSI mode
    val row = e.agg(count(lit(1)),
      sum(xxhash64(col("src"), col("dst")).cast("decimal(38,0)"))).head()
    (row.getLong(0), if (row.isNullAt(1)) "0" else row.getDecimal(1).toString)
  }

  /** Edge-count threshold below which the driver union-find path runs:
    * one collect + one parallelize instead of ~10 shuffle rounds. 2M edges
    * ≈ 32 MB on the driver — trivial. The reference's union-find is always
    * driver-side (scanner.rs:1781-1807); the iterative path is what it
    * never needed. */
  final val DriverPathMaxEdges = 2000000L

  /**
   * edges: (a: long, b: long) — undirected, self-loops ignored.
   * Returns (id: long, comp: long) for every node incident to an edge;
   * comp is the minimum node id of the component. Isolated nodes are the
   * caller's concern (they are their own group of size 1 and filtered out
   * by the size>1 rule anyway, scanner.rs:1817).
   *
   * Scale-adaptive: below DriverPathMaxEdges the exact union-find runs on
   * the driver (results identical — comp = min member either way); above
   * it the O(log n)-round large-star/small-star iteration takes over.
   */
  def run(spark: SparkSession, edges: DataFrame, maxIter: Int = 30,
          driverPathMaxEdges: Long = DriverPathMaxEdges,
          giantWarnSize: Long = GiantWarnSize): DataFrame =
    labels(spark, edges, maxIter, driverPathMaxEdges, giantWarnSize)._1

  /** Like [[run]], plus execution stats for benching/monitoring:
    * (labels, largeStar/smallStar rounds used — 0 on the driver path —
    * and the deduplicated input edge count). */
  def runWithStats(spark: SparkSession, edges: DataFrame, maxIter: Int = 30,
                   driverPathMaxEdges: Long = DriverPathMaxEdges)
      : (DataFrame, Int, Long) =
    labels(spark, edges, maxIter, driverPathMaxEdges, GiantWarnSize)

  private def labels(spark: SparkSession, edges: DataFrame, maxIter: Int,
                     driverPathMaxEdges: Long, giantWarnSize: Long)
      : (DataFrame, Int, Long) = {
    import spark.implicits._
    val distinctEdges = edges.select(col("a").as("src"), col("b").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
    // one job decides the path AND returns the driver path's edges: one
    // row past the cap means the iterative path
    val head = (if (driverPathMaxEdges >= Int.MaxValue) distinctEdges
      else distinctEdges.limit(driverPathMaxEdges.toInt + 1)).as[(Long, Long)].collect()
    if (head.length <= driverPathMaxEdges)
      return (driverUnionFind(spark, head, giantWarnSize), 0, head.length.toLong)
    var e = distinctEdges.localCheckpoint()
    var prev = checksum(e)
    val nEdges = prev._1
    var i = 0
    var converged = false
    while (i < maxIter && !converged) {
      e = smallStar(largeStar(e)).localCheckpoint()
      val cur = checksum(e)
      converged = cur == prev
      prev = cur
      i += 1
    }
    require(converged, s"connected components did not converge in $maxIter rounds")
    // fixpoint edges are (node → component-min) stars; add the roots
    val children = e.select(col("src").as("id"), col("dst").as("comp"))
    val roots = e.select(col("dst").as("id"), col("dst").as("comp")).distinct()
    val labels = children.unionByName(roots).groupBy("id").agg(min("comp").as("comp"))
    warnGiants(labels.groupBy("comp").agg(count(lit(1)).as("n"))
      .where(col("n") >= giantWarnSize).orderBy(col("n").desc).limit(10)
      .as[(Long, Long)].collect())
    (labels, i, nEdges)
  }

  /** Components of at least this many members are logged loudly by
    * [[run]], before any group analytics run over them. Dup groups are
    * small by construction (they exist only where near-dup edges do), so
    * a giant component means a misconfigured threshold or a degenerate
    * corpus — the analytics still complete (they are groupBy-shaped, never
    * one-task-per-component window sorts), but silently grinding through
    * it would hide the misconfiguration. */
  final val GiantWarnSize = 1000000L

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Warn about (comp, size) giants, largest first, at most 10. */
  private def warnGiants(giants: Seq[(Long, Long)]): Unit =
    if (giants.nonEmpty)
      log.warn("giant components detected (threshold misconfiguration?): " +
        giants.sortBy(-_._2).take(10).map { case (c, n) => s"comp=$c size=$n" }.mkString(", "))

  /** Exact union-find with path halving (scanner.rs:1781-1807 port) over
    * collected edges; comp canonicalized to the min member. */
  private def driverUnionFind(spark: SparkSession, pairs: Array[(Long, Long)],
                              giantWarnSize: Long): DataFrame = {
    import spark.implicits._
    val parent = new java.util.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrDefault(root, root) != root) root = parent.get(root)
      var cur = x
      while (cur != root) { val next = parent.get(cur); parent.put(cur, root); cur = next }
      root
    }
    pairs.foreach { case (a, b) =>
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent.put(ra, rb)
    }
    val nodes = parent.keySet().toArray(new Array[java.lang.Long](0)).map(_.longValue())
    val byRoot = nodes.groupBy(find)
    warnGiants(byRoot.valuesIterator.filter(_.length >= giantWarnSize)
      .map(m => (m.min, m.length.toLong)).toSeq)
    val out = byRoot.iterator.flatMap { case (_, members) =>
      val mn = members.min
      members.iterator.map(m => (m, mn))
    }.toSeq
    // round 6: no trailing repartition — createDataset already spreads the
    // rows over defaultParallelism slices, and the extra exchange was paid
    // by EVERY consumer of a driver-path CC result (guide §2.4: remove
    // shuffles outright)
    spark.createDataset(out).toDF("id", "comp")
  }
}
