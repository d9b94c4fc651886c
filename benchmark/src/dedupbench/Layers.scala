package dedupbench

/** Per-layer numbers read from the plans and tasks a span ran. */
object Layers {
  /** Rows the span's parquet sink wrote. */
  def sinkRows(s: SpanStats): Long =
    s.nodes.filter(_.name.contains("InsertIntoHadoopFsRelationCommand"))
      .map(_.rows).maxOption.getOrElse(0L)

  private def path(root: PlanNode, target: PlanNode): Option[List[PlanNode]] =
    if (root eq target) Some(List(root))
    else root.children.iterator.flatMap(c => path(c, target)).nextOption().map(root :: _)

  /** Records the nearest exchange under `n` wrote (the rows fed to `n`). */
  private def shuffledRows(n: PlanNode): Long =
    n.all.find(_.metrics.contains("shuffleRecordsWritten"))
      .map(_.metrics("shuffleRecordsWritten")).getOrElse(n.rows)

  private def isBandJoin(n: PlanNode): Boolean =
    n.name.contains("Join") && (n.desc.contains("bkey#") || n.desc.contains("band_val#"))

  /**
   * The band-join funnel of one LSH span: confident rows, representatives
   * after the exact-duplicate collapse, exploded index and probe rows (the
   * records shuffled into the band join's two sides), verified pairs (the
   * band join's output: Spark evaluates the Hamming check inside the join
   * condition, so no operator counts the key matches before it), distinct
   * verified representative pairs (the aggregate above the join) and the
   * edges the sink wrote.
   */
  def funnel(s: SpanStats): Map[String, Double] = {
    val joins = for (root <- s.plans.toSeq; n <- root.all.toSeq if isBandJoin(n)) yield (root, n)
    val filters = s.nodes.filter(_.name == "Filter").toSeq
    def maxRows(ns: Seq[PlanNode]) = ns.map(_.rows).maxOption.getOrElse(0L).toDouble
    val base = Map(
      "conf_rows" -> maxRows(filters.filter(f =>
        f.desc.contains("has_pdq") && f.desc.contains("low_conf"))),
      "reps" -> maxRows(filters.filter(_.desc.contains("= rep#"))),
      "edges" -> sinkRows(s).toDouble)
    joins.sortBy(-_._2.rows).headOption match {
      case None => base ++ Seq("index_rows", "probe_rows", "verified", "rep_pairs").map(_ -> 0.0)
      case Some((root, join)) =>
        val repPairs = path(root, join).toSeq.flatten.reverse
          .find(n => n.name == "HashAggregate" && !n.desc.contains("partial_"))
          .map(_.rows).getOrElse(0L)
        base ++ Map(
          "probe_rows" -> shuffledRows(join.children.head).toDouble,
          "index_rows" -> shuffledRows(join.children.last).toDouble,
          "verified" -> join.rows.toDouble,
          "rep_pairs" -> repPairs.toDouble)
    }
  }

  /** Task-level numbers every layer reports. */
  def tasks(s: SpanStats): Map[String, Double] = Map(
    "wall_s" -> s.wallS, "shuffle_write_mb" -> s.shuffleWriteMb,
    "spill_mb" -> s.spillMb, "task_skew" -> s.taskSkew, "gc_s" -> s.gcS,
    "cpu_util" -> s.cpuUtil)
}
