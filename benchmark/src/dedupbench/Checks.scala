package dedupbench

/** Output checks, over plain collections so they can be tested without
  * Spark. Every check compares what the program returned with the truth
  * the generator recorded; nothing is recomputed by the program under
  * test. */
object Checks {
  type Pair = (String, String)

  /** Ground truth of one generated image. */
  final case class Truth(imageId: String, groupId: Long, variant: String)

  /** The variant classes that must group with their base at threshold 40
    * (the well-behaved classes of PipelineSpec). crop5 and the
    * metadata-only shells are outside it: they may legitimately miss. */
  val GoodVariants: Set[String] = Set("orig", "exact", "recompress", "resize",
    "rot90", "rot180", "rot270", "fliph", "flipv", "gray-raw", "flat",
    "flatcopy", "bright", "contrast", "tiff16", "rawprev", "pdfwrap", "webp",
    "webpanim", "qoi", "ffeld", "hdrimg", "ddsimg")

  private def pairsOf(ids: Iterable[String]): Iterator[Pair] = {
    val s = ids.toIndexedSeq.sorted
    for (i <- s.indices.iterator; j <- (i + 1 until s.size).iterator) yield (s(i), s(j))
  }

  /** All pairs within one truth group (flat copies apart from fuzzy
    * variants, as PipelineSpec splits them), over the good classes. */
  def truthPairs(rows: Seq[Truth]): Set[Pair] =
    rows.filter(r => GoodVariants(r.variant))
      .groupBy(r => (r.groupId, r.variant.startsWith("flat")))
      .values.flatMap(g => pairsOf(g.map(_.imageId))).toSet

  /** All member pairs implied by a component labelling. */
  def componentPairs(labels: Iterable[(String, Long)]): Set[Pair] =
    labels.groupBy(_._2).values.flatMap(g => pairsOf(g.map(_._1))).toSet

  /** Truth pairs are an approximation of what must group: a lossy
    * variant of some bases legitimately lands past PDQ distance 40 (on
    * one 100-base window a single contrast variant costs 1.1% of the
    * pairs), so the truth score has a floor that only a broken kernel or
    * grouping crosses; the exact gate is [[referencePairs]]. */
  final val TruthFloor = 0.95

  final case class PairScore(recall: Double, precision: Double, truth: Int, found: Int) {
    def ok: Boolean = recall >= TruthFloor && precision >= TruthFloor
  }

  /** recall = truth pairs found / truth pairs; precision = found pairs
    * whose members share a truth group / found pairs. */
  def scorePairs(truth: Set[Pair], found: Set[Pair], groupOf: Map[String, Long]): PairScore = {
    require(truth.nonEmpty, "no truth pairs: the generated corpus has no duplicates")
    val hit = truth.count(found)
    val right = found.count(p => groupOf.get(p._1).exists(g => groupOf.get(p._2).contains(g)))
    PairScore(hit.toDouble / truth.size,
      if (found.isEmpty) 1.0 else right.toDouble / found.size, truth.size, found.size)
  }

  /** One signature as the pipeline wrote it. */
  final case class Sig(imageId: String, h: Array[Long], variants: Array[Array[Long]],
                       lowConf: Boolean, hasPdq: Boolean)

  private def ham(x: Array[Long], y: Array[Long]): Int =
    (0 until 4).map(i => java.lang.Long.bitCount(x(i) ^ y(i))).sum

  /** The reference grouping semantics over the pipeline's own signatures:
    * two images match when either one's dihedral variants come within
    * `t` of the other's hash (exact-only when either is low-confidence,
    * never without a hash); groups are the closure of matches. Returns
    * every pair inside a group. */
  def referencePairs(sigs: Seq[Sig], t: Int): Set[Pair] = {
    val n = sigs.size
    val parent = Array.tabulate(n)(identity)
    def find(i: Int): Int = { var x = i; while (parent(x) != x) x = parent(x); x }
    for (i <- 0 until n; j <- i + 1 until n) {
      val (a, b) = (sigs(i), sigs(j))
      if (a.hasPdq && b.hasPdq) {
        val limit = if (a.lowConf || b.lowConf) 0 else t
        if (a.variants.exists(ham(_, b.h) <= limit) || b.variants.exists(ham(_, a.h) <= limit)) {
          val (ra, rb) = (find(i), find(j))
          if (ra != rb) parent(ra) = rb
        }
      }
    }
    componentPairs((0 until n).map(i => sigs(i).imageId -> find(i).toLong))
  }
}
