package dedupbench

import dedupbench.Checks.Truth
import graft.{CorpusState, Incremental, Pipeline}
import graft.cc.ConnectedComponents
import graft.groups.Groups
import graft.lsh.{BandIndex, BandJoin, BandJoin64}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/**
 * A workload: seeded inputs, the set-up it needs, one measured run and
 * one traced run. `measure` returns the workload's share of the
 * end-to-end metrics (every workload reports the same names);
 * `detail` carries workload-specific numbers printed beside them.
 */
trait Workload {
  def name: String
  def generate(spark: SparkSession, seed: Long, dir: String): Unit
  def setUp(spark: SparkSession, dir: String): Unit
  def measure(spark: SparkSession, dir: String, seconds: Double, ops: Ops): Result
  def traced(spark: SparkSession, dir: String, seconds: Double, ops: Ops,
             trace: Trace): Map[String, Double]
}

/** wall_s, img_per_s and dup_pair_recall, plus workload-specific detail. */
final case class Result(metrics: Map[String, Double], detail: Map[String, Double])

object Workload {
  def byName(name: String): Workload = name match {
    case "dedup_images" => DedupImages
    case "ingest_delta" => IngestDelta
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (dedup_images | ingest_delta)")
  }

  /** Write `df` to a parquet sink under `path` and read it back. */
  def sink(df: DataFrame, path: String): DataFrame = {
    df.write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** Per-key median over per-repetition metric maps. */
  def medians(reps: Seq[Map[String, Double]]): Map[String, Double] =
    reps.head.keys.map(k => k -> Stats.median(reps.map(_(k)))).toMap

  /** Replace a traced run's root wall (`root_s`) and summed layer walls
    * (`layers_s`) with the tracing gap and overhead against the untraced
    * wall of the same work. */
  def withOverhead(m: Map[String, Double], untraced: Double): Map[String, Double] =
    m - "root_s" - "layers_s" + ("trace.gap_s" -> (untraced - m("layers_s"))) +
      ("trace.overhead_pct" -> 100 * (m("root_s") / untraced - 1))

  def prefixed(prefix: String, m: Map[String, Double]): Map[String, Double] =
    m.map { case (k, v) => s"$prefix.$k" -> v }
}

/** The output checks of a grouping: its pairs must be exactly the
  * reference-semantics pairs of the signatures the program wrote, and
  * score above the floor against the generator's truth. */
object PairCheck {
  /** Checks `labels` (image id, component) against `sigs` and `truth`;
    * returns the truth recall. */
  def score(ops: Ops, what: String, truth: Seq[Truth], sigs: DataFrame,
            labels: Seq[(String, Long)], threshold: Int): Double = {
    val found = Checks.componentPairs(labels)
    val ref = Checks.referencePairs(sigsOf(sigs), threshold)
    ops.check(s"$what match the reference semantics", found == ref,
      s"${(ref -- found).size} pairs missing, ${(found -- ref).size} extra, e.g. " +
        ((ref -- found) ++ (found -- ref)).take(4).mkString(" "))
    val tp = Checks.truthPairs(truth)
    val s = Checks.scorePairs(tp, found, truth.map(t => t.imageId -> t.groupId).toMap)
    ops.check(s"$what against the truth", s.ok, s"recall ${s.recall} precision " +
      s"${s.precision} (${s.truth} truth pairs, ${s.found} found); missed e.g. " +
      (tp -- found).take(4).mkString(" "))
    s.recall
  }

  def labelsOf(grouped: DataFrame): Seq[(String, Long)] =
    grouped.select("image_id", "comp").collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  private def sigsOf(df: DataFrame): Seq[Checks.Sig] =
    df.select("image_id", "h0", "h1", "h2", "h3", "variants", "low_conf", "has_pdq")
      .collect().toSeq.map { r =>
        Checks.Sig(r.getString(0), Array(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)),
          r.getSeq[scala.collection.Seq[Long]](5).map(_.toArray).toArray,
          r.getBoolean(6), r.getBoolean(7))
      }
}

/**
 * The user's main path, folder to groups: `Pipeline.run` (PDQ, t = 40)
 * over a generated image + caption corpus. The seed picks the base-id
 * window. At this corpus size per-stage Spark overhead is most of a run;
 * the kernel, band join and group assembly take 1.5-2.5 s each.
 */
object DedupImages extends Workload {
  val name = "dedup_images"
  final val Threshold = 40
  final val PhashThreshold = 15
  private val PhashKeys = Set("wall_s", "index_rows", "verified", "edges",
    "shuffle_write_mb", "task_skew")
  /** Images per corpus: the first this many of the seed's window, so
    * every seed measures the same amount of work. */
  final val Images = 300
  final val Bases = 105L
  /** Untimed runs over the corpus before measuring (the first run in a
    * JVM is the slowest by far). */
  final val WarmRuns = 1

  private var truth: Seq[Truth] = Nil

  def generate(spark: SparkSession, seed: Long, dir: String): Unit = {
    val from = Inputs.windowStart(seed, Bases, region = 0)
    truth = Inputs.writeImages(spark, from, from + Bases, s"$dir/images", (_, _) => 0,
      Map(0 -> Images)).map(_._1)
  }

  def setUp(spark: SparkSession, dir: String): Unit =
    (1 to WarmRuns).foreach { i =>
      Pipeline.run(spark, images(spark, dir), s"$dir/warm$i", Threshold)
      Files.delete(s"$dir/warm$i")
    }

  private def images(spark: SparkSession, dir: String) =
    Inputs.readImages(spark, s"$dir/images", 0)

  /** One timed `Pipeline.run`; its groups are checked untimed. */
  private def run(spark: SparkSession, dir: String, work: String, ops: Ops)
      : Option[(Double, Double)] =
    ops.attempt(s"Pipeline.run $work") {
      Loop.clock(Pipeline.run(spark, images(spark, dir), work, Threshold))
    }.flatMap { case (grouped, wall) =>
      System.err.println(f"dedupbench: Pipeline.run took $wall%.2f s")
      val failed = ops.failed
      val recall = PairCheck.score(ops, "dedup_images pairs", truth,
        spark.read.parquet(s"$work/signatures"), PairCheck.labelsOf(grouped), Threshold)
      Files.delete(work)
      if (ops.failed == failed) Some((wall, recall)) else None
    }

  def measure(spark: SparkSession, dir: String, seconds: Double, ops: Ops): Result = {
    val reps = Loop.timed(seconds, minReps = 2)(i => run(spark, dir, s"$dir/rep$i", ops))
    if (reps.isEmpty) Result(Map.empty, Map.empty) // failed runs give no timing
    else {
      val wall = Stats.median(reps.map(_._1))
      Result(Map("wall_s" -> wall, "img_per_s" -> truth.size / wall,
        "dup_pair_recall" -> reps.map(_._2).min), Map("images" -> truth.size.toDouble))
    }
  }

  def traced(spark: SparkSession, dir: String, seconds: Double, ops: Ops,
             trace: Trace): Map[String, Double] = {
    val untraced =
      Loop.timed(seconds / 2, minReps = 1)(i => run(spark, dir, s"$dir/rep$i", ops)).map(_._1)
    val reps = Loop.timed(seconds / 2, minReps = 1)(i =>
      ops.attempt(s"traced pipeline $i")(tracedRep(spark, dir, s"$dir/traced$i", ops, trace)))
    if (untraced.isEmpty || reps.isEmpty) Map.empty
    else Workload.withOverhead(Workload.medians(reps), Stats.median(untraced))
  }

  /** The pipeline's four layers called in turn, each with its own sink
    * and span; counts that need a query run after the span closes. */
  private def tracedRep(spark: SparkSession, dir: String, work: String, ops: Ops,
                        trace: Trace): Map[String, Double] = {
    val (((sig, k), (_, l), ((comps, rounds, edgesIn), c), (grouped, g)), root) =
      trace.span("pipeline") {
        val kernel = trace.span("kernel")(
          Workload.sink(Pipeline.signatures(spark, images(spark, dir)), s"$work/signatures"))
        val lsh = trace.span("lsh.pdq")(
          Workload.sink(BandJoin.edges(kernel._1, Threshold), s"$work/edges"))
        val cc = trace.span("cc") {
          val (labels, rounds, n) = ConnectedComponents.runWithStats(spark, lsh._1)
          (Workload.sink(labels, s"$work/components"), rounds, n)
        }
        val groups = trace.span("groups")(
          Workload.sink(Groups.assemble(kernel._1, cc._1._1), s"$work/groups"))
        (kernel, lsh, cc, groups)
      }
    // the control for band-join changes aimed at PDQ: the pHash join over
    // the same signatures (t = 15 over 8 chunks: every chunk keeps radius
    // 1 under any per-chunk radius split), outside the pipeline span so
    // the gap and overhead stay comparable
    val (_, h) = trace.span("lsh.phash")(
      Workload.sink(BandJoin64.edges(sig, PhashThreshold), s"$work/phash-edges"))
    PairCheck.score(ops, "traced dedup_images pairs", truth, sig, PairCheck.labelsOf(grouped),
      Threshold)
    val ks = trace.statsOf(k)
    val nImages = Layers.sinkRows(ks).toDouble
    val kernel = Map("wall_s" -> ks.wallS, "images" -> nImages,
      "cpu_ms_per_img" -> (if (nImages == 0) 0.0 else ks.cpuS * 1000 / nImages),
      "cpu_util" -> ks.cpuUtil, "gc_s" -> ks.gcS,
      "decode_failures" -> sig.where(col("decode_status") =!= "ok").count().toDouble)
    val ls = trace.statsOf(l)
    val cs = trace.statsOf(c)
    val cc = Map("wall_s" -> cs.wallS, "edges_in" -> edgesIn.toDouble,
      "rounds" -> rounds.toDouble, "shuffle_write_mb" -> cs.shuffleWriteMb,
      "components" -> comps.where(col("id") === col("comp")).count().toDouble)
    val hs = trace.statsOf(h)
    val gs = trace.statsOf(g)
    val groups = Map("wall_s" -> gs.wallS, "shuffle_write_mb" -> gs.shuffleWriteMb,
      "task_skew" -> gs.taskSkew,
      "groups" -> grouped.select("comp").distinct().count().toDouble)
    Files.delete(work)
    Workload.prefixed("kernel", kernel) ++
      Workload.prefixed("lsh.pdq", Layers.tasks(ls) ++ Layers.funnel(ls)) ++
      Workload.prefixed("lsh.phash", (Layers.tasks(hs) ++ Layers.funnel(hs))
        .filter { case (key, _) => PhashKeys(key) }) ++
      Workload.prefixed("cc", cc) ++ Workload.prefixed("groups", groups) ++
      Map("root_s" -> trace.statsOf(root).wallS,
        "layers_s" -> Seq(ks, ls, cs, gs).map(_.wallS).sum)
  }
}

/**
 * The write path: set-up builds a corpus with `Pipeline.run` and its band
 * index; the measured part is a chain of `Incremental.run` deltas with an
 * auto-compaction inside it. One delta costs ~15 s on a 4-vCPU host, so
 * the chain is one delta long and compacts every version. Some corpus
 * families have their variants held back into the delta, so edges cross
 * the corpus/delta boundary.
 */
object IngestDelta extends Workload {
  val name = "ingest_delta"
  final val Threshold = 40
  final val CorpusBases = 24L
  /** Fresh bases generated per delta; each delta keeps its first
    * `DeltaImages` images, held-back variants first. */
  final val DeltaBases = 10L
  final val DeltaImages = 16
  final val Deltas = 1
  final val CompactEvery = 1

  private var truth: Seq[(Truth, Int)] = Nil

  /** Batch of a generated row: corpus bases go to batch 0, except that
    * every fourth family's variants are held back into a delta; delta
    * bases go to their own delta. */
  private[dedupbench] def batchOf(corpusFrom: Long)(b: Long, variant: String): Int = {
    val off = b - corpusFrom
    if (off >= CorpusBases) 1 + ((off - CorpusBases) / DeltaBases).toInt
    else if (off % 4 == 0 && !Set("orig", "flat", "unrelated", "caption-dup")(variant))
      1 + (off % Deltas).toInt
    else 0
  }

  def generate(spark: SparkSession, seed: Long, dir: String): Unit = {
    val width = CorpusBases + Deltas * DeltaBases
    val from = Inputs.windowStart(seed, width, region = 1)
    truth = Inputs.writeImages(spark, from, from + width, s"$dir/images", batchOf(from),
      (1 to Deltas).map(_ -> DeltaImages).toMap)
  }

  /** Batch run plus the band index `Incremental.run` would build lazily,
    * built the same way up front. */
  private def buildCorpus(spark: SparkSession, images: DataFrame, work: String): Unit = {
    Pipeline.run(spark, images, work, Threshold).count()
    val sig = CorpusState.readSignatures(spark, work, 0)
    val nConf = sig.filter(col("has_pdq") && !col("low_conf")).count()
    BandIndex.build(sig, s"$work/band_index",
      chunkBits = BandIndex.autoBuildBits(BandIndex.AlgoPdq, nConf, Threshold),
      algo = BandIndex.AlgoPdq)
  }

  /** The corpus build doubles as the warm-up: it runs every batch layer. */
  def setUp(spark: SparkSession, dir: String): Unit =
    buildCorpus(spark, Inputs.readImages(spark, s"$dir/images", 0), s"$dir/corpus")

  /** One applied delta: its index, work dir, wall and trace span (-1). */
  private final case class Delta(k: Int, work: String, wallS: Double, span: Int)

  /** The delta chain, each delta timed on its own (and traced as one
    * span when `trace` is given). Returns the deltas that succeeded and
    * the wall of the whole chain. */
  private def chain(spark: SparkSession, dir: String, corpus: String, ops: Ops,
                    trace: Option[Trace]): (Seq[Delta], Double) =
    Loop.clock((1 to Deltas).flatMap { k =>
      val work = s"$corpus-delta$k"
      def call() = Incremental.run(spark, Inputs.readImages(spark, s"$dir/images", k),
        corpus, work, Threshold, fullOutput = false, compactEvery = CompactEvery)
      ops.attempt(s"delta $k")(Loop.clock(
        trace.fold((call(), -1))(_.span("incremental")(call()))))
        .flatMap { case ((_, span), wall) =>
          System.err.println(f"dedupbench: delta $k took $wall%.2f s")
          if (ops.check(s"delta $k commits version $k",
              CorpusState.version(spark, corpus) == k)) Some(Delta(k, work, wall, span))
          else None
        }
    })

  /** The merged state after the chain against the truth of every row. */
  private def checkState(spark: SparkSession, corpus: String, ops: Ops): Double = {
    val snap = new java.io.File(s"$corpus/state_v$CompactEvery/snapshot_signatures/_SUCCESS")
    ops.check("auto-compaction ran inside the chain", snap.exists)
    val v = CorpusState.version(spark, corpus)
    val sigs = CorpusState.readSignatures(spark, corpus, v)
    val labels = CorpusState.readComponents(spark, corpus, v)
      .join(sigs.select(col("ord").as("id"), col("image_id")), "id")
      .select("image_id", "comp").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    PairCheck.score(ops, "ingest_delta merged state pairs", truth.map(_._1), sigs, labels,
      Threshold)
  }

  def measure(spark: SparkSession, dir: String, seconds: Double, ops: Ops): Result = {
    val corpus = s"$dir/corpus"
    val (deltas, total) = chain(spark, dir, corpus, ops, None)
    val recall = checkState(spark, corpus, ops)
    val deltaImages = truth.count(_._2 > 0)
    if (deltas.size < Deltas) Result(Map.empty, Map.empty)
    else Result(Map("wall_s" -> total, "img_per_s" -> deltaImages / total,
      "dup_pair_recall" -> recall),
      Map("ingest_s" -> total, "delta_p50_s" -> Stats.median(deltas.map(_.wallS)),
        "delta_images" -> deltaImages.toDouble))
  }

  private final case class Lineage(stage: String, rows: Long, wallS: Double, endEpochMs: Long)

  private def lineage(spark: SparkSession, work: String): Seq[Lineage] =
    spark.read.parquet(s"$work/_lineage").collect().map(r => Lineage(r.getString(0),
      r.getLong(1), r.getLong(2) / 1000.0, java.time.Instant.parse(r.getString(3)).toEpochMilli))
      .toSeq

  /**
   * An untraced chain on the corpus and a traced chain on a copy of it.
   * Each traced delta is one span; its stage walls come from the delta's
   * own `_lineage` table (recorded as child spans) and the rest of its
   * wall (index append, state commit, compaction) is its commit time.
   * The groups stage's tasks are the ones that ran inside its window.
   */
  def traced(spark: SparkSession, dir: String, seconds: Double, ops: Ops,
             trace: Trace): Map[String, Double] = {
    val corpus = s"$dir/corpus"
    copyTree(new java.io.File(corpus), new java.io.File(s"$dir/traced"))
    val (untracedDeltas, untraced) = chain(spark, dir, corpus, ops, None)
    checkState(spark, corpus, ops)
    if (untracedDeltas.size < Deltas) return Map.empty
    val ((deltas, _), root) = trace.span("chain")(
      chain(spark, dir, s"$dir/traced", ops, Some(trace)))
    checkState(spark, s"$dir/traced", ops)

    val perDelta = deltas.map { d =>
      val lin = lineage(spark, d.work)
      def wallOf(stage: String) = lin.filter(_.stage == stage).map(_.wallS).sum
      lin.foreach { l =>
        val end = (l.endEpochMs - trace.originEpochMs) / 1000.0
        trace.record(s"incremental.${l.stage}", end - l.wallS, end, parent = d.span)
      }
      val groupTasks = lin.filter(_.stage == "groups").flatMap { l =>
        val t0 = l.endEpochMs - (l.wallS * 1000).toLong
        trace.synchronized(trace.allTasks.filter(t =>
          t.launchMs >= t0 && t.finishMs <= l.endEpochMs).toSeq)
      }
      Map(
        "incremental.delta_signatures_s" -> wallOf("delta_signatures"),
        "incremental.cross_edges_s" -> wallOf("delta_cross_edges"),
        "incremental.internal_edges_s" -> wallOf("delta_internal_edges"),
        "incremental.components_s" -> wallOf("components"),
        "incremental.groups_s" -> wallOf("groups"),
        "incremental.cross_edges" ->
          lin.filter(_.stage == "delta_cross_edges").map(_.rows.toDouble).sum,
        "incremental.commit_s" -> (d.wallS - lin.map(_.wallS).sum),
        "groups.wall_s" -> wallOf("groups"),
        "groups.groups" ->
          spark.read.parquet(s"${d.work}/groups").select("comp").distinct().count().toDouble,
        "groups.shuffle_write_mb" -> groupTasks.map(_.shuffleWriteBytes).sum / 1048576.0,
        "groups.task_skew" -> Trace.skew(groupTasks),
        "layers_s" -> lin.map(_.wallS).sum)
    }
    if (perDelta.size < Deltas) return Map.empty
    val m = Workload.medians(perDelta)
    Workload.withOverhead(m + ("layers_s" -> perDelta.map(_("layers_s")).sum) +
        ("root_s" -> trace.statsOf(root).wallS), untraced) ++ Map(
      "incremental.cross_edges" -> perDelta.map(_("incremental.cross_edges")).sum,
      "incremental.commit_max_s" -> perDelta.map(_("incremental.commit_s")).max)
  }

  private def copyTree(src: java.io.File, dst: java.io.File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      src.listFiles().foreach(f => copyTree(f, new java.io.File(dst, f.getName)))
    } else java.nio.file.Files.copy(src.toPath, dst.toPath)
}
