package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * Distributed suffix array over a document corpus — the third substring-
 * dedup backend named by the north rule (MinHash / SimHash / SUFFIX-ARRAY
 * substring), built with Manber-Myers PREFIX DOUBLING re-expressed as
 * Spark relational rounds (the canonical distributed SA construction;
 * the same shape Lee et al. 2022 "Deduplicating Training Data Makes
 * Language Models Better" builds its exact-substring dedup on):
 *
 *   round 0: rank every suffix by its first character
 *   round k: rank by the PAIR (rank of first 2^(k-1) chars, rank of the
 *            suffix starting 2^(k-1) later) — a self-join on
 *            (doc_id, pos + step) plus a dense re-rank
 *
 * O(log maxLen) rounds; every step is a scale-out shuffle (distinct →
 * range-sort → ordinal assignment → key join), no driver-side data. The
 * dense ordinal over sorted distinct keys uses `zipWithIndex` on a
 * range-partitioned, partition-sorted frame — the one RDD drop-down in
 * this module, justified because a global ordinal has no Dataset analog
 * that scales (a window over the whole set is a single task).
 *
 * Suffixes are PER-DOCUMENT (no cross-doc concatenation, so no separator
 * sentinels), compared corpus-wide: equal final ranks ⇔ byte-identical
 * suffixes, which is exactly the exact-substring-dup signal (two docs
 * sharing a tied rank at suffix length ≥ L share an L-char substring
 * reaching both suffixes' ends).
 *
 * At 10¹²-char scale a full SA is rows-per-character — the fingerprint
 * path (TextEmbedQueries.qSubstringDup) remains the 100 TB default;
 * this operator is the exact-semantics backend for shard-sized corpora
 * (per-partition dedup, audits, oracle checks).
 */
object SuffixArray {

  /** Characters per document slice for the pre-explode exchange (below).
    * Overridable for tests via the session conf. */
  private def sliceLenOf(docs: DataFrame): Int = {
    val n = docs.sparkSession.conf.get("graft.suffix.sliceLen", "65536").toInt
    require(n >= 1, s"graft.suffix.sliceLen must be >= 1, got $n")
    n
  }

  /** (doc_id, base, slice): ≤`sliceLen`(+`overlap`)-char slices of each
    * document, hash-spread across the cluster. Bounds task skew: one
    * pathological 100 MB document otherwise fans out length(text)
    * generated rows (and, in [[adjacentLcp]], length(text) join matches)
    * inside the single task that read it. The generator emits an array
    * of slices (one O(len) copy) and posexplodes it, so the full text is
    * never carried per generated row; `overlap` extends each slice past
    * its boundary so capped-LCP prefixes can be read without touching
    * the neighbor slice. */
  private def docSlices(nonEmpty: DataFrame, sliceLen: Int,
                        overlap: Int): DataFrame = {
    // explicit partition count: a bare repartition(cols) is AQE-coalesced by
    // BYTE size, and slice rows are small relative to the rows they fan out
    // into — coalescing the slice exchange re-concentrates the explode into
    // few tasks, exactly the skew this exchange exists to prevent
    val parts = nonEmpty.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "200").toInt
    nonEmpty
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(0, (length(text) - 1) div $sliceLen),
            i -> substring(text, i * $sliceLen + 1, ${sliceLen + overlap}))""")))
      .select(col("doc_id"), (col("pos") * sliceLen).as("base"),
        col("col").as("slice"))
      .repartition(parts, col("doc_id"), col("base"))
  }

  /** Dense global ordinal for each distinct key tuple, in key order:
    * distinct → [[Ranks.globalRowNumber]] (distinct keys ARE a total
    * order, so row number == dense rank). The returned frame is `df`
    * plus `outCol`, keys resolved by join. */
  private def rankByKey(df: DataFrame, keys: Seq[String],
                        outCol: String): DataFrame =
    df.join(
      Ranks.globalRowNumber(df.select(keys.map(col): _*).distinct(),
        keys.map(col), outCol),
      keys)

  /** (doc_id, pos, srank) for every suffix of every non-empty document:
    * `pos` is 1-based, `srank` the corpus-wide DENSE rank of the suffix
    * string (ties ⇔ identical suffixes). `docs` needs (doc_id, text).
    * The per-character fan-out runs AFTER a slice-level exchange, so the
    * max rows any one task generates is bounded by slices-per-partition
    * × sliceLen, not by the longest document. */
  def ranks(docs: DataFrame): DataFrame = {
    val sliceLen = sliceLenOf(docs)
    val nonEmpty = docs.select(col("doc_id"), col("text"))
      .where(length(col("text")) >= 1)
    val maxLen = {
      val r = nonEmpty.agg(max(length(col("text")))).head()
      if (r.isNullAt(0)) 0 else r.getInt(0)
    }
    val suffixes = docSlices(nonEmpty, sliceLen, overlap = 0)
      .select(col("doc_id"), col("base"), posexplode(expr(
        "transform(sequence(1, length(slice)), i -> substring(slice, i, 1))")))
      .select(col("doc_id"), (col("base") + col("pos") + 1).as("pos"),
        col("col").as("c1"))
    var cur = rankByKey(suffixes, Seq("c1"), "srank")
      .select(col("doc_id"), col("pos"), col("srank"))
      .localCheckpoint() // break lineage growth across doubling rounds

    var step = 1
    var ties = hasTies(cur)
    while (step < maxLen && ties) {
      val right = cur.select(col("doc_id"), (col("pos") - step).as("pos"),
        col("srank").as("r2"))
      // a suffix shorter than step+1 chars has no right half: -1 sorts
      // before every real rank, so shorter sorts first — exactly string
      // prefix order ("abc" < "abcd")
      val paired = cur.join(right, Seq("doc_id", "pos"), "left")
        .na.fill(-1L, Seq("r2"))
      cur = rankByKey(paired, Seq("srank", "r2"), "nsrank")
        .select(col("doc_id"), col("pos"), col("nsrank").as("srank"))
        .localCheckpoint()
      step *= 2
      ties = hasTies(cur)
    }
    // post-loop invariant: either ranks are fully distinct, or the
    // compared prefix (≥ maxLen chars) covers every suffix — tied ranks
    // are byte-identical suffixes
    cur
  }

  private def hasTies(cur: DataFrame): Boolean = {
    val r = cur.agg(count(lit(1)), countDistinct(col("srank"))).head()
    r.getLong(0) != r.getLong(1)
  }

  /** The SA-scan duplicate detector (the core loop of suffix-array
    * substring dedup): every suffix paired with its PREDECESSOR in rank
    * order, LCP computed capped at `maxLcp` — in a sorted suffix array,
    * any repeated substring of length L surfaces as an adjacent pair
    * with LCP ≥ L, so scanning adjacencies finds all duplicated spans
    * without any pairwise explosion. Adjacency comes from
    * [[Ranks.globalRowNumber]] over the total order (srank, doc_id, pos)
    * + a self-join on ordinal±1 — scalable, no single-task window.
    * Returns (a_doc, a_pos, b_doc, b_pos, lcp) for pairs with
    * lcp ≥ minLcp. */
  def adjacentLcp(docs: DataFrame, minLcp: Int, maxLcp: Int = 64): DataFrame = {
    // pre-strings come from maxLcp-overlapped slices joined on
    // (doc_id, base), not from a join against the whole text on doc_id —
    // the latter funnels a pathological document's every suffix row into
    // one join partition (same skew as the pre-slice explode)
    val sliceLen = sliceLenOf(docs)
    val nonEmpty = docs.select(col("doc_id"), col("text"))
      .where(length(col("text")) >= 1)
    val withPre = ranks(docs)
      .withColumn("base", expr(s"((pos - 1) div $sliceLen) * $sliceLen"))
      .join(docSlices(nonEmpty, sliceLen, overlap = maxLcp),
        Seq("doc_id", "base"))
      .select(col("doc_id"), col("pos"), col("srank"),
        expr(s"substring(slice, pos - base, $maxLcp)").as("pre"))
    val ord = Ranks.globalRowNumber(withPre,
      Seq(col("srank").asc, col("doc_id").asc, col("pos").asc), "ordn")
    val a = ord.select(col("ordn"), col("doc_id").as("a_doc"),
      col("pos").as("a_pos"), col("pre").as("a_pre"))
    val b = ord.select((col("ordn") + 1).as("ordn"), col("doc_id").as("b_doc"),
      col("pos").as("b_pos"), col("pre").as("b_pre"))
    // capped LCP of the two ≤maxLcp-char prefixes: first differing
    // position − 1, clamped by both lengths (substring past the end is ''
    // — equal to '' — so the both-ended case needs the clamp)
    val lcp = expr(
      s"""least(coalesce(array_min(filter(transform(sequence(1, $maxLcp),
         i -> IF(substring(a_pre, i, 1) <> substring(b_pre, i, 1), i,
                 CAST(null AS INT))), x -> x IS NOT NULL)), ${maxLcp + 1}) - 1,
         length(a_pre), length(b_pre))""")
    a.join(b, "ordn")
      .withColumn("lcp", lcp.cast("long"))
      .where(col("lcp") >= minLcp)
      .select(col("a_doc"), col("a_pos"), col("b_doc"), col("b_pos"), col("lcp"))
  }

  /** Exact duplicated-suffix classes with at least `minLen` characters:
    * groups of ≥2 suffixes sharing a final rank — i.e. byte-identical
    * text runs reaching the end of each holder. The suffix-array form of
    * exact substring dedup (tail-anchored; the fingerprint operator
    * covers interior spans at scale). */
  /** Documents above which the per-doc length frame stops being
    * broadcast (≈ tens of MB hashed at this cap). Above it, fall back
    * to the shuffled join: skew-prone on a pathological document but
    * bounded in driver/executor memory, which a blind broadcast is not. */
  private val MaxLensBroadcastDocs = 2000000L

  def dupClasses(docs: DataFrame, minLen: Int): DataFrame = {
    val lens = docs.select(col("doc_id"), length(col("text")).as("dlen"))
    // broadcast when provably small: one 12-byte row per document, and a
    // doc_id-shuffled join would put a pathological document's every
    // suffix row in one partition. The limit+count probe stops scanning
    // at cap+1 rows, so the gate costs O(cap) not O(corpus).
    val nDocs = lens.limit((MaxLensBroadcastDocs + 1).toInt).count()
    val lensSide = if (nDocs <= MaxLensBroadcastDocs) broadcast(lens) else lens
    ranks(docs).join(lensSide, "doc_id")
      .where(col("dlen") - col("pos") + 1 >= minLen)
      .groupBy("srank")
      .agg(count(lit(1)).as("n_suffixes"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(struct(col("doc_id"), col("pos"))).as("m"))
      .where(col("n_suffixes") > 1)
      .select(col("srank"), col("n_suffixes"), col("n_docs"),
        col("m.doc_id").as("first_doc"), col("m.pos").as("first_pos"))
  }
}
