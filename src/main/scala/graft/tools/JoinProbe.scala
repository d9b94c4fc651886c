package graft.tools

import graft.Pipeline
import graft.lsh.{BandJoin, HashLayout}
import org.apache.spark.sql.functions._

/** One-off diagnostics for the band-join shuffle: raw collision volume vs
  * exploded index volume on a real signatures checkpoint — the numbers
  * that decide between wide-index (verify-in-join) and thin-index
  * (deferred verify) designs. */
object JoinProbe {
  def main(args: Array[String]): Unit = {
    val sigPath = args(0)
    val threshold = if (args.length > 1) args(1).toInt else 40
    val spark = Pipeline.session("local[16]", 16)
    spark.sparkContext.setLogLevel("WARN")
    val sig = spark.read.parquet(sigPath)
    val conf = sig.filter(col("has_pdq") && !col("low_conf"))
    val n = conf.count()

    // fuzzyEdges' exploded sides at the join's own radius split and the
    // chunk width it would auto-select
    val layout = HashLayout.Pdq
    val chunkBits = layout.autoChunkBits(n)
    val numChunks = layout.numChunks(chunkBits)
    val (rIdx, rPrb) = BandJoin.radiusSplit(layout, threshold, chunkBits)
    val idxRows = n * numChunks * BandJoin.maskCount(rIdx, chunkBits)
    val prbRows = n * 8L * numChunks * BandJoin.maskCount(rPrb, chunkBits)

    val distinctHash = conf.select("h0", "h1", "h2", "h3").distinct().count()
    println(s"JOINPROBE n=$n distinctHash=$distinctHash chunkBits=$chunkBits " +
      s"idxRows=$idxRows prbRows=$prbRows rIdx=$rIdx rPrb=$rPrb")

    // probe-side bucket sizes (exact chunk values of the 8 variants): the
    // product with index ball membership approximates collision volume
    val prb = conf.select(explode(col("variants")).as("v"))
      .select((0 until 4).map(k => col("v").getItem(k).as(s"h$k")): _*)
    val stacked = prb.select(posexplode(
        BandJoin.chunksArrayB((0 until 4).map(k => col(s"h$k")), chunkBits))
      .as(Seq("band_idx", "band_val")))
    val hot = stacked.groupBy("band_idx", "band_val").count()
      .orderBy(desc("count")).limit(20).collect()
    hot.foreach(r => println(s"HOT idx=${r.getInt(0)} val=${r.getLong(1)} n=${r.getLong(2)}"))
    val top = stacked.groupBy("band_idx", "band_val").count()
      .agg(sum(when(col("count") > 1000, col("count"))).as("in_hot"),
        sum("count").as("total")).head()
    println(s"PROBE rows in buckets>1000: ${top.get(0)} of ${top.get(1)}")

    // the auto-salt decision on this corpus: derived factor + the capped
    // per-(key, salt) occupancy the join tasks actually see
    val hotMax = if (hot.isEmpty) 0L else hot.map(_.getLong(2)).max
    val autoS = BandJoin.autoSaltFactor(layout, conf, chunkBits, rIdx)
    println(s"AUTOSALT factor=$autoS cap=${BandJoin.SaltBucketCap} " +
      s"chunkBits=$chunkBits rIdx=$rIdx " +
      s"hottest=$hotMax per-salted-bucket=${hotMax / math.max(autoS, 1)}")

    val t0 = System.nanoTime()
    val raw = BandJoin.bandMatches(layout, conf, threshold, saltFactor = 0,
      chunkBits, n).count()
    val t1 = (System.nanoTime() - t0) / 1e9
    val edges = BandJoin.fuzzyEdges(sig, threshold).count()
    println(f"JOINPROBE rawCollisions=$raw (${t1}%.1f s) verifiedEdges=$edges")
    spark.stop()
  }
}
