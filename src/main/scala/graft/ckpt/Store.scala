package graft.ckpt

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets.UTF_8

/**
 * The small-file primitives the segment stores share ([[graft.lsh.BandIndex]],
 * [[graft.groups.GroupRegistry]], [[graft.CorpusState]], the incremental
 * run's `_base_version` pin): marker files read whole and created
 * exclusively, and the name of a compacted segment.
 */
private[graft] object Store {
  def fs(spark: SparkSession, p: String) =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The marker's content as written (UTF-8), if the file exists. */
  def read(spark: SparkSession, p: String): Option[String] = {
    val f = fs(spark, p)
    val hp = new Path(p)
    if (!f.exists(hp)) None
    else {
      val in = f.open(hp)
      try {
        val bytes = new Array[Byte](math.max(f.getFileStatus(hp).getLen.toInt, 0))
        in.readFully(0, bytes)
        Some(new String(bytes, UTF_8))
      } finally in.close()
    }
  }

  def write(spark: SparkSession, p: String, value: String, overwrite: Boolean): Unit = {
    val f = fs(spark, p)
    f.mkdirs(new Path(p).getParent)
    val out = f.create(new Path(p), overwrite)
    try out.write(value.getBytes(UTF_8)) finally out.close()
  }

  /** Write-once marker: the committed value at `p` — the existing one, or
    * else `value`, created exclusively so two writers can't both believe
    * they won. A lost create race returns the winner's value; a failed
    * create with NO committed value throws (a transient IO failure must
    * not let a run proceed on an unstamped marker). `value` is only
    * evaluated when the marker is absent. */
  def writeOnce(spark: SparkSession, p: String, value: => String): String =
    read(spark, p).getOrElse {
      val v = value
      try { write(spark, p, v, overwrite = false); v }
      catch {
        case e: java.io.IOException =>
          read(spark, p).getOrElse(throw new IllegalStateException(
            s"marker create at $p failed without a committed value", e))
      }
    }

  /** Name of the segment compacting `inputs` (segment paths), derived from
    * the INPUT SET rather than its size: a crashed compact resumed over the
    * same inputs reuses the name, while a later compact over different
    * inputs can never collide. A count-based name loses data: a store
    * compacted at k segments that later holds k segments again reuses the
    * old merged name, skips the merge as already done, and still deletes
    * the new segments. The `zc` prefix sorts it after `seg_base`/`seg_d*`. */
  def compactedSegment(inputs: Seq[String]): String = {
    val names = inputs.map(s => new Path(s).getName).mkString("\n")
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(names.getBytes(UTF_8)).map(b => f"$b%02x").mkString.take(12)
    s"seg_zc$hex"
  }
}
