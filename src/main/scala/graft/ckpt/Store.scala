package graft.ckpt

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import java.nio.charset.StandardCharsets.UTF_8

/**
 * The one commit protocol of every persisted store ([[graft.lsh.BandIndex]]'s export,
 * [[graft.groups.GroupRegistry]], [[graft.CorpusState]], [[Ckpt]], the
 * incremental run's `_base_version` pin):
 *
 *  - a store is a directory of immutable `seg_*` segment directories, read
 *    as their union ([[segments]]);
 *  - a segment commits by writing `.tmp_<name>` and renaming it into
 *    place ([[commitSegment]]): a crash leaves only an invisible staging
 *    dir, and a resumed commit under the same name is a no-op;
 *  - compaction folds every segment into one named from its input set,
 *    committed before any input is deleted ([[compactSegments]]);
 *  - a parquet output is committed once its `_SUCCESS` marker exists
 *    ([[committed]]);
 *  - marker files are read whole and created exclusively.
 *
 * Filesystem errors propagate: an unreadable store is never taken for an
 * empty or uncommitted one.
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

  /** Write-once marker: the committed value at `p` — the existing one, or
    * else `value`, created exclusively so two writers can't both believe
    * they won. A lost create race returns the winner's value; a failed
    * create with NO committed value throws (a transient IO failure must
    * not let a run proceed on an unstamped marker). `value` is only
    * evaluated when the marker is absent. */
  def writeOnce(spark: SparkSession, p: String, value: => String): String =
    read(spark, p).getOrElse {
      val v = value
      try {
        val f = fs(spark, p)
        f.mkdirs(new Path(p).getParent)
        val out = f.create(new Path(p), false)
        try out.write(v.getBytes(UTF_8)) finally out.close()
        v
      }
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

  /** True once the parquet output at `dir` has committed (`_SUCCESS`). */
  def committed(spark: SparkSession, dir: String): Boolean =
    fs(spark, dir).exists(new Path(dir, "_SUCCESS"))

  /** The committed segments under `dir` (paths, sorted by name); empty
    * when `dir` does not exist. */
  def segments(spark: SparkSession, dir: String): Seq[String] = {
    val f = fs(spark, dir)
    val p = new Path(dir)
    if (!f.exists(p)) Seq.empty
    else f.listStatus(p).map(_.getPath).filter(_.getName.startsWith("seg_"))
      .map(_.toString).sorted.toSeq
  }

  /** Commit `rows` as segment `name` under `dir`: written to `.tmp_<name>`,
    * then renamed into place. Returns false, evaluating nothing, when the
    * segment is already committed (a resumed run never double-appends). */
  def commitSegment(spark: SparkSession, dir: String, name: String)(
      rows: => DataFrame): Boolean = {
    require(name.startsWith("seg_"), s"segment name must start with seg_: $name")
    val f = fs(spark, dir)
    val finalP = new Path(dir, name)
    if (f.exists(finalP)) false
    else {
      val staging = new Path(dir, s".tmp_$name")
      rows.write.mode(SaveMode.Overwrite).parquet(staging.toString)
      if (!f.rename(staging, finalP))
        throw new java.io.IOException(s"segment commit failed: rename $staging -> $finalP")
      true
    }
  }

  /** Fold every segment under `dir` into one named by [[compactedSegment]]
    * (a no-op with at most one segment): `merge` maps the union of the
    * inputs to the merged rows, which commit before any input is deleted.
    * A crash between commit and deletes leaves rows twice, which every
    * reader resolves and the next compaction folds. */
  def compactSegments(spark: SparkSession, dir: String)(merge: DataFrame => DataFrame): Unit = {
    val inputs = segments(spark, dir)
    if (inputs.size > 1) {
      commitSegment(spark, dir, compactedSegment(inputs))(merge(spark.read.parquet(inputs: _*)))
      val f = fs(spark, dir)
      inputs.foreach(s => f.delete(new Path(s), true))
    }
  }

  /** One past the highest `<prefix>NNNNNN` segment under `dir` (0 when
    * none): never the segment count, which a compaction that crashed
    * mid-delete would make name an existing segment. */
  def nextSegment(spark: SparkSession, dir: String, prefix: String): Int = {
    val Numbered = s"$prefix(\\d+)".r
    segments(spark, dir).map(new Path(_).getName)
      .collect { case Numbered(i) => i.toInt + 1 }.maxOption.getOrElse(0)
  }
}
