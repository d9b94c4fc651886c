package graft

import graft.synth.Synth
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

/** Continuous ingest: streaming micro-batches merged via the incremental
  * machinery must converge to the same grouping as one batch run over
  * all rows, with one state version per non-empty batch. */
class StreamingIngestSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("two streamed micro-batches == one full batch run") {
    import spark.implicits._
    val rows = (0L until 30L).flatMap(Synth.rowsForBase)
    val (corpusRows, streamed) = rows.zipWithIndex.partition(_._2 % 3 != 0)
    val (b1, b2) = streamed.map(_._1).splitAt(streamed.size / 2)
    def tup(rs: Seq[synth.SynthRow]) =
      rs.map(r => (r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash))
    def toDF(rs: Seq[synth.SynthRow]) =
      tup(rs).toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")

    val base = java.nio.file.Files.createTempDirectory("graft-sing").toString
    Pipeline.run(spark, toDF(corpusRows.map(_._1)), s"$base/corpus-work")

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Array[Byte], Int, Int, String, String, Long)]
    val stream = mem.toDF()
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    val q = graft.streaming.StreamingIngest.start(
      spark, stream, s"$base/corpus-work", s"$base/ingest")
    try {
      mem.addData(tup(b1))
      q.processAllAvailable()
      mem.addData(tup(b2))
      q.processAllAvailable()
    } finally q.stop()

    assert(CorpusState.version(spark, s"$base/corpus-work") == 2,
      "expected one state version per non-empty micro-batch")

    // merged view == full batch over all rows (group partitions equal)
    val ver = CorpusState.version(spark, s"$base/corpus-work")
    val comps = CorpusState.readComponents(spark, s"$base/corpus-work", ver)
    val sig = CorpusState.readSignatures(spark, s"$base/corpus-work", ver)
    val got = graft.groups.Groups.assemble(sig, comps)
      .select("comp", "image_id").collect()
      .groupBy(_.getLong(0)).values.map(_.map(_.getString(1)).toSet).toSet

    val full = Pipeline.run(spark, toDF(rows), s"$base/full-work")
      .select("comp", "image_id").collect()
      .groupBy(_.getLong(0)).values.map(_.map(_.getString(1)).toSet).toSet
    assert(got == full,
      s"only-stream=${(got -- full).take(3)} only-full=${(full -- got).take(3)}")
  }

  test("phash-mode streamed ingest == phash batch run (u64 index end-to-end)") {
    import spark.implicits._
    val rows = (40L until 58L).flatMap(Synth.rowsForBase)
    val (corpusRows, streamed) = rows.zipWithIndex.partition(_._2 % 3 != 0)
    def tup(rs: Seq[synth.SynthRow]) =
      rs.map(r => (r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash))
    def toDF(rs: Seq[synth.SynthRow]) =
      tup(rs).toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")

    val base = java.nio.file.Files.createTempDirectory("graft-sing-ph").toString
    Pipeline.run(spark, toDF(corpusRows.map(_._1)), s"$base/corpus-work",
      algorithm = "phash")

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Array[Byte], Int, Int, String, String, Long)]
    val stream = mem.toDF()
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    val q = graft.streaming.StreamingIngest.start(
      spark, stream, s"$base/corpus-work", s"$base/ingest", algorithm = "phash")
    try {
      mem.addData(tup(streamed.map(_._1)))
      q.processAllAvailable()
    } finally q.stop()

    val ver = CorpusState.version(spark, s"$base/corpus-work")
    val comps = CorpusState.readComponents(spark, s"$base/corpus-work", ver)
    val sig = CorpusState.readSignatures(spark, s"$base/corpus-work", ver)
    val got = graft.groups.Groups.assemble(sig, comps)
      .select("comp", "image_id").collect()
      .groupBy(_.getLong(0)).values.map(_.map(_.getString(1)).toSet).toSet
    val full = Pipeline.run(spark, toDF(rows), s"$base/full-work",
      algorithm = "phash")
      .select("comp", "image_id").collect()
      .groupBy(_.getLong(0)).values.map(_.map(_.getString(1)).toSet).toSet
    assert(got == full,
      s"only-stream=${(got -- full).take(3)} only-full=${(full -- got).take(3)}")
  }
}
