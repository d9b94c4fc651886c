package graft

import graft.ckpt.{Ckpt, Store}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class StoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("write-once marker: first value wins byte-for-byte; a failed create with no value throws") {
    val dir = Files.createTempDirectory("graft-store").toString
    val p = s"$dir/sub/_meta_flag"
    assert(Store.writeOnce(spark, p, "true") == "true")
    assert(Store.writeOnce(spark, p, fail("value evaluated although committed")) == "true")
    assert(Store.writeOnce(spark, p, "false") == "true")
    assert(new String(Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8") == "true")
    // the create cannot succeed (its parent is a file) and nothing is committed
    Files.write(java.nio.file.Paths.get(s"$dir/blocker"), Array[Byte](1))
    intercept[IllegalStateException](Store.writeOnce(spark, s"$dir/blocker/_base_version", "3"))
  }

  test("compacted segment names follow the input set, not its size") {
    val a = Store.compactedSegment(Seq("/r/seg_d000000", "/r/seg_d000001"))
    assert(a.startsWith("seg_zc") && a > "seg_d999999")
    assert(a == Store.compactedSegment(Seq("/other/seg_d000000", "/other/seg_d000001")))
    assert(a != Store.compactedSegment(Seq("/r/seg_d000001", s"/r/$a")))
  }

  test("segments commit once under their name; numbering skips past gaps") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-store-seg").toString
    assert(Store.segments(spark, s"$dir/none").isEmpty)
    assert(Store.nextSegment(spark, dir, "seg_d") == 0)
    assert(Store.commitSegment(spark, dir, "seg_d000000")(Seq(1).toDF("x")))
    assert(!Store.commitSegment(spark, dir, "seg_d000000")(fail("rows evaluated although committed")))
    assert(Store.commitSegment(spark, dir, "seg_d000004")(Seq(2).toDF("x")))
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/.tmp_seg_d000009"))
    assert(Store.segments(spark, dir).map(new org.apache.hadoop.fs.Path(_).getName) ==
      Seq("seg_d000000", "seg_d000004"))
    assert(Store.nextSegment(spark, dir, "seg_d") == 5)
    assert(Store.nextSegment(spark, dir, "seg_i") == 0)
    assert(Store.committed(spark, s"$dir/seg_d000004"))
    assert(!Store.committed(spark, s"$dir/.tmp_seg_d000009"))
  }

  test("a filesystem error is not taken for an uncommitted stage") {
    import spark.implicits._
    var ran = false
    intercept[java.io.IOException](new Ckpt(spark, "nosuchfs://x").stage("s") {
      ran = true
      Seq(1).toDF("x")
    })
    assert(!ran, "the stage was computed although its commit state was unknown")
  }

  test("a stage reads back with the schema an inferred read gives") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-ckpt-schema").toString
    val ckpt = new Ckpt(spark, dir)
    // non-nullable primitives, nested arrays, binary, a struct and a map
    val df = Seq((1L, "a", Array(Array(1L, 2L)), Array[Byte](1, 2), true, 1.5))
      .toDF("ord", "s", "variants", "bin", "flag", "x")
      .withColumn("st", struct(col("ord"), col("s")))
      .withColumn("m", map(col("s"), col("ord")))
    val (out, hit) = ckpt.stage("s")(df)
    assert(!hit)
    val inferred = spark.read.parquet(s"$dir/s")
    assert(out.schema == inferred.schema, s"${out.schema.treeString} vs ${inferred.schema.treeString}")
    val (resumed, hit2) = ckpt.stage("s")(fail("a committed stage was recomputed"))
    assert(hit2 && resumed.schema == inferred.schema)
  }
}
