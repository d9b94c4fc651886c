package graft

import graft.ckpt.Store
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
}
