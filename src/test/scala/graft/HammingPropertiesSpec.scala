package graft

import graft.kernel.{PHash, Pdq}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck-generator property tests for the Hamming/band algebra
  * (FIXTURES.md §3): pigeonhole probe-tier guarantees, metric axioms,
  * pack/chunk round trips, dihedral group closure. Deterministic seeded
  * sampling (no scalatestplus bridge in the offline cache). */
class HammingPropertiesSpec extends AnyFunSuite {
  private def samples[A](gen: Gen[A], n: Int = 300): Seq[A] =
    (0 until n).flatMap(i => gen(Gen.Parameters.default, Seed(42L + i)))

  private val genHash: Gen[Array[Byte]] =
    Gen.containerOfN[Array, Byte](32, Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
  private val genBits: Gen[Seq[Int]] =
    Gen.chooseNum(0, 63).flatMap(n => Gen.listOfN(n, Gen.chooseNum(0, 255)))

  private def flip(h: Array[Byte], bits: Seq[Int]): Array[Byte] = {
    val out = h.clone()
    bits.distinct.foreach(b => out(b / 8) = (out(b / 8) ^ (1 << (b % 8))).toByte)
    out
  }

  test("pigeonhole: dist ≤ t ⇒ min chunk dist ≤ ⌊t/16⌋ (probe-tier recall basis)") {
    for ((h, bits) <- samples(genHash).zip(samples(genBits))) {
      val g = flip(h, bits)
      val d = Pdq.hamming(h, g)
      val minChunk = (0 until 16)
        .map(k => Integer.bitCount(Pdq.chunk(h, k) ^ Pdq.chunk(g, k))).min
      assert(minChunk <= d / 16, s"d=$d minChunk=$minChunk")
    }
  }

  test("width-generic pigeonhole + chunk reconstruction (8/16/32/64-bit)") {
    import org.apache.spark.sql.functions.col
    val spark = SparkTestSession.spark
    import spark.implicits._
    for (bits <- Seq(8, 16, 32, 64)) {
      val m = 256 / bits
      // chunk reconstruction: extracting every chunk and re-assembling
      // recovers the 4 longs, at any width
      val hs = samples(genHash, 40).map(Pdq.toLongs)
      val df = hs.map(l => (l(0), l(1), l(2), l(3))).toDF("h0", "h1", "h2", "h3")
      val chunks = df.select(
        graft.lsh.BandJoin.chunksArrayB(Seq("h0", "h1", "h2", "h3").map(col), bits)
          .as("cs"), col("h0"), col("h1"), col("h2"), col("h3")).collect()
      chunks.foreach { r =>
        val cs = r.getSeq[Long](0)
        val perLong = 64 / bits
        val rebuilt = (0 until 4).map { w =>
          (0 until perLong).map(k => cs(w * perLong + k) << (k * bits))
            .foldLeft(0L)(_ | _)
        }
        assert(rebuilt == Seq(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)),
          s"bits=$bits reconstruction failed")
      }
      // pigeonhole at width `bits`: dist ≤ t ⇒ some chunk differs ≤ ⌊t/m⌋,
      // and a radius-⌊t/m⌋ mask on either side therefore collides
      for ((h, flips) <- samples(genHash, 150).zip(samples(genBits, 150))) {
        val g = flip(h, flips)
        val d = Pdq.hamming(h, g)
        val hl = Pdq.toLongs(h); val gl = Pdq.toLongs(g)
        val perLong = 64 / bits
        val mask = if (bits == 64) -1L else (1L << bits) - 1
        val minChunk = (0 until m).map { k =>
          java.lang.Long.bitCount(
            ((hl(k / perLong) >>> ((k % perLong) * bits)) & mask) ^
              ((gl(k / perLong) >>> ((k % perLong) * bits)) & mask))
        }.min
        assert(minChunk <= d / m, s"bits=$bits d=$d minChunk=$minChunk")
      }
    }
  }

  test("hamming is a metric: identity, symmetry, triangle inequality") {
    for (((h, b1), b2) <- samples(genHash).zip(samples(genBits)).zip(samples(genBits, 300).reverse)) {
      val a = flip(h, b1); val b = flip(h, b2)
      assert(Pdq.hamming(h, h) == 0)
      assert(Pdq.hamming(a, b) == Pdq.hamming(b, a))
      assert(Pdq.hamming(a, b) <= Pdq.hamming(a, h) + Pdq.hamming(h, b))
    }
  }

  test("long packing preserves hamming and chunks") {
    val hs = samples(genHash)
    for ((a, b) <- hs.zip(hs.reverse)) {
      assert(Pdq.hammingLongs(Pdq.toLongs(a), Pdq.toLongs(b)) == Pdq.hamming(a, b))
      assert(Pdq.fromLongs(Pdq.toLongs(a)).sameElements(a))
      val la = Pdq.toLongs(a)
      (0 until 16).foreach { k =>
        assert((((la(k / 4) >>> ((k % 4) * 16)) & 0xffffL).toInt) == Pdq.chunk(a, k))
      }
    }
  }

  test("split-radius coverage: chunk dist ≤ 2 ⇒ some radius-2 index mask collides") {
    val gen16 = Gen.chooseNum(0, 65535)
    val masksI = graft.lsh.BandJoin.masksB(2, 16)
    for ((c, flips) <- samples(gen16).zip(samples(Gen.listOfN(2, Gen.chooseNum(0, 15))))) {
      val c2 = flips.distinct.foldLeft(c)((v, b) => v ^ (1 << b))
      assert(masksI.exists(m => (c2 ^ m) == c),
        s"chunk pair $c/$c2 not covered by radius-2 index masks")
    }
  }

  test("pHash dihedral ops are involutions/4-cycles for all hashes") {
    for (h <- samples(Gen.chooseNum(Long.MinValue, Long.MaxValue))) {
      assert(PHash.rotate90(PHash.rotate90(PHash.rotate90(PHash.rotate90(h)))) == h)
      assert(PHash.rotate180(PHash.rotate180(h)) == h)
      assert(PHash.flipHorizontal(PHash.flipHorizontal(h)) == h)
      val inv = PHash.rotationInvariant(h)
      assert(PHash.rotationInvariant(PHash.rotate90(h)) == inv)
    }
  }
}
