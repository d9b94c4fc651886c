package dedupbench

import dedupbench.Checks._
import graft.synth.Synth

/**
 * The harness's own tests (no Spark session needed). Run with
 * `python3 benchmark/run.py --self-test`; exits 1 if any test fails.
 *  - the same seed gives identical inputs; a different seed gives
 *    disjoint image ids;
 *  - the truth check passes on a correct result and fails when one
 *    truth pair is removed from it or a wrong pair is added;
 *  - the reference pairs follow the grouping semantics.
 */
object SelfTest {
  private var failures = 0

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch {
      case e: Throwable =>
        failures += 1
        println(s"FAIL $name: $e")
    }

  private def assert(cond: Boolean, msg: => String): Unit =
    if (!cond) throw new AssertionError(msg)

  /** A labelling that groups every truth group (flat copies apart), so
    * it finds exactly the truth pairs of the good classes. */
  private def perfectLabels(truth: Seq[Truth]): Seq[(String, Long)] =
    truth.filter(t => GoodVariants(t.variant)).map(t =>
      t.imageId -> (t.groupId * 2 + (if (t.variant.startsWith("flat")) 1 else 0)))

  def main(args: Array[String]): Unit = {
    val width = DedupImages.Bases

    test("same seed, same image window and bytes") {
      val a = Inputs.windowStart(7, width, 0)
      assert(a == Inputs.windowStart(7, width, 0), "window moved")
      val r1 = Synth.rowsForBase(a)
      val r2 = Synth.rowsForBase(a)
      assert(r1.map(_.image_id) == r2.map(_.image_id) &&
        r1.zip(r2).forall(p => p._1.bytes.sameElements(p._2.bytes)), "rows differ")
    }

    test("different seeds, disjoint image ids") {
      val windows = (0L until 200L).map(s => Inputs.windowStart(s, width, 0))
      val ranges = windows.map(w => (w, w + width)).sortBy(_._1)
      assert(ranges.zip(ranges.tail).forall { case (x, y) => x._2 <= y._1 },
        "seed windows overlap")
      val ids = (s: Long) => (Inputs.windowStart(s, width, 0) until
        Inputs.windowStart(s, width, 0) + 3).flatMap(Synth.rowsForBase).map(_.image_id).toSet
      assert((ids(1) intersect ids(2)).isEmpty, "image ids shared between seeds")
      val ingest = IngestDelta.CorpusBases + IngestDelta.Deltas * IngestDelta.DeltaBases
      assert(Inputs.windowStart(1, ingest, 1) >= Inputs.windowStart(Inputs.Slots - 1, width, 0) + width,
        "workload regions overlap")
    }

    test("ingest_delta holds variants back across the corpus/delta boundary") {
      import IngestDelta._
      val from = Inputs.windowStart(5, CorpusBases + Deltas * DeltaBases, 1)
      val batches = (from until from + CorpusBases + Deltas * DeltaBases).flatMap(b =>
        Synth.rowsForBase(b).map(r => (r.group_id, r.variant, batchOf(from)(b, r.variant))))
      assert((1 to Deltas).forall(k => batches.exists(_._3 == k)), "an empty delta")
      assert(batches.exists { case (g, v, k) => v == "orig" && k == 0 &&
        batches.exists(x => x._1 == g && x._3 > 0) }, "no family crosses the boundary")
    }

    // a small corpus: one missing pair is more than 5% of its truth pairs
    val truth = (0L until 8L).flatMap(Synth.rowsForBase)
      .map(r => Truth(r.image_id, r.group_id, r.variant))
    val groupOf = truth.map(t => t.imageId -> t.groupId).toMap
    val tp = truthPairs(truth)

    test("pair check passes on the truth grouping") {
      assert(tp.size >= 5 && tp.size < 19, s"fixture has ${tp.size} truth pairs")
      assert(scorePairs(tp, componentPairs(perfectLabels(truth)), groupOf).ok, "rejected")
    }

    test("pair check fails when one truth pair is removed") {
      val (a, b) = tp.head
      val found = componentPairs(perfectLabels(truth)) - ((a, b))
      val s = scorePairs(tp, found, groupOf)
      assert(!s.ok, s"still accepted: $s")
    }

    test("pair check fails on a wrong pair") {
      val a = truth.head
      val b = truth.find(_.groupId != a.groupId).get
      val found = componentPairs(perfectLabels(truth)) + ((a.imageId, b.imageId))
      assert(!scorePairs(tp, found, groupOf).ok, "wrong pair accepted")
    }

    test("reference pairs follow the grouping semantics") {
      val rnd = new java.util.Random(1)
      def flip(h: Array[Long], bits: Int) = {
        val o = h.clone(); (0 until bits).foreach(b => o(b / 64) ^= 1L << (b % 64)); o
      }
      val base = Array.fill(4)(rnd.nextLong())
      def sig(id: String, h: Array[Long], low: Boolean = false, has: Boolean = true) =
        Sig(id, h, h +: Array.fill(7)(Array.fill(4)(rnd.nextLong())), low, has)
      val sigs = Seq(sig("a", base), sig("b", flip(base, 40)), sig("c", flip(base, 81)),
        sig("d", flip(base, 1), low = true), sig("e", base, low = true),
        sig("f", base, has = false))
      // c is 41 bits from b and 81 from a; d is low-confidence and 1 bit
      // off; e is an exact low-confidence copy; f has no hash
      val want = Set(("a", "b"), ("a", "e"), ("b", "e"))
      val got = referencePairs(sigs, 40)
      assert(got == want, s"got $got")
      val rotated = sigs.head.copy(imageId = "r", h = flip(base, 60),
        variants = Array(flip(base, 60), base) ++ Array.fill(6)(Array.fill(4)(0L)))
      assert(referencePairs(Seq(sigs.head, rotated), 40) == Set(("a", "r")),
        "a dihedral variant within the threshold must match")
    }

    println(if (failures == 0) "all self-tests passed" else s"$failures self-tests failed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
