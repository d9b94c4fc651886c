package graft

import graft.kernel.Pdq
import graft.lsh.{BandJoin, BandJoin64, HashLayout}
import org.scalatest.funsuite.AnyFunSuite

/** LSH band-join recall: pigeonhole algebra + the planted-cluster test
  * (hamminghash.rs:335-412 analog at Spark level). */
class LshSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def randHash(r: java.util.Random): Array[Byte] = {
    val b = new Array[Byte](32); r.nextBytes(b); b
  }
  private def flipBits(h: Array[Byte], r: java.util.Random, n: Int): Array[Byte] = {
    val out = h.clone()
    val picked = scala.collection.mutable.Set[Int]()
    while (picked.size < n) picked += r.nextInt(256)
    picked.foreach { bit => out(bit / 8) = (out(bit / 8) ^ (1 << (bit % 8))).toByte }
    out
  }

  test("pigeonhole: dist ≤ t ⇒ some chunk within ⌊t/16⌋ (split-radius recall basis)") {
    val r = new java.util.Random(7)
    for (_ <- 0 until 500) {
      val t = r.nextInt(64) // 0..63
      val a = randHash(r)
      val b = flipBits(a, r, r.nextInt(t + 1))
      val dist = Pdq.hamming(a, b)
      val minChunkDist = (0 until 16).map { k =>
        java.lang.Integer.bitCount(Pdq.chunk(a, k) ^ Pdq.chunk(b, k))
      }.min
      assert(minChunkDist <= dist / 16,
        s"dist $dist but min chunk dist $minChunkDist > ${dist / 16}")
    }
  }

  test("probe masks sizes match the reference tiers (scanner.rs:1729-1767)") {
    assert(BandJoin.masksB(0, 16).length == 1)
    assert(BandJoin.masksB(1, 16).length == 17)
    assert(BandJoin.masksB(2, 16).length == 137)
    assert(BandJoin.masksB(3, 16).length == 697)
  }

  test("radius split never puts less radius on the index side (batch builds its probe side)") {
    // the band join hash-builds its stored side only when rStored < rProbe;
    // for the batch that must never hold, so its plans keep the probe build
    val splits = for {
      layout <- HashLayout.All; bits <- Seq(layout.parityBits, layout.wideBits)
      t <- 0 to layout.maxThreshold
      split <- scala.util.Try(BandJoin.radiusSplit(layout, t, bits)).toOption
    } yield (layout.name, bits, t, split)
    assert(splits.size > 100)
    splits.foreach { case (name, bits, t, (rIdx, rPrb)) =>
      assert(rIdx >= rPrb, s"$name $bits-bit t=$t split ($rIdx, $rPrb)")
    }
  }

  /** Build a minimal signature frame from raw 32-byte hashes (identity
    * variant only — hash-level test, no dihedral). */
  private def sigFrame(hashes: Seq[Array[Byte]], lowConf: Set[Int] = Set.empty) = {
    import spark.implicits._
    hashes.zipWithIndex.map { case (h, i) =>
      val l = Pdq.toLongs(h)
      (i.toLong, l(0), l(1), l(2), l(3), Array(l), lowConf.contains(i), true)
    }.toDF("ord", "h0", "h1", "h2", "h3", "variants", "low_conf", "has_pdq")
  }

  test("planted cluster: 5 near hashes in 3000 random ones land in one component") {
    val r = new java.util.Random(42)
    val n = 3000
    val hashes = scala.collection.mutable.ArrayBuffer.fill(n)(randHash(r))
    val target = randHash(r)
    val planted = Seq(target, flipBits(target, r, 3), flipBits(target, r, 7),
      flipBits(target, r, 15), flipBits(target, r, 30))
    val slots = scala.collection.mutable.Set[Int]()
    while (slots.size < 5) slots += r.nextInt(n)
    val slotSeq = slots.toSeq
    slotSeq.zip(planted).foreach { case (s, h) => hashes(s) = h }

    val edges = BandJoin.edges(sigFrame(hashes.toSeq), threshold = 40)
    val comps = graft.cc.ConnectedComponents.run(spark, edges).collect()
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    val compIds = slotSeq.map(s => comps.get(s.toLong))
    assert(compIds.forall(_.isDefined), s"planted rows missing from components: $compIds")
    assert(compIds.distinct.size == 1, s"planted rows split across components: $compIds")
  }

  test("chunk-width knob: 32-bit chunks find the same planted cluster") {
    // corpus-scale configuration (8×32-bit chunks, SCALING.md): identical
    // recall semantics by pigeonhole at tol = ⌊t/8⌋, different cost curve
    val r = new java.util.Random(43)
    val n = 1500
    val hashes = scala.collection.mutable.ArrayBuffer.fill(n)(randHash(r))
    val target = randHash(r)
    val planted = Seq(target, flipBits(target, r, 3), flipBits(target, r, 9),
      flipBits(target, r, 15))
    val slots = scala.collection.mutable.Set[Int]()
    while (slots.size < 4) slots += r.nextInt(n)
    val slotSeq = slots.toSeq
    slotSeq.zip(planted).foreach { case (s, h) => hashes(s) = h }

    // threshold 15 at 8 chunks → tol 1 (33 masks of 32 bits)
    val edges16 = BandJoin.edges(sigFrame(hashes.toSeq), 15)
    val edges32 = BandJoin.edges(sigFrame(hashes.toSeq), 15, chunkBits = 32)
    val e16 = edges16.collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    val e32 = edges32.collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    assert(e16 == e32, s"only16=${(e16 -- e32).take(3)} only32=${(e32 -- e16).take(3)}")
    val comps = graft.cc.ConnectedComponents.run(spark, edges32).collect()
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    assert(slotSeq.map(s => comps.get(s.toLong)).distinct.size == 1)
  }

  test("masksB: sizes are ball volumes at any width") {
    def c(n: Int, k: Int): Long =
      (0 until k).map(i => (n - i).toLong).product / (1 to math.max(k, 1)).map(_.toLong).product
    assert(BandJoin.masksB(1, 32).length == 33)
    assert(BandJoin.masksB(2, 32).length == 1 + 32 + c(32, 2))
    assert(BandJoin.masksB(2, 8).length == 1 + 8 + c(8, 2))
    assert(BandJoin.masksB(0, 64).length == 1)
    assert(BandJoin.masksB(3, 16).length == 697) // reference tier parity
  }

  test("low-confidence rows only match exactly (scanner.rs:1579-1594)") {
    val r = new java.util.Random(11)
    val base = randHash(r)
    val near = flipBits(base, r, 5)
    val exactDup = base.clone()
    // rows: 0=base(lowConf), 1=near(lowConf), 2=exact dup of base(lowConf), 3=conf near
    val sig = sigFrame(Seq(base, near, exactDup, flipBits(base, r, 4)),
      lowConf = Set(0, 1, 2))
    val edges = BandJoin.edges(sig, threshold = 40).collect()
      .map(row => (row.getLong(0), row.getLong(1))).toSet
    assert(edges.contains((0L, 2L)), "exact duplicate of low-conf row must match")
    assert(!edges.exists(e => e == ((0L, 1L)) || e == ((1L, 2L))),
      "fuzzy match against low-conf rows must be rejected")
  }

  test("verified edges carry true Hamming distance") {
    val r = new java.util.Random(5)
    val a = randHash(r)
    val b = flipBits(a, r, 12)
    val edges = BandJoin.edges(sigFrame(Seq(a, b)), threshold = 40).collect()
    assert(edges.length == 1 && edges(0).getInt(2) == 12)
  }

  test("salt factor fits the packed key's 6 salt bits: 64 is recall-neutral, 65 refused") {
    val r = new java.util.Random(65)
    val target = randHash(r)
    val sig = sigFrame(Seq.fill(300)(randHash(r)) ++
      Seq(target, flipBits(target, r, 9), flipBits(target, r, 31)))
    def es(s: Int) = BandJoin.edges(sig, 40, saltFactor = s).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    assert(es(64) == es(1) && es(1).nonEmpty)
    intercept[IllegalArgumentException](BandJoin.edges(sig, 40, saltFactor = 65).collect())
  }

  test("threshold-63 planted cluster: R=3 tier recovers spreads up to 63 bits") {
    // hamminghash.rs:283-332's high-threshold support at Spark level: the
    // R=3 mask tier (tol = 63/16 = 3) must find members spread 33-63 bits
    // from the target — distances only reachable through 2- and 3-bit
    // chunk flips
    val r = new java.util.Random(63)
    val n = 1200
    val hashes = scala.collection.mutable.ArrayBuffer.fill(n)(randHash(r))
    val target = randHash(r)
    val planted = Seq(target, flipBits(target, r, 33), flipBits(target, r, 48),
      flipBits(target, r, 63))
    val slots = scala.collection.mutable.Set[Int]()
    while (slots.size < 4) slots += r.nextInt(n)
    val slotSeq = slots.toSeq
    slotSeq.zip(planted).foreach { case (s, h) => hashes(s) = h }

    val edges = BandJoin.edges(sigFrame(hashes.toSeq), threshold = 63)
    val comps = graft.cc.ConnectedComponents.run(spark, edges).collect()
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    val compIds = slotSeq.map(s => comps.get(s.toLong))
    assert(compIds.forall(_.isDefined), s"planted rows missing: $compIds")
    assert(compIds.distinct.size == 1, s"planted rows split: $compIds")
  }

  test("infeasible width/threshold guard fires before mask materialization") {
    // ADVICE r1: chunkBits=64 + threshold 63 → tol 15 → ~1e13 masks; must
    // throw a clear require, never hang building a lit array
    val r = new java.util.Random(3)
    val sig = sigFrame(Seq(randHash(r), randHash(r)))
    val e = intercept[IllegalArgumentException] {
      BandJoin.edges(sig, threshold = 63, chunkBits = 64).collect()
    }
    assert(e.getMessage.contains("masks"), e.getMessage)
    // count is exact where it fits (ball volumes), saturates where it doesn't
    def binom(n: Int, k: Int): BigInt =
      (0 until k).map(i => BigInt(n - i)).product /
        (1 to math.max(k, 1)).map(BigInt(_)).product
    assert(BandJoin.maskCount(3, 16) == (0 to 3).map(binom(16, _)).sum.toLong)
    assert(BandJoin.maskCount(5, 32) == (0 to 5).map(binom(32, _)).sum.toLong)
    assert(BandJoin.maskCount(15, 64) == (0 to 15).map(binom(64, _)).sum.toLong ||
      BandJoin.maskCount(15, 64) == Long.MaxValue)
  }

  // --- u64 pHash grouping mode (BandJoin64, hamminghash.rs:23-41) ---

  private def flipBits64(h: Long, r: java.util.Random, n: Int): Long = {
    var out = h
    val picked = scala.collection.mutable.Set[Int]()
    while (picked.size < n) picked += r.nextInt(64)
    picked.foreach(b => out ^= (1L << b))
    out
  }

  private def sigFrame64(hashes: Seq[Long], lowConf: Set[Int] = Set.empty,
                         dihedral: Boolean = false) = {
    import spark.implicits._
    hashes.zipWithIndex.map { case (h, i) =>
      val variants = if (dihedral) graft.kernel.PHash.dihedral(h) else Array(h)
      (i.toLong, h, variants, lowConf.contains(i), true)
    }.toDF("ord", "phash64", "phash_variants", "low_conf", "has_pdq")
  }

  test("u64 planted cluster: 5 near hashes in 4000 random ones group (max dist 15)") {
    // hamminghash.rs:335-412 at the 64-bit width: default threshold
    // MAX_SIMILARITY_64 = 15, 8×8-bit chunks
    val r = new java.util.Random(64)
    val n = 4000
    val hashes = scala.collection.mutable.ArrayBuffer.fill(n)(r.nextLong())
    val target = r.nextLong()
    val planted = Seq(target, flipBits64(target, r, 2), flipBits64(target, r, 5),
      flipBits64(target, r, 9), flipBits64(target, r, 15))
    val slots = scala.collection.mutable.Set[Int]()
    while (slots.size < 5) slots += r.nextInt(n)
    val slotSeq = slots.toSeq
    slotSeq.zip(planted).foreach { case (s, h) => hashes(s) = h }

    val edges = graft.lsh.BandJoin64.edges(sigFrame64(hashes.toSeq))
    val comps = graft.cc.ConnectedComponents.run(spark, edges).collect()
      .map(row => row.getLong(0) -> row.getLong(1)).toMap
    val compIds = slotSeq.map(s => comps.get(s.toLong))
    assert(compIds.forall(_.isDefined), s"planted rows missing: $compIds")
    assert(compIds.distinct.size == 1, s"planted rows split: $compIds")
  }

  test("u64 dihedral probe: a rotated pHash groups with its original") {
    // the bitwise rot90 variant (phash.rs:150-180) must be found through
    // the variant-expanded probe side even though the stored hashes differ
    val r = new java.util.Random(90)
    val h = r.nextLong()
    val rotated = graft.kernel.PHash.rotate90(h)
    val noise = Seq.fill(500)(r.nextLong())
    val sig = sigFrame64(Seq(h, rotated) ++ noise, dihedral = true)
    val edges = graft.lsh.BandJoin64.edges(sig).collect()
      .map(row => (row.getLong(0), row.getLong(1), row.getInt(2)))
    assert(edges.exists(e => e._1 == 0L && e._2 == 1L && e._3 == 0),
      s"rot90 pair not found at dist 0: ${edges.take(5).toSeq}")
  }

  test("u64 chunk-width knob: 16-bit chunks produce the same edge set") {
    // the n≥10⁶ scale setting (8-bit chunks have only 256 buckets/chunk
    // and degenerate toward n²/256 collisions): equal recall by pigeonhole
    val r = new java.util.Random(16)
    val n = 2000
    val hashes = scala.collection.mutable.ArrayBuffer.fill(n)(r.nextLong())
    val target = r.nextLong()
    val planted = Seq(target, flipBits64(target, r, 3), flipBits64(target, r, 8),
      flipBits64(target, r, 14))
    val slots = scala.collection.mutable.Set[Int]()
    while (slots.size < 4) slots += r.nextInt(n)
    slots.toSeq.zip(planted).foreach { case (s, h) => hashes(s) = h }
    val sig = sigFrame64(hashes.toSeq)
    val e8 = graft.lsh.BandJoin64.edges(sig).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    val e16 = graft.lsh.BandJoin64.edges(sig, chunkBits = 16).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    assert(e8 == e16, s"only8=${(e8 -- e16).take(3)} only16=${(e16 -- e8).take(3)}")
    assert(e8.nonEmpty)
  }

  test("auto chunk width resolves by corpus size (chunkBits = 0 default)") {
    import graft.lsh.{BandJoin, BandJoin64}
    // 256-bit path: 16-bit parity up to the measured cutoff, then 32
    assert(HashLayout.Pdq.autoChunkBits(1000) == 16)
    assert(HashLayout.Pdq.autoChunkBits(BandJoin.AutoWideCutoff) == 16)
    assert(HashLayout.Pdq.autoChunkBits(BandJoin.AutoWideCutoff + 1) == 32)
    // u64 path: 8-bit parity to 1e5 (measured 10x degeneracy past it)
    assert(HashLayout.Phash64.autoChunkBits(1000) == 8)
    assert(HashLayout.Phash64.autoChunkBits(BandJoin64.AutoWideCutoff) == 8)
    assert(HashLayout.Phash64.autoChunkBits(BandJoin64.AutoWideCutoff + 1) == 16)
    // the Pipeline-facing default: explicit 0 behaves like tiny-corpus
    // parity on a small frame (same edges as pinned widths)
    val r = new java.util.Random(21)
    val hashes = Seq.fill(300)(r.nextLong()) ++
      Seq.tabulate(4)(i => flipBits64(0x5a5a5a5a5a5a5a5aL, r, i * 2))
    val sig = sigFrame64(hashes)
    val auto = graft.lsh.BandJoin64.edges(sig, chunkBits = 0).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    val pinned = graft.lsh.BandJoin64.edges(sig, chunkBits = 8).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    assert(auto == pinned && auto.nonEmpty)
  }

  test("u64 salted band join is recall-neutral (S=1 == S=4 == auto)") {
    val r = new java.util.Random(17)
    val hashes = Seq.fill(600)(r.nextLong()) ++
      Seq.tabulate(5)(i => flipBits64(0x0123456789abcdefL, r, i * 3))
    val sig = sigFrame64(hashes)
    def es(s: Int) = graft.lsh.BandJoin64.edges(sig, saltFactor = s).collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    assert(es(1) == es(4))
    assert(es(1) == es(0), "auto-salt mode changed the edge set")
    assert(es(1).nonEmpty)
  }

  test("auto salting: factor derives from top-bucket occupancy past the cap") {
    // round-3 VERDICT #3: BandJoin measures radius-0 bucket occupancy (one
    // cheap agg) and engages a derived salt factor past SaltBucketCap —
    // the SURVEY §4 adversarial flat-image corpus. 2500 rows share chunk 0
    // (= low 16 bits of h0); with cap 1000 the derived factor is ⌈2.5⌉ = 3.
    import spark.implicits._
    val r = new java.util.Random(23)
    val hot = (0L until 2500L).map { i =>
      (i, (r.nextLong() << 16) | 0xabcdL, r.nextLong(), r.nextLong(), r.nextLong())
    }.toDF("ord", "h0", "h1", "h2", "h3")
    val f = graft.lsh.BandJoin.autoSaltFactor(HashLayout.Pdq, hot, 16, cap = 1000)
    assert(f == 3, s"derived salt factor $f, want 3")
    // an unskewed corpus stays at 1 (salting never engages spuriously)
    val cold = (0L until 2500L).map { i =>
      (i, r.nextLong(), r.nextLong(), r.nextLong(), r.nextLong())
    }.toDF("ord", "h0", "h1", "h2", "h3")
    assert(graft.lsh.BandJoin.autoSaltFactor(HashLayout.Pdq, cold, 16, cap = 1000) == 1)
    // the factor is bounded: a million-row hot bucket cannot explode the
    // probe side ×5 — MaxSaltFactor clamps
    assert(graft.lsh.BandJoin.autoSaltFactor(HashLayout.Pdq, hot, 16, cap = 10)
      == graft.lsh.BandJoin.MaxSaltFactor)
  }

  test("auto salting: ball occupancy at rIdx catches spread-out hot mass") {
    // round-4 ADVICE: the index side builds keys at radius rIdx, so a
    // join bucket's occupancy is the BALL sum Σ_m occ0(v⊕m) — a corpus
    // whose degenerate mass spreads across the radius-1 neighbors of one
    // chunk value has every radius-0 bucket under the cap yet one
    // radius-1 join bucket holding all of it
    import spark.implicits._
    val r = new java.util.Random(31)
    val center = 0x4b1dL
    val neighbors = graft.lsh.BandJoin.masksB(1, 16).map(center ^ _) // 17 values
    val spread = neighbors.toSeq.flatMap { v =>
      (0 until 100).map(_ =>
        ((r.nextLong() << 16) | v, r.nextLong(), r.nextLong(), r.nextLong()))
    }.zipWithIndex.map { case ((h0, h1, h2, h3), i) => (i.toLong, h0, h1, h2, h3) }
      .toDF("ord", "h0", "h1", "h2", "h3")
    // radius-0 max is ~100 (< cap 1000) but the radius-1 ball at `center`
    // holds all 1700 rows -> factor 2
    assert(graft.lsh.BandJoin.autoSaltFactor(HashLayout.Pdq, spread, 16,
      rIdx = 0, cap = 1000) == 1,
      "radius-0 measurement must NOT see the spread mass (the old undershoot)")
    val f = graft.lsh.BandJoin.autoSaltFactor(HashLayout.Pdq, spread, 16,
      rIdx = 1, cap = 1000)
    assert(f == 2, s"ball-occupancy salt factor $f, want 2")
  }

  test("u64 low-confidence rows only match exactly") {
    val r = new java.util.Random(12)
    val base = r.nextLong()
    val near = flipBits64(base, r, 4)
    val sig = sigFrame64(Seq(base, near, base, flipBits64(base, r, 3)),
      lowConf = Set(0, 1, 2))
    val edges = graft.lsh.BandJoin64.edges(sig).collect()
      .map(row => (row.getLong(0), row.getLong(1))).toSet
    assert(edges.contains((0L, 2L)), "exact dup of low-conf row must match")
    assert(!edges.exists(e => e == ((0L, 1L)) || e == ((1L, 2L))),
      "fuzzy match against low-conf rows must be rejected")
  }

  private def hamL(x: Array[Long], y: Array[Long]): Int =
    x.zip(y).map { case (p, q) => java.lang.Long.bitCount(p ^ q) }.sum

  /** The edges the band join must return over (hash, variants, low_conf)
    * rows: a < b at the min distance from either side's variants to the
    * other's hash, within t when both sides are confident and exact-only
    * when either is low-confidence. */
  private def bruteEdges(rows: IndexedSeq[(Array[Long], Seq[Array[Long]], Boolean)],
                         t: Int): Set[(Long, Long, Int)] =
    (for {
      a <- rows.indices; b <- (a + 1) until rows.size
      (ha, va, la) = rows(a)
      (hb, vb, lb) = rows(b)
      d = (va.map(hamL(_, hb)) ++ vb.map(hamL(_, ha))).min
      if d <= (if (la || lb) 0 else t)
    } yield (a.toLong, b.toLong, d)).toSet

  /** Rows 0-2: exact duplicates (same hash and variants: one rep); 3: near
    * the triple; 4: reaches it only through a non-identity variant; 5: a
    * low-confidence near copy (must stay unmatched); 6-7: a low-confidence
    * exact pair; 8-9: a low-confidence and a confident row sharing a hash;
    * 10-12: a confident pair at t-3 plus one at t+5; then random rows. */
  private def collapseRows(words: Int, t: Int, r: java.util.Random,
                           variants: Array[Long] => Seq[Array[Long]]) = {
    def rand() = Array.fill(words)(r.nextLong())
    def flip(h: Array[Long], n: Int): Array[Long] = {
      val out = h.clone()
      val picked = scala.collection.mutable.Set[Int]()
      while (picked.size < n) picked += r.nextInt(64 * words)
      picked.foreach(b => out(b / 64) ^= 1L << (b % 64))
      out
    }
    def row(h: Array[Long], low: Boolean = false) = (h, variants(h), low)
    val (target, lowPair, shared, pair) = (rand(), rand(), rand(), rand())
    val triple = row(target)
    IndexedSeq(triple, triple, triple, row(flip(target, t / 4)),
      { val h = rand(); (h, variants(h) :+ flip(target, t / 2), false) },
      row(flip(target, math.max(t / 8, 1)), low = true),
      row(lowPair, low = true), row(lowPair, low = true),
      row(shared, low = true), row(shared),
      row(flip(pair, t - 3)), row(pair), row(flip(pair, t + 5))) ++
      IndexedSeq.fill(300)(row(rand(), low = r.nextInt(10) == 0))
  }

  test("rep collapse + rebuild == brute force per-side limits, AQE on and off (PDQ and pHash)") {
    import spark.implicits._
    val r = new java.util.Random(77)
    val pdq = collapseRows(4, 40, r, h => Seq(h, Array.fill(4)(r.nextLong())))
    val ph = collapseRows(1, 15, r,
      h => graft.kernel.PHash.dihedral(h(0)).toSeq.map(Array(_)))
    val pdqSig = pdq.zipWithIndex.map { case ((h, v, low), i) =>
      (i.toLong, h(0), h(1), h(2), h(3), v.toArray, low, true)
    }.toDF("ord", "h0", "h1", "h2", "h3", "variants", "low_conf", "has_pdq")
    val phSig = ph.zipWithIndex.map { case ((h, v, low), i) =>
      (i.toLong, h(0), v.map(_(0)).toArray, low, true)
    }.toDF("ord", "phash64", "phash_variants", "low_conf", "has_pdq")
    val (wantPdq, wantPh) = (bruteEdges(pdq, 40), bruteEdges(ph, 15))
    for (want <- Seq(wantPdq, wantPh)) {
      assert(Seq((0L, 1L), (0L, 2L), (1L, 2L), (0L, 3L), (2L, 4L), (6L, 7L),
        (8L, 9L), (10L, 11L)).forall(p => want.exists(e => (e._1, e._2) == p)))
      assert(!want.exists(e => e._1 == 5L || e._2 == 5L || (e._1, e._2) == ((11L, 12L))))
    }
    def got(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    try for (on <- Seq("true", "false")) {
      spark.conf.set("spark.sql.adaptive.enabled", on)
      assert(got(BandJoin.edges(pdqSig, 40)) == wantPdq, s"PDQ, AQE $on")
      assert(got(BandJoin64.edges(phSig)) == wantPh, s"pHash, AQE $on")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }
}
