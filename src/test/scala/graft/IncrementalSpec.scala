package graft

import graft.synth.Synth
import org.scalatest.funsuite.AnyFunSuite

/** Incremental dedup must produce the SAME grouping (as a partition of
  * image_ids) as a full batch run over corpus ∪ delta. */
class IncrementalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val Threshold = Pipeline.DefaultThreshold

  private lazy val rows = (0L until 40L).flatMap(Synth.rowsForBase)

  private def toDF(rs: Seq[synth.SynthRow]) = {
    import spark.implicits._
    rs.map(r => (r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash))
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
  }

  private def groupsOf(df: org.apache.spark.sql.DataFrame): Set[Set[String]] =
    df.select("comp", "image_id").collect()
      .groupBy(_.getLong(0)).values
      .map(_.map(_.getString(1)).toSet).toSet

  test("incremental delta merge == full batch run (same group partition)") {
    // split so variant families straddle the boundary (interleaved)
    val (corpus, delta) = rows.zipWithIndex.partition(_._2 % 3 != 0)
    val base = java.nio.file.Files.createTempDirectory("graft-inc").toString

    Pipeline.run(spark, toDF(corpus.map(_._1)), s"$base/corpus-work", Threshold)
    val inc = Incremental.run(spark, toDF(delta.map(_._1)),
      s"$base/corpus-work", s"$base/delta-work", Threshold)

    val full = Pipeline.run(spark, toDF(rows), s"$base/full-work", Threshold)

    val gotGroups = groupsOf(inc)
    val wantGroups = groupsOf(full)
    assert(gotGroups == wantGroups,
      s"only-incremental=${(gotGroups -- wantGroups).take(3)} " +
        s"only-full=${(wantGroups -- gotGroups).take(3)}")
    assert(wantGroups.exists(g => g.size > 1), "no multi-member groups — corpus broken")
    // at least one merged group must straddle the corpus/delta boundary,
    // otherwise the cross probe was never exercised
    val deltaIds = delta.map(_._1.image_id).toSet
    assert(wantGroups.exists(g =>
      g.exists(deltaIds) && g.exists(id => !deltaIds(id))),
      "no group straddles the boundary — split too coarse for this test")
    // one probe finds every delta edge: no second band join stage
    val stages = spark.read.parquet(s"$base/delta-work/_lineage")
      .select("stage").collect().map(_.getString(0)).toSet
    assert(stages.contains("delta_cross_edges") && !stages.contains("delta_internal_edges"),
      s"delta lineage stages: $stages")
  }

  test("registry UUIDs survive the incremental merge (S11/J7 across runs)") {
    val (corpus, delta) = rows.zipWithIndex.partition(_._2 % 3 != 0)
    val base = java.nio.file.Files.createTempDirectory("graft-inc3").toString
    val reg = s"$base/registry"
    def uuidsOf(df: org.apache.spark.sql.DataFrame): Map[String, String] =
      df.select("image_id", "group_uuid").collect()
        .flatMap(r => Option(r.getString(1)).map(r.getString(0) -> _)).toMap
    val before = uuidsOf(Pipeline.run(spark, toDF(corpus.map(_._1)),
      s"$base/corpus-work", Threshold, registryPath = Some(reg)))
    val after = uuidsOf(Incremental.run(spark, toDF(delta.map(_._1)),
      s"$base/corpus-work", s"$base/delta-work", Threshold,
      registryPath = Some(reg)))
    assert(before.nonEmpty)
    // a member whose new group contains exactly one pre-existing UUID
    // must keep that UUID; merged-group members adopt the winner
    val newGroups = after.groupBy(_._2).values.map(_.map(_._1).toSet)
    newGroups.foreach { members =>
      val olds = members.flatMap(before.get)
      if (olds.size == 1)
        members.filter(before.contains).foreach { m =>
          assert(after(m) == before(m), s"$m lost uuid ${before(m)} -> ${after(m)}")
        }
    }
    // at least one pre-existing group must persist through the merge
    assert(newGroups.exists(m => m.flatMap(before.get).size == 1 &&
      m.exists(before.contains)))
  }

  test("incremental resume: second run reuses committed stages, same groups") {
    val (corpus, delta) = rows.zipWithIndex.partition(_._2 % 3 != 0)
    val base = java.nio.file.Files.createTempDirectory("graft-inc2").toString
    Pipeline.run(spark, toDF(corpus.map(_._1)), s"$base/corpus-work", Threshold)
    val first = groupsOf(Incremental.run(spark, toDF(delta.map(_._1)),
      s"$base/corpus-work", s"$base/delta-work", Threshold))
    val lineage1 = spark.read.parquet(s"$base/delta-work/_lineage").count()
    val second = groupsOf(Incremental.run(spark, toDF(delta.map(_._1)),
      s"$base/corpus-work", s"$base/delta-work", Threshold))
    val lineage2 = spark.read.parquet(s"$base/delta-work/_lineage").count()
    assert(first == second)
    assert(lineage1 == lineage2, "resume recomputed a committed stage")
    // the merged state holds each delta ord exactly once (no double commit)
    val work = s"$base/corpus-work"
    val deltaOrds = spark.read.parquet(s"$base/delta-work/delta_signatures")
      .select("ord").collect().map(_.getLong(0)).toSet
    val ords = CorpusState.readSignatures(spark, work, CorpusState.version(spark, work))
      .select("ord").collect().map(_.getLong(0)).toSeq
    assert(deltaOrds.size == delta.size && deltaOrds.forall(o => ords.count(_ == o) == 1),
      "a delta ord is missing from the merged state or appears twice")
  }

  test("incremental into an EMPTY corpus behaves like a batch run") {
    // maxOrd falls back to -1 (round-1 ADVICE low): ords start at 0 and
    // the delta self-joins like a batch pipeline would
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-inc-empty").toString
    val empty = Seq.empty[(String, Array[Byte], Int, Int, String, String, Long)]
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    Pipeline.run(spark, empty, s"$base/corpus-work", Threshold)
    val some = rows.take(12)
    val inc = Incremental.run(spark, toDF(some),
      s"$base/corpus-work", s"$base/delta-work", Threshold)
    val batch = Pipeline.run(spark, toDF(some), s"$base/batch-work", Threshold)
    assert(groupsOf(inc) == groupsOf(batch))
  }

  test("concurrent deltas from the same base version are refused") {
    val base = java.nio.file.Files.createTempDirectory("graft-inc-race").toString
    val (corpus, delta) = rows.zipWithIndex.partition(_._2 % 3 != 0)
    Pipeline.run(spark, toDF(corpus.map(_._1)), s"$base/corpus-work", Threshold)
    Incremental.run(spark, toDF(delta.map(_._1).take(6)),
      s"$base/corpus-work", s"$base/delta-a", Threshold)
    // delta-b pinned base version 0 manually (simulating a run that
    // started before delta-a committed): its commit of v1 must be refused
    val fsys = new org.apache.hadoop.fs.Path(s"$base/delta-b")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fsys.mkdirs(new org.apache.hadoop.fs.Path(s"$base/delta-b"))
    val out = fsys.create(new org.apache.hadoop.fs.Path(s"$base/delta-b/_base_version"), true)
    out.write("0".getBytes("UTF-8")); out.close()
    val e = intercept[IllegalStateException] {
      Incremental.run(spark, toDF(delta.map(_._1).drop(6).take(6)),
        s"$base/corpus-work", s"$base/delta-b", Threshold)
    }
    assert(e.getMessage.contains("concurrent"), e.getMessage)
  }

  test("a corpus with a garbage band_index dir groups as one without it") {
    // an older build kept a band index under the corpus work dir; the
    // probe scans the signatures, so such a dir is left as it is, unread
    val base = java.nio.file.Files.createTempDirectory("graft-stale-index").toString
    val byIdx = rows.zipWithIndex
    val corpus = byIdx.filter(_._2 % 3 == 0).map(_._1)
    val delta1 = byIdx.filter(_._2 % 3 == 1).map(_._1)
    val delta2 = byIdx.filter(_._2 % 3 == 2).map(_._1)
    Pipeline.run(spark, toDF(corpus), s"$base/corpus-work", Threshold)
    val stale = new java.io.File(s"$base/corpus-work/band_index")
    val junk = Map("_meta_algo" -> "nonsense", "_meta_chunk_bits" -> "garbage",
      "seg_base/part-00000.parquet" -> "not a parquet file")
    junk.foreach { case (name, text) =>
      val f = new java.io.File(stale, name)
      f.getParentFile.mkdirs()
      java.nio.file.Files.write(f.toPath, text.getBytes("UTF-8"))
    }
    Incremental.run(spark, toDF(delta1),
      s"$base/corpus-work", s"$base/delta1-work", Threshold)
    val inc2 = Incremental.run(spark, toDF(delta2),
      s"$base/corpus-work", s"$base/delta2-work", Threshold)
    val full = Pipeline.run(spark, toDF(rows), s"$base/full-work", Threshold)
    assert(groupsOf(inc2) == groupsOf(full),
      s"chain over a stale index dir diverged: " +
        s"only-inc=${(groupsOf(inc2) -- groupsOf(full)).take(3)} " +
        s"only-full=${(groupsOf(full) -- groupsOf(inc2)).take(3)}")
    junk.foreach { case (name, text) =>
      assert(new String(java.nio.file.Files.readAllBytes(
        new java.io.File(stale, name).toPath), "UTF-8") == text, s"$name was rewritten")
    }
  }

  test("chained deltas: two sequential increments == one full batch run") {
    // round-1 ADVICE (high): a second delta must see the first delta's
    // signatures/components, not stale v0 state — otherwise ords collide
    // and groups merge wrongly. Split rows 3 ways, apply two deltas.
    val base = java.nio.file.Files.createTempDirectory("graft-chain").toString
    val byIdx = rows.zipWithIndex
    val corpus = byIdx.filter(_._2 % 3 == 0).map(_._1)
    val delta1 = byIdx.filter(_._2 % 3 == 1).map(_._1)
    val delta2 = byIdx.filter(_._2 % 3 == 2).map(_._1)

    Pipeline.run(spark, toDF(corpus), s"$base/corpus-work", Threshold)
    Incremental.run(spark, toDF(delta1),
      s"$base/corpus-work", s"$base/delta1-work", Threshold)
    val inc2 = Incremental.run(spark, toDF(delta2),
      s"$base/corpus-work", s"$base/delta2-work", Threshold)
    val full = Pipeline.run(spark, toDF(rows), s"$base/full-work", Threshold)

    assert(groupsOf(inc2) == groupsOf(full),
      s"chained incremental diverged: only-inc=${(groupsOf(inc2) -- groupsOf(full)).take(3)} " +
        s"only-full=${(groupsOf(full) -- groupsOf(inc2)).take(3)}")
    // state advanced twice
    assert(CorpusState.version(spark, s"$base/corpus-work") == 2)

    // merge-on-read invariants: each version dir holds only its DELTA
    // (not a corpus rewrite), and compaction + gc fold them into a
    // snapshot without changing the merged view
    val v1Rows = spark.read.parquet(
      CorpusState.sigDeltaPath(s"$base/corpus-work", 1)).count()
    assert(v1Rows < rows.size / 2, s"v1 sig segment has $v1Rows rows — corpus rewrite?")
    val sigBefore = CorpusState.readSignatures(spark, s"$base/corpus-work", 2)
      .select("image_id").collect().map(_.getString(0)).toSet
    val compBefore = CorpusState.readComponents(spark, s"$base/corpus-work", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    CorpusState.compact(spark, s"$base/corpus-work")
    CorpusState.gc(spark, s"$base/corpus-work")
    assert(!new java.io.File(s"$base/corpus-work/state_v1").exists(),
      "gc kept a version below the snapshot")
    assert(CorpusState.version(spark, s"$base/corpus-work") == 2)
    val sigAfter = CorpusState.readSignatures(spark, s"$base/corpus-work", 2)
      .select("image_id").collect().map(_.getString(0)).toSet
    val compAfter = CorpusState.readComponents(spark, s"$base/corpus-work", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigAfter == sigBefore, "compaction changed the signature view")
    assert(compAfter == compBefore, "compaction changed the component view")
  }

  test("phash-mode chained deltas == full phash batch run (u64 persisted index)") {
    // round-3 VERDICT #4: a phash-mode corpus must ingest deltas through
    // the u64 probe (8-bit pHash chunks, hamminghash.rs:23-41 semantics),
    // not just the batch join
    val base = java.nio.file.Files.createTempDirectory("graft-chain-ph").toString
    val byIdx = rows.zipWithIndex
    val corpus = byIdx.filter(_._2 % 3 == 0).map(_._1)
    val delta1 = byIdx.filter(_._2 % 3 == 1).map(_._1)
    val delta2 = byIdx.filter(_._2 % 3 == 2).map(_._1)

    Pipeline.run(spark, toDF(corpus), s"$base/corpus-work", algorithm = "phash")
    Incremental.run(spark, toDF(delta1), s"$base/corpus-work",
      s"$base/delta1-work", algorithm = "phash")
    val inc2 = Incremental.run(spark, toDF(delta2), s"$base/corpus-work",
      s"$base/delta2-work", algorithm = "phash")
    val full = Pipeline.run(spark, toDF(rows), s"$base/full-work", algorithm = "phash")

    assert(groupsOf(inc2) == groupsOf(full),
      s"phash chain diverged: only-inc=${(groupsOf(inc2) -- groupsOf(full)).take(3)} " +
        s"only-full=${(groupsOf(full) -- groupsOf(inc2)).take(3)}")
    assert(groupsOf(full).exists(_.size > 1), "no multi-member phash groups")
  }

  test("a chained delta writes nothing under band_index*") {
    // the probe scans the corpus signatures: no delta builds, appends to
    // or compacts an index — also over a corpus whose HIGHEST ord is a
    // decode failure, and through an auto-compaction
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-inc-repair").toString
    val good = rows.take(8)
    val corpusDf = toDF(good).unionByName(
      Seq(("zzz_broken.jpg", Array[Byte](1, 2, 3), 4, 4, "jpg", "broken", 0L))
        .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash"))
    Pipeline.run(spark, corpusDf, s"$base/corpus-work", Threshold)
    // a delta of ONLY undecodable rows: every one of its ords is above the
    // corpus max and none is hashable
    val badDelta = Seq(
      ("zzz_bad1.jpg", Array[Byte](9, 9), 4, 4, "jpg", "bad", 0L),
      ("zzz_bad2.jpg", Array[Byte](8, 8), 4, 4, "jpg", "bad", 0L))
      .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    Seq(badDelta, toDF(rows.slice(8, 12)), toDF(rows.slice(12, 16))).zipWithIndex.foreach {
      case (d, i) => Incremental.run(spark, d, s"$base/corpus-work", s"$base/delta$i",
        Threshold, compactEvery = 2)
    }
    assert(CorpusState.version(spark, s"$base/corpus-work") == 3)
    val written = new java.io.File(s"$base/corpus-work").list().filter(_.startsWith("band_index"))
    assert(written.isEmpty, s"a delta wrote ${written.mkString(",")}")
  }

  test("contentStar crosses the corpus/delta boundary (undecodable twins group)") {
    // Pipeline.run(contentStar = true)'s incremental counterpart: a
    // corrupt (undecodable) file uploaded again in a LATER delta must
    // join its batch twin via byte identity — no hash exists to band on
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-inc-cstar").toString
    val corrupt = Array[Byte](0x12, 0x34, 0x56, 0x78, 0x12, 0x34)
    def brokenRow(id: String, bytes: Array[Byte]) =
      (id, bytes, 16, 16, "jpg", "broken", 0L)
    val good = rows.take(6)
    val corpusDf = toDF(good).unionByName(
      Seq(brokenRow("aaa_corrupt_v1.jpg", corrupt))
        .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash"))
    Pipeline.run(spark, corpusDf, s"$base/corpus-work", Threshold,
      contentStar = true)
    // plus an undecodable twin pair that exists only in the delta
    val twin = Array[Byte](0x55, 0x66, 0x77)
    val deltaDf = toDF(rows.slice(6, 10)).unionByName(
      Seq(brokenRow("zzz_corrupt_v2.jpg", corrupt),
        brokenRow("zzz_other_corrupt.jpg", Array[Byte](1, 2, 3, 4)),
        brokenRow("zzz_twin_a.jpg", twin), brokenRow("zzz_twin_b.jpg", twin))
        .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash"))
    val inc = Incremental.run(spark, deltaDf, s"$base/corpus-work",
      s"$base/delta-work", Threshold, contentStar = true)
    val full = Pipeline.run(spark, corpusDf.unionByName(deltaDf),
      s"$base/full-work", Threshold, contentStar = true)
    assert(groupsOf(inc) == groupsOf(full),
      s"only-inc=${(groupsOf(inc) -- groupsOf(full)).take(3)} " +
        s"only-full=${(groupsOf(full) -- groupsOf(inc)).take(3)}")
    // the corrupt twins specifically must share a group across the boundary
    assert(groupsOf(inc).exists(g =>
      g.contains("aaa_corrupt_v1.jpg") && g.contains("zzz_corrupt_v2.jpg")),
      "byte-identical undecodable twins did not group across the boundary")
    assert(!groupsOf(inc).exists(_.contains("zzz_other_corrupt.jpg")),
      "a unique corrupt file must stay ungrouped")
    assert(groupsOf(inc).contains(Set("zzz_twin_a.jpg", "zzz_twin_b.jpg")),
      "byte-identical undecodable twins inside the delta did not group")
  }

  test("contentStar flag mismatch across the chain is refused (write-once stamp)") {
    // the flag is a property of the corpus chain: a corpus built WITHOUT
    // content-star has no corpus-internal content groups, so an
    // incremental run WITH it would silently diverge from a full batch
    // run — refused loudly instead (the _meta_algo contract, for flags)
    val base = java.nio.file.Files.createTempDirectory("graft-inc-flag").toString
    Pipeline.run(spark, toDF(rows.take(6)), s"$base/corpus-work", Threshold)
    val e = intercept[IllegalArgumentException] {
      Incremental.run(spark, toDF(rows.slice(6, 9)), s"$base/corpus-work",
        s"$base/delta-work", Threshold, contentStar = true)
    }
    assert(e.getMessage.contains("content_star"), e.getMessage)
    // the matching setting still runs
    Incremental.run(spark, toDF(rows.slice(6, 9)), s"$base/corpus-work",
      s"$base/delta-ok", Threshold)
  }

  test("pre-stamp chain with content-star evidence refuses a contentStar=false run") {
    // a chain built before _meta_content_star existed must not write-once
    // lock whatever the first post-upgrade run requests (round-4 ADVICE):
    // hash-less component members prove the chain ran with contentStar=true,
    // so the stamp derives `true` from evidence and the false run is refused
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-inc-prestamp").toString
    val corrupt = Array[Byte](0x12, 0x34, 0x56, 0x78, 0x12, 0x34)
    val corpusDf = toDF(rows.take(6)).unionByName(
      Seq(("aaa_corrupt_v1.jpg", corrupt, 16, 16, "jpg", "broken", 0L),
        ("aab_corrupt_v2.jpg", corrupt, 16, 16, "jpg", "broken", 0L))
        .toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash"))
    Pipeline.run(spark, corpusDf, s"$base/corpus-work", Threshold,
      contentStar = true)
    // simulate a pre-round-4 chain: the stamp file does not exist yet
    assert(new java.io.File(s"$base/corpus-work/_meta_content_star").delete())
    val e = intercept[IllegalArgumentException] {
      Incremental.run(spark, toDF(rows.slice(6, 9)), s"$base/corpus-work",
        s"$base/delta-bad", Threshold, contentStar = false)
    }
    assert(e.getMessage.contains("content_star"), e.getMessage)
    assert(CorpusState.flag(spark, s"$base/corpus-work", "content_star")
      .contains("true"), "evidence-derived stamp must be true")
    // the evidence-matching setting chains on fine
    Incremental.run(spark, toDF(rows.slice(6, 9)), s"$base/corpus-work",
      s"$base/delta-ok", Threshold, contentStar = true)
  }

  test("pre-stamp chain without evidence adopts the requested value") {
    // no hash-less members -> nothing proves either setting; the run
    // adopts its own flag (with a loud log) and proceeds
    val base = java.nio.file.Files.createTempDirectory("graft-inc-adopt").toString
    Pipeline.run(spark, toDF(rows.take(6)), s"$base/corpus-work", Threshold)
    assert(new java.io.File(s"$base/corpus-work/_meta_content_star").delete())
    Incremental.run(spark, toDF(rows.slice(6, 9)), s"$base/corpus-work",
      s"$base/delta-work", Threshold)
    assert(CorpusState.flag(spark, s"$base/corpus-work", "content_star")
      .contains("false"))
  }

  test("auto-compact every K deltas keeps the layer stack shallow") {
    // 9 chained deltas with compactEvery=3: snapshots at v3/v6/v9 + gc
    // must keep on-disk state_v* dirs bounded by K, while the merged
    // result still equals a full batch run
    val base = java.nio.file.Files.createTempDirectory("graft-autocompact").toString
    val all = (0L until 23L).flatMap(Synth.rowsForBase)
    val corpus = all.take(5)
    val deltas = all.drop(5).grouped(math.max((all.size - 5) / 9, 1)).toSeq.take(9)

    Pipeline.run(spark, toDF(corpus), s"$base/corpus-work", Threshold)
    var last: org.apache.spark.sql.DataFrame = null
    deltas.zipWithIndex.foreach { case (d, i) =>
      last = Incremental.run(spark, toDF(d), s"$base/corpus-work",
        s"$base/delta-$i", Threshold, compactEvery = 3)
    }
    val nVersions = CorpusState.version(spark, s"$base/corpus-work")
    assert(nVersions == deltas.size, s"expected ${deltas.size} versions, got $nVersions")

    val stateDirs = new java.io.File(s"$base/corpus-work").listFiles()
      .map(_.getName).filter(_.startsWith("state_v"))
    assert(stateDirs.length <= 3,
      s"auto-compact left ${stateDirs.length} state dirs: ${stateDirs.mkString(",")}")

    val full = Pipeline.run(spark, toDF(corpus ++ deltas.flatten),
      s"$base/full-work", Threshold)
    assert(groupsOf(last) == groupsOf(full),
      "auto-compacted chain diverged from the full batch run")
  }
}
