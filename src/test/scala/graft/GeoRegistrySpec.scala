package graft

import graft.functions.Geo
import graft.groups.GroupRegistry
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GeoRegistrySpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("point-in-polygon: squares and concave shapes") {
    val square = Array(0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0)
    assert(Geo.pointInPolygon(5, 5, square))
    assert(!Geo.pointInPolygon(15, 5, square))
    assert(!Geo.pointInPolygon(-1, -1, square))
    // concave L-shape: notch at top-right
    val ell = Array(0.0, 0.0, 10.0, 0.0, 10.0, 5.0, 5.0, 5.0, 5.0, 10.0, 0.0, 10.0)
    assert(Geo.pointInPolygon(2, 8, ell))
    assert(!Geo.pointInPolygon(8, 8, ell))
  }

  test("country broadcast join tags points (P17)") {
    import spark.implicits._
    val countries = Seq(
      ("alpha", Seq(0.0, 0.0, 10.0, 0.0, 10.0, 10.0, 0.0, 10.0)),
      ("beta", Seq(20.0, 0.0, 30.0, 0.0, 30.0, 10.0, 20.0, 10.0)))
      .toDF("country", "poly")
    val points = Seq((1L, 5.0, 5.0), (2L, 25.0, 5.0), (3L, 50.0, 50.0))
      .toDF("id", "lon", "lat")
    val tagged = Geo.withCountry(points, countries, "lon", "lat")
      .select("id", "country").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(tagged(1L) == "alpha")
    assert(tagged(2L) == "beta")
    assert(tagged(3L) == null)
  }

  test("solar position sanity (P18)") {
    // 2000-03-20 12:00 UTC ≈ equinox: sun nearly overhead at (0°E, 0°N)
    val epoch = java.time.Instant.parse("2000-03-20T12:00:00Z").getEpochSecond
    val p = Geo.sunPosition(0.0, 0.0, epoch)
    assert(p.altitude > 80, s"equinox noon altitude ${p.altitude}")
    // northern midsummer noon at 50°N: altitude ≈ 90 - 50 + 23.4 ≈ 63°
    val solstice = java.time.Instant.parse("2000-06-21T12:00:00Z").getEpochSecond
    val p2 = Geo.sunPosition(0.0, 50.0, solstice)
    assert(math.abs(p2.altitude - 63.4) < 2, s"solstice altitude ${p2.altitude}")
    // sun roughly south at local noon in the northern hemisphere
    assert(math.abs(p2.azimuth - 180) < 10, s"solstice azimuth ${p2.azimuth}")
    // midnight: below horizon
    val night = Geo.sunPosition(0.0, 50.0, solstice + 43200)
    assert(night.altitude < 0)
  }

  test("sun position absolute anchor: the Kaanapali sunset fixture (P18)") {
    // The reference pins one absolute value (position_test.rs output,
    // tests/Kaanapali_beach_sunrise_on_Maui_Hawaii.720p.jpg.txt): GPS
    // (20.91297, -156.69383), UTC 2018-08-09 05:10:21 ⇒ azimuth 288.2067°,
    // altitude -2.9160° — the sun setting in the WEST at 7:10 PM local,
    // proving the GPS-UTC-vs-camera-clock handling and the az/alt sign
    // conventions at once. NOAA (ours) vs the reference's SPA-style
    // algorithm agree well under 1° in azimuth; altitude is compared at
    // ±0.5° (the two differ in refraction treatment near the horizon).
    val epoch = java.time.Instant.parse("2018-08-09T05:10:21Z").getEpochSecond
    val p = Geo.sunPosition(-156.69383, 20.91297, epoch)
    assert(math.abs(p.azimuth - 288.2067) < 1.0,
      s"Kaanapali azimuth ${p.azimuth}, reference 288.2067")
    assert(math.abs(p.altitude - -2.9160) < 0.5,
      s"Kaanapali altitude ${p.altitude}, reference -2.9160")
  }

  test("dms to decimal (P15)") {
    assert(math.abs(Geo.dmsToDecimal(156, 40, 30, "W") - (-156.675)) < 1e-9)
    assert(math.abs(Geo.dmsToDecimal(20, 56, 0, "N") - 20.9333333333) < 1e-6)
  }

  test("registry merge commits a delta-sized segment (scale contract)") {
    // the RegistryBench contract at fixture size: a merge whose rows are
    // half new / half already-registered commits EXACTLY the new rows
    // (anti-join discards re-registrations) — the per-run write is
    // O(delta) no matter the registry size
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-reg-delta").toString
    val path = s"$dir/registry"
    def rows(ids: Range) = ids.map(i =>
      (i.toLong, i.toLong + 1, i.toLong + 2, i.toLong + 3, f"uuid-$i%06d"))
      .toDF("h0", "h1", "h2", "h3", "group_uuid")
    GroupRegistry.merge(spark, path, rows(0 until 100))
    GroupRegistry.merge(spark, path, rows(90 until 120)) // 90..99 old, 100..119 new
    val segs = new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("seg_")).map(_.getName).sorted
    assert(segs.length == 2, segs.mkString(","))
    assert(spark.read.parquet(s"$path/${segs.last}").count() == 30 - 10,
      "delta segment must hold only the previously-unregistered rows")
    assert(GroupRegistry.read(spark, path).count() == 120)
  }

  test("group registry: deterministic mint + cross-run reuse (S11/J7)") {
    import spark.implicits._
    val assembled = Seq(
      (10L, 1L, 111L, 0L, 0L, 0L), (10L, 2L, 222L, 0L, 0L, 0L),
      (20L, 3L, 333L, 0L, 0L, 0L), (20L, 4L, 444L, 0L, 0L, 0L))
      .toDF("comp", "ord", "h0", "h1", "h2", "h3")
    val emptyReg = Seq.empty[(Long, Long, Long, Long, String)]
      .toDF("h0", "h1", "h2", "h3", "group_uuid")
    val first = GroupRegistry.assign(assembled, emptyReg).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(first.size == 2 && first(10L) != first(20L))
    // second run: one member of group 10 re-appears in a re-shaped group —
    // the registered uuid must be reused
    val reg = GroupRegistry.registryRows(assembled,
      GroupRegistry.assign(assembled, emptyReg))
    val assembled2 = Seq(
      (77L, 9L, 111L, 0L, 0L, 0L), (77L, 8L, 999L, 0L, 0L, 0L))
      .toDF("comp", "ord", "h0", "h1", "h2", "h3")
    val second = GroupRegistry.assign(assembled2, reg).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(second(77L) == first(10L), "registered uuid must be reused")
    // determinism: re-running the mint yields identical uuids
    val again = GroupRegistry.assign(assembled, emptyReg).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == first)
  }

  test("pipeline with registryPath: uuids stable across reruns, O(delta) commits") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-reg-pipe").toString
    val regPath = s"$dir/registry"
    val rows = (0L until 20L).flatMap(graft.synth.Synth.rowsForBase)
      .map(r => (r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash))
    val images = rows.toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    val g1 = Pipeline.run(spark, images, s"$dir/w1", registryPath = Some(regPath))
      .select("image_id", "group_uuid").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val g2 = Pipeline.run(spark, images, s"$dir/w2", registryPath = Some(regPath))
      .select("image_id", "group_uuid").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(g1.nonEmpty && g1 == g2, "group uuids must be stable across runs")

    // O(delta) registry commits (round-2 VERDICT wrong #1 + round-3
    // ADVICE): the registry is segment-append, and an unchanged corpus's
    // second run appends NO segment at all — an empty segment per re-run
    // would still creep the count toward CompactAfter and trigger
    // periodic full-registry compactions with no data change
    val segs = new java.io.File(regPath).listFiles()
      .filter(_.getName.startsWith("seg_")).map(_.getName).sorted
    assert(segs.length == 1,
      s"re-run over an unchanged corpus grew segments: ${segs.mkString(",")}")
    val firstN = spark.read.parquet(s"$regPath/${segs.head}").count()
    assert(firstN > 0 && GroupRegistry.read(spark, regPath).count() == firstN)
  }

  test("ignored groups suppress and re-surface (S11, db.rs:1277-1336)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-reg-ign").toString
    val regPath = s"$dir/registry"
    val rows = (0L until 15L).flatMap(graft.synth.Synth.rowsForBase)
      .map(r => (r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash))
    val images = rows.toDF("image_id", "bytes", "w", "h", "fmt", "caption", "phash")
    val g1 = Pipeline.run(spark, images, s"$dir/w1", registryPath = Some(regPath))
    val uuids = g1.select("group_uuid").distinct().collect().map(_.getString(0))
    assert(uuids.length >= 2, s"need ≥2 groups, got ${uuids.length}")
    val victim = uuids.min

    GroupRegistry.setIgnored(spark, regPath, Seq(victim))
    val g2 = Pipeline.run(spark, images, s"$dir/w2", registryPath = Some(regPath))
    val u2 = g2.select("group_uuid").distinct().collect().map(_.getString(0)).toSet
    assert(!u2.contains(victim), "ignored group must not resurface")
    assert(u2.size == uuids.length - 1, "only the ignored group may disappear")

    // clearing the flag re-surfaces the group (latest mark wins)
    GroupRegistry.setIgnored(spark, regPath, Seq(victim), ignored = false)
    val g3 = Pipeline.run(spark, images, s"$dir/w3", registryPath = Some(regPath))
    val u3 = g3.select("group_uuid").distinct().collect().map(_.getString(0)).toSet
    assert(u3.contains(victim), "cleared flag must re-surface the group")
    assert(u3 == uuids.toSet)
  }

  test("crash-window staging dirs are invisible to registry reads") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-reg-stage").toString
    val rows = Seq((1L, 2L, 3L, 4L, "u-1")).toDF("h0", "h1", "h2", "h3", "group_uuid")
    GroupRegistry.merge(spark, dir, rows)
    // simulate a crashed writer: a dot-prefixed staging dir with junk
    val junk = new java.io.File(s"$dir/.tmp_seg_d000099"); junk.mkdirs()
    new java.io.FileOutputStream(new java.io.File(junk, "part-junk.parquet")).close()
    assert(GroupRegistry.read(spark, dir).count() == 1,
      "staging dir leaked into the registry read")
    // a subsequent merge still commits cleanly past the debris
    GroupRegistry.merge(spark, dir,
      Seq((9L, 9L, 9L, 9L, "u-2")).toDF("h0", "h1", "h2", "h3", "group_uuid"))
    assert(GroupRegistry.read(spark, dir).count() == 2)
  }

  test("recompaction after a new merge keeps every row (name-collision regression)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-reg-recompact").toString
    def merge(h: Long, uuid: String): Unit = GroupRegistry.merge(spark, dir,
      Seq((h, 0L, 0L, 0L, uuid)).toDF("h0", "h1", "h2", "h3", "group_uuid"))
    merge(1L, "u-a")
    merge(2L, "u-b")
    GroupRegistry.compact(spark, dir)
    // back to two segments: a count-named merged segment would now collide
    merge(3L, "u-c")
    GroupRegistry.compact(spark, dir)
    val got = GroupRegistry.read(spark, dir).select("h0", "group_uuid").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "u-a", 2L -> "u-b", 3L -> "u-c"), got)
  }

  test("merge after a compaction that crashed mid-delete keeps the new rows") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-reg-crash").toString
    def merge(h: Long, uuid: String): Unit = GroupRegistry.merge(spark, dir,
      Seq((h, 0L, 0L, 0L, uuid)).toDF("h0", "h1", "h2", "h3", "group_uuid"))
    (0 until 5).foreach(i => merge(i.toLong, s"u-$i"))
    // compact deletes its inputs in name order; a crash after seg_d000000..2
    // leaves [seg_d000003, seg_d000004, seg_zc…]
    val keep = Seq("seg_d000003", "seg_d000004")
    val aside = java.nio.file.Files.createTempDirectory("graft-reg-crash-aside")
    keep.foreach(n => org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$dir/$n"), aside.resolve(n).toFile))
    GroupRegistry.compact(spark, dir)
    keep.foreach(n => org.apache.commons.io.FileUtils.copyDirectory(
      aside.resolve(n).toFile, new java.io.File(s"$dir/$n")))
    merge(5L, "u-5")
    val got = GroupRegistry.read(spark, dir).select("h0", "group_uuid").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == (0 until 6).map(i => i.toLong -> s"u-$i").toMap, got)
  }

  test("compaction crash window: merged segment committed, no input deleted yet") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-reg-window").toString
    def merge(h: Long, uuid: String): Unit = GroupRegistry.merge(spark, dir,
      Seq((h, 0L, 0L, 0L, uuid)).toDF("h0", "h1", "h2", "h3", "group_uuid"))
    (0 until 3).foreach(i => merge(i.toLong, s"u-$i"))
    merge(0L, "u-0b") // a second uuid for hash 0: read resolves it to min
    def read() = GroupRegistry.read(spark, dir).select("h0", "group_uuid").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val want = read()
    assert(want == Map(0L -> "u-0", 1L -> "u-1", 2L -> "u-2"), want)
    val inputs = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("seg_"))
    val aside = java.nio.file.Files.createTempDirectory("graft-reg-window-aside")
    inputs.foreach(n => org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$dir/$n"), aside.resolve(n).toFile))
    GroupRegistry.compact(spark, dir)
    inputs.foreach(n => org.apache.commons.io.FileUtils.copyDirectory(
      aside.resolve(n).toFile, new java.io.File(s"$dir/$n")))
    def segs = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("seg_"))
    assert(segs.length == inputs.length + 1, segs.toSeq)
    assert(read() == want, "crash window changed the resolved registry")
    GroupRegistry.compact(spark, dir)
    assert(segs.length == 1, segs.toSeq)
    assert(read() == want, "compaction after the crash window changed the registry")
  }
}
