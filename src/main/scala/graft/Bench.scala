package graft

import graft.tools.Harness

/**
 * Benchmark main — prints ONE JSON line:
 *   {"metric":"total","value":S,"unit":"sec","queries":{...},"sf":...,
 *    "scaling":{...}}
 *
 * Two parts:
 *  1. Headline operator queries on SPARK_GRAFT_SF_DIR (driver-provided
 *     TPC-H-ish tables) at SPARK_GRAFT_CPUS.
 *  2. The north-rule scaling evidence: the full image dedup pipeline
 *     (signatures → LSH → CC → groups) over an identical synthesized
 *     corpus at N and 4N local cores — the sandbox stand-in for N vs 4N
 *     executors — reporting images/sec at both and the scaling efficiency
 *     tp(4N) / (4 · tp(N)).
 */
object Bench {
  private val HeadlineQueries = Seq(
    "q_hamming_hist", "q_band_extract", "q_band_join_pairs",
    "q_connected_components", "q_dup_groups", "q_stem_merge",
    "q_greedy_groups", "q_doc_minhash", "q_minhash_band_pairs", "q_simhash",
    "q_substring_dup", "q_ann_topk", "q_ann_ivf", "q_embed_near_dup",
    "q_window_dup_counts", "q_exact_dedup_docs")

  // ~114k images. Corpus size is set by the 4N run, not the N run: the
  // ~9 s fixed per-run cost (plan/AQE/commit/schedule) must stay ≤10% of
  // the SHORTEST timed run or it eats measured efficiency directly —
  // at 68k images the 4N run is ~55 s and the overhead alone drags a
  // true ~0.90 efficiency down to a measured 0.80 (observed).
  private val BenchBases =
    sys.env.getOrElse("SPARK_GRAFT_BENCH_BASES", "40000").toLong

  private val Jdk17AddOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  /** Parse a -Xmx-style size ("32g", "512m", "90112m", "4096") into MiB;
    * anything else ("1.5g", "lots") is refused rather than misread. */
  private[graft] def sizeToMb(s: String): Long =
    "(\\d+)(?:([kmgt])b?)?".r.unapplySeq(s.trim.toLowerCase) match {
      case Some(List(num, unit)) =>
        val n = num.toLong
        Option(unit).getOrElse("m") match {
          case "k" => math.max(1L, n / 1024)
          case "g" => n * 1024
          case "t" => n * 1024 * 1024
          case _ => n
        }
      case _ => throw new IllegalArgumentException(
        s"malformed heap size '$s' (want an integer with an optional k/m/g/t unit)")
    }

  /** MemAvailable from /proc/meminfo, in MiB (-1 if unreadable). */
  private def memAvailableMb(): Long =
    try {
      scala.io.Source.fromFile("/proc/meminfo").getLines()
        .collectFirst { case l if l.startsWith("MemAvailable:") =>
          l.split("\\s+")(1).toLong / 1024 }
        .getOrElse(-1L)
    } catch { case scala.util.control.NonFatal(_) => -1L }

  /** Child-JVM heap budget in MiB. Round-6 fix of the round-5 OOM (BENCH_r05
    * rc=1, runner exit 137): round 5 pre-touched the full SPARK_DRIVER_MEM
    * (~90 GiB in the driver env) in this parent JVM *and* in every child —
    * two resident ~90 GiB heaps + the tmpfs-staged corpus cannot fit a
    * 128 GiB cgroup. The fixed pre-touched heap stays (it is the measured
    * cure for the lazy-heap first-touch variance, BASELINE.md round-5) but
    * is budgeted at spawn time: min(requested, MemAvailable − headroom).
    * MemAvailable already discounts the parent's resident set and the shm
    * corpus/shuffle pages, so the budget is self-correcting; 16 GiB
    * headroom covers per-shot shuffle + work-dir parquet on tmpfs (which
    * grow AFTER the budget is read — observed ~7 GiB of post-spawn tmpfs
    * growth across a 5-shot run). The
    * pipeline itself needs only a few GiB at this corpus size, so a capped
    * heap changes nothing about what is measured — both the N and 4N
    * children get the same formula, and pre-touch happens before the timed
    * region (BenchOne times Pipeline.run only). Read once per run, so
    * every measured child gets the same heap however MemAvailable moves
    * between spawns. */
  private lazy val childHeapMb: Long = {
    val requested = sizeToMb(sys.env.getOrElse("SPARK_DRIVER_MEM", "32g"))
    val avail = memAvailableMb()
    val headroomMb = 16L * 1024
    val budget =
      if (avail < 0) requested // /proc unreadable: keep old behavior
      else math.min(requested, avail - headroomMb)
    math.max(budget, 4L * 1024) // floor: the pipeline fits in 4 GiB
  }

  /** Spawn BenchOne in a fresh JVM; parse its BENCHONE line. Returns
    * (images, sec, stagesJson). */
  private def runIsolated(cpus: Int, corpusDir: String, workDir: String,
                          reps: Int): (Long, Double, String) = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val mem = s"${childHeapMb}m"
    // -Xms=-Xmx + pre-touch: lazy heap growth charges hypervisor
    // first-touch faults to the first heap-hungry stage (measured 2× on
    // the 16-wide signature scan, BASELINE.md round-5) — real executors
    // run fixed pre-touched heaps, so the children should too
    val cmd = Seq(javaBin, s"-Xmx$mem", s"-Xms$mem", "-XX:+AlwaysPreTouch") ++
      Jdk17AddOpens ++ Seq(
      "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      "-cp", System.getProperty("java.class.path"),
      "graft.tools.BenchOne", cpus.toString, corpusDir, workDir, reps.toString)
    val out = new StringBuilder
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(false).start()
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    val errDrain = new Thread(() => {
      val e = proc.getErrorStream
      val buf = new Array[Byte](8192)
      while (e.read(buf) >= 0) {}
    })
    errDrain.setDaemon(true); errDrain.start()
    var line = reader.readLine()
    var result: Option[(Long, Double, String)] = None
    while (line != null) {
      if (line.startsWith("BENCHONE ")) {
        val json = line.stripPrefix("BENCHONE ")
        val n = "\"images\":(\\d+)".r.findFirstMatchIn(json).get.group(1).toLong
        val s = "\"sec\":([0-9.]+)".r.findFirstMatchIn(json).get.group(1).toDouble
        val st = "\"stages\":(\\{[^}]*\\})".r.findFirstMatchIn(json)
          .map(_.group(1)).getOrElse("{}")
        result = Some((n, s, st))
      }
      line = reader.readLine()
    }
    proc.waitFor()
    result.getOrElse(throw new RuntimeException(s"BenchOne($cpus) produced no result"))
  }

  /** Synchronous-write throughput probe (MB/s). Round-5 finding: a shared
    * -host window throttled /dev/vda to 4.4 MB/s fdatasync and inflated
    * pipeline shots 3× while loadavg read idle — CPU provenance alone
    * cannot attribute that. One small forced write before/after the shots
    * bounds how IO-noisy this run's window was. */
  private def ioProbeMBps(dir: String): Double = {
    val f = java.io.File.createTempFile("ioprobe", ".bin", new java.io.File(dir))
    try {
      val bytes = 64L * 1024 * 1024
      val buf = java.nio.ByteBuffer.allocate(1024 * 1024)
      val ch = java.nio.channels.FileChannel.open(f.toPath,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        val t0 = System.nanoTime()
        var written = 0L
        while (written < bytes) {
          buf.clear()
          while (buf.hasRemaining) written += ch.write(buf) // short writes count
        }
        ch.force(true)
        written / 1e6 / ((System.nanoTime() - t0) / 1e9)
      } finally ch.close()
    } catch { case scala.util.control.NonFatal(_) => -1.0 }
    finally f.delete()
  }

  /** Single-core kernel canary (ms/img). Round-5 finding #2: the host's
    * vCPUs are intermittently starved by the hypervisor — the same
    * single-threaded kernel loop measured 2.4 ms/img and, 30 minutes
    * later on an idle container, 145 ms/img; loadavg saw NOTHING (our
    * threads stay runnable while the vCPU is descheduled) and /proc/stat
    * steal barely moved. Per-shot canaries are the only reliable
    * attribution instrument for wall-clock swings on identical code. */
  private def cpuCanaryMsPerImg(): Double = {
    val rows = (0L until 30L).flatMap(graft.synth.Synth.rowsForBase)
      .map(r => graft.model.ImageRow(
        r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash))
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    rows.take(rows.size / 3).foreach(
      graft.kernel.SignatureKernel.computeOne(_, sha)) // JIT warm
    val t0 = System.nanoTime()
    rows.foreach(graft.kernel.SignatureKernel.computeOne(_, sha))
    (System.nanoTime() - t0) / 1e6 / rows.size
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    // work dirs (parquet written per shot) go to tmpfs when available, for
    // the same reason Pipeline.session puts shuffle there: container-disk
    // IO on this shared host can collapse 50× in a bad window and the
    // bench measures compute scaling, not the neighbors' disk schedule
    val shmBase = new java.io.File("/dev/shm")
    val tmp = (if (shmBase.isDirectory && shmBase.canWrite)
      java.nio.file.Files.createTempDirectory(shmBase.toPath, "graft-bench")
    else java.nio.file.Files.createTempDirectory("graft-bench")).toString
    val corpusDir = s"/root/repo/target/bench-corpus-$BenchBases"

    // --- part 1: headline queries at the driver's parallelism ---
    val spark = Harness.session(cpus, math.max(cpus, 8))
    Harness.corpus(spark, BenchBases, corpusDir)

    val queryTimes = HeadlineQueries.map { name =>
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir).count()
      catch { case scala.util.control.NonFatal(_) => -1L }
      name -> (System.nanoTime() - t0) / 1e9
    }
    spark.stop()

    // --- part 2: dedup pipeline at N and 4N parallelism ---
    // Each measurement runs in its OWN child JVM (the local-mode stand-in
    // for one spark-submit per cluster size): sequential SparkContexts in
    // one JVM accumulate state and degrade 10×+, poisoning the comparison.
    // N=4 vs 4N=16 on a ~114k-image corpus: fixed overhead < 5% of the
    // N run, and min-of-3 at 4N rides out shared-host neighbor windows
    // (at local[32] the extra 16 threads are SMT siblings worth ~0.65 of
    // a core, so 16 is the honest top level).
    // min-of-k at BOTH levels: the shared host's neighbor noise hits a
    // 4-core child proportionally harder than a 16-core one, and a single
    // noisy N shot shows up as nonsense super-linear efficiency
    def loadavg(): Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split(" ")(0).toDouble
      catch { case scala.util.control.NonFatal(_) => -1.0 }

    // INTERLEAVED shots (round 2): alternating N and 4N children in time
    // means both cluster sizes sample the same neighbor-noise windows —
    // min-of-k per level then compares like with like. (The round-1
    // all-N-then-all-4N order let a quiet window land entirely on one
    // level and showed up as efficiency swings 0.76-0.98 on an idle repo.)
    val loadBefore = loadavg()
    val ioBefore = ioProbeMBps("/root/repo/target")
    // Stage the corpus into tmpfs for the timed shots. On a real cluster
    // the input sits in distributed storage whose aggregate bandwidth
    // scales with the reader count; this container's single virtual disk
    // is shared with neighbors and was measured collapsing 460 → 4 MB/s
    // mid-window (round 5), which inflates the corpus-reading signatures
    // stage 10× and poisons the N-vs-4N comparison the scaling gate
    // reads. RAM-backed input is the honest stand-in, same reasoning as
    // spark.local.dir above.
    // Copy into a run-unique dir, then atomically rename into place: a
    // crashed `cp -r` can leave _SUCCESS present but parquet parts
    // missing (readdir order is arbitrary), and a marker-gated reuse
    // would silently time all five shots against a partial corpus. A
    // fresh copy per run also can't go stale when the disk corpus is
    // regenerated; staging from page cache costs ~10-20 s.
    // reap staged corpora left by CRASHED runs first: the names are
    // pid-unique, so a kill -9 mid-shot leaves ~7 GB pinned in shm that
    // no later run's own rm would ever name — accumulate a few and the
    // usable-space gate below silently falls back to the disk corpus,
    // unmeasuring exactly what the staging exists to control
    Option(shmBase.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(s"graft-bench-corpus-$BenchBases-run"))
      .foreach(f => new ProcessBuilder("rm", "-rf", f.getAbsolutePath)
        .start().waitFor())
    val corpusForShots =
      if (shmBase.isDirectory && shmBase.canWrite &&
        shmBase.getUsableSpace > 32L * 1024 * 1024 * 1024) {
        val dst = s"/dev/shm/graft-bench-corpus-$BenchBases-run${ProcessHandle.current().pid()}"
        val stage = s"$dst.partial"
        val rc = new ProcessBuilder("cp", "-r", corpusDir, stage).start().waitFor()
        val mv = if (rc == 0)
          new ProcessBuilder("mv", stage, dst).start().waitFor() else -1
        if (mv == 0 && new java.io.File(s"$dst/images/_SUCCESS").exists()) dst
        else { new ProcessBuilder("rm", "-rf", stage, dst).start().waitFor(); corpusDir }
      } else corpusDir
    // tmpfs hygiene: shutdown hook instead of end-of-main cleanup, so a
    // crashed or SIGTERM'd run releases its multi-GB shm footprint too
    // (kill -9 is covered by the startup reap above)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      try {
        import scala.reflect.io.Directory
        new Directory(new java.io.File(tmp)).deleteRecursively()
        if (corpusForShots != corpusDir)
          new Directory(new java.io.File(corpusForShots)).deleteRecursively()
      } catch { case scala.util.control.NonFatal(_) => }
    }))
    val shots = Seq(4 -> "n1", 16 -> "m1", 4 -> "n2", 16 -> "m2", 16 -> "m3")
    val shotResults = shots.map { case (c, tag) =>
      // bounded healthy-window wait: starvation bursts often pass within
      // minutes; two short retries cost ≤4 min total and save a 10-minute
      // shot from landing entirely inside one. Proceed regardless after
      // the retries — the recorded canary still names the window quality.
      var canary = cpuCanaryMsPerImg()
      var retries = 0
      while (canary > 4.5 && retries < 2) {
        Thread.sleep(90000)
        canary = cpuCanaryMsPerImg()
        retries += 1
      }
      val r = runIsolated(c, corpusForShots, s"$tmp/run_$tag", reps = 1)
      val l = loadavg()
      (c, r, l, canary)
    }
    val loadAfter = loadavg()
    val ioAfter = ioProbeMBps("/root/repo/target")
    val n8 = shotResults.filter(_._1 == 4).map(_._2._1).head
    val t8 = shotResults.filter(_._1 == 4).map(_._2._2).min
    val n32 = shotResults.filter(_._1 == 16).map(_._2._1).head
    val t32 = shotResults.filter(_._1 == 16).map(_._2._2).min
    // per-stage breakdown of the WINNING shot at each level (round-2
    // VERDICT #8: a throughput drift must name its stage)
    val stages8 = shotResults.filter(_._1 == 4).minBy(_._2._2)._2._3
    val stages32 = shotResults.filter(_._1 == 16).minBy(_._2._2)._2._3

    val tp8 = n8 / t8
    val tp32 = n32 / t32
    val efficiency = tp32 / (4.0 * tp8)

    val qs = (queryTimes ++ Seq(
      "img_pipeline_local4" -> t8, "img_pipeline_local16" -> t32))
      .map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    val total = queryTimes.map(_._2).sum + t8 + t32
    val scaling = f"""{"images":$n32,"n_cores":4,"img_per_sec_n":$tp8%.1f,""" +
      f""""img_per_sec_4n":$tp32%.1f,"efficiency":$efficiency%.3f}"""
    // corpus + host-load provenance so round-over-round deltas are
    // attributable (VERDICT r1 #10): the shared host's neighbors move
    // wall-clock up to 2×; loadavg bounds how noisy this run's window was
    // the mix string describes the STORED corpus (it survives across
    // rounds behind its _SUCCESS marker); a `_mix` sidecar written at
    // generation time wins over the legacy hardcoded description
    val mixFile = new java.io.File(s"$corpusDir/_mix")
    val mixRaw =
      if (mixFile.isFile)
        new String(java.nio.file.Files.readAllBytes(mixFile.toPath)).trim
      else "synth rowsForBase r3: ~10% flat, ~20% unrelated, ~5% caption-dup, rest orig+1..4 variants (exif jpg/tiff) + ~8% tiff16 + ~10% raw-preview"
    // the sidecar is free-form text spliced into a JSON string literal —
    // escape it or one quote/backslash corrupts the whole BENCH record
    val mix = mixRaw.replace("\\", "\\\\").replace("\"", "\\\"")
      .replaceAll("[\\r\\n\\t]", " ")
    val corpusMeta = s"""{"bases":$BenchBases,"images":$n32,""" +
      s""""mix":"$mix"}"""
    val shotJson = shotResults.map { case (c, (_, s, _), l, canary) =>
      f"""{"cores":$c,"sec":$s%.1f,"loadavg":$l%.2f,""" +
        f""""cpu_canary_ms":$canary%.2f}""" }.mkString("[", ",", "]")
    val load = f"""{"before":$loadBefore%.2f,"after":$loadAfter%.2f,""" +
      f""""disk_mbps_before":$ioBefore%.1f,"disk_mbps_after":$ioAfter%.1f,""" +
      s""""corpus_on_tmpfs":${corpusForShots != corpusDir},""" +
      s""""shots":$shotJson}"""
    val stagesJson = s"""{"local4":$stages8,"local16":$stages32}"""
    println(f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"sf":"$sfDir","scaling":$scaling,"stages":$stagesJson,"corpus":$corpusMeta,"loadavg":$load}""")
  }
}
