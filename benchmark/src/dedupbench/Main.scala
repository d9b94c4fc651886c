package dedupbench

import scala.collection.mutable

/**
 * One measured JVM: builds the session, generates the workload's inputs
 * from the seed, sets up, then runs the measured (or traced) part and
 * prints one `DEDUPBENCH-RESULT {...}` line. `benchmark/run.py` spawns
 * it with a fixed, pre-touched heap and turns that line into the
 * benchmark's result.
 *
 * Usage: dedupbench.Main --workload NAME --seed N --seconds S --trace 0|1
 *          --run-dir DIR --spans-out FILE
 */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workload.byName(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val runDir = opts("run-dir")

    val heap = new PostGcHeap
    val t0 = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"dedupbench: ${(System.nanoTime() - t0) / 1e9}%.2f s $what")
    val spark = Session.create(runDir)
    phase("session")
    val (_, genS) = Loop.clock(workload.generate(spark, seed, runDir))
    phase("inputs generated")
    workload.setUp(spark, runDir)
    phase("set up")
    val setupDoneMs = System.currentTimeMillis()

    val host = mutable.LinkedHashMap[String, Any](
      "loadavg_before" -> Host.loadavg(), "canary_ms_per_img" -> Host.canaryMsPerImg())
    val ops = new Ops
    val out = mutable.LinkedHashMap[String, Any]()
    System.gc()
    heap.arm()
    if (traced) {
      val trace = new Trace(spark)
      out("metrics") = workload.traced(spark, runDir, seconds, ops, trace)
      trace.close()
      trace.writeSpans(opts("spans-out"))
    } else {
      val r = workload.measure(spark, runDir, seconds, ops)
      heap.disarm()
      out("metrics") = r.metrics + ("peak_heap_mb" -> heap.peakMb)
      out("detail") = r.detail
    }
    phase("measured")
    host("loadavg_after") = Host.loadavg()
    out("attempted") = ops.attempted
    out("failed") = ops.failed
    out("setup_done_epoch_ms") = setupDoneMs
    out("input_gen_s") = genS
    out("heap_mb") = Runtime.getRuntime.maxMemory / 1048576
    out("host") = host
    println("DEDUPBENCH-RESULT " + Json.encode(out))
    spark.stop()
  }
}
