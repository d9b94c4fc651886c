package dedupbench

/** Counts every operation a run attempts (measured calls, deltas, output
  * checks) and every one that failed. A failed call yields no timing. */
final class Ops {
  var attempted = 0
  var failed = 0

  /** Run one measured operation; None (and a failure) if it throws. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case scala.util.control.NonFatal(e) =>
        failed += 1
        System.err.println(s"dedupbench: FAILED $what: $e")
        e.printStackTrace()
        None
    }
  }

  /** Record one output check. */
  def check(what: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"dedupbench: CHECK FAILED $what $detail")
    }
    ok
  }
}

/** Time-boxed repetition: run `body` until `seconds` have passed, and at
  * least `minReps` times. Returns the results of the calls that succeeded. */
object Loop {
  def timed[T](seconds: Double, minReps: Int)(body: Int => Option[T]): Seq[T] = {
    val t0 = System.nanoTime()
    val out = scala.collection.mutable.ArrayBuffer[T]()
    var i = 0
    while (i < minReps || (System.nanoTime() - t0) / 1e9 < seconds) {
      body(i).foreach(out += _)
      i += 1
    }
    out.toSeq
  }

  /** Seconds `body` took, with its result. */
  def clock[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }
}
