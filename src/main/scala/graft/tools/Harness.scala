package graft.tools

import graft.Pipeline
import graft.synth.Synth
import org.apache.spark.sql.SparkSession

import scala.util.chaining._

/** The measuring mains' shared setup: one session recipe, a temp work
  * dir, a timer, a get-or-generate `Synth` corpus and the one-line
  * `TAG {json}` result. Each bench's measuring body takes a
  * `SparkSession` and returns its line (so a test can run it on a shared
  * session); its `main` only parses args and calls [[run]].
  *
  * The product CLIs open plain `Pipeline.session`: only a measurement
  * needs the warm-up below. */
object Harness {
  private val warmedUp = new java.util.concurrent.atomic.AtomicBoolean(false)
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** `Pipeline.session` at `local[cpus]`, WARN logging, then the
    * once-per-JVM warm-up. */
  def session(cpus: Int, shufflePartitions: Int): SparkSession = {
    val s = Pipeline.session(s"local[$cpus]", shufflePartitions)
    s.sparkContext.setLogLevel("WARN")
    // Once-per-JVM warm-up (round 6, guide §1: measure the computation,
    // not class loading): the first job of a fresh JVM pays Janino/WSCG
    // compiler init, shuffle + AQE machinery, and parquet reader/writer
    // class loading — ~5-8 s billed to whichever query happens to run
    // first. One tiny shuffle job plus a 10-row parquet round-trip loads
    // all of it up front, on synthetic rows (no input data touched, no
    // results retained — this is JVM warm-up, not caching).
    if (warmedUp.compareAndSet(false, true)) {
      try {
        s.range(0, 1000)
          .groupBy((org.apache.spark.sql.functions.col("id") % 10).as("k"))
          .count().orderBy("k").collect()
        val f = java.nio.file.Files.createTempDirectory("graft-warmup")
        val p = s"$f/warm.parquet"
        s.range(0, 10).write.mode("overwrite").parquet(p)
        s.read.parquet(p).count()
        new scala.reflect.io.Directory(f.toFile).deleteRecursively()
      } catch {
        case scala.util.control.NonFatal(e) =>
          log.warn("session warm-up failed; the first stages run cold", e)
      }
    }
    s
  }

  /** Open the session (`max(cpus, minPartitions)` shuffle partitions), run
    * the body (it emits its line), stop the session. */
  def run(cpus: Int, minPartitions: Int = 0)(body: SparkSession => String): Unit = {
    val spark = session(cpus, math.max(cpus, minPartitions))
    try body(spark) finally spark.stop()
  }

  def workDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** `f`'s result and its wall in seconds. */
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    (f, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `make` unless `dir` holds a committed write (`_SUCCESS`). */
  def once(spark: SparkSession, dir: String)(make: => Unit): Unit = {
    val marker = new org.apache.hadoop.fs.Path(s"$dir/_SUCCESS")
    if (!marker.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(marker)) make
  }

  /** `dir`, holding a `Synth` corpus of `bases` bases: generated unless
    * its `images/_SUCCESS` marker is already there. */
  def corpus(spark: SparkSession, bases: Long, dir: String): String = {
    once(spark, s"$dir/images")(Synth.generate(spark, bases, dir))
    dir
  }

  /** A number printed with `digits` decimals. */
  def dec(x: Double, digits: Int): BigDecimal =
    BigDecimal(x).setScale(digits, BigDecimal.RoundingMode.HALF_UP)

  /** A nested JSON object. */
  final case class Obj(fields: (String, Any)*)

  private def render(v: Any): String = v match {
    case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    case d: BigDecimal => d.bigDecimal.toPlainString
    case Obj(fs @ _*) => fs.map { case (k, x) => s""""$k":${render(x)}""" }.mkString("{", ",", "}")
    case xs: Seq[_] => xs.map(render).mkString("[", ",", "]")
    case o: Option[_] => o.fold("null")(render)
    case x => x.toString
  }

  /** Print and return one `TAG {json}` result line. */
  def emit(tag: String, fields: (String, Any)*): String =
    s"$tag ${render(Obj(fields: _*))}".tap(println)
}
