package dedupbench

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

/** The measured session: the same settings as `Pipeline.session`, except
  * that every file Spark writes stays under the run directory. */
object Session {
  final val Cores = 4

  def create(runDir: String): SparkSession = {
    val localDir = s"$runDir/spark-local"
    new java.io.File(localDir).mkdirs()
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graft-benchmark")
      .config("spark.sql.shuffle.partitions", math.max(Cores, 8).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.local.dir", localDir)
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

object Files {
  def delete(path: String): Unit =
    new scala.reflect.io.Directory(new java.io.File(path)).deleteRecursively()
}

/** Host state recorded beside each measured run, so a slow run can be
  * told apart as a slow host: the single-core kernel canary and the
  * load average. */
object Host {
  /** Single-core `SignatureKernel.computeOne` cost in ms per image over
    * a fixed 30-base corpus (the same canary `graft.Bench` records). */
  def canaryMsPerImg(): Double = {
    val rows = (0L until 30L).flatMap(graft.synth.Synth.rowsForBase)
      .map(r => graft.model.ImageRow(
        r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash))
    val sha = java.security.MessageDigest.getInstance("SHA-256")
    rows.take(rows.size / 3).foreach(graft.kernel.SignatureKernel.computeOne(_, sha))
    val t0 = System.nanoTime()
    rows.foreach(graft.kernel.SignatureKernel.computeOne(_, sha))
    (System.nanoTime() - t0) / 1e6 / rows.size
  }

  def loadavg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+")(0).toDouble finally src.close()
    } catch { case scala.util.control.NonFatal(_) => -1.0 }

  /** Total JVM garbage-collection time so far, in ms. */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
}

/** Peak heap occupancy right after a collection, over every collection
  * that ends while the monitor is armed. */
final class PostGcHeap {
  @volatile private var armed = false
  @volatile private var peak = 0L

  private val listener: NotificationListener = (n, _) =>
    if (armed && n.getType ==
        GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala
        .map(_.getUsed).sum
      synchronized { if (used > peak) peak = used }
    }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def arm(): Unit = armed = true
  def disarm(): Unit = armed = false
  def peakMb: Double = peak / 1048576.0
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
