package graft.tools

import graft.kernel._
import graft.model.ImageRow
import graft.synth.Synth

import java.security.MessageDigest

/** Round-6 phase-level breakdown of the signature kernel (single core,
  * synth mix): where do the ~2.2 ms/img actually go? Read-only probe —
  * prints one line per phase, then the per-format split of the full
  * kernel, so a kernel regression names the decode tier that caused it.
  * `full_kernel` is also the single-core host canary.
  *
  * Usage: runMain graft.tools.KernelPhaseProbe [nBases] */
object KernelPhaseProbe {
  def main(args: Array[String]): Unit = {
    val nBases = args.headOption.map(_.toInt).getOrElse(300)
    val rows = (0L until nBases.toLong).flatMap(Synth.rowsForBase)
      .map(r => ImageRow(r.image_id, r.bytes, r.w, r.h, r.fmt, r.caption, r.phash))
    val sha = MessageDigest.getInstance("SHA-256")
    // warm
    rows.take(rows.size / 3).foreach(SignatureKernel.computeOne(_, sha))

    def time[A](label: String, xs: Seq[A], over: String = "")(f: A => Unit): Unit = {
      val (_, sec) = Harness.timed(xs.foreach(f))
      println(f"KPHASE $label ${sec * 1e3 / xs.size}%.3f ms/img$over")
    }
    time("full_kernel", rows)(r => SignatureKernel.computeOne(r, sha))
    time("content_sha", rows)(r => { sha.reset(); sha.digest(r.bytes) })
    time("decode_only", rows)(r => ImageCodec.decodeWithStatus(r.bytes, r.fmt, r.w, r.h))
    time("exif_only", rows)(r =>
      try Exif.fromBytes(r.bytes, r.fmt)
      catch { case scala.util.control.NonFatal(_) => () })
    time("minhash_only", rows)(r => graft.functions.MinHash.signature(r.caption))
    // decoded-dependent phases: pre-decode once outside the timer
    val decoded = rows.map(r => ImageCodec.decodeWithStatus(r.bytes, r.fmt, r.w, r.h)._1)
      .collect { case Some(d) if d.w >= Pdq.MinHashableDim && d.h >= Pdq.MinHashableDim => d }
    val overDecoded = s" (over ${decoded.size} decoded)"
    time("pixelhash_sha", decoded, overDecoded)(d => { sha.reset(); sha.digest(d.pixelHashBytes) })
    time("luma601", decoded, overDecoded)(_.luma601)
    val lumas = decoded.map(d => (d.luma601, d.w, d.h))
    val overLumas = s" (over ${lumas.size})"
    time("pdq_features", lumas, overLumas)(x => Pdq.featuresFromLuma(x._1, x._2, x._3))
    val coeffs = lumas.map(x => Pdq.featuresFromLuma(x._1, x._2, x._3)._1)
    time("pdq_dihedral", coeffs)(c => Pdq.dihedralHashes(c).map(Pdq.toLongs))
    time("phash64", lumas, overLumas)(x => PHash.hashGray(x._1, x._2, x._3))
    Harness.emit("KPHASE", "by_fmt" -> Harness.Obj(rows.groupBy(_.fmt).toSeq.sortBy(_._1).map {
      case (fmt, rs) =>
        val (_, sec) = Harness.timed(rs.foreach(SignatureKernel.computeOne(_, sha)))
        fmt -> Harness.Obj("n" -> rs.size, "ms_per_img" -> Harness.dec(sec * 1000 / rs.size, 2))
    }: _*))
  }
}
