package graft.kernel

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}

/** Decoded image: row-major pixels. `argb` is packed 0xAARRGGBB.
  * `rgba16` is non-null ONLY for >8-bit sources: the native 16-bit
  * samples, RGBA-interleaved (4 shorts/pixel) — the precision `argb`
  * cannot carry and the pixel hash must (scanner.rs:1393-1406). */
final case class DecodedImage(w: Int, h: Int, argb: Array[Int],
                              rgba16: Array[Short] = null) {
  /** Rec.601 integer luma plane as floats 0-255 (pdqhash.rs:268-284). */
  def luma601: Array[Float] = {
    val out = new Array[Float](argb.length)
    var i = 0
    while (i < argb.length) { out(i) = Pdq.luma601(argb(i)).toFloat; i += 1 }
    out
  }
  /** RGBA16 byte stream for pixel-hashing — the reference hashes the
    * `to_rgba16` buffer precisely so a 16-bit source and its 8-bit
    * conversion get DIFFERENT pixel hashes (scanner.rs:1393-1406). Native
    * 16-bit samples hash as-is (big-endian); 8-bit sources widen v→v·257
    * (the image-crate u8→u16 convention: 0xVV → 0xVVVV, so the two
    * big-endian bytes are both v). */
  def pixelHashBytes: Array[Byte] =
    if (rgba16 != null) {
      val out = new Array[Byte](rgba16.length * 2)
      var i = 0
      while (i < rgba16.length) {
        out(2 * i) = ((rgba16(i) >> 8) & 0xff).toByte
        out(2 * i + 1) = (rgba16(i) & 0xff).toByte
        i += 1
      }
      out
    } else {
      val out = new Array[Byte](argb.length * 8)
      var i = 0
      while (i < argb.length) {
        val p = argb(i)
        @inline def put(j: Int, v: Int): Unit = {
          out(j) = v.toByte; out(j + 1) = v.toByte // v·257 big-endian
        }
        put(8 * i, (p >> 16) & 0xff)
        put(8 * i + 2, (p >> 8) & 0xff)
        put(8 * i + 4, p & 0xff)
        put(8 * i + 6, (p >> 24) & 0xff)
        i += 1
      }
      out
    }
}

/**
 * Tiered decode kernel (scanner.rs:461-735 simplified): per-format dispatch
 * on the `fmt` column — `png`/`jpg`/`bmp`/`gif`/`tiff` via ImageIO (the JDK
 * ships a TIFF plugin since Java 9), `gray-raw` as a raw w×h 8-bit gray
 * plane, RAW camera formats via embedded-JPEG-preview extraction (the
 * scanner.rs:1353-1380 trick: find the largest JPEG thumbnail in the RAW
 * container and decode that — here a pure byte scan for SOI/EOI markers,
 * no RAW codec needed). Decode failures return None with a status string
 * (the row flows on with null signature, mirroring the reference's
 * decode-failure path) — the status feeds per-fmt `_metrics` rows so a
 * silently-undecodable slice of a 100 TB corpus is visible, not lumped.
 *
 * PDF (scanner.rs:583-625) decodes its largest embedded image XObject via
 * PdfImages (DCT = literal JPEG, Flate = Inflater + predictors) — the
 * renderer-free analog of the RAW preview trick; text/vector-only pages
 * and JPX/JBIG2/CCITT streams stay `unsupported`.
 *
 * Pixel tier still stubbed (codecs absent in this container): JXL, HEIC
 * (scanner.rs:553-708) — reported as `unsupported`, distinct from `error`.
 * Their METADATA tiers are real: header dims via [[HeaderDims]] (JXL
 * SizeHeader / ISOBMFF ispe) and EXIF via [[Isobmff.exif]] (HEIF Exif
 * item, JXL-container Exif box) — round 5.
 */
object ImageCodec {
  // in-memory ImageInputStreams: the default file-backed cache serializes
  // parallel decodes on temp-dir I/O
  javax.imageio.ImageIO.setUseCache(false)

  /** RAW container formats (reference RAW_EXTS, scanner.rs:2291-2294). */
  final val RawFormats: Set[String] = Set(
    "nef", "dng", "cr2", "cr3", "arw", "orf", "rw2", "raf", "kdc", "dcr",
    "pef", "x3f", "srf", "3fr")

  final val StatusOk = "ok"
  final val StatusError = "error"
  final val StatusUnsupported = "unsupported"

  def decode(bytes: Array[Byte], fmt: String, w: Int, h: Int): Option[DecodedImage] =
    decodeWithStatus(bytes, fmt, w, h)._1

  /** Decode + outcome status: `ok`, `error` (format should decode but its
    * bytes don't), or `unsupported` (no codec tier for this fmt). */
  def decodeWithStatus(bytes: Array[Byte], fmt: String, w: Int,
                       h: Int): (Option[DecodedImage], String) =
    try {
      fmt.toLowerCase match {
        case "gray-raw" =>
          if (bytes.length < w * h || w <= 0 || h <= 0) (None, StatusError)
          else {
            val argb = new Array[Int](w * h)
            var i = 0
            while (i < w * h) {
              val g = bytes(i) & 0xff
              argb(i) = 0xff000000 | (g << 16) | (g << 8) | g
              i += 1
            }
            (Some(DecodedImage(w, h, argb)), StatusOk)
          }
        case "png" | "jpg" | "jpeg" | "bmp" | "gif" | "tiff" | "tif" =>
          val img = ImageIO.read(new ByteArrayInputStream(bytes))
          if (img == null) (None, StatusError) else (Some(fromBuffered(img)), StatusOk)
        case f if RawFormats(f) =>
          extractLargestJpegPreview(bytes) match {
            case Some(img) => (Some(img), StatusOk)
            case None => (None, StatusError)
          }
        // PDF tier (scanner.rs:583-625 renders page 1; here: decode the
        // LARGEST embedded image XObject, pure-JVM — DCT streams are
        // literal JPEGs, Flate is Inflater + predictors; see PdfImages).
        // `unsupported` is reserved for files whose image streams all
        // need a codec the JVM lacks (JPX/JBIG2/CCITT/LZW) or that carry
        // no raster at all (text/vector-only pages — nothing to hash
        // without a renderer); undecodable bytes under a pdf label are
        // `error`, same contract as every other real tier.
        case "pdf" =>
          val ex = PdfImages.extract(bytes)
          ex.image match {
            case Some(img) => (Some(img), StatusOk)
            case None =>
              if (ex.sawCorrupt) (None, StatusError) // raster present, bytes bad
              else if (ex.sawCodecless || PdfImages.looksPdf(bytes))
                (None, StatusUnsupported) // JPX/… or rasterless page
              else {
                // not a PDF at all — same S5 sniff every tier gets for
                // mislabeled bytes (a PNG under a pdf label must decode,
                // exactly as PDF bytes under a png label route here);
                // true junk still lands `error`
                val img = ImageIO.read(new ByteArrayInputStream(bytes))
                if (img != null) (Some(fromBuffered(img)), StatusOk)
                else (None, StatusError)
              }
          }
        // Small-format tiers (scanner.rs:2278 extension list; image-crate
        // fallback formats with no JVM codec — decoded from their public
        // fixed layouts, see SmallFormats). Mislabeled bytes fall to the
        // generic sniff; DDS/EXR/HDR stay honest `unsupported` there.
        case "qoi" if SmallFormats.Qoi.looks(bytes) =>
          SmallFormats.Qoi.decode(bytes) match {
            case Some(d) => (Some(d), StatusOk)
            case None => (None, StatusError)
          }
        case "pnm" | "pgm" | "ppm" if SmallFormats.Pnm.looks(bytes) =>
          SmallFormats.Pnm.decode(bytes) match {
            case Some(d) => (Some(d), StatusOk)
            case None => (None, StatusError)
          }
        case "ff" | "farbfeld" if SmallFormats.Farbfeld.looks(bytes) =>
          SmallFormats.Farbfeld.decode(bytes) match {
            case Some(d) => (Some(d), StatusOk)
            case None => (None, StatusError)
          }
        case "ico" if SmallFormats.Ico.looks(bytes) =>
          SmallFormats.Ico.decode(bytes) match {
            case Some(d) => (Some(d), StatusOk)
            case None => (None, StatusError)
          }
        case "hdr" if SmallFormats.Hdr.looks(bytes) =>
          SmallFormats.Hdr.decode(bytes) match {
            case Some(d) => (Some(d), StatusOk)
            case None => (None, StatusError)
          }
        case "dds" if SmallFormats.Dds.looks(bytes) =>
          SmallFormats.Dds.decode(bytes) match {
            case Some(d) => (Some(d), StatusOk)
            // classic encodings all decode; what's left is DX10/BC4-7
            case None => (None, StatusUnsupported)
          }
        // WebP tier (scanner.rs:713 reaches WebP via the image-crate
        // fallback; the JVM has no codec, so the VP8L slice is decoded
        // from the public spec — see Webp). Lossless VP8L = full pixels;
        // lossy VP8 = honest `unsupported` (dims/EXIF still real); junk
        // under the label = `error`; non-RIFF bytes get the S5 sniff.
        case "webp" =>
          if (Webp.looksWebp(bytes)) Webp.decodeWithStatus(bytes)
          else {
            val img = ImageIO.read(new ByteArrayInputStream(bytes))
            if (img != null) (Some(fromBuffered(img)), StatusOk)
            else if (PdfImages.looksPdf(bytes)) {
              val ex = PdfImages.extract(bytes)
              ex.image match {
                case Some(d) => (Some(d), StatusOk)
                case None =>
                  if (ex.sawCorrupt) (None, StatusError)
                  else (None, StatusUnsupported)
              }
            } else (None, StatusError)
          }
        // generic guessed-format fallback (S5, scanner.rs:713-735): ImageIO
        // sniffs the actual magic bytes regardless of the claimed fmt, so a
        // mislabeled-but-decodable row still decodes; memory is bounded by
        // the task sandbox (the Spark analog of the reference's per-thread
        // decode limit). Genuinely codec-less formats here — JXL / PDF /
        // HEIC (scanner.rs:553-708) — sniff to null and stay `unsupported`.
        case _ =>
          val img = ImageIO.read(new ByteArrayInputStream(bytes))
          if (img != null) (Some(fromBuffered(img)), StatusOk)
          else if (Webp.looksWebp(bytes)) Webp.decodeWithStatus(bytes)
          else if (SmallFormats.Qoi.looks(bytes) || SmallFormats.Pnm.looks(bytes) ||
            SmallFormats.Farbfeld.looks(bytes) || SmallFormats.Ico.looks(bytes) ||
            SmallFormats.Hdr.looks(bytes) || SmallFormats.Dds.looks(bytes)) {
            val d =
              if (SmallFormats.Qoi.looks(bytes)) SmallFormats.Qoi.decode(bytes)
              else if (SmallFormats.Pnm.looks(bytes)) SmallFormats.Pnm.decode(bytes)
              else if (SmallFormats.Farbfeld.looks(bytes)) SmallFormats.Farbfeld.decode(bytes)
              else if (SmallFormats.Ico.looks(bytes)) SmallFormats.Ico.decode(bytes)
              else if (SmallFormats.Hdr.looks(bytes)) SmallFormats.Hdr.decode(bytes)
              else SmallFormats.Dds.decode(bytes)
            d.map(i => (Option(i), StatusOk)).getOrElse((None, StatusError))
          } else if (PdfImages.looksPdf(bytes)) {
            // ImageIO cannot sniff PDFs — route mislabeled-but-PDF bytes
            // through the PDF tier like any other magic-byte match, with
            // the SAME ok/error/unsupported trichotomy as the labeled
            // path: corrupt bytes must not hide as `unsupported` just
            // because the label was wrong
            val ex = PdfImages.extract(bytes)
            ex.image match {
              case Some(d) => (Some(d), StatusOk)
              case None =>
                if (ex.sawCorrupt) (None, StatusError)
                else (None, StatusUnsupported)
            }
          } else (None, StatusUnsupported)
      }
    } catch { case scala.util.control.NonFatal(_) => (None, StatusError) }

  /**
   * RAW preview path (scanner.rs:1353-1380 semantics, codec-free): scan the
   * container bytes for embedded JPEG streams (SOI `FF D8 FF` … EOI `FF D9`)
   * and decode the LARGEST decodable one — RAW files carry full-size JPEG
   * previews, and the reference hashes exactly that preview
   * (`max_by_key(w*h)` over JPEG thumbs). Candidates are tried
   * longest-first; decode failures fall through to the next span.
   */
  def extractLargestJpegPreview(bytes: Array[Byte]): Option[DecodedImage] = {
    val sois = scala.collection.mutable.ArrayBuffer.empty[Int]
    var i = 0
    while (i < bytes.length - 2) {
      if (bytes(i) == 0xff.toByte && bytes(i + 1) == 0xd8.toByte &&
        bytes(i + 2) == 0xff.toByte) sois += i
      i += 1
    }
    // Two candidate spans per SOI: (a) up to the last EOI before the NEXT
    // SOI, and (b) up to the last EOI before end-of-container. (a) alone
    // truncates a full-size preview whose own EXIF embeds a thumbnail (the
    // nested SOI cuts the outer stream before its scan data); (b) alone
    // over-reads when unrelated previews follow. Trying both, largest
    // first, decodes whichever stream is actually intact.
    def lastEoiBefore(s: Int, limit: Int): Int = {
      var e = math.min(limit, bytes.length) - 2
      while (e > s && !(bytes(e) == 0xff.toByte && bytes(e + 1) == 0xd9.toByte)) e -= 1
      e + 2
    }
    val spans = sois.zipAll(sois.drop(1), -1, bytes.length).flatMap {
      case (s, limit) if s >= 0 =>
        val toNext = (s, lastEoiBefore(s, limit))
        val toEnd = (s, lastEoiBefore(s, bytes.length))
        if (toEnd == toNext) Seq(toNext) else Seq(toNext, toEnd)
      case _ => Seq.empty
    }.distinct.filter { case (s, e) => e - s > 4 }
    // The reference picks max_by_key(w*h) over DECODED thumbs
    // (scanner.rs:1353-1380) — byte length alone misleads: a small
    // preview's SOI followed by a larger stream yields the longest span
    // but decodes to the small image (a decoder stops at its first EOI).
    // Decode the top candidates and keep the largest pixel area.
    val decoded = spans.sortBy { case (s, e) => -(e - s) }.iterator
      .take(8) // bound decode attempts on adversarial inputs
      .flatMap { case (s, e) =>
        try Option(ImageIO.read(new ByteArrayInputStream(
          java.util.Arrays.copyOfRange(bytes, s, e)))).map(fromBuffered)
        catch { case scala.util.control.NonFatal(_) => None }
      }.toSeq
    if (decoded.isEmpty) None
    else Some(decoded.maxBy(d => d.w.toLong * d.h))
  }

  def fromBuffered(img: BufferedImage): DecodedImage = {
    val w = img.getWidth; val h = img.getHeight
    // fast paths: read the backing raster directly — getRGB goes through a
    // per-pixel ColorModel conversion that costs ~25% of decode time
    img.getType match {
      case BufferedImage.TYPE_3BYTE_BGR =>
        val data = img.getRaster.getDataBuffer
          .asInstanceOf[java.awt.image.DataBufferByte].getData
        val argb = new Array[Int](w * h)
        var i = 0
        while (i < argb.length) {
          val b = data(3 * i) & 0xff
          val g = data(3 * i + 1) & 0xff
          val r = data(3 * i + 2) & 0xff
          argb(i) = 0xff000000 | (r << 16) | (g << 8) | b
          i += 1
        }
        DecodedImage(w, h, argb)
      case BufferedImage.TYPE_BYTE_GRAY =>
        // raw gray values, not getRGB's GRAY→sRGB colorspace remap — the
        // raw plane is what the luma pipeline wants (pdqhash.rs:280)
        val data = img.getRaster.getDataBuffer
          .asInstanceOf[java.awt.image.DataBufferByte].getData
        val argb = new Array[Int](w * h)
        var i = 0
        while (i < argb.length) {
          val v = data(i) & 0xff
          argb(i) = 0xff000000 | (v << 16) | (v << 8) | v
          i += 1
        }
        DecodedImage(w, h, argb)
      case BufferedImage.TYPE_INT_RGB =>
        val data = img.getRaster.getDataBuffer
          .asInstanceOf[java.awt.image.DataBufferInt].getData
        val argb = new Array[Int](w * h)
        var i = 0
        while (i < argb.length) { argb(i) = 0xff000000 | data(i); i += 1 }
        DecodedImage(w, h, argb)
      case _ if img.getRaster.getTransferType == java.awt.image.DataBuffer.TYPE_USHORT &&
        // genuine 16-bit samples only: USHORT_565_RGB/555_RGB (16-bit BMPs)
        // also ride a USHORT transfer buffer but carry 5/6-bit samples —
        // treating those as 16-bit made (v>>8)<<16 = 0 (all-black argb);
        // they must fall through to the getRGB path below
        (0 until img.getRaster.getNumBands).forall(
          b => img.getRaster.getSampleModel.getSampleSize(b) == 16) =>
        // >8-bit raster (16-bit TIFF: USHORT_GRAY or custom USHORT RGB):
        // keep the native 16-bit samples for the pixel hash; argb takes
        // the high bytes (what an 8-bit conversion of the file would hold,
        // so PDQ/luma match across depths)
        val raster = img.getRaster
        val bands = raster.getNumBands
        val px = new Array[Int](bands)
        val argb = new Array[Int](w * h)
        val r16 = new Array[Short](4 * w * h)
        var y = 0; var i = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            raster.getPixel(x, y, px)
            val r = px(0)
            val g = if (bands >= 3) px(1) else px(0)
            val b = if (bands >= 3) px(2) else px(0)
            val a = if (bands >= 4) px(3) else 65535
            r16(4 * i) = r.toShort; r16(4 * i + 1) = g.toShort
            r16(4 * i + 2) = b.toShort; r16(4 * i + 3) = a.toShort
            argb(i) = 0xff000000 | ((r >> 8) << 16) | ((g >> 8) << 8) | (b >> 8)
            x += 1; i += 1
          }
          y += 1
        }
        DecodedImage(w, h, argb, r16)
      case _ =>
        DecodedImage(w, h, img.getRGB(0, 0, w, h, null, 0, w))
    }
  }

  def toBuffered(d: DecodedImage): BufferedImage = {
    val img = new BufferedImage(d.w, d.h, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, d.w, d.h, d.argb, 0, d.w)
    img
  }

  def encodePng(d: DecodedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(toBuffered(d), "png", bos)
    bos.toByteArray
  }

  /** JPEG at explicit quality (0-1) — the Kaanapali fixture recipe is
    * `-quality 70` ⇒ 0.70f (reference tests/…720p.jpg.txt). */
  def encodeJpeg(d: DecodedImage, quality: Float): Array[Byte] = {
    val writer = ImageIO.getImageWritersByFormatName("jpeg").next()
    val params = writer.getDefaultWriteParam
    params.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(quality)
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(null, new IIOImage(toBuffered(d), null, null), params)
    ios.close(); writer.dispose()
    bos.toByteArray
  }

  /** Peak signal-to-noise ratio between two decodes (the per-row decode
    * invariant: PSNR ≥ 40 dB for lossy round-trips, exact for lossless). */
  def psnr(a: DecodedImage, b: DecodedImage): Double = {
    require(a.w == b.w && a.h == b.h, "psnr: dimension mismatch")
    var se = 0.0
    var i = 0
    while (i < a.argb.length) {
      val pa = a.argb(i); val pb = b.argb(i)
      var c = 0
      while (c < 3) {
        val d = ((pa >> (8 * c)) & 0xff) - ((pb >> (8 * c)) & 0xff)
        se += d.toDouble * d
        c += 1
      }
      i += 1
    }
    val mse = se / (a.argb.length * 3.0)
    if (mse == 0.0) Double.PositiveInfinity else 10.0 * math.log10(255.0 * 255.0 / mse)
  }
}
