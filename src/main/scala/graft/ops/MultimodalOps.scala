package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for training-data pipelines: image/audio/video
  * payloads ride as opaque `binary` columns with typed metadata derived by
  * pure expressions (size, format sniff, chunking), plus partition-wise
  * decoders.
  *
  * Design: images decode through the JDK's bundled readers
  * (PNG/BMP/GIF/JPEG/WBMP via `javax.imageio`) into an integer luma grid
  * ([[lumaGrid]]) and a fixed-point DCT pHash ([[phashBits]]). Audio is
  * real for the JDK's containers (WAV/AIFF/AU, [[decodeAudio]]); video is
  * real for MJPEG-in-AVI ([[decodeVideoFrames]] — RIFF walking +
  * per-frame JPEG). The HARD boundary, stated rather than faked:
  * inter-frame codecs (H.264/VP9/AV1) and webp/avif need ffmpeg-class
  * native decoders the JDK does not ship; swapping one in (JNI/javacpp
  * ffmpeg, TwelveMonkeys ImageIO, ...) changes no `mapPartitions`
  * plumbing.
  *
  * At 100 TB: payload bytes never shuffle — metadata extraction is a narrow
  * projection fused into the scan; the decode stage is `mapPartitions` over
  * whatever partitioning the scan produced, with one decoder context per
  * partition (not per row).
  */
object MultimodalOps {

  /** Public file-format magic numbers (hex prefix → format tag). */
  val magicPrefixes: Seq[(String, String)] = Seq(
    "89504E47" -> "png",
    "FFD8FF"   -> "jpeg",
    "47494638" -> "gif",
    "52494646" -> "riff", // wav/avi/webp container
    "25504446" -> "pdf")

  /** Format sniff from the payload's leading bytes — the standard
    * magic-number dispatch, as one codegen'd CASE over the hex of the first
    * 4 bytes.
    */
  def sniffFormat(bin: Column): Column = {
    val prefix = upper(hex(substring(bin, 1, 4)))
    magicPrefixes.foldRight(lit("bin"): Column) { case ((magic, fmt), els) =>
      when(prefix.startsWith(magic), lit(fmt)).otherwise(els)
    }
  }

  /** Payload byte length. */
  private def payloadSize(bin: Column): Column = octet_length(bin)

  /** Fixed-size chunking (frame/sample windows): array of `chunkBytes`-byte
    * slices. Pure array expression — the unit a decoder or transport layer
    * consumes.
    */
  def chunks(bin: Column, chunkBytes: Int): Column =
    transform(
      sequence(lit(0), ceil(octet_length(bin).cast("double") / chunkBytes).cast("int") - 1),
      i => substring(bin, i * chunkBytes + 1, lit(chunkBytes)))

  /** Number of `chunkBytes`-byte chunks. */
  private def numChunks(bin: Column, chunkBytes: Int): Column =
    ceil(octet_length(bin).cast("double") / chunkBytes).cast("int")

  /** Typed metadata projection over a binary payload column: size, sniffed
    * format, chunk count, and a 60-bit content fingerprint. One narrow map —
    * payload bytes are read once and never shuffled.
    */
  def payloadMeta(df: DataFrame, binCol: String, chunkBytes: Int = 256): DataFrame =
    df.withColumn("n_bytes", payloadSize(col(binCol)))
      .withColumn("format", sniffFormat(col(binCol)))
      .withColumn("n_chunks", numChunks(col(binCol), chunkBytes))
      .withColumn("fingerprint", DetHash.md5Hash60(col(binCol)))

  /** Deterministic demo payload used by the q31 query and its oracle: the
    * document text as UTF-8 bytes, with a rotating real magic-number header
    * prepended by doc_id so every [[sniffFormat]] arm is exercised.
    */
  def demoPayload(id: Column, text: Column): Column = {
    val body = encode(text, "UTF-8")
    when(id % 4 === 0, concat(unhex(lit("89504E47")), body))
      .when(id % 4 === 1, concat(unhex(lit("FFD8FFE0")), body))
      .when(id % 4 === 2, concat(unhex(lit("47494638")), body))
      .otherwise(body)
  }

  /** Decode `bytes` with the JDK's bundled readers, or None for anything a
    * crawl can throw at us (corrupt, truncated, non-image, NULL).
    */
  private def tryDecode(bytes: Array[Byte]): Option[java.awt.image.BufferedImage] =
    if (bytes == null) None
    else try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
    catch { case scala.util.control.NonFatal(_) => None }

  /** Box-filter scale of one band: target pixel (x,y) averages the source
    * block [x*srcW/dstW, max(+1, (x+1)*srcW/dstW)) × [y*srcH/dstH, ...).
    * Integer-exact block boundaries and half-up integer rounding make the
    * result bit-identical across JVMs and platforms — the repo's determinism
    * convention — unlike `AffineTransformOp`/`getScaledInstance`, whose
    * filtering is JDK-implementation-defined. Downscale = mean of the block
    * (anti-aliased); upscale degenerates to nearest-neighbor (1-pixel block).
    */
  private def boxScaleBand(src: java.awt.image.Raster, band: Int,
                           srcW: Int, srcH: Int, dstW: Int, dstH: Int): Array[Int] = {
    val out = new Array[Int](dstW * dstH)
    var y = 0
    while (y < dstH) {
      val y0 = y * srcH / dstH
      val y1 = math.max(y0 + 1, (y + 1) * srcH / dstH)
      var x = 0
      while (x < dstW) {
        val x0 = x * srcW / dstW
        val x1 = math.max(x0 + 1, (x + 1) * srcW / dstW)
        var sum = 0L; var sy = y0
        while (sy < y1) {
          var sx = x0
          while (sx < x1) { sum += src.getSample(sx, sy, band); sx += 1 }
          sy += 1
        }
        val n = (x1 - x0).toLong * (y1 - y0)
        out(y * dstW + x) = ((sum + n / 2) / n).toInt
        x += 1
      }
      y += 1
    }
    out
  }

  /** Normalize any decoded raster to 3-band RGB so downstream stages see one
    * banding. Gray replicates the single band; RGBA drops alpha (the usual
    * ingest convention); palette/custom types go through `getRGB`.
    */
  private def toRgbBands(im: java.awt.image.BufferedImage): (Array[Int], Array[Int], Array[Int]) = {
    val (w, h) = (im.getWidth, im.getHeight)
    val (r, g, b) = (new Array[Int](w * h), new Array[Int](w * h), new Array[Int](w * h))
    val raster = im.getRaster
    val bands = raster.getNumBands
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val i = y * w + x
        if (bands >= 3 && im.getColorModel.getColorSpace.getType == java.awt.color.ColorSpace.TYPE_RGB
          && im.getType != java.awt.image.BufferedImage.TYPE_BYTE_INDEXED) {
          r(i) = raster.getSample(x, y, 0); g(i) = raster.getSample(x, y, 1); b(i) = raster.getSample(x, y, 2)
        } else if (bands == 1) {
          val v = raster.getSample(x, y, 0); r(i) = v; g(i) = v; b(i) = v
        } else {
          val rgb = im.getRGB(x, y)
          r(i) = (rgb >> 16) & 0xff; g(i) = (rgb >> 8) & 0xff; b(i) = rgb & 0xff
        }
        x += 1
      }
      y += 1
    }
    (r, g, b)
  }

  /** Orthonormal 2-D DCT-II of an n×n block (row-major). O(n³) per axis —
    * n is the feature grid (≤32), so microseconds per image.
    */
  private def dct2d(block: Array[Double], n: Int): Array[Double] = {
    val cos = Array.tabulate(n, n)((k, x) => math.cos((2 * x + 1) * k * math.Pi / (2.0 * n)))
    val scale = Array.tabulate(n)(k => if (k == 0) math.sqrt(1.0 / n) else math.sqrt(2.0 / n))
    val tmp = new Array[Double](n * n) // rows
    var y = 0
    while (y < n) {
      var k = 0
      while (k < n) {
        var s = 0.0; var x = 0
        while (x < n) { s += block(y * n + x) * cos(k)(x); x += 1 }
        tmp(y * n + k) = scale(k) * s
        k += 1
      }
      y += 1
    }
    val outArr = new Array[Double](n * n) // cols
    var u = 0
    while (u < n) {
      var k = 0
      while (k < n) {
        var s = 0.0; var yy = 0
        while (yy < n) { s += tmp(yy * n + u) * cos(k)(yy); yy += 1 }
        outArr(k * n + u) = scale(k) * s
        k += 1
      }
      u += 1
    }
    outArr
  }

  /** The luma→grid→DCT feature of one decoded image: the per-frame body
    * of [[decodeVideoFrames]]. */
  private def frameFeature(im: java.awt.image.BufferedImage,
                           gridN: Int, featN: Int): Array[Float] = {
    val (w, h) = (im.getWidth, im.getHeight)
    val (rB, gB, bB) = toRgbBands(im)
    // Rec.601 integer luma — the standard grayscale projection
    val lumaIm = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val lr = lumaIm.getRaster
    var i = 0
    while (i < w * h) {
      lr.setSample(i % w, i / w, 0, (rB(i) * 299 + gB(i) * 587 + bB(i) * 114) / 1000); i += 1
    }
    val grid = boxScaleBand(lumaIm.getRaster, 0, w, h, gridN, gridN)
    val coeffs = dct2d(grid.map(_.toDouble), gridN)
    val v = new Array[Float](featN * featN)
    var fy = 0
    while (fy < featN) {
      var fx = 0
      while (fx < featN) { v(fy * featN + fx) = coeffs(fy * gridN + fx).toFloat; fx += 1 }
      fy += 1
    }
    v
  }

  /** The INTEGER intensity grid feeding the image DCT — decode
    * (JDK readers) → Rec.601 integer luma `(299r + 587g + 114b) div 1000`
    * → [[boxScaleBand]]'s integer box filter (sum + n/2) div n — exposed
    * as its own stage because every number is EXACT INTEGER arithmetic on
    * the payload bytes: for an uncompressed fixture (BMP) a SQL oracle
    * can parse the pixels straight out of the hex payload and replay the
    * grid bit-for-bit, putting the image tier's decode + resize math
    * under the hash gate (the DCT tail stays spec-gated — `math.cos`
    * has no cross-engine bit contract). Output one row per grid cell:
    * (idCol, idx, luma), idx = row-major cell index. Undecodable rows
    * DROP (decode is a filter+map, the usual ingest semantics).
    */
  def lumaGrid(df: DataFrame, idCol: String, binCol: String,
               gridN: Int = 2): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val input = df.select(col(idCol).cast("long"), col(binCol))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
    input.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.flatMap { case (id, bytes) =>
        tryDecode(bytes).iterator.flatMap { im =>
          val (w, h) = (im.getWidth, im.getHeight)
          val (rB, gB, bB) = toRgbBands(im)
          val lumaIm = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val lr = lumaIm.getRaster
          var i = 0
          while (i < w * h) {
            lr.setSample(i % w, i / w, 0,
              (rB(i) * 299 + gB(i) * 587 + bB(i) * 114) / 1000); i += 1
          }
          boxScaleBand(lumaIm.getRaster, 0, w, h, gridN, gridN)
            .iterator.zipWithIndex
            .map { case (v, idx) => (id, idx.toLong, v.toLong) }
        }
      }
    }.toDF(idCol, "idx", "luma")
  }

  /** Quantization scale of the fixed-point DCT table: coefficients live in
    * units of 2^-14. */
  val dctScaleBits: Int = 14

  /** The FIXED-POINT DCT-II coefficient table for size `n`:
    * `Cq(k)(x) = floor(cos((2x+1)·k·π/(2n)) · 2^dctScaleBits + 0.5)` —
    * computed ONCE on the driver and embedded as integer literals in both
    * the Spark closure and the generated oracle SQL, so the transform
    * itself never touches libm at execution time (the lattice-quantizer
    * trick that made PQ oracle-replayable, applied to the DCT): every
    * downstream number is exact 64-bit integer arithmetic both engines
    * perform identically.
    */
  def dctCoeffTable(n: Int): Array[Array[Long]] =
    Array.tabulate(n, n)((k, x) =>
      math.floor(math.cos((2 * x + 1) * k * math.Pi / (2.0 * n))
        * (1L << dctScaleBits) + 0.5).toLong)

  /** HARD-GATED perceptual hash: decode → Rec.601 integer luma →
    * `gridN`×`gridN` integer box grid ([[lumaGrid]]'s stage) → fixed-point
    * integer 2-D DCT-II ([[dctCoeffTable]] — no scale normalization;
    * per-coefficient median comparison is scale-free) → pHash bits: AC
    * coefficient i (row-major, DC excluded) sets bit i−1 iff it exceeds
    * the LOWER MEDIAN of the AC coefficients (the value at 0-based sorted
    * index (m−1)/2 of the m = gridN²−1 ACs — an order statistic on exact
    * integers, so both engines agree even under ties). One row per
    * decodable image: (id, dc, median_ac, phash) — an integer perceptual
    * hash whose every bit the SQL oracle replays from raw payload bytes.
    * Undecodable rows DROP, as in [[lumaGrid]].
    *
    * Scale shape: map-only `mapPartitions` over the scan's partitioning
    * (one decode context per partition); no shuffle, no driver state —
    * the hash feeds banded Hamming dedup ([[graft.ops.DedupOps]]'
    * SimHash machinery) downstream.
    */
  def phashBits(df: DataFrame, idCol: String, binCol: String,
                gridN: Int = 4): DataFrame = {
    require(gridN >= 2 && gridN * gridN <= 65,
      "gridN in [2, 8]: pHash bits must fit one long")
    val spark = df.sparkSession
    import spark.implicits._
    val ct = dctCoeffTable(gridN)
    val input = df.select(col(idCol).cast("long"), col(binCol))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
    input.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.flatMap { case (id, bytes) =>
        tryDecode(bytes).map { im =>
          val (w, h) = (im.getWidth, im.getHeight)
          val (rB, gB, bB) = toRgbBands(im)
          val lumaIm = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val lr = lumaIm.getRaster
          var i = 0
          while (i < w * h) {
            lr.setSample(i % w, i / w, 0,
              (rB(i) * 299 + gB(i) * 587 + bB(i) * 114) / 1000); i += 1
          }
          val grid = boxScaleBand(lumaIm.getRaster, 0, w, h, gridN, gridN)
          // rows pass: tmp(y, u) = Σ_x grid(y, x) · C(u, x)
          val tmp = Array.ofDim[Long](gridN * gridN)
          var y = 0
          while (y < gridN) {
            var u = 0
            while (u < gridN) {
              var s = 0L; var x = 0
              while (x < gridN) { s += grid(y * gridN + x) * ct(u)(x); x += 1 }
              tmp(y * gridN + u) = s
              u += 1
            }
            y += 1
          }
          // cols pass: F(k, u) = Σ_y tmp(y, u) · C(k, y)
          val coefs = Array.ofDim[Long](gridN * gridN)
          var k = 0
          while (k < gridN) {
            var u = 0
            while (u < gridN) {
              var s = 0L; var yy = 0
              while (yy < gridN) { s += tmp(yy * gridN + u) * ct(k)(yy); yy += 1 }
              coefs(k * gridN + u) = s
              u += 1
            }
            k += 1
          }
          val acs = coefs.drop(1)
          val med = acs.sorted.apply((acs.length - 1) / 2)
          var bits = 0L
          var j = 0
          while (j < acs.length) {
            if (acs(j) > med) bits |= 1L << j
            j += 1
          }
          (id, coefs(0), med, bits)
        }
      }
    }.toDF(idCol, "dc", "median_ac", "phash")
  }

  /** One parsed AVI container: `avih` header facts plus the ordered video
    * frame payloads found in the `movi` list. */
  private final case class AviParsed(microsPerFrame: Long, declaredFrames: Long,
                                     frames: Vector[Array[Byte]])

  /** Minimal RIFF/AVI walker for the MJPEG class of containers — the one
    * video format decodable with ZERO non-JDK code, because each `00dc`/
    * `00db` movi chunk is a complete JPEG that `javax.imageio` reads.
    * Chunk grammar: fourcc + u32-LE size + data (even-padded); `LIST`
    * chunks carry a list type then subchunks; `avih` (in `hdrl`) holds
    * µs-per-frame / total frames / width / height at fixed offsets.
    * Returns None when the payload is not RIFF-AVI; malformed tails stop
    * the walk at the last well-formed chunk (partial downloads yield the
    * frames that survived).
    */
  private def parseAvi(bytes: Array[Byte]): Option[AviParsed] = {
    def u32(off: Int): Long =
      (bytes(off) & 0xffL) | (bytes(off + 1) & 0xffL) << 8 |
        (bytes(off + 2) & 0xffL) << 16 | (bytes(off + 3) & 0xffL) << 24
    def fcc(off: Int): String =
      new String(bytes, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (bytes.length < 12 || fcc(0) != "RIFF" || fcc(8) != "AVI ") return None
    var microsPerFrame = 0L; var totalFrames = 0L
    val frames = Vector.newBuilder[Array[Byte]]
    def isFrameChunk(f: String): Boolean =
      f.length == 4 && f(0).isDigit && f(1).isDigit &&
        (f.substring(2) == "dc" || f.substring(2) == "db")
    def walk(start: Int, end: Int, inMovi: Boolean): Unit = {
      var off = start
      while (off + 8 <= end) {
        val f = fcc(off)
        val size = u32(off + 4)
        val dataOff = off + 8
        val declaredEnd = dataOff.toLong + size
        if (f == "LIST" && size >= 4 && dataOff + 4 <= end) {
          // a LIST cut short by a partial download still yields its
          // surviving subchunks: recurse into the CLAMPED extent (bailing
          // here would drop every frame of a movi whose declared size
          // outruns the truncated payload); nothing follows a truncated
          // LIST, so stop after it
          val listType = fcc(dataOff)
          walk(dataOff + 4, math.min(declaredEnd, end.toLong).toInt,
            listType == "movi")
          if (declaredEnd > end) return
        } else if (declaredEnd > end) {
          return // truncated leaf chunk: stop at the last well-formed one
        } else if (f == "avih" && size >= 40) {
          microsPerFrame = u32(dataOff)
          totalFrames = u32(dataOff + 16)
        } else if (inMovi && isFrameChunk(f) && size >= 2 && {
            // JPEG SOI (the MJPEG class) or a full BMP file ('BM' — the
            // fixture-grade uncompressed class: every frame byte is
            // structurally addressable, so the SQL oracle can decode the
            // SAME frames; real uncompressed AVI carries raw DIBs, which
            // lack the file header ImageIO needs)
            val b0 = bytes(dataOff) & 0xff; val b1 = bytes(dataOff + 1) & 0xff
            (b0 == 0xff && b1 == 0xd8) || (b0 == 'B'.toInt && b1 == 'M'.toInt)
          }) {
          frames += java.util.Arrays.copyOfRange(bytes, dataOff,
            dataOff + size.toInt)
        }
        off = dataOff + size.toInt + (size.toInt & 1) // chunks pad to even
      }
    }
    walk(12, bytes.length, inMovi = false)
    Some(AviParsed(microsPerFrame, totalFrames, frames.result()))
  }

  /** REAL video decode for MJPEG-in-AVI — the one video container/codec
    * pair the JDK can take end to end (RIFF walking is plain byte
    * arithmetic; every frame chunk is a standalone JPEG for `ImageIO`):
    * parse the container, keep every `everyN`-th frame (thinning at the
    * real frame boundary), decode each kept frame, and emit one row per
    * frame with container facts and a luma-grid DCT embedding — so
    * frame streams feed [[SimilarityOps]] unchanged (consecutive-frame
    * cosine = scene-change detection; cross-video frame near-dup = clip
    * reuse). Non-AVI payloads, non-MJPEG codecs (H.264/VP9/AV1 need
    * ffmpeg-class decoders — a REAL boundary this module does not fake)
    * and undecodable frames DROP, the [[lumaGrid]] ingest semantics.
    *
    * Truncation is DETECTABLE, not silent: `n_frames` counts the frames
    * that survived the walk (a malformed tail — partial download — stops
    * at the last well-formed chunk) while `declared_frames` carries the
    * avih header's count, so `n_frames < declared_frames` flags a
    * truncated payload; `duration_ms` covers the surviving frames only.
    * Observed per-frame dims (`width`/`height`) are emitted rather than
    * the header's claim — the decoded pixels are the fact.
    *
    * Scale shape: `mapPartitions` with one decoder context per partition;
    * payload bytes never shuffle (the per-frame rows carry only metadata
    * + featN² floats); a video fans out to ≤ nFrames/everyN rows, so size
    * the partitioning on expected frame counts, not payload counts.
    */
  /** The container WALK alone — one row per sampled frame with the
    * frame's raw payload still attached: (id, frame_idx, sample_ord,
    * n_frames, declared_frames, micros_per_frame, frame). The composition
    * point for putting any still-image tail under a video corpus
    * ([[phashBits]] over the frame column is the q203 shape — container
    * facts AND the per-frame integer pHash under one oracle gate);
    * [[decodeVideoFrames]] stays the decode-fused form whose frames
    * never leave the partition. Same drop semantics: non-AVI payloads
    * vanish, truncation is detectable as n_frames < declared_frames.
    *
    * INDEX SEMANTICS: `frame_idx` is the frame's CONTAINER-ORDER index —
    * at `everyN > 1` it is deliberately sparse (0, everyN, 2·everyN, …),
    * preserving temporal position (frame_idx · micros_per_frame = the
    * frame's timestamp). Consumers that need a DENSE per-video ordinal —
    * composing collision-free ids like `vid_id · k + ordinal`, or pairing
    * "consecutive sampled frames" — should use `sample_ord` (0, 1, 2, …
    * over the sampled rows), not frame_idx.
    */
  def videoFrames(df: DataFrame, idCol: String, binCol: String,
                  everyN: Int = 1): DataFrame = {
    require(everyN >= 1, s"everyN must be >= 1, got $everyN")
    val spark = df.sparkSession
    import spark.implicits._
    val input = df.select(col(idCol).cast("long"), col(binCol))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
    input.flatMap { case (id, bytes) =>
      Option(bytes).flatMap(parseAvi).iterator.flatMap { avi =>
        avi.frames.iterator.zipWithIndex
          .filter { case (_, i) => i % everyN == 0 }
          .zipWithIndex
          .map { case ((frame, i), ord) =>
            (id, i, ord.toLong, avi.frames.length.toLong,
              avi.declaredFrames, avi.microsPerFrame, frame)
          }
      }
    }.toDF(idCol, "frame_idx", "sample_ord", "n_frames", "declared_frames",
      "micros_per_frame", "frame")
  }

  def decodeVideoFrames(df: DataFrame, idCol: String, binCol: String,
                        everyN: Int = 1, gridN: Int = 32,
                        featN: Int = 8): DataFrame = {
    require(everyN >= 1, s"everyN must be >= 1, got $everyN")
    val spark = df.sparkSession
    import spark.implicits._
    val input = df.select(col(idCol).cast("long"), col(binCol))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
    input.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.flatMap { case (id, bytes) =>
        Option(bytes).flatMap(parseAvi).iterator.flatMap { avi =>
          avi.frames.iterator.zipWithIndex
            .filter { case (_, i) => i % everyN == 0 }
            .flatMap { case (jpeg, i) =>
              tryDecode(jpeg).map { im =>
                (id, i, avi.frames.length.toLong, avi.declaredFrames,
                  avi.microsPerFrame,
                  avi.microsPerFrame * avi.frames.length / 1000L,
                  im.getWidth, im.getHeight, frameFeature(im, gridN, featN))
              }
            }
        }
      }
    }.toDF(idCol, "frame_idx", "n_frames", "declared_frames",
      "micros_per_frame", "duration_ms", "width", "height", "embedding")
  }

  /** Decoded-audio record: container facts + signal-level features. */
  final case class DecodedAudio(id: Long, channels: Int, sampleRateHz: Int,
                                bitsPerSample: Int, nFrames: Long,
                                durationMs: Long, rms: Double, peak: Double,
                                zeroCrossings: Long)

  /** REAL audio decode for the containers the JDK ships readers for (WAV,
    * AIFF, AU — `javax.sound.sampled.AudioSystem`, zero new dependencies):
    * parse the container, stream the PCM frames, and emit the quality
    * features an audio-corpus filter runs on — RMS level and peak (silence
    * / clipping detection), zero-crossing count of channel 0 (a crude
    * pitch/noisiness proxy), frame count and duration. Supports 8-bit and
    * 16-bit integer PCM (both endiannesses, signed/unsigned); payloads the
    * JDK cannot parse — compressed codecs, truncated bytes, NULLs — are
    * DROPPED, the same filter+map ingest semantics as [[lumaGrid]].
    *
    * Scale shape: mapPartitions, frames streamed through a fixed 8 KiB
    * buffer (an hour-long take never materializes as samples), bytes never
    * shuffle; output is one short typed row per payload.
    */
  def decodeAudio(df: DataFrame, idCol: String, binCol: String): Dataset[DecodedAudio] = {
    val input = df.select(col(idCol).cast("long"), col(binCol))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.BINARY))
    input.mapPartitions { rows =>
      import javax.sound.sampled.{AudioFormat, AudioSystem}
      rows.flatMap { case (id, bytes) =>
        val parsed =
          if (bytes == null) None
          else try {
            val in = AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(bytes))
            val f = in.getFormat
            val enc = f.getEncoding
            val ok = (enc == AudioFormat.Encoding.PCM_SIGNED ||
              enc == AudioFormat.Encoding.PCM_UNSIGNED) &&
              (f.getSampleSizeInBits == 8 || f.getSampleSizeInBits == 16)
            if (!ok) { in.close(); None } else Some((in, f))
          } catch { case scala.util.control.NonFatal(_) => None }
        parsed.map { case (in, f) =>
          val (ch, bits) = (f.getChannels, f.getSampleSizeInBits)
          val (signed, bigEndian) =
            (f.getEncoding == AudioFormat.Encoding.PCM_SIGNED, f.isBigEndian)
          val bytesPerSample = bits / 8
          val frameBytes = f.getFrameSize
          val buf = new Array[Byte](8192 - 8192 % math.max(frameBytes, 1))
          var sumSq = 0.0; var peak = 0.0; var zc = 0L; var nFrames = 0L
          var prevSign = 0
          var read = in.read(buf)
          while (read > 0) {
            var off = 0
            while (off + frameBytes <= read) {
              var c = 0
              while (c < ch) {
                val base = off + c * bytesPerSample
                val raw =
                  if (bits == 8)
                    if (signed) buf(base).toInt else (buf(base) & 0xff) - 128
                  else {
                    val (b0, b1) =
                      if (bigEndian) (buf(base), buf(base + 1))
                      else (buf(base + 1), buf(base))
                    // signed: sign-extend the high byte; unsigned: both
                    // bytes are magnitude, then re-center
                    if (signed) (b0 << 8) | (b1 & 0xff)
                    else (((b0 & 0xff) << 8) | (b1 & 0xff)) - 32768
                  }
                val s = raw.toDouble / (if (bits == 8) 128.0 else 32768.0)
                sumSq += s * s
                if (math.abs(s) > peak) peak = math.abs(s)
                if (c == 0) {
                  val sign = java.lang.Integer.signum(raw)
                  if (sign != 0 && prevSign != 0 && sign != prevSign) zc += 1
                  if (sign != 0) prevSign = sign
                }
                c += 1
              }
              off += frameBytes
              nFrames += 1
            }
            read = in.read(buf)
          }
          in.close()
          val rate = math.round(f.getSampleRate).toInt
          DecodedAudio(id, ch, rate, bits, nFrames,
            if (rate > 0) nFrames * 1000L / rate else 0L,
            if (nFrames > 0) math.sqrt(sumSq / (nFrames * ch)) else 0.0,
            peak, zc)
        }
      }
    }(Encoders.product[DecodedAudio])
  }

  // ---------- Content-defined chunking (CDC) — binary-level dedup ----------

  /** 40-bit rolling-state mask of the gear hash: keeps every engine's
    * arithmetic inside non-overflowing signed-64 range (`h·2 + gear <
    * 2^41`), because SQL engines RAISE on BIGINT overflow where Java
    * wraps — the [[graft.ops.DetHash]] portability rule applied to CDC.
    */
  val GearStateMask: Long = (1L << 40) - 1

  private val GearValueMask: Long = (1L << 39) - 1
  private val GearSeed: Long = 0x67656172636463L // "gearcdc"

  /** splitmix64 finalizer — pure wrapping arithmetic, so the gear table is
    * derivable in ANY language for a cross-engine oracle (java.util.Random
    * would tie it to the JVM).
    */
  private def splitmix64(v: Long): Long = {
    var x = v + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** The 256-entry gear table: `splitmix64(seed + byte) & (2^39-1)` —
    * fixed public constants, embedded as literals in the oracle via
    * [[gearSqlValues]].
    */
  private[graft] val gearTable: Array[Long] =
    Array.tabulate(256)(i => splitmix64(GearSeed + i) & GearValueMask)

  /** The gear table as a SQL VALUES body `(0,g0),(1,g1),...` for the
    * oracle's `gear(b, g)` CTE.
    */
  def gearSqlValues: String =
    gearTable.zipWithIndex.map { case (g, i) => s"($i,$g)" }.mkString(",")

  /** CONTENT-DEFINED CHUNKING over binary payloads (gear hash — the
    * FastCDC/ddelta family): boundaries fall where a per-byte rolling
    * fingerprint hits `maskBits` low zero bits, so a byte INSERTION shifts
    * only the chunk it lands in and boundaries RESYNCHRONIZE — the
    * property that makes chunk-hash dedup robust to edits where fixed-size
    * blocks lose alignment forever. The binary mirror of the text tier's
    * shingle dedup, for the payloads [[lumaGrid]]/[[decodeAudio]] ride
    * in: re-encoded containers, re-uploaded files, appended-footer copies
    * share most chunks even when whole-blob hashes all differ.
    *
    * Rule (canonical, replayed verbatim by the oracle's recursive CTE):
    * per payload, h := 0 at each chunk start; per byte
    * `h = (h·2 + gear(byte)) & (2^40-1)`; cut AFTER the byte when
    * `len ≥ minLen && (h & (2^maskBits - 1)) == 0` or `len == maxLen`;
    * the final partial chunk always emits. Expected chunk length ≈
    * `minLen + 2^maskBits`. Emits
    * `(id, chunk_idx, chunk_off, chunk_len, chunk_hash)` with
    * `chunk_hash` = md5 hex of the chunk bytes (the cross-engine hash).
    *
    * Scale shape: ONE pass over payload bytes, map-only (`mapPartitions`
    * — per-byte imperative state is the documented legitimate case);
    * payload bytes never shuffle, only model-sized chunk rows leave the
    * scan. Chunk hashing is per-chunk md5 inside the same pass's
    * projection. At 100 TB this is scan-bound, embarrassingly parallel.
    */
  def cdcChunks(df: DataFrame, payloadCol: String = "payload",
                idCol: String = "doc_id", minLen: Int = 32,
                maskBits: Int = 6, maxLen: Int = 256): DataFrame = {
    require(minLen >= 1 && maxLen >= minLen, "1 <= minLen <= maxLen")
    require(maskBits >= 1 && maskBits <= 30, "maskBits in [1, 30]")
    val spark = df.sparkSession
    import spark.implicits._
    val mask = (1L << maskBits) - 1
    val input = df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
    input.mapPartitions { rows =>
      val gear = gearTable
      rows.flatMap { case (id, bytes) =>
        if (bytes == null || bytes.isEmpty) Iterator.empty
        else {
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(Long, Int, Int, Int, Array[Byte])]
          var start = 0
          var h = 0L
          var i = 0
          while (i < bytes.length) {
            h = ((h << 1) + gear(bytes(i) & 0xFF)) & GearStateMask
            val len = i - start + 1
            if ((len >= minLen && (h & mask) == 0L) || len == maxLen) {
              out += ((id, out.length, start, len,
                java.util.Arrays.copyOfRange(bytes, start, i + 1)))
              start = i + 1
              h = 0L
            }
            i += 1
          }
          if (start < bytes.length)
            out += ((id, out.length, start, bytes.length - start,
              java.util.Arrays.copyOfRange(bytes, start, bytes.length)))
          out.iterator
        }
      }
    }.toDF(idCol, "chunk_idx", "chunk_off", "chunk_len", "chunk_bytes")
      .withColumn("chunk_hash", md5(col("chunk_bytes")))
      .drop("chunk_bytes")
  }

  /** Corpus-level CDC DEDUP datasheet over a [[cdcChunks]] frame — the
    * number a storage/transfer planner reads: how many bytes the corpus
    * really contains once shared chunks count once. One row:
    * `(total_chunks, distinct_chunks, total_bytes, unique_bytes,
    * dedup_ratio_micro)` with the ratio the exact integer
    * `(10^6 · unique_bytes) div total_bytes`. A chunk's length is
    * content-determined (same hash ⇒ same bytes ⇒ same length), so the
    * distinct rollup carries `min(chunk_len)` = the length.
    *
    * Scale shape: one chunk-hash-keyed aggregation + two single-row
    * rollups joined by broadcast — no corpus-wide sort, no window.
    */
  def cdcDedupStats(chunks: DataFrame): DataFrame = {
    val tot = chunks.agg(
      count(lit(1)).as("total_chunks"),
      sum(col("chunk_len")).cast("long").as("total_bytes"))
    val dst = chunks.groupBy(col("chunk_hash"))
      .agg(min(col("chunk_len")).as("l"))
      .agg(count(lit(1)).as("distinct_chunks"),
        sum(col("l")).cast("long").as("unique_bytes"))
    tot.join(broadcast(dst))
      // decimal(38,0): 10^6 · corpus bytes overflows signed-64 at ~9 PB-ish
      // totals — headroom is free here, the frame is one row
      .withColumn("dedup_ratio_micro",
        expr("(CAST(1000000 AS DECIMAL(38,0)) * CAST(unique_bytes AS DECIMAL(38,0)))" +
          " div CAST(total_bytes AS DECIMAL(38,0))"))
      .select("total_chunks", "distinct_chunks", "total_bytes",
        "unique_bytes", "dedup_ratio_micro")
  }

  /** Blob NEAR-DUP pairs by shared-chunk Jaccard — the binary mirror of
    * [[DedupOps.jaccardPairs]] (same size-carrying inverted-index kernel,
    * same `maxDf` hot-token guard and its documented recall trade):
    * unordered payload pairs whose DISTINCT-chunk-hash sets overlap at
    * `minJaccard` or more. Catches re-encoded/retouched/appended copies
    * whose whole-blob hashes differ but whose CDC chunks mostly agree.
    *
    * Scale shape: chunk-hash-keyed inverted self-join on candidate-
    * generating (non-hot) hashes, per-pair counts aggregated with set
    * sizes carried on the inverted rows — never all-pairs.
    */
  def blobPairsByChunks(chunks: DataFrame, idCol: String = "doc_id",
                        minJaccard: Double = 0.5,
                        maxDf: Long = 100000L): DataFrame = {
    val sets = chunks.select(col(idCol).cast("long").as("id"), col("chunk_hash"))
      .distinct()
    // id-keyed co-partitioned join (NOT broadcast: one row per blob is
    // corpus-sized); only the hot-hash exclusion set below is tiny
    val sized = sets.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val inv = sets.join(sized, Seq("id"))
    val dfCounts = inv.groupBy(col("chunk_hash")).agg(count(lit(1)).as("tok_df"))
    val capped = inv.join(
      broadcast(dfCounts.filter(col("tok_df") > maxDf)), Seq("chunk_hash"), "left_anti")
    val l = capped.select(col("chunk_hash"), col("id").as("a"), col("sz").as("sza"))
    val r = capped.select(col("chunk_hash"), col("id").as("b"), col("sz").as("szb"))
    l.join(r, Seq("chunk_hash"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"), col("sza"), col("szb"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sza") + col("szb") - col("inter")))
      .filter(col("jaccard") >= lit(minJaccard))
      .select(col("a"), col("b"), col("inter"), col("jaccard"))
  }
}
