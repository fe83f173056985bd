package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: treat image/audio/video payloads as opaque
  * `binary` columns with typed metadata, and run decode/feature-extract as
  * partition-batched transforms.
  *
  * What is REAL vs stubbed, per modality — the honest JVM boundary:
  *  - IMAGE: fully real. [[decodeImages]] runs `javax.imageio.ImageIO`
  *    (JDK PNG + JPEG codecs, zero new dependencies) — dims, channels,
  *    per-channel sums, nearest-neighbor thumbnail.
  *  - AUDIO: fully real for WAV/PCM. [[decodeAudio]] runs
  *    `javax.sound.sampled.AudioSystem` — format metadata + integer
  *    signal stats.
  *  - VIDEO: container demux real ([[demuxVideo]] walks ISO-BMFF/MP4
  *    boxes, bounds-checked, largesize/run-to-end aware — the metadata
  *    pass that prunes payloads before expensive decode at scale), and
  *    frame DECODE real for intra-coded tracks ([[decodeVideoFrames]]:
  *    stsz/stco sample table resolved, each MJPEG / M-PNG sample through
  *    the real ImageIO decoder). Only genuinely opaque codecs the JVM
  *    cannot decode (H.264 etc.) remain behind [[decodeStub]].
  * Every decoder runs inside a `mapPartitions` batch — one iterator
  * pass per partition, fixed-width output, binary column projected only
  * where needed (lazy column, SURVEY S6) — and treats corrupt payloads
  * as data (sentinel rows), never task failures.
  */
object Multimodal {

  /** Typed record for the decode pipeline. */
  case class BinaryDoc(doc_id: Long, content: Array[Byte])
  case class DecodedFeatures(doc_id: Long, n_bytes: Int, features: Array[Double])

  /** Attach an opaque binary payload column (here synthesized from text —
    * in production this is the raw image/audio bytes column). */
  def withBinaryPayload(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("doc_id"), encode(col(textCol), "UTF-8").as("content"))

  /** Columnar metadata over the binary payload — stays in codegen, never
    * deserializes the blob into the JVM heap twice. */
  def binaryMetadata(bin: DataFrame): DataFrame =
    bin.select(
      col("doc_id"),
      length(col("content")).cast("long").as("n_bytes"),
      lower(hex(substring(col("content"), 1, 8))).as("magic_hex"))

  /** Frame sampling (video-style): split the payload into fixed-size
    * frames and keep every `every`-th one. The slicing itself is pure
    * Catalyst (explode over a frame-index sequence + byte substring) —
    * only the per-frame DECODE needs a codec, so at scale the sampler
    * prunes frames before any expensive decode runs, and the decode stage
    * receives (doc_id, frame_idx, frame_bytes) rows it can batch freely. */
  def sampleFrames(bin: DataFrame, frameBytes: Int, every: Int): DataFrame =
    bin.withColumn("__nf",
        ceil(length(col("content")).cast("double") / frameBytes).cast("long"))
      .filter(col("__nf") > 0)
      .withColumn("frame_idx", explode(sequence(lit(0L), col("__nf") - 1)))
      .filter(col("frame_idx") % every === 0)
      .select(col("doc_id"), col("frame_idx"),
        expr(s"substring(content, cast(frame_idx * $frameBytes + 1 as int), $frameBytes)")
          .as("frame_bytes"))

  // ---------------------------------------------------------------------
  // Real image decode (JDK ImageIO — PNG/JPEG)
  // ---------------------------------------------------------------------

  case class ImageDoc(doc_id: Long, image: Array[Byte])
  case class DecodedImage(doc_id: Long, width: Int, height: Int, channels: Int,
                          sum_r: Long, sum_g: Long, sum_b: Long,
                          thumb_w: Int, thumb_h: Int, thumb_sum: Long)
  case class ImageHash(doc_id: Long, phash: String, crop_md5: String)

  /** Perceptual + exact signatures over the top-left 8×8 crop of a REAL
    * decoded image (every synthetic image is ≥ 8×8, so the crop always
    * exists; a production variant resizes first, which is
    * interpolation-dependent and so not engine-replayable — the crop
    * form keeps the whole pipeline arithmetic):
    *
    *  - `phash`: 64-bit average-hash, bit(x,y) = [64·gray > Σgray]
    *    (division-free, no rounding; gray = plain channel sum), emitted
    *    as a 64-char bit string — portable, and ~8 bytes after parquet
    *    dictionary encoding. aHash is DELIBERATELY coarse: it is
    *    brightness-pattern-invariant (a constant channel shift leaves
    *    every bit unchanged), so it groups visually-similar images —
    *    the CANDIDATE stage of image dedup, same role as minhash bands.
    *  - `crop_md5`: md5 of the comma-joined gray values in (y, x)
    *    order — the exact-verify key inside a candidate bucket (both
    *    engines hash the identical string, so the verify is portable).
    *
    * Decode failures and sub-crop images emit ("", "") sentinels, the
    * decodeImages -1 policy. */
  def imageAHash(spark: SparkSession, images: Dataset[ImageDoc]): Dataset[ImageHash] = {
    import spark.implicits._
    images.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { d =>
        val img =
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(d.image))
          catch { case scala.util.control.NonFatal(_) => null }
        if (img == null || img.getWidth < 8 || img.getHeight < 8)
          ImageHash(d.doc_id, "", "")
        else {
          val g = new Array[Long](64)
          var s = 0L
          var y = 0
          while (y < 8) {
            var x = 0
            while (x < 8) {
              val rgb = img.getRGB(x, y)
              val v = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
              g(y * 8 + x) = v; s += v; x += 1
            }
            y += 1
          }
          val bits = new java.lang.StringBuilder(64)
          var i = 0
          while (i < 64) { bits.append(if (g(i) * 64 > s) '1' else '0'); i += 1 }
          md.reset()
          val digest = md.digest(g.mkString(",").getBytes("UTF-8"))
          val hex = digest.map("%02x".format(_)).mkString
          ImageHash(d.doc_id, bits.toString, hex)
        }
      }
    }
  }

  /** Deterministic synthetic RGB image for `id`: dims and every pixel are
    * pure integer arithmetic in the id, so an external oracle can predict
    * the DECODED stats without running a codec — which is exactly what
    * makes the decode verifiable end-to-end (a wrong or lossy decode
    * cannot reproduce the formula sums). */
  def syntheticPixelImage(id: Long): java.awt.image.BufferedImage = {
    val w = (8 + id % 9).toInt
    val h = (8 + id % 7).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((id * 31 + x * 7 + y * 13) % 256).toInt
        val g = ((id * 17 + x * 5 + y * 11) % 256).toInt
        val b = ((id * 23 + x * 3 + y * 19) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    img
  }

  /** Encode a BufferedImage with the named ImageIO writer ("png"/"jpg"). */
  def encodeImage(img: java.awt.image.BufferedImage, format: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    if (!javax.imageio.ImageIO.write(img, format, bos))
      throw new IllegalArgumentException(s"no ImageIO writer for format '$format'")
    bos.toByteArray
  }

  /** Attach a REAL binary image column: per-row deterministic PNG bytes
    * (the production analogue is reading the raw image bytes column from
    * the lake). Runs as one `mapPartitions` pass — encoder instantiation
    * and byte buffers amortize per partition, not per row. */
  def withPngPayload(spark: SparkSession, ids: DataFrame, idCol: String): Dataset[ImageDoc] = {
    import spark.implicits._
    ids.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      it.map(id => ImageDoc(id, encodeImage(syntheticPixelImage(id), "png")))
    }
  }

  /** REAL image decode: `ImageIO.read` (PNG/JPEG via the JDK's built-in
    * codecs) inside a partition batch → dims, channel count, per-channel
    * pixel sums, and a bounded `thumbW`×`thumbH` nearest-neighbor
    * thumbnail (deterministic resample: source pixel at floor(i·src/dst),
    * so the thumbnail is oracle-predictable too — a Graphics2D scale
    * would be renderer-dependent). Undecodable rows surface as width=-1
    * rather than killing the task: at 100 TB some payloads WILL be
    * corrupt, and one bad blob must not fail a 10-hour job. */
  def decodeImages(spark: SparkSession, images: Dataset[ImageDoc],
                   thumbW: Int = 4, thumbH: Int = 4): Dataset[DecodedImage] = {
    import spark.implicits._
    images.mapPartitions { it =>
      it.map { d =>
        // NonFatal, not just IOException: JDK ImageIO codecs throw
        // IllegalArgumentException / ArrayIndexOutOfBoundsException /
        // NegativeArraySizeException on truncated payloads, and those must
        // become sentinel rows too, not task failures
        val img =
          try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(d.image))
          catch { case scala.util.control.NonFatal(_) => null }
        if (img == null) DecodedImage(d.doc_id, -1, -1, 0, 0L, 0L, 0L, 0, 0, 0L)
        else {
          val w = img.getWidth; val h = img.getHeight
          var sr = 0L; var sg = 0L; var sb = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y)
              sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
              x += 1
            }
            y += 1
          }
          var ts = 0L
          var ty = 0
          while (ty < thumbH) {
            var tx = 0
            while (tx < thumbW) {
              val rgb = img.getRGB(tx * w / thumbW, ty * h / thumbH)
              ts += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
              tx += 1
            }
            ty += 1
          }
          DecodedImage(d.doc_id, w, h, img.getRaster.getNumBands,
            sr, sg, sb, thumbW, thumbH, ts)
        }
      }
    }
  }

  // ---------------------------------------------------------------------
  // Real audio decode (JDK javax.sound.sampled — WAV/PCM)
  // ---------------------------------------------------------------------

  case class AudioDoc(doc_id: Long, audio: Array[Byte])
  case class DecodedAudio(doc_id: Long, sample_rate: Int, channels: Int,
                          bits: Int, n_samples: Long, sum_abs: Long, peak: Int)

  /** Deterministic synthetic 16-bit mono PCM signal for `id`: length and
    * every sample are integer arithmetic in the id, so the DECODED stats
    * are oracle-predictable (same strategy as [[syntheticPixelImage]]). */
  def syntheticPcm(id: Long): Array[Int] = {
    val n = (2048 + (id % 7) * 256).toInt
    Array.tabulate(n)(t => (((id * 31 + t * 7) % 4096) - 2048).toInt)
  }

  /** Encode PCM samples as a real WAV container via the JDK's
    * AudioSystem writer (RIFF header + 16-bit little-endian frames). */
  def encodeWav(samples: Array[Int], sampleRate: Float = 8000f): Array[Byte] = {
    val bytes = new Array[Byte](samples.length * 2)
    var t = 0
    while (t < samples.length) {
      bytes(2 * t) = (samples(t) & 0xff).toByte
      bytes(2 * t + 1) = ((samples(t) >> 8) & 0xff).toByte
      t += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(bytes), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Attach a REAL binary audio column: per-row deterministic WAV bytes
    * (production analogue: the raw audio bytes column). */
  def withWavPayload(spark: SparkSession, ids: DataFrame, idCol: String): Dataset[AudioDoc] = {
    import spark.implicits._
    ids.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      it.map(id => AudioDoc(id, encodeWav(syntheticPcm(id))))
    }
  }

  /** REAL audio decode: `AudioSystem.getAudioInputStream` (the JDK's WAV
    * codec) inside a partition batch → format metadata plus integer
    * signal stats (total |sample| sum, peak) that an oracle can predict.
    * Undecodable rows surface as sample_rate=-1 rather than failing the
    * task — same corrupt-blob policy as [[decodeImages]]. */
  def decodeAudio(spark: SparkSession, docs: Dataset[AudioDoc]): Dataset[DecodedAudio] = {
    import spark.implicits._
    docs.mapPartitions { it =>
      it.map { d =>
        try {
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(d.audio))
          val fmt = ais.getFormat
          val bytes = ais.readAllBytes()
          val bps = fmt.getSampleSizeInBits / 8
          val n = bytes.length / (bps * fmt.getChannels)
          var sumAbs = 0L; var peak = 0
          if (fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian) {
            var i = 0
            while (i + 1 < bytes.length) {
              val v = ((bytes(i + 1) << 8) | (bytes(i) & 0xff)).toShort.toInt
              val a = math.abs(v)
              sumAbs += a
              if (a > peak) peak = a
              i += 2
            }
          }
          DecodedAudio(d.doc_id, fmt.getSampleRate.toInt, fmt.getChannels,
            fmt.getSampleSizeInBits, n.toLong, sumAbs, peak)
        } catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException |
               _: java.io.IOException =>
            DecodedAudio(d.doc_id, -1, 0, 0, 0L, 0L, 0)
        }
      }
    }
  }

  case class AudioFingerprint(doc_id: Long, afp: String, energy_md5: String)

  /** Acoustic fingerprint over a REAL decoded WAV — the chromaprint-style
    * candidate/verify pair, mirroring [[imageAHash]]'s contract for the
    * audio modality: split the first 2048 samples (every synthetic clip
    * has ≥ 2048) into 32 windows of 64, take per-window absolute-energy
    * sums, then
    *  - `afp`: 31-bit energy-CONTOUR fingerprint, bit w = [E_w > E_{w-1}]
    *    — level-invariant (a constant gain shift preserves every bit),
    *    the coarse candidate bucket;
    *  - `energy_md5`: md5 of the comma-joined energies in window order —
    *    the exact verify key (both engines hash the identical string).
    * Pure integer arithmetic end to end, so an external oracle predicts
    * every bit and byte from the sample formula; only a correct 16-bit
    * little-endian PCM decode can reproduce them. Decode failures or
    * short clips emit ("", "") sentinels. */
  def audioFingerprint(spark: SparkSession, docs: Dataset[AudioDoc]): Dataset[AudioFingerprint] = {
    import spark.implicits._
    docs.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { d =>
        try {
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(d.audio))
          val fmt = ais.getFormat
          val bytes = ais.readAllBytes()
          if (fmt.getSampleSizeInBits != 16 || fmt.isBigEndian ||
              fmt.getChannels != 1 || bytes.length < 2048 * 2)
            AudioFingerprint(d.doc_id, "", "")
          else {
            val e = new Array[Long](32)
            var w = 0
            while (w < 32) {
              var s = 0L
              var t = 0
              while (t < 64) {
                val i = 2 * (w * 64 + t)
                val v = ((bytes(i + 1) << 8) | (bytes(i) & 0xff)).toShort.toInt
                s += math.abs(v); t += 1
              }
              e(w) = s; w += 1
            }
            val bits = new java.lang.StringBuilder(31)
            var j = 1
            while (j < 32) { bits.append(if (e(j) > e(j - 1)) '1' else '0'); j += 1 }
            md.reset()
            val hex = md.digest(e.mkString(",").getBytes("UTF-8"))
              .map("%02x".format(_)).mkString
            AudioFingerprint(d.doc_id, bits.toString, hex)
          }
        } catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException |
               _: java.io.IOException =>
            AudioFingerprint(d.doc_id, "", "")
        }
      }
    }
  }

  // ---------------------------------------------------------------------
  // Real video container demux (ISO-BMFF / MP4 box walk — pure JVM)
  // ---------------------------------------------------------------------

  case class VideoDoc(doc_id: Long, video: Array[Byte])
  case class DemuxedVideo(doc_id: Long, n_boxes: Int, n_tracks: Int,
                          timescale: Long, duration: Long,
                          mdat_bytes: Long, top_types: String)

  /** Box types that CONTAIN other boxes (walked recursively). */
  private val containerBoxes = Set("moov", "trak", "mdia", "minf", "stbl",
    "edts", "udta", "moof", "traf")

  /** Big-endian unsigned 32-bit field at byte `o`. */
  private def readU32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)

  /** The bounds-checked recursive ISO-BMFF box walk both video readers
    * run: 32-bit sizes, 64-bit `largesize`, size-0 run-to-end boxes,
    * [[containerBoxes]] walked recursively up to nesting depth 8, and no
    * trailing bytes at any level. `visit(type, payloadStart, payloadEnd,
    * depth)` sees every box in file order, before its children. A
    * malformed container throws IllegalArgumentException (a truncated
    * payload field IndexOutOfBoundsException). */
  private def walkBoxes(b: Array[Byte])(visit: (String, Int, Int, Int) => Unit): Unit = {
    def walk(start: Long, end: Long, depth: Int): Unit = {
      if (depth > 8) throw new IllegalArgumentException("box nesting > 8")
      var off = start
      while (off + 8 <= end) {
        val size0 = readU32(b, off.toInt)
        val typ = new String(b, off.toInt + 4, 4, "US-ASCII")
        val (size, hdr) =
          if (size0 == 1) { // 64-bit largesize
            if (off + 16 > end) throw new IllegalArgumentException("truncated largesize")
            ((readU32(b, off.toInt + 8) << 32) | readU32(b, off.toInt + 12), 16L)
          } else if (size0 == 0) (end - off, 8L) // runs to end
          else (size0, 8L)
        if (size < hdr || off + size > end)
          throw new IllegalArgumentException(s"bad box size $size at $off")
        visit(typ, (off + hdr).toInt, (off + size).toInt, depth)
        if (containerBoxes.contains(typ)) walk(off + hdr, off + size, depth + 1)
        off += size
      }
      if (off != end) throw new IllegalArgumentException("trailing bytes")
    }
    walk(0L, b.length.toLong, 0)
  }

  /** The big-endian box writer both synthetic MP4 generators build with. */
  private final class BoxWriter extends java.io.ByteArrayOutputStream {
    def u32(v: Long): Unit = {
      write(((v >> 24) & 0xff).toInt); write(((v >> 16) & 0xff).toInt)
      write(((v >> 8) & 0xff).toInt); write((v & 0xff).toInt)
    }
    def fourcc(s: String): Unit = write(s.getBytes("US-ASCII"))
    private val matrix = Seq(0x00010000L, 0, 0, 0, 0x00010000L, 0, 0, 0, 0x40000000L)
    def ftyp(): Unit = {
      u32(20); fourcc("ftyp"); fourcc("isom"); u32(0x200); fourcc("isom")
    }
    /** mvhd v0 (108 bytes): version/flags, creation, modification,
      * timescale, duration, rate, volume+reserved, reserved, matrix,
      * predefined, next_track_id. */
    def mvhd(timescale: Long, duration: Long, nextTrackId: Long): Unit = {
      u32(108); fourcc("mvhd"); u32(0); u32(0); u32(0); u32(timescale)
      u32(duration); u32(0x00010000); u32(0x01000000); u32(0); u32(0)
      matrix.foreach(u32)
      (0 until 6).foreach(_ => u32(0))
      u32(nextTrackId)
    }
    /** tkhd v0 (92 bytes, 84-byte payload). */
    def tkhd(trackId: Long, duration: Long): Unit = {
      u32(92); fourcc("tkhd"); u32(0); u32(0); u32(0); u32(trackId); u32(0)
      u32(duration); u32(0); u32(0); u32(0); u32(0)
      matrix.foreach(u32)
      u32(0); u32(0)
    }
  }

  /** Deterministic minimal-but-valid MP4: ftyp + moov(mvhd, n traks with
    * tkhd) + mdat, every field integer arithmetic in the id. The box
    * structure is real ISO-BMFF (length-prefixed fourcc boxes, versioned
    * full boxes), so [[walkBoxes]] exercises the same code path a real
    * MP4 takes. */
  def syntheticMp4(id: Long): Array[Byte] = {
    val bb = new BoxWriter
    import bb.{fourcc, u32}
    bb.ftyp()
    val nTracks = (1 + id % 3).toInt
    val duration = 5000 + (id * 7) % 1000
    u32(8 + 108 + nTracks * 100L); fourcc("moov") // trak box = 8 + 92 tkhd
    bb.mvhd(1000 + id % 100, duration, nTracks + 1L)
    for (i <- 0 until nTracks) {
      u32(8 + 92L); fourcc("trak")
      bb.tkhd(i + 1L, duration)
    }
    // mdat
    val n = (100 + id % 50).toInt
    u32(8 + n.toLong); fourcc("mdat")
    var j = 0
    while (j < n) { bb.write(((id * 13 + j * 7) % 256).toInt); j += 1 }
    bb.toByteArray
  }

  def withMp4Payload(spark: SparkSession, ids: DataFrame, idCol: String): Dataset[VideoDoc] = {
    import spark.implicits._
    ids.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      it.map(id => VideoDoc(id, syntheticMp4(id)))
    }
  }

  /** REAL container demux: the [[walkBoxes]] ISO-BMFF walk collecting
    * box count, track count, movie-header timescale/duration, and mdat
    * payload size. This is the demux level a
    * JVM can do honestly without a codec — frame DECODE stays behind
    * [[decodeStub]], and at scale this metadata pass is what prunes
    * payloads before any expensive decode stage. Malformed payloads
    * surface as n_boxes=-1 rows, same corrupt-blob policy as the image
    * and audio decoders. */
  def demuxVideo(spark: SparkSession, docs: Dataset[VideoDoc]): Dataset[DemuxedVideo] = {
    import spark.implicits._
    docs.mapPartitions { it =>
      it.map { d =>
        try {
          val b = d.video
          var nBoxes = 0; var nTracks = 0
          var timescale = 0L; var duration = 0L; var mdat = 0L
          val top = scala.collection.mutable.ArrayBuffer.empty[String]
          walkBoxes(b) { (typ, p, e, depth) =>
            nBoxes += 1
            if (depth == 0) top += typ
            typ match {
              case "trak" => nTracks += 1
              case "mvhd" =>
                val version = b(p) & 0xff
                if (version == 0) {
                  timescale = readU32(b, p + 12); duration = readU32(b, p + 16)
                } else { // v1: 64-bit creation/modification times
                  timescale = readU32(b, p + 20)
                  duration = (readU32(b, p + 24) << 32) | readU32(b, p + 28)
                }
              case "mdat" => mdat += e - p
              case _ => ()
            }
          }
          DemuxedVideo(d.doc_id, nBoxes, nTracks, timescale, duration,
            mdat, top.mkString(","))
        } catch {
          case _: IllegalArgumentException | _: IndexOutOfBoundsException =>
            DemuxedVideo(d.doc_id, -1, 0, 0L, 0L, 0L, "")
        }
      }
    }
  }

  // ---------------------------------------------------------------------
  // Real video FRAME decode (MJPEG/M-PNG samples in ISO-BMFF — the
  // sample-table path: stsz sizes + stco chunk offset, frames through
  // the real ImageIO decoder)
  // ---------------------------------------------------------------------

  case class VideoFrame(doc_id: Long, frame_idx: Int, width: Int, height: Int,
                        sum_r: Long, sum_g: Long, sum_b: Long)

  /** Deterministic ISO-BMFF container whose track carries intra-coded
    * image samples (PNG by default — a real lossless QuickTime video
    * codec, which makes the DECODED per-frame stats oracle-predictable;
    * "jpg" gives true MJPEG, pinned by a lossy-tolerance unit test).
    * The sample table is real: `stsz` records each frame's actual
    * encoded byte size, `stco` records the mdat payload offset, and the
    * frame decoder below honors BOTH rather than assuming layout — the
    * same indirection a real MP4 demuxer resolves. Frame f of doc id is
    * [[syntheticPixelImage]](id·1000 + f), so every decoded pixel stat
    * is integer arithmetic in (id, f). */
  def syntheticFramedMp4(id: Long, codec: String = "png"): Array[Byte] = {
    val n = (2 + id % 4).toInt
    val frames = Array.tabulate(n)(f =>
      encodeImage(syntheticPixelImage(id * 1000 + f), codec))
    val bb = new BoxWriter
    import bb.{fourcc, u32}
    val stszSize = 20L + 4 * n
    val stcoSize = 20L
    val stblSize = 8L + stszSize + stcoSize
    val minfSize = 8L + stblSize
    val mdiaSize = 8L + minfSize
    val trakSize = 8L + 92 + mdiaSize
    val moovSize = 8L + 108 + trakSize
    // mdat payload = ftyp + moov + mdat header
    val chunkOffset = 20L + moovSize + 8L
    bb.ftyp()
    u32(moovSize); fourcc("moov")
    bb.mvhd(1000, n.toLong, 2L)
    u32(trakSize); fourcc("trak")
    bb.tkhd(1L, n.toLong)
    u32(mdiaSize); fourcc("mdia")
    u32(minfSize); fourcc("minf")
    u32(stblSize); fourcc("stbl")
    u32(stszSize); fourcc("stsz"); u32(0) // version/flags
    u32(0) // sample_size 0 → per-sample table follows
    u32(n.toLong)
    frames.foreach(f => u32(f.length.toLong))
    u32(stcoSize); fourcc("stco"); u32(0)
    u32(1L) // one chunk
    u32(chunkOffset)
    u32(8L + frames.map(_.length.toLong).sum); fourcc("mdat")
    frames.foreach(bb.write)
    bb.toByteArray
  }

  def withFramedMp4Payload(spark: SparkSession, ids: DataFrame, idCol: String,
                           codec: String = "png"): Dataset[VideoDoc] = {
    import spark.implicits._
    ids.select(col(idCol).cast("long")).as[Long].mapPartitions { it =>
      it.map(id => VideoDoc(id, syntheticFramedMp4(id, codec)))
    }
  }

  /** REAL video frame decode for intra-coded (MJPEG / M-PNG) tracks: the
    * [[walkBoxes]] ISO-BMFF walk locates the sample table, `stsz` gives
    * each sample's byte size (a sample count the payload cannot hold is
    * a malformed container, never an allocation), `stco` gives the
    * chunk's file offset, each
    * sample slice decodes through `ImageIO` — the same real decoder
    * [[decodeImages]] uses — into per-frame dims and channel sums. This
    * retires the stub for every codec the JVM can actually decode;
    * genuinely opaque codecs (H.264 etc.) remain behind [[decodeStub]],
    * now the declared fallback only. Corrupt payloads follow the uniform
    * policy: a malformed CONTAINER yields one frame_idx=-1 sentinel row,
    * an undecodable individual FRAME a width=-1 row — never a task
    * failure. */
  def decodeVideoFrames(spark: SparkSession, docs: Dataset[VideoDoc]): Dataset[VideoFrame] = {
    import spark.implicits._
    docs.mapPartitions { it =>
      it.flatMap { d =>
        try {
          val b = d.video
          var sizes: Array[Int] = null
          var chunkOff = -1L
          var mdatStart = -1L; var mdatEnd = -1L
          walkBoxes(b) { (typ, p, e, _) =>
            typ match {
              case "stsz" =>
                val fixed = readU32(b, p + 4)
                val cnt = readU32(b, p + 8)
                // every sample needs its table entry, or `fixed` bytes of
                // payload: a count the container cannot hold is corrupt
                if (cnt > (if (fixed == 0) (e - p - 12) / 4 else b.length / fixed))
                  throw new IllegalArgumentException("stsz count exceeds payload")
                sizes =
                  if (fixed != 0) Array.fill(cnt.toInt)(fixed.toInt)
                  else Array.tabulate(cnt.toInt)(i => readU32(b, p + 12 + 4 * i).toInt)
              case "stco" =>
                if (readU32(b, p + 4) >= 1) chunkOff = readU32(b, p + 8)
              case "mdat" =>
                mdatStart = p; mdatEnd = e
              case _ => ()
            }
          }
          if (sizes == null || chunkOff < 0 || mdatStart < 0)
            throw new IllegalArgumentException("no sample table")
          var off = chunkOff
          sizes.toIndexedSeq.zipWithIndex.map { case (sz, i) =>
            if (off < mdatStart || off + sz > mdatEnd)
              throw new IllegalArgumentException(s"sample $i outside mdat")
            val slice = java.util.Arrays.copyOfRange(b, off.toInt, off.toInt + sz)
            off += sz
            val img =
              try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(slice))
              catch { case scala.util.control.NonFatal(_) => null }
            if (img == null) VideoFrame(d.doc_id, i, -1, -1, 0L, 0L, 0L)
            else {
              val w = img.getWidth; val h = img.getHeight
              var sr = 0L; var sg = 0L; var sb = 0L
              var y = 0
              while (y < h) {
                var x = 0
                while (x < w) {
                  val rgb = img.getRGB(x, y)
                  sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
                  x += 1
                }
                y += 1
              }
              VideoFrame(d.doc_id, i, w, h, sr, sg, sb)
            }
          }
        } catch {
          case scala.util.control.NonFatal(_) =>
            Seq(VideoFrame(d.doc_id, -1, -1, -1, 0L, 0L, 0L))
        }
      }
    }
  }

  /** STUB decode: deterministic fake "feature extraction" — 8 block sums
    * over the payload bytes. Real implementation would decode the image /
    * resample the audio here; the batching shape (one iterator pass per
    * partition, fixed-width output) is the production shape. */
  def decodeStub(spark: SparkSession, bin: DataFrame): Dataset[DecodedFeatures] = {
    import spark.implicits._
    bin.as[BinaryDoc].mapPartitions { it =>
      it.map { d =>
        val feats = new Array[Double](8)
        var i = 0
        while (i < d.content.length) {
          feats(i % 8) += (d.content(i) & 0xff).toDouble
          i += 1
        }
        DecodedFeatures(d.doc_id, d.content.length, feats)
      }
    }
  }
}
