package graft

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal

/** Batch-shape tests for the multimodal plumbing: fixed output widths,
  * frame-count arithmetic, decode and hash round trips. */
class MultimodalSpec extends SparkSuite {

  import spark.implicits._

  test("png decode: ImageIO roundtrip recovers the exact pixel formula") {
    val ids = Seq(0L, 5L, 17L, 62L).toDF("doc_id")
    val out = Multimodal.decodeImages(
        spark, Multimodal.withPngPayload(spark, ids, "doc_id"))
      .collect().map(d => d.doc_id -> d).toMap
    for (id <- Seq(0L, 5L, 17L, 62L)) {
      val d = out(id)
      val w = (8 + id % 9).toInt; val h = (8 + id % 7).toInt
      assert(d.width === w); assert(d.height === h); assert(d.channels === 3)
      // driver-side reference sums straight from the formula
      var sr = 0L; var sg = 0L; var sb = 0L
      for (y <- 0 until h; x <- 0 until w) {
        sr += (id * 31 + x * 7 + y * 13) % 256
        sg += (id * 17 + x * 5 + y * 11) % 256
        sb += (id * 23 + x * 3 + y * 19) % 256
      }
      assert(d.sum_r === sr); assert(d.sum_g === sg); assert(d.sum_b === sb)
      var ts = 0L
      for (ty <- 0 until 4; tx <- 0 until 4) {
        val x = tx * w / 4; val y = ty * h / 4
        ts += (id * 31 + x * 7 + y * 13) % 256 +
          (id * 17 + x * 5 + y * 11) % 256 + (id * 23 + x * 3 + y * 19) % 256
      }
      assert(d.thumb_sum === ts)
    }
  }

  test("jpeg decode: dims/channels exact, stats within lossy tolerance") {
    // JPEG is lossy — dims and channel count must survive exactly; pixel
    // sums must land within a few percent at max quality. This pins that
    // the decoder handles a second real codec, not just PNG.
    val img = Multimodal.syntheticPixelImage(7L)
    val bytes = Multimodal.encodeImage(img, "jpg")
    val ds = Seq(Multimodal.ImageDoc(7L, bytes)).toDS()
    val d = Multimodal.decodeImages(spark, ds).collect().head
    assert(d.width === img.getWidth); assert(d.height === img.getHeight)
    assert(d.channels === 3)
    val exact = Multimodal.decodeImages(
      spark, Seq(Multimodal.ImageDoc(7L, Multimodal.encodeImage(img, "png"))).toDS()
    ).collect().head
    val n = (d.width * d.height).toDouble
    assert(math.abs(d.sum_r - exact.sum_r) / n < 40.0, "mean-abs channel drift")
    assert(math.abs(d.sum_g - exact.sum_g) / n < 40.0)
    assert(math.abs(d.sum_b - exact.sum_b) / n < 40.0)
  }

  test("wav decode: AudioSystem roundtrip recovers the exact sample formula") {
    val ids = Seq(0L, 3L, 13L).toDF("doc_id")
    val out = Multimodal.decodeAudio(
        spark, Multimodal.withWavPayload(spark, ids, "doc_id"))
      .collect().map(d => d.doc_id -> d).toMap
    for (id <- Seq(0L, 3L, 13L)) {
      val d = out(id)
      val pcm = Multimodal.syntheticPcm(id)
      assert(d.sample_rate === 8000); assert(d.channels === 1)
      assert(d.bits === 16)
      assert(d.n_samples === pcm.length.toLong)
      assert(d.sum_abs === pcm.map(v => math.abs(v).toLong).sum)
      assert(d.peak === pcm.map(math.abs).max)
    }
  }

  test("audio decode: corrupt payload yields sample_rate=-1 row") {
    val ds = Seq(Multimodal.AudioDoc(1L, Array[Byte](9, 9, 9, 9))).toDS()
    val d = Multimodal.decodeAudio(spark, ds).collect().head
    assert(d.sample_rate === -1)
    assert(d.channels === 0)
  }

  test("mp4 demux: box walk recovers generator structure, handles largesize") {
    val ids = Seq(0L, 5L, 11L).toDF("doc_id")
    val out = Multimodal.demuxVideo(
        spark, Multimodal.withMp4Payload(spark, ids, "doc_id"))
      .collect().map(d => d.doc_id -> d).toMap
    for (id <- Seq(0L, 5L, 11L)) {
      val d = out(id)
      val nt = (1 + id % 3).toInt
      assert(d.n_tracks === nt)
      assert(d.n_boxes === 4 + 2 * nt)
      assert(d.timescale === 1000 + id % 100)
      assert(d.duration === 5000 + (id * 7) % 1000)
      assert(d.mdat_bytes === 100 + id % 50)
      assert(d.top_types === "ftyp,moov,mdat")
    }
    // 64-bit largesize box: same mdat payload behind a size==1 header
    val base = Multimodal.syntheticMp4(3L)
    val mdatLen = (100 + 3 % 50) // payload bytes
    val prefixLen = base.length - (8 + mdatLen)
    val big = new java.io.ByteArrayOutputStream()
    big.write(base, 0, prefixLen)
    big.write(Array[Byte](0, 0, 0, 1)) // size = 1 -> largesize follows
    big.write("mdat".getBytes("US-ASCII"))
    val ls = 16L + mdatLen
    (56 to 0 by -8).foreach(s => big.write(((ls >> s) & 0xff).toInt))
    big.write(base, prefixLen + 8, mdatLen)
    val d = Multimodal.demuxVideo(spark,
      Seq(Multimodal.VideoDoc(3L, big.toByteArray)).toDS()).collect().head
    assert(d.mdat_bytes === mdatLen.toLong)
    assert(d.n_boxes === 4 + 2 * (1 + 3 % 3))
  }

  test("mp4 demux: malformed payloads yield n_boxes=-1, not task failures") {
    val bad = Seq(
      Multimodal.VideoDoc(1L, Array[Byte](0, 0, 0, 99, 'f', 't', 'y', 'p')), // size > buffer
      Multimodal.VideoDoc(2L, Array[Byte](1, 2, 3)),                         // truncated header
      Multimodal.VideoDoc(3L, Array[Byte](0, 0, 0, 4, 'm', 'o', 'o', 'v'))). // size < header
      toDS()
    val out = Multimodal.demuxVideo(spark, bad).collect()
    assert(out.forall(_.n_boxes === -1))
  }

  test("mp4 demux: 200 random-byte payloads never fail a task (seeded fuzz)") {
    val rnd = new scala.util.Random(42)
    val docs = (0 until 200).map { i =>
      val b = new Array[Byte](rnd.nextInt(64))
      rnd.nextBytes(b)
      Multimodal.VideoDoc(i.toLong, b)
    }.toDS()
    val out = Multimodal.demuxVideo(spark, docs).collect()
    assert(out.length === 200)
  }

  test("video frames: sample-table walk + PNG decode recover the per-frame formula") {
    val ids = Seq(0L, 7L, 42L).toDF("doc_id")
    val out = Multimodal.decodeVideoFrames(
        spark, Multimodal.withFramedMp4Payload(spark, ids, "doc_id"))
      .collect().map(d => (d.doc_id, d.frame_idx) -> d).toMap
    for (id <- Seq(0L, 7L, 42L)) {
      val nf = (2 + id % 4).toInt
      assert((0 until nf).forall(f => out.contains((id, f))))
      for (f <- 0 until nf) {
        val d = out((id, f))
        val fid = id * 1000 + f
        val w = (8 + fid % 9).toInt; val h = (8 + fid % 7).toInt
        assert(d.width === w); assert(d.height === h)
        var sr = 0L; var sg = 0L; var sb = 0L
        for (y <- 0 until h; x <- 0 until w) {
          sr += (fid * 31 + x * 7 + y * 13) % 256
          sg += (fid * 17 + x * 5 + y * 11) % 256
          sb += (fid * 23 + x * 3 + y * 19) % 256
        }
        assert(d.sum_r === sr); assert(d.sum_g === sg); assert(d.sum_b === sb)
      }
    }
  }

  test("video frames: true MJPEG samples decode within lossy tolerance") {
    // JPEG-coded samples: sample table and dims must resolve exactly,
    // pixel sums land within the same mean-abs drift bound the still-image
    // JPEG pin uses — the frame path drives a second real codec.
    val jpegDocs = Multimodal.withFramedMp4Payload(
      spark, Seq(9L).toDF("doc_id"), "doc_id", codec = "jpg")
    val got = Multimodal.decodeVideoFrames(spark, jpegDocs)
      .collect().map(d => d.frame_idx -> d).toMap
    val nf = (2 + 9 % 4).toInt
    assert(got.keySet === (0 until nf).toSet)
    for (f <- 0 until nf) {
      val fid = 9L * 1000 + f
      val w = (8 + fid % 9).toInt; val h = (8 + fid % 7).toInt
      val d = got(f)
      assert(d.width === w); assert(d.height === h)
      var sr = 0L; var sg = 0L; var sb = 0L
      for (y <- 0 until h; x <- 0 until w) {
        sr += (fid * 31 + x * 7 + y * 13) % 256
        sg += (fid * 17 + x * 5 + y * 11) % 256
        sb += (fid * 23 + x * 3 + y * 19) % 256
      }
      val n = (w * h).toDouble
      assert(math.abs(d.sum_r - sr) / n < 40.0, s"frame $f mean-abs drift r")
      assert(math.abs(d.sum_g - sg) / n < 40.0, s"frame $f mean-abs drift g")
      assert(math.abs(d.sum_b - sb) / n < 40.0, s"frame $f mean-abs drift b")
    }
  }

  test("video frames: corrupt container and corrupt frame follow sentinel policy") {
    // malformed CONTAINER → one frame_idx=-1 row
    val badContainer = Seq(Multimodal.VideoDoc(1L, Array[Byte](9, 9, 9))).toDS()
    val c = Multimodal.decodeVideoFrames(spark, badContainer).collect()
    assert(c.length === 1 && c.head.frame_idx === -1)
    // a valid container whose FIRST sample bytes are zeroed (undecodable
    // image) → width=-1 for that frame, later frames still decode...
    val good = Multimodal.syntheticFramedMp4(3L)
    val nf = (2 + 3 % 4).toInt
    // find first PNG signature (first sample start) and zero 8 bytes
    val sig = Array[Byte](0x89.toByte, 'P', 'N', 'G')
    val start = good.indices.find(i =>
      i + 4 <= good.length && sig.indices.forall(j => good(i + j) == sig(j))).get
    val broken = good.clone()
    (start until start + 8).foreach(broken(_) = 0)
    val out = Multimodal.decodeVideoFrames(spark,
      Seq(Multimodal.VideoDoc(3L, broken)).toDS()).collect()
      .map(d => d.frame_idx -> d).toMap
    assert(out.size === nf)
    assert(out(0).width === -1)
    assert((1 until nf).forall(out(_).width > 0))
    // an stsz claiming 0x7FFFFFF0 one-byte samples: a count the payload
    // cannot hold is a malformed container, not a heap-sized allocation
    val huge = good.clone()
    val stsz = huge.indices.find(i =>
      i + 4 <= huge.length && new String(huge, i, 4, "US-ASCII") == "stsz").get + 4
    def put32(o: Int, v: Int): Unit =
      (0 until 4).foreach(k => huge(o + k) = (v >>> (24 - 8 * k)).toByte)
    put32(stsz + 4, 1) // sample_size
    put32(stsz + 8, 0x7FFFFFF0) // sample_count
    val h = Multimodal.decodeVideoFrames(spark,
      Seq(Multimodal.VideoDoc(4L, huge)).toDS()).collect()
    assert(h.length === 1 && h.head.frame_idx === -1)
    // seeded fuzz: random-byte payloads never fail the task
    val rnd = new scala.util.Random(7)
    val fuzz = (0 until 100).map { i =>
      val b = new Array[Byte](rnd.nextInt(96))
      rnd.nextBytes(b)
      Multimodal.VideoDoc(i.toLong, b)
    }.toDS()
    assert(Multimodal.decodeVideoFrames(spark, fuzz).collect().length === 100)
  }

  test("image decode: corrupt payload yields width=-1 row, not a task failure") {
    val ds = Seq(Multimodal.ImageDoc(1L, Array[Byte](1, 2, 3, 4))).toDS()
    val d = Multimodal.decodeImages(spark, ds).collect().head
    assert(d.width === -1)
    assert(d.channels === 0)
  }

  test("json source FAILFAST rejects corrupt rows instead of nulling them") {
    val dir = java.nio.file.Files.createTempDirectory("graft_json_").toFile
    dir.deleteOnExit()
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/part-0.json"),
      """{"id": 1, "v": "ok"}""" + "\n" + """{"id": 2, "v": BROKEN""" + "\n")
    val schema = org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v STRING")
    val ex = intercept[org.apache.spark.SparkException] {
      graft.sources.JsonTables.readJson(spark, dir.toString, schema).collect()
    }
    assert(ex.getMessage.toLowerCase.contains("malformed")
      || Option(ex.getCause).exists(_.getMessage.toLowerCase.contains("malformed")))
  }

  test("image ahash+digest: mod-256 crops verify exact, aHash is the coarse bucket") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 2L, 4L, 256L, 257L, 512L).toDF("doc_id")
    val rows = Multimodal.imageAHash(spark,
        Multimodal.withPngPayload(spark, ids, "doc_id"))
      .collect().map(r => r.doc_id -> (r.phash, r.crop_md5)).toMap
    val (ph, cd) = (rows.view.mapValues(_._1).toMap, rows.view.mapValues(_._2).toMap)
    // ids ≡ mod 256 are crop-identical (odd channel multipliers are
    // invertible mod 256): exact digests AND hashes agree
    assert(cd(0L) === cd(256L) && cd(0L) === cd(512L) && cd(1L) === cd(257L))
    assert(ph(0L) === ph(256L))
    // aHash is brightness-shift-invariant, so non-wrapping neighbors
    // share the COARSE bucket while the exact digest separates them —
    // the sketch-then-verify contract
    assert(ph(0L) === ph(1L) && (cd(0L) !== cd(1L)))
    // a wrapping id (31·4 = 124 > 115 wraps the red ramp inside the
    // crop) lands in a different coarse bucket
    assert(ph(4L) != ph(0L))
    // hand replay of doc 0's bits from the formula
    val g = for (y <- 0 until 8; x <- 0 until 8)
      yield ((7L * x + 13 * y) % 256) + ((5L * x + 11 * y) % 256) + ((3L * x + 19 * y) % 256)
    val tot = g.sum
    val expect = g.map(v => if (v * 64 > tot) '1' else '0').mkString
    assert(ph(0L) === expect)
    assert(ph(0L).length === 64 && ph(0L).count(_ == '1') > 0)
  }

  test("audio fingerprint: mod-4096 ids verify exact, contour replays by hand") {
    import spark.implicits._
    val ids = Seq(0L, 1L, 3L, 4096L, 4099L).toDF("doc_id")
    val rows = Multimodal.audioFingerprint(spark,
        Multimodal.withWavPayload(spark, ids, "doc_id"))
      .collect().map(r => r.doc_id -> (r.afp, r.energy_md5)).toMap
    // s(t) depends on id only via id·31 mod 4096 → +4096 ids are
    // sample-identical on the fingerprint prefix
    assert(rows(0L)._2 === rows(4096L)._2 && rows(3L)._2 === rows(4099L)._2)
    assert(rows(0L)._1 === rows(4096L)._1)
    assert(rows(0L)._2 != rows(1L)._2)
    // hand replay of doc 1's energies and contour from the formula
    val e = (0 until 32).map(w => (0 until 64)
      .map(t => math.abs((31L + 7L * (64 * w + t)) % 4096 - 2048)).sum)
    val afp = (1 until 32).map(w => if (e(w) > e(w - 1)) '1' else '0').mkString
    assert(rows(1L)._1 === afp && afp.length === 31)
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(e.mkString(",").getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(rows(1L)._2 === hex)
  }

  test("frame sampling: ceil(n/frame) frames, every 2nd kept, sizes right") {
    val docs = Seq((1L, "a" * 700)).toDF("doc_id", "text") // 3 frames of 256
    val bin = Multimodal.withBinaryPayload(docs, "doc_id", "text")
    val frames = Multimodal.sampleFrames(bin, frameBytes = 256, every = 2)
      .select(col("frame_idx"), length(col("frame_bytes")).as("len"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(frames.keySet === Set(0L, 2L)) // frame 1 sampled out
    assert(frames(0L) === 256)
    assert(frames(2L) === 700 - 512)      // short tail frame
  }
}
