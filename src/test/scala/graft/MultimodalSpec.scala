package graft

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.sources.BinaryFilesSource

/** The multimodal ingest path over REAL bytes: BinaryFilesSource reads
  * the reference corpus files' content on executors, and the binary
  * operators (sha256 / header / frames / stub decode) agree with
  * locally-computed ground truth on the raw bytes.
  */
class MultimodalSpec extends SparkSpecBase {

  private val booksDir = TestCorpus.booksDir

  private lazy val files = BinaryFilesSource(Seq(booksDir), glob = "*.txt")
    .load(spark).cache()

  test("binary source reads every file's bytes, size matches metadata") {
    val n = new java.io.File(booksDir)
      .listFiles().count(f => f.isFile && f.getName.endsWith(".txt"))
    assert(files.count() === n.toLong)
    assert(files.filter(length(col("content")).cast("long") =!= col("file_size"))
      .count() === 0)
  }

  test("sha256 / header / frames match local ground truth on a sample file") {
    val sample = new java.io.File(booksDir)
      .listFiles().filter(_.getName.endsWith(".txt")).map(_.getPath).min
    val bytes = Files.readAllBytes(Paths.get(sample))
    val sha = MessageDigest.getInstance("SHA-256").digest(bytes)
      .map("%02x".format(_)).mkString
    val header = bytes.take(16).map("%02x".format(_)).mkString

    val row = Multimodal.describe(
      files.filter(col("file_path").endsWith(sample.split("/").last)), "content")
      .select("byte_len", "sha256", "header_hex", "frames_hex", "decoded.width")
      .head()

    assert(row.getLong(0) === bytes.length.toLong)
    assert(row.getString(1) === sha)
    assert(row.getString(2) === header)
    val frames = row.getSeq[String](3)
    assert(frames.length === 3)
    assert(frames.head === header.take(16)) // frame0 = first 8 bytes
    // frame1 starts at byte 1 + len/3
    val off1 = bytes.length / 3
    val f1 = bytes.slice(off1, off1 + 8).map("%02x".format(_)).mkString
    assert(frames(1) === f1)
    assert(row.getLong(4) === bytes.length.toLong % 640) // stub decode width
  }

  // ------------------------------------------------ real header decoding

  private def hexBytes(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  private def dimsOf(payloads: (Long, Array[Byte])*): Map[Long, (String, Option[Long], Option[Long])] = {
    import spark.implicits._
    val df = payloads.toSeq.toDF("id", "payload")
    val dims = Multimodal.imageDims(col("payload"))
    df.select(col("id"), dims.getField("format"), dims.getField("width"),
        dims.getField("height"))
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))))
      .toMap
  }

  test("imageDims parses a REAL 1x1 PNG, a crafted JPEG (EXIF+SOF2 walk), and a GIF") {
    // canonical 1x1 transparent PNG — genuine, complete file bytes
    val png = java.util.Base64.getDecoder.decode(
      "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mNkYPhfDwAChwGA60e6kgAAAABJRU5ErkJggg==")
    // JPEG whose SOF sits three segments deep: SOI, APP1(Exif), DQT,
    // then progressive SOF2 with height 77 / width 203
    val jpeg = hexBytes(
      "ffd8" + "ffe10008" + "457869660000" + "ffdb0005004142" +
        "ffc20011" + "08" + "004d" + "00cb" + "03" + "011100021100031100")
    // GIF89a, logical screen 2 x 3 (little-endian u16s)
    val gif = hexBytes("474946383961" + "0200" + "0300" + "800000" + "3b")
    val out = dimsOf(1L -> png, 2L -> jpeg, 3L -> gif)
    assert(out(1L) === (("png", Some(1L), Some(1L))))
    assert(out(2L) === (("jpeg", Some(203L), Some(77L))))
    assert(out(3L) === (("gif", Some(2L), Some(3L))))
  }

  test("imageDims is honest about junk: unknown magic and truncated headers -> nulls") {
    val out = dimsOf(
      1L -> "just some text".getBytes("UTF-8"),
      2L -> hexBytes("89504e470d0a1a0a"),       // PNG magic, no IHDR
      3L -> hexBytes("ffd8ff"),                 // JPEG SOI, no segments
      4L -> Array.empty[Byte])
    assert(out(1L) === (("unknown", None, None)))
    assert(out(2L) === (("png", None, None)))
    assert(out(3L) === (("jpeg", None, None)))
    assert(out(4L) === (("unknown", None, None)))
  }

  test("imageDims: payloads cut INSIDE dimension fields yield nulls, not partial parses") {
    val out = dimsOf(
      // PNG magic + IHDR len/type + only 2 width bytes (0x0280 = 640):
      // parsing the remnant would report width 640, height null
      1L -> hexBytes("89504e470d0a1a0a" + "0000000d" + "49484452" + "0280"),
      // GIF89a cut after ONE byte of the u16 width
      2L -> hexBytes("474946383961" + "80"),
      // JPEG SOF0 truncated mid-dimensions (header + precision + 1 byte)
      3L -> hexBytes("ffd8" + "ffc00011" + "08" + "01"))
    assert(out(1L) === (("png", None, None)))
    assert(out(2L) === (("gif", None, None)))
    assert(out(3L) === (("jpeg", None, None)))
  }

  test("imageDims: JPEG 0xFF fill bytes between segments do not desync the walk") {
    // the spec permits any number of 0xFF pad bytes before a marker;
    // a walk that reads them as (marker, length) jumps to garbage
    val h0 = 7; val w0 = 9
    val sof = "ffc00011" + "08" + f"$h0%04x" + f"$w0%04x" + "03" + "011100021100031100"
    val padded = hexBytes("ffd8" + "ffff" + sof) // one fill byte before SOF
    val out = dimsOf(1L -> padded)
    assert(out(1L) === (("jpeg", Some(w0.toLong), Some(h0.toLong))))
  }

  // ------------------------------------------------ perceptual hash near-dup

  /** 2048-byte payload: block i (32 bytes) is 0xFF-filled iff `high(i)`. */
  private def blockPayload(high: Int => Boolean): Array[Byte] =
    (0 until 64).flatMap { i =>
      Array.fill(32)(if (high(i)) 0xFF.toByte else 0x00.toByte)
    }.toArray

  test("pHashPairs finds a planted near-identical payload pair, not the unrelated one") {
    import spark.implicits._
    val a = blockPayload(i => i >= 33)                  // 31 high blocks
    val b = blockPayload(i => i >= 33 && i != 40)       // one block zeroed
    val c = blockPayload(i => i < 31)                   // inverted profile
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "payload")
    val pairs = Multimodal.pHashPairs(df)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 1L))) // Hamming exactly 1, c unpaired
  }

  test("pHashPairs drops primary-signature collisions that fail the midpoint confirm") {
    import spark.implicits._
    // Two 2048-byte payloads agreeing on every PRIMARY sample window
    // (bytes [32i, 32i+4) all zero) but maximally different on the
    // midpoint grid (bytes [32i+16, 32i+20): 0xFF on alternating
    // blocks, inverted between the two) — the single-signature false
    // positive class the confirm signature exists to kill.
    def payload(highMid: Int => Boolean): Array[Byte] = {
      val b = Array.fill[Byte](2048)(0x00)
      for (i <- 0 until 64 if highMid(i); o <- 0 until 4) b(32 * i + 16 + o) = 0xFF.toByte
      b
    }
    val df = Seq(
      (1L, payload(i => i % 2 == 0)),
      (2L, payload(i => i % 2 == 1))).toDF("doc_id", "payload")
    // primary signatures collide exactly (all-ties zero)…
    val sigs = Multimodal.pHashSignatures(df, "doc_id", "payload")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(sigs(0)._1 === sigs(1)._1)
    assert(sigs(0)._2 !== sigs(1)._2)
    // …so the pair is a candidate at Hamming 0, and must still be dropped
    assert(Multimodal.pHashPairs(df).count() === 0L)
  }

  test("pHashWords(64) word 0 is bit-identical to pHash64") {
    import spark.implicits._
    val df = Seq(
      (1L, blockPayload(i => i >= 33)),
      (2L, blockPayload(i => i % 3 == 0)),
      (3L, "an ordinary short text payload".getBytes("UTF-8")),
      (4L, Array.empty[Byte])).toDF("doc_id", "payload")
    val feats = Multimodal.pHashFeatures(col("payload"))
    val both = df.select(
      Multimodal.pHash64(feats).as("v64"),
      Multimodal.pHashWords(feats, 64).head.as("vw"))
      .collect()
    both.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("pHashPairsScaled finds byte-edit twins and rejects pigeonhole-breaking dials") {
    import spark.implicits._
    // the same planted-pair setup as the 64-bit test — the 256-block
    // mode must keep the recall (one zeroed 32-byte block flips few
    // blocks on the finer grid too) and keep c unpaired
    val a = blockPayload(i => i >= 33)
    val b = blockPayload(i => i >= 33 && i != 40)
    val c = blockPayload(i => i < 31)
    val df = Seq((1L, a), (2L, b), (3L, c)).toDF("doc_id", "payload")
    val pairs = Multimodal.pHashPairsScaled(df)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((1L, 2L)))
    intercept[IllegalArgumentException] {
      Multimodal.pHashPairsScaled(df, maxHamming = 15)
    }
    // midMaxHamming only ever WIDENS the midpoint confirm — narrowing
    // below the primary cutoff is a contract error, not a dial
    intercept[IllegalArgumentException] {
      Multimodal.pHashPairsScaled(df, midMaxHamming = Some(10))
    }
  }

  test("midpoint recall dial: wide cutoff catches the measured primary-close twin") {
    // the sf0.01 battery corpus carries the measured case the dial
    // exists for (dev probe phash_twin_ham): planted twin of doc 0
    // sits at primary Hamming 12 (inside banding + primary cutoff)
    // but midpoint 17 (outside the default 14). The default row must
    // miss exactly that twin (recall 800‰ of 5), the wide row must
    // catch it (1000‰) with IDENTICAL candidate machinery — the
    // midpoint test is post-join, so found pairs may only be added.
    val dir = "/root/testdata/sf0.01"
    def recallRow(q: String) = SparkEntry.queries(q)(spark, dir)
      .collect().head
    val base = recallRow("multimodal_phash_recall")
    val wide = recallRow("multimodal_phash_recall_wide")
    val recallIx = SparkEntry.queries("multimodal_phash_recall")(spark, dir)
      .schema.fieldIndex("recall_permille")
    assert(base.getLong(recallIx) === 800L)
    assert(wide.getLong(recallIx) === 1000L)
  }

  test("pHash64 is deterministic and edge-safe on tiny/empty payloads") {
    import spark.implicits._
    val df = Seq((1L, Array.empty[Byte]), (2L, Array[Byte](7, 7)),
      (3L, "short".getBytes("UTF-8"))).toDF("doc_id", "payload")
    val sigs = Multimodal.pHashSignatures(df, "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) === 0L) // all-zero features -> all ties -> sign bits 0
    val again = Multimodal.pHashSignatures(df, "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs === again)
  }

  // little-endian helpers for hand-built RIFF fixtures
  private def le16h(v: Int): String = f"${v & 0xFF}%02x${(v >> 8) & 0xFF}%02x"
  private def le32h(v: Int): String =
    f"${v & 0xFF}%02x${(v >> 8) & 0xFF}%02x${(v >> 16) & 0xFF}%02x${(v >> 24) & 0xFF}%02x"

  /** Canonical PCM fmt chunk: 44.1 kHz stereo 16-bit. */
  private def fmtChunk(ch: Int = 2, rate: Int = 44100, bits: Int = 16): String = {
    val balign = ch * bits / 8
    "666d7420" + le32h(16) + le16h(1) + le16h(ch) + le32h(rate) +
      le32h(rate * balign) + le16h(balign) + le16h(bits)
  }

  private def wavHex(chunks: String*): String =
    "52494646" + le32h(36) + "57415645" + chunks.mkString

  private def wavOf(payloads: (Long, Array[Byte])*): Map[Long, Seq[Any]] = {
    import spark.implicits._
    val df = payloads.toSeq.toDF("doc_id", "payload")
    df.select(col("doc_id"), Multimodal.wavInfo(col("payload")).as("w"))
      .select(col("doc_id"), col("w.channels"), col("w.sample_rate"),
        col("w.bits_per_sample"), col("w.data_bytes"), col("w.duration_ms"))
      .collect()
      .map(r => r.getLong(0) -> (1 to 5).map(i => r.get(i)).toSeq)
      .toMap
  }

  test("wavInfo parses canonical, reordered, and LIST-padded real WAV headers") {
    val data = "64617461" + le32h(8) + "00" * 8 // 2 stereo 16-bit frames
    val canonical = hexBytes(wavHex(fmtChunk(), data))
    // data chunk FIRST — chunk order is not a WAV contract
    val swapped = hexBytes(wavHex(data, fmtChunk()))
    // odd-sized LIST chunk before fmt: walk must skip its pad byte
    val listed = hexBytes(wavHex(
      "4c495354" + le32h(5) + "0000000000" + "00", fmtChunk(), data))
    val got = wavOf(1L -> canonical, 2L -> swapped, 3L -> listed)
    // 8 data bytes at 44100*4 B/s -> 0 ms (floor)
    val want = Seq[Any](2L, 44100L, 16L, 8L, 0L)
    assert(got(1L) === want)
    assert(got(2L) === want)
    assert(got(3L) === want)
    // a mono 8 kHz file long enough for a nonzero duration:
    // 4000 bytes / (8000*2 B/s) = 250 ms
    val mono = hexBytes(wavHex(fmtChunk(ch = 1, rate = 8000),
      "64617461" + le32h(4000) + "00" * 4000))
    assert(wavOf(4L -> mono)(4L) === Seq[Any](1L, 8000L, 16L, 4000L, 250L))
  }

  private def pcmOf(payloads: (Long, Array[Byte])*): Map[Long, Seq[Any]] = {
    import spark.implicits._
    val df = payloads.toSeq.toDF("doc_id", "payload")
    df.withColumn("__w", Multimodal.wavInfo(col("payload")))
      .select(col("doc_id"),
        Multimodal.pcmStats(col("payload"), col("__w")).as("p"))
      .select(col("doc_id"), col("p.n_samples"), col("p.peak_dev"),
        col("p.mad_x100"), col("p.crossings"))
      .collect()
      .map(r => r.getLong(0) -> (1 to 4).map(i => r.get(i)).toSeq)
      .toMap
  }

  test("pcmStats computes hand-checked features from real PCM8 bytes") {
    // samples 128,200,56,128,130 -> devs 0,+72,-72,0,+2:
    // peak 72, mad = (0+72+72+0+2)*100 // 5 = 2920, crossings: one
    // strict +/- flip (72 -> -72); -72 -> 0 -> +2 touches zero, no cross
    val pcm8fmt = "666d7420" + le32h(16) + le16h(1) + le16h(1) +
      le32h(8000) + le32h(8000) + le16h(1) + le16h(8)
    val samples = Array(128, 200, 56, 128, 130)
    val dataHex = "64617461" + le32h(5) + samples.map(s => f"$s%02x").mkString
    val canonical = hexBytes(wavHex(pcm8fmt, dataHex))
    // data BEFORE fmt, odd size -> pad byte: data_off must still land
    // on the first sample
    val swapped = hexBytes(wavHex(dataHex + "00", pcm8fmt))
    val got = pcmOf(1L -> canonical, 2L -> swapped)
    val want = Seq[Any](5L, 72L, 2920L, 1L)
    assert(got(1L) === want)
    assert(got(2L) === want)
  }

  test("pcmStats gates honestly: 16-bit or stereo or dataless WAVs -> nulls") {
    val nulls = Seq[Any](null, null, null, null)
    val data = "64617461" + le32h(4) + "80808080"
    // 16-bit mono and 8-bit stereo: parseable WAVs, but not PCM8 mono
    val bits16 = hexBytes(wavHex("666d7420" + le32h(16) + le16h(1) + le16h(1) +
      le32h(8000) + le32h(16000) + le16h(2) + le16h(16), data))
    val stereo = hexBytes(wavHex("666d7420" + le32h(16) + le16h(1) + le16h(2) +
      le32h(8000) + le32h(16000) + le16h(2) + le16h(8), data))
    val noData = hexBytes(wavHex("666d7420" + le32h(16) + le16h(1) + le16h(1) +
      le32h(8000) + le32h(8000) + le16h(1) + le16h(8)))
    val notWav = "plain text, not audio".getBytes("UTF-8")
    // data chunk DECLARES 16 bytes but the payload carries only 4: the
    // whole-declared-range gate must null the struct rather than let
    // u8At's -1 sentinel enter the stats as fabricated -129 deviations
    val truncated = hexBytes(wavHex(
      "666d7420" + le32h(16) + le16h(1) + le16h(1) +
        le32h(8000) + le32h(8000) + le16h(1) + le16h(8),
      "64617461" + le32h(16) + "80818283"))
    val got = pcmOf(1L -> bits16, 2L -> stereo, 3L -> noData, 4L -> notWav,
      5L -> truncated)
    assert(got(1L) === nulls)
    assert(got(2L) === nulls)
    assert(got(3L) === nulls)
    assert(got(4L) === nulls)
    assert(got(5L) === nulls)
  }

  private def bmpOf(payloads: (Long, Array[Byte])*): Map[Long, Seq[Any]] = {
    import spark.implicits._
    val df = payloads.toSeq.toDF("doc_id", "payload")
    df.withColumn("__h", Multimodal.bmpHeader(col("payload")))
      .select(col("doc_id"),
        Multimodal.bmpStats(col("payload"), col("__h")).as("b"))
      .select(col("doc_id"), col("b.width"), col("b.height"), col("b.bpp"),
        col("b.px.n_sampled"), col("b.px.mean_r_x100"),
        col("b.px.mean_g_x100"), col("b.px.mean_b_x100"))
      .collect()
      .map(r => r.getLong(0) -> (1 to 7).map(i => r.get(i)).toSeq)
      .toMap
  }

  /** Minimal BMP: 14-byte file header + 40-byte BITMAPINFOHEADER. */
  private def bmpHex(w: Int, h: Int, bpp: Int, comp: Int, pxHex: String): String =
    "424d" + le32h(54 + pxHex.length / 2) + "00000000" + le32h(54) +
      le32h(40) + le32h(w) + le32h(h) + le16h(1) + le16h(bpp) +
      le32h(comp) + le32h(pxHex.length / 2) + le32h(2835) + le32h(2835) +
      le32h(0) + le32h(0) + pxHex

  test("bmpStats decodes hand-checked 24bpp pixels, stride padding skipped") {
    // 2x2, BGR triples; stride = 8 so each 6-byte row carries 2 pad
    // bytes that must NOT enter the sums. Channel layout check:
    // pixel (B,G,R) = (10,20,30) x4 -> means B=1000, G=2000, R=3000
    val uniform = bmpHex(2, 2, 24, 0,
      "0a141e" + "0a141e" + "ffff" + "0a141e" + "0a141e" + "ffff")
    // distinct values: B 0,100,200,44 -> sum 344; G 1,2,3,4 -> 10;
    // R 255,0,128,17 -> 400
    val mixed = bmpHex(2, 2, 24, 0,
      "0001ff" + "6402" + "00" + "0000" + "c803" + "80" + "2c04" + "11" + "0000")
    val got = bmpOf(1L -> hexBytes(uniform), 2L -> hexBytes(mixed))
    assert(got(1L) === Seq[Any](2L, 2L, 24L, 4L, 3000L, 2000L, 1000L))
    assert(got(2L) === Seq[Any](2L, 2L, 24L, 4L,
      400L * 100 / 4, 10L * 100 / 4, 344L * 100 / 4))
  }

  test("bmpStats gates honestly: 16bpp dims-only, compressed/truncated/junk null") {
    val all = Seq.fill(7)(null)
    // 16bpp: header parses (dims visible), pixel stats null
    val b16 = bmpHex(3, 2, 16, 0, "00" * 16)
    // BI_RLE8 compression: dims visible, pixels gated off
    val rle = bmpHex(2, 2, 24, 1, "00" * 16)
    // declared 2x2 but pixel array cut short: whole-array gate -> null px
    val short = bmpHex(2, 2, 24, 0, "0a141e")
    val junk = "BM but not actually a bitmap".getBytes("UTF-8")
    val got = bmpOf(1L -> hexBytes(b16), 2L -> hexBytes(rle),
      3L -> hexBytes(short), 4L -> junk, 5L -> "tiny".getBytes("UTF-8"))
    assert(got(1L) === Seq[Any](3L, 2L, 16L, null, null, null, null))
    assert(got(2L) === Seq[Any](2L, 2L, 24L, null, null, null, null))
    assert(got(3L) === Seq[Any](2L, 2L, 24L, null, null, null, null))
    // "BM" magic but junk DIB: printable ASCII where the header fields
    // live decodes to dib_size >= 40 with huge dims — the plausibility
    // gates (legal bpp, BI_* compression range, sane dims) must null
    // the WHOLE header, matching the oracle's NULLs on text arms
    assert(got(4L) === all)
    assert(got(5L) === all)
  }

  // big-endian helpers for hand-built ISO-BMFF fixtures
  private def be32h(v: Long): String = f"$v%08x"
  private def be64h(v: Long): String = f"$v%016x"

  private def boxHex(typ: String, payloadHex: String): String =
    be32h(8 + payloadHex.length / 2) + typ.getBytes("US-ASCII").map(b => f"$b%02x").mkString + payloadHex

  /** mvhd v0: create/modify 0, then timescale + duration (u32). */
  private def mvhd0(ts: Long, dur: Long): String =
    boxHex("mvhd", "00000000" + "00000000" + "00000000" + be32h(ts) + be32h(dur))

  /** mvhd v1: 64-bit create/modify, u32 timescale, u64 duration. */
  private def mvhd1(ts: Long, dur: Long): String =
    boxHex("mvhd", "01000000" + "0" * 16 + "0" * 16 + be32h(ts) + be64h(dur))

  private def ftypHex(brand: String = "isom"): String =
    boxHex("ftyp", brand.getBytes("US-ASCII").map(b => f"$b%02x").mkString + "00000000")

  private def mp4Of(payloads: (Long, Array[Byte])*): Map[Long, Seq[Any]] = {
    import spark.implicits._
    val df = payloads.toSeq.toDF("doc_id", "payload")
    df.select(col("doc_id"), Multimodal.mp4Info(col("payload")).as("m"))
      .select(col("doc_id"), col("m.brand"), col("m.timescale"),
        col("m.duration"), col("m.duration_ms"))
      .collect()
      .map(r => r.getLong(0) -> (1 to 4).map(i => r.get(i)).toSeq)
      .toMap
  }

  test("mp4Info parses canonical, moov-at-end, and v1-mvhd ISO-BMFF headers") {
    val mdat = boxHex("mdat", "00" * 24)
    // 90 s at timescale 600 -> duration 54000, duration_ms 90000
    val canonical = hexBytes(ftypHex() + boxHex("moov", mvhd0(600, 54000)) + mdat)
    // moov AFTER mdat — the camera-write layout; mdat must be skipped
    val moovLast = hexBytes(ftypHex("mp42") + mdat + boxHex("moov", mvhd0(600, 54000)))
    // version-1 mvhd (64-bit duration) behind a free box, with a
    // non-mvhd first moov child (the child walk must skip it)
    val v1 = hexBytes(ftypHex() + boxHex("free", "00" * 4) +
      boxHex("moov", boxHex("iods", "00" * 4) + mvhd1(1000, 3500)))
    // largesize mdat (size==1, u64 at +8): 8-byte payload declared via
    // largesize 24 — the walk must advance by the 64-bit size
    val mdatLarge = "00000001" + "6d646174" + be64h(24) + "00" * 8
    val large = hexBytes(ftypHex() + mdatLarge + boxHex("moov", mvhd0(48000, 96000)))
    val got = mp4Of(1L -> canonical, 2L -> moovLast, 3L -> v1, 4L -> large)
    assert(got(1L) === Seq[Any]("isom", 600L, 54000L, 90000L))
    assert(got(2L) === Seq[Any]("mp42", 600L, 54000L, 90000L))
    assert(got(3L) === Seq[Any]("isom", 1000L, 3500L, 3500L))
    assert(got(4L) === Seq[Any]("isom", 48000L, 96000L, 2000L))
  }

  test("mp4Info is honest about junk: bad magic, truncation, corrupt sizes") {
    val nulls = Seq[Any](null, null, null, null)
    val notMp4 = "definitely not an mp4 container".getBytes("UTF-8")
    // valid ftyp, then truncated mid-moov-header: brand parses, rest null
    val truncated = hexBytes(ftypHex() + "000000246d6f")
    // moov present but its only child is NOT mvhd: timescale/duration null
    val noMvhd = hexBytes(ftypHex() + boxHex("moov", boxHex("udta", "00" * 4)))
    // mvhd declared but payload cut INSIDE the duration field
    val cutMvhd = hexBytes(ftypHex() +
      "000000246d6f6f76" + "0000001c6d766864" + "00000000" + "00000000")
    // a corrupt box declaring a ~4.3 GB size: capped walk -> nulls, no
    // ANSI cast overflow
    val hugeBox = hexBytes(ftypHex() + "fffffff0" + "6a756e6b")
    // size==0 (box-to-EOF in the spec) is treated as corrupt: bail
    val zeroSize = hexBytes(ftypHex() + "00000000" + "6d6f6f76" + mvhd0(600, 600))
    val got = mp4Of(1L -> notMp4, 2L -> truncated, 3L -> noMvhd,
      4L -> cutMvhd, 5L -> hugeBox, 6L -> zeroSize)
    assert(got(1L) === nulls)
    assert(got(2L) === Seq[Any]("isom", null, null, null))
    assert(got(3L) === Seq[Any]("isom", null, null, null))
    assert(got(4L) === Seq[Any]("isom", null, null, null))
    assert(got(5L) === Seq[Any]("isom", null, null, null))
    assert(got(6L) === Seq[Any]("isom", null, null, null))
  }

  test("wavInfo is honest about junk: bad magic, truncation, missing chunks") {
    val nulls = Seq[Any](null, null, null, null, null)
    val notRiff = "not a riff file at all".getBytes("UTF-8")
    // RIFF magic but AVI form type — must not parse as WAV
    val avi = hexBytes("52494646" + le32h(36) + "41564920" + fmtChunk())
    // WAVE magic, then truncated mid-header: no chunks parseable
    val truncated = hexBytes("52494646" + le32h(36) + "57415645" + "666d")
    // fmt only, no data chunk: fmt fields parse, duration/data null
    val noData = hexBytes(wavHex(fmtChunk()))
    // a corrupt chunk declaring a ~4.3 GB size: the capped walk must
    // yield nulls, not push the offset past Int.MaxValue (which would
    // throw CAST_OVERFLOW under ANSI mode and kill the whole query)
    val hugeChunk = hexBytes(
      "52494646" + le32h(36) + "57415645" + "4a554e4b" + "f0ffffff")
    val got = wavOf(1L -> notRiff, 2L -> avi, 3L -> truncated,
      4L -> noData, 5L -> hugeChunk)
    assert(got(1L) === nulls)
    assert(got(2L) === nulls)
    assert(got(3L) === nulls)
    assert(got(4L) === Seq[Any](2L, 44100L, 16L, null, null))
    assert(got(5L) === nulls)
  }

  test("pHashPairs rejects dials that break the band-pair pigeonhole") {
    // candidates require an agreeing band PAIR, so exact recall needs
    // bands - maxHamming >= 2; a wider cutoff without more bands would
    // silently lose pairs — the operator must refuse it instead.
    import spark.implicits._
    val df = Seq((1L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload")
    val e = intercept[IllegalArgumentException] {
      Multimodal.pHashPairs(df, maxHamming = 7)
    }
    assert(e.getMessage.contains("bands - maxHamming"))
    // and the generic banded machinery refuses an agreement order it
    // cannot key (fewer bands than minSharedBands = empty key array)
    val sig = Seq((1L, 0L)).toDF("doc_id", "__sig0")
    val e2 = intercept[IllegalArgumentException] {
      graft.operators.NearDup.bandedHammingPairs(sig, "doc_id",
        widthBits = 64, bands = 1, hammingMax = 6, minSharedBands = 2)
    }
    assert(e2.getMessage.contains("minSharedBands"))
  }
}
