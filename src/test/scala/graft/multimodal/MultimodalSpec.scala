package graft.multimodal

import graft.{SparkSpec, Tables}

class MultimodalSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("binary payload plumbing: schema, byte lengths, deterministic stub features") {
    val media = Multimodal.fromDocuments(Tables.documents(spark, sf))
    val feats = Multimodal.decodeStub(media)
    assert(feats.schema.fieldNames.toSeq == Seq(
      "media_id", "kind", "fmt", "byte_len", "width", "height", "checksum"))
    val rows = feats.collect()
    assert(rows.nonEmpty)
    rows.foreach { f =>
      assert(f.byte_len > 0)
      assert(f.width >= 64 && f.width < 80 && f.height >= 64 && f.height < 80)
      assert(f.checksum.length == 32)
    }
    // deterministic: re-running yields identical features
    val again = Multimodal.decodeStub(media).collect()
    assert(rows.sortBy(_.media_id).map(_.checksum).toSeq ==
      again.sortBy(_.media_id).map(_.checksum).toSeq)
  }

  test("frame sampling emits bounded 1->N rows per media item") {
    val media = Multimodal.fromDocuments(
      Tables.documents(spark, sf).limit(5))
    val frames = Multimodal.frameSampleStub(media, stride = 50)
    val counts = frames.groupBy("media_id").count().collect()
    assert(counts.length == 5)
    counts.foreach(r => assert(r.getAs[Long]("count") >= 1))
  }

  test("imageDims parses real PNG/GIF/BMP header bytes (incl. a " +
      "top-down negative-height BMP) and nulls unknown formats") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def hx(s: String): Array[Byte] = s.grouped(2)
      .map(b => Integer.parseInt(b, 16).toByte).toArray
    // real headers: 1x1 PNG IHDR; 3x2 GIF89a; 4x5 BMP; -5 height BMP
    // (top-down, magnitude expected); then junk
    val rows = Seq(
      ("png11", hx("89504E470D0A1A0A0000000D49484452" +
        "00000001" + "00000001" + "0806000000")),
      ("gif32", hx("474946383961" + "0300" + "0200" + "F70000")),
      ("bmp45", hx("424D" + "0000000000000000" + "00000000" + "28000000" +
        "04000000" + "05000000" + "0100")),
      ("bmpneg", hx("424D" + "0000000000000000" + "00000000" + "28000000" +
        "04000000" + "FBFFFFFF" + "0100")), // height -5 LE
      ("junk", "not an image at all".getBytes("UTF-8")))
      .toDF("name", "payload")
    val out = rows.select(col("name"),
        Multimodal.imageDims(col("payload")).as("d"))
      .select(col("name"), col("d.fmt"), col("d.width"), col("d.height"))
      .collect().map(r => r.getString(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(out("png11") == ((Some("png"), Some(1), Some(1))))
    assert(out("gif32") == ((Some("gif"), Some(3), Some(2))))
    assert(out("bmp45") == ((Some("bmp"), Some(4), Some(5))))
    assert(out("bmpneg") == ((Some("bmp"), Some(4), Some(5))))
    assert(out("junk") == ((None, None, None)))
    // WebP, all three bitstream variants (hand-built headers):
    // VP8 lossy 350x200 with the 2 scale bits SET in both 16-bit
    // fields (the & 0x3FFF mask must strip them); VP8L lossless
    // 17x33 (14+14 bits packed across bytes 22-25); VP8X extended
    // 256x144 (3-byte LE canvas-minus-one); a VP8 chunk MISSING its
    // 9D012A sync must null, not misparse
    val webp = Seq(
      ("vp8", hx("52494646" + "00000000" + "57454250" + "56503820" +
        "00000000" + "000000" + "9D012A" + "5E41" + "C8C0")),
      ("vp8l", hx("52494646" + "00000000" + "57454250" + "5650384C" +
        "00000000" + "2F" + "10" + "00" + "08" + "00")),
      ("vp8x", hx("52494646" + "00000000" + "57454250" + "56503858" +
        "00000000" + "00000000" + "FF0000" + "8F0000")),
      ("vp8bad", hx("52494646" + "00000000" + "57454250" + "56503820" +
        "00000000" + "000000" + "FFFFFF" + "5E01" + "C800")))
      .toDF("name", "payload")
    val wout = webp.select(col("name"),
        Multimodal.imageDims(col("payload")).as("d"))
      .select(col("name"), col("d.fmt"), col("d.width"), col("d.height"))
      .collect().map(r => r.getString(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(wout("vp8") == ((Some("webp"), Some(350), Some(200))),
      s"vp8: ${wout("vp8")}")
    assert(wout("vp8l") == ((Some("webp"), Some(17), Some(33))),
      s"vp8l: ${wout("vp8l")}")
    assert(wout("vp8x") == ((Some("webp"), Some(256), Some(144))),
      s"vp8x: ${wout("vp8x")}")
    assert(wout("vp8bad") == ((None, None, None)),
      s"sync-less VP8 must null: ${wout("vp8bad")}")
  }

  test("imageDims walks JPEG segment chains to the SOF header: " +
      "variable-length segments, fill bytes, progressive SOF2, " +
      "restart markers; nulls truncated or SOF-less streams") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def hx(s: String): Array[Byte] = s.grouped(2)
      .map(b => Integer.parseInt(b, 16).toByte).toArray
    val app0 = "FFE0" + "0010" + "4A46494600" + "0101" + "00" +
      "0048" + "0048" + "0000"
    def sof(marker: String, w: Int, h: Int) =
      marker + "0011" + "08" + f"$h%04X" + f"$w%04X" +
        "03" + "012200" + "021101" + "031101"
    val rows = Seq(
      // baseline: APP0 + 3-byte COM + SOF0, 640x480
      ("base", hx("FFD8" + app0 + "FFFE" + "0005" + "414243" +
        sof("FFC0", 640, 480))),
      // progressive SOF2, fill bytes (extra FFs) before markers, 31x17
      ("prog", hx("FFD8" + "FF" + app0 + "FFFF" + sof("FFC2", 31, 17))),
      // restart marker (standalone, no length) before the SOF, 8x9
      ("rst", hx("FFD8" + "FFD0" + sof("FFC1", 8, 9))),
      // DHT (C4) must be SKIPPED, not read as SOF: 5 payload bytes
      ("dht", hx("FFD8" + "FFC4" + "0007" + "0102030405" +
        sof("FFC0", 12, 34))),
      // SOS before any SOF -> no dimensions
      ("nosof", hx("FFD8" + app0 + "FFDA" + "0002")),
      // truncated mid-segment -> null, not a crash or garbage read
      ("trunc", hx("FFD8" + "FFE0" + "0010" + "4A46")),
      ("soi_only", hx("FFD8")))
      .toDF("name", "payload")
    val out = rows.select(col("name"),
        Multimodal.imageDims(col("payload")).as("d"))
      .select(col("name"), col("d.fmt"), col("d.width"), col("d.height"))
      .collect().map(r => r.getString(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(out("base") == ((Some("jpg"), Some(640), Some(480))))
    assert(out("prog") == ((Some("jpg"), Some(31), Some(17))))
    assert(out("rst") == ((Some("jpg"), Some(8), Some(9))))
    assert(out("dht") == ((Some("jpg"), Some(12), Some(34))))
    assert(out("nosof") == ((None, None, None)))
    assert(out("trunc") == ((None, None, None)))
    assert(out("soi_only") == ((None, None, None)))
    // SQL surface: the expression is registered as jpeg_dims
    val viaSql = rows.filter(col("name") === "base")
      .selectExpr("jpeg_dims(payload) AS p")
      .select((col("p") / 65536).cast("int").as("w"),
        (col("p") % 65536).cast("int").as("h")).collect().head
    assert(viaSql.getInt(0) == 640 && viaSql.getInt(1) == 480)
  }

  test("videoDims walks the ISO-BMFF box tree: sibling boxes before " +
      "moov, a zero-dim audio track skipped, 64-bit largesize and " +
      "size-0 (to-EOF) boxes handled, hostile declared sizes and " +
      "truncations null instead of allocating or crashing") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val out = java.nio.ByteBuffer.allocate(8 + payload.length)
      out.putInt(8 + payload.length).put(typ.getBytes("US-ASCII"))
        .put(payload)
      out.array()
    }
    def tkhd(version: Int, w: Int, h: Int): Array[Byte] = {
      val fixed = if (version == 1) 32 else 20
      val out = java.nio.ByteBuffer.allocate(4 + fixed + 16 + 36 + 8)
      out.put(version.toByte).put(Array[Byte](0, 0, 7))
      out.put(new Array[Byte](fixed + 16 + 36))
      out.putInt(w << 16).putInt(h << 16) // 16.16 fixed
      out.array()
    }
    val ftyp = box("ftyp", "isom0000".getBytes("US-ASCII"))
    val audio = box("trak", box("tkhd", tkhd(0, 0, 0)))
    val video0 = box("trak", box("tkhd", tkhd(0, 640, 360)))
    val video1 = box("trak", box("tkhd", tkhd(1, 1920, 1080)))
    val free = box("free", new Array[Byte](5)) // sibling noise
    val v0 = ftyp ++ box("moov", free ++ audio ++ video0)
    val v1 = ftyp ++ box("moov", audio ++ video1)
    // largesize variant: moov with size=1 + 64-bit length
    val moovPayload = audio ++ video0
    val large = {
      val out = java.nio.ByteBuffer.allocate(16 + moovPayload.length)
      out.putInt(1).put("moov".getBytes("US-ASCII"))
        .putLong(16L + moovPayload.length).put(moovPayload)
      ftyp ++ out.array()
    }
    // size-0 (extends to EOF) moov as the LAST box
    val toEof = {
      val out = java.nio.ByteBuffer.allocate(8 + moovPayload.length)
      out.putInt(0).put("moov".getBytes("US-ASCII")).put(moovPayload)
      ftyp ++ out.array()
    }
    // hostile: moov declares 2 GB it never backs
    val bomb = {
      val out = java.nio.ByteBuffer.allocate(8)
      out.putInt(Int.MaxValue).put("moov".getBytes("US-ASCII"))
      ftyp ++ out.array()
    }
    val rows = Seq(
      ("v0", v0), ("v1", v1), ("large", large), ("toEof", toEof),
      ("bomb", bomb), ("trunc", v0.take(40)),
      ("audioOnly", ftyp ++ box("moov", audio)),
      ("junk", "not a video".getBytes("UTF-8")))
      .toDF("name", "payload")
    val out = rows.select(col("name"),
        Multimodal.videoDims(col("payload")).as("d"))
      .select(col("name"), col("d.fmt"), col("d.width"), col("d.height"))
      .collect().map(r => r.getString(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(out("v0") == ((Some("mp4"), Some(640), Some(360))))
    assert(out("v1") == ((Some("mp4"), Some(1920), Some(1080))),
      "version-1 tkhd offsets")
    assert(out("large") == ((Some("mp4"), Some(640), Some(360))),
      "64-bit largesize moov")
    assert(out("toEof") == ((Some("mp4"), Some(640), Some(360))),
      "size-0 to-EOF moov")
    assert(out("bomb") == ((None, None, None)),
      "unbacked 2 GB declared size must null")
    assert(out("trunc") == ((None, None, None)))
    assert(out("audioOnly") == ((None, None, None)),
      "no video track -> null, not 0x0")
    assert(out("junk") == ((None, None, None)))
  }

  test("audioMeta parses WAV, FLAC STREAMINFO, and MP3 (incl. the " +
      "synchsafe ID3v2 skip with a footer) and nulls everything " +
      "else") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def hx(s: String): Array[Byte] = s.grouped(2)
      .map(b => Integer.parseInt(b, 16).toByte).toArray
    // 2ch, 44100 Hz, 16-bit PCM: 44100 = 0xAC44 -> LE 44AC0000
    val wav = hx("52494646" + "24000000" + "57415645" + "666D7420" +
      "10000000" + "0100" + "0200" + "44AC0000" + "10B10200" + "0400" + "1000")
    // FLAC: 44100 Hz, 2ch, 16-bit. Packed at bytes 19-22:
    // sr=0x0AC44 -> b19=0x0A b20=0xC4 b21 = (4<<4)|((2-1)<<1)|((16-1)>>4)
    // = 0x42, b22 = ((16-1)&0xF)<<4 = 0xF0
    val flac = hx("664C6143" + "00" + "000022" + "1000" + "1000" +
      "000000" + "000000" + "0A" + "C4" + "42" + "F0" +
      "00" * 4 + "00" * 16)
    // MP3, MPEG1 Layer III 48000 Hz joint-stereo, behind an ID3v2
    // tag with a FOOTER (flag 0x10) and 3 synchsafe content bytes:
    // skip = 10 + 3 + 10
    val mp3Tagged = hx("494433" + "0400" + "10" + "00000003" +
      "414141" + "00" * 10 + "FFFB" + "94" + "00")
    // bare MP3, MPEG2 (22050 Hz) mono
    val mp3Bare = hx("FFF3" + "90" + "C0")
    val rows = Seq(("wav", wav), ("flac", flac),
      ("mp3tag", mp3Tagged), ("mp3", mp3Bare),
      // reserved version bits (01) must refuse, not mis-table
      ("mp3badver", hx("FFEB" + "90" + "00")),
      // sample-rate index 3 is reserved
      ("mp3badsr", hx("FFFB" + "9C" + "00")),
      // NON-SYNCHSAFE tag size (high bit set): a mis-skip could land
      // on 0xFF bytes inside the tag body (common in embedded cover
      // art) and report bogus metadata — must refuse, and the 0xFF
      // here is exactly such a booby trap at the wrong offset
      ("mp3badtag", hx("494433" + "0400" + "00" + "00000080" +
        "FFFB9400" + "00" * 4 + "FFFB" + "94" + "00")),
      // tag size overshooting the payload must refuse, not overread
      ("mp3overshoot", hx("494433" + "0400" + "00" + "0000007F" +
        "FFFB" + "94" + "00")),
      // FLAC whose first block is NOT STREAMINFO (type 4 = VORBIS
      // _COMMENT): fixed-offset reads would be garbage — refuse
      ("flacnotsi", hx("664C6143" + "04" + "000022" + "00" * 34)),
      // FLAC truncated mid-STREAMINFO: fields null, no crash
      ("flactrunc", hx("664C6143" + "00" + "000022" + "1000")),
      ("junk", "RIFFnope".getBytes("UTF-8")))
      .toDF("name", "payload")
    val out = rows.select(col("name"),
        Multimodal.audioMeta(col("payload")).as("a"))
      .select(col("name"), col("a.fmt"), col("a.channels"),
        col("a.sample_rate"), col("a.bits"))
      .collect().map(r => r.getString(0) ->
        (Option(r.get(1)), Option(r.get(2)), Option(r.get(3)), Option(r.get(4))))
      .toMap
    assert(out("wav") == ((Some("wav"), Some(2), Some(44100), Some(16))))
    assert(out("flac") == ((Some("flac"), Some(2), Some(44100), Some(16))),
      s"flac: ${out("flac")}")
    assert(out("mp3tag") == ((Some("mp3"), Some(2), Some(48000), None)),
      s"mp3tag: ${out("mp3tag")}")
    assert(out("mp3") == ((Some("mp3"), Some(1), Some(22050), None)),
      s"mp3: ${out("mp3")}")
    assert(out("mp3badver") == ((None, None, None, None)))
    assert(out("mp3badsr") == ((None, None, None, None)))
    assert(out("mp3badtag") == ((None, None, None, None)),
      s"non-synchsafe tag must refuse: ${out("mp3badtag")}")
    assert(out("mp3overshoot") == ((None, None, None, None)),
      s"overshooting tag must refuse: ${out("mp3overshoot")}")
    assert(out("flacnotsi") == ((None, None, None, None)),
      s"non-STREAMINFO first block must refuse: ${out("flacnotsi")}")
    // truncated mid-STREAMINFO: the sniff holds (magic + type byte
    // are present) but every field read runs off the payload and
    // nulls — fmt-with-null-fields, never garbage, never a crash
    assert(out("flactrunc") == ((Some("flac"), None, None, None)),
      s"truncated STREAMINFO: ${out("flactrunc")}")
    assert(out("junk") == ((None, None, None, None)))
  }

  test("dHash sets exactly the rising-gradient bits of a known pixel " +
      "grid, and near-identical grids land within small hamming " +
      "distance — the perceptual-hash contract") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 3x2 grid (w=3, h=2): 2 bits per row, 4 bits total.
    // row 0: 10 < 20 (bit 0 set), 20 > 5 (bit 1 clear)
    // row 1: 7 > 3 (bit 2 clear), 3 < 9 (bit 3 set)
    val grid = Seq((1L, Seq(10, 20, 5, 7, 3, 9))).toDF("id", "px")
    val code = grid.select(Multimodal.dHash(col("px"), w = 3, h = 2))
      .collect().head.getLong(0)
    assert(code == ((1L << 0) | (1L << 3)), s"got $code")
    // one flipped comparison = hamming 1; ties (==) read as 0-bit
    val near = Seq(
      (1L, Seq(10, 20, 5, 7, 3, 9)),
      (2L, Seq(10, 20, 5, 7, 3, 2)), // only the last comparison flips
      (3L, Seq(10, 10, 5, 7, 3, 9))) // first tied -> bit 0 clears
      .toDF("id", "px")
      .select(col("id"), Multimodal.dHash(col("px"), w = 3, h = 2).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(java.lang.Long.bitCount(near(1L) ^ near(2L)) == 1)
    assert(java.lang.Long.bitCount(near(1L) ^ near(3L)) == 1)
    // the 9x7 default refuses nothing and stays in 56 bits
    val e = intercept[IllegalArgumentException] {
      Multimodal.dHash(col("px"), w = 9, h = 8) // 64 bits: sign trap
    }
    assert(e.getMessage.contains("63"))
  }

  test("grayPixels golden-pixel: a real 9x7 gray PNG round-trips to " +
      "the exact planted pixel array and the exact hand-computed " +
      "dHash code — the REAL decoder face, verified bit-level") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // planted grid: deterministic, full 0-255 range, no ties between
    // horizontal neighbors (so the expected code is unambiguous)
    val px = Array.tabulate(9 * 7) { i =>
      val (x, y) = (i % 9, i / 9)
      (x * 37 + y * 11 + (if ((x + y) % 2 == 0) 3 else 0)) % 256
    }
    val payload = Multimodal.pngOfGray(px, 9, 7)
    val rows = Seq(Multimodal.MediaRow(1L, "image", "png", payload)).toDS()
    val got = Multimodal.grayPixels(rows).collect().head
    assert(got.getLong(0) == 1L)
    assert(got.getSeq[Int](1).toList == px.toList,
      "lossless PNG decode must reproduce the planted grid exactly")
    // the dHash over the REAL decode equals the rule computed by hand
    val expected = (0 until 7).flatMap { r =>
      (0 until 8).collect {
        case c if px(r * 9 + c) < px(r * 9 + c + 1) => 1L << (r * 8 + c)
      }
    }.sum
    val code = Multimodal.grayPixels(rows)
      .select(Multimodal.dHash(col("px"))).collect().head.getLong(0)
    assert(code == expected, s"dHash $code != hand-computed $expected")
  }

  test("grayPixels box-resample: floor-bound cells average exactly " +
      "(2x2 blocks collapse to their value; a hand-computed non-" +
      "divisible case matches), and undecodable payloads yield NULL " +
      "px, never a dropped row or a crash") {
    import spark.implicits._
    // 18x14 image of constant 2x2 blocks -> 9x7 grid == block values
    val blocks = Array.tabulate(9 * 7)(i => (i * 53) % 256)
    val big = Array.tabulate(18 * 14) { i =>
      val (x, y) = (i % 18, i / 18)
      blocks((y / 2) * 9 + (x / 2))
    }
    val rows = Seq(
      Multimodal.MediaRow(1L, "image", "png", Multimodal.pngOfGray(big, 18, 14)),
      Multimodal.MediaRow(2L, "image", "png", "not an image".getBytes("UTF-8")),
      Multimodal.MediaRow(3L, "image", "png",
        Multimodal.pngOfGray(Array(10, 20, 30, 40, 50, 60, 70, 80, 90), 3, 3)))
      .toDS()
    val out = Multimodal.grayPixels(rows, 9, 7).collect()
      .map(r => r.getLong(0) ->
        Option(r.get(1)).map(_ => r.getSeq[Int](1).toList)).toMap
    assert(out(1L).contains(blocks.toList))
    assert(out(2L).isEmpty, "undecodable payload must yield NULL px")
    // a ~100-byte PNG whose IHDR declares 40000x40000 must null-route
    // via the header-only guard — ImageIO.read would allocate the
    // multi-GB raster and die with OutOfMemoryError (an Error, past
    // the handler). Patch the IHDR width/height (bytes 16-23 BE) of a
    // real PNG.
    val bomb = Multimodal.pngOfGray(Array.fill(9 * 7)(128), 9, 7)
    bomb(16) = 0; bomb(17) = 0; bomb(18) = 0x9C.toByte; bomb(19) = 0x40
    bomb(20) = 0; bomb(21) = 0; bomb(22) = 0x9C.toByte; bomb(23) = 0x40
    val bombOutPx = Multimodal.grayPixels(
        Seq(Multimodal.MediaRow(9L, "image", "png", bomb)).toDS(), 9, 7)
      .collect().map(r => Option(r.get(1)))
    assert(bombOutPx.toSeq == Seq(None),
      "declared multi-GB raster must null-route, not allocate")
    // ...and the NULL must PROPAGATE through dHash: without the
    // explicit null guard each bit's when() falls to otherwise(0) and
    // every undecodable image would share code 0 — verbatim fake
    // duplicates of each other and of genuinely flat images
    import org.apache.spark.sql.functions.col
    val codeRows = Multimodal.grayPixels(rows, 9, 7)
      .select(col("media_id"), Multimodal.dHash(col("px")).as("code"))
      .collect().map(r => r.getLong(0) ->
        Option(r.get(r.fieldIndex("code")))).toMap
    assert(codeRows(2L).isEmpty, "dHash of NULL px must be NULL, not 0")
    assert(codeRows(1L).nonEmpty)
    // 3x3 -> 2x2 by hand: cells tile [0,1)/[1,3) per axis ->
    // {10}, {20,30}, {40,70}, {50,60,80,90} -> 10, 25, 55, 70
    val small = Multimodal.grayPixels(
      rows.filter(_.media_id == 3L), w = 2, h = 2).collect().head
    assert(small.getSeq[Int](1).toList == List(10, 25, 55, 70))
  }

  test("grayPixels near-dup contract: a JPEG re-encode of a real " +
      "image lands within hamming 6 of its PNG original's dHash — " +
      "the operating point the production maxHamming targets — while " +
      "a different image stays far") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // smooth 90x70 gradient: structured content, the case perceptual
    // hashing exists for (JPEG's DCT loss barely moves box averages)
    def gradient(flip: Boolean): Array[Int] = Array.tabulate(90 * 70) { i =>
      val (x, y) = (i % 90, i / 90)
      val v = (x * 2 + y) % 256
      if (flip) 255 - v else v
    }
    val png = Multimodal.pngOfGray(gradient(false), 90, 70)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
    val jout = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", jout),
      "headless JPEG encode must be available")
    val rows = Seq(
      Multimodal.MediaRow(1L, "image", "png", png),
      Multimodal.MediaRow(2L, "image", "jpg", jout.toByteArray),
      Multimodal.MediaRow(3L, "image", "png",
        Multimodal.pngOfGray(gradient(true), 90, 70)))
      .toDS()
    val codes = Multimodal.grayPixels(rows)
      .select(col("media_id"), Multimodal.dHash(col("px")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val near = java.lang.Long.bitCount(codes(1L) ^ codes(2L))
    val far = java.lang.Long.bitCount(codes(1L) ^ codes(3L))
    assert(near <= 6, s"JPEG re-encode drifted hamming $near > 6")
    assert(far > 20, s"inverted image unexpectedly close: hamming $far")
  }

  test("grayPixels composites alpha over white: a transparent-" +
      "background PNG hashes identically regardless of the RGB bytes " +
      "its encoder buried under alpha=0") {
    import spark.implicits._
    // two ARGB images, both visually: left half dark-gray 64, right
    // half fully transparent — but one encoder stored BLACK under the
    // transparent pixels, the other stored noise
    def argbPng(underAlpha: (Int, Int) => Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(18, 14,
        java.awt.image.BufferedImage.TYPE_INT_ARGB)
      for (y <- 0 until 14; x <- 0 until 18) {
        val p =
          if (x < 9) 0xff000000 | (64 << 16) | (64 << 8) | 64
          else underAlpha(x, y) & 0x00ffffff // alpha 0: invisible
        img.setRGB(x, y, p)
      }
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", out)
      out.toByteArray
    }
    val rows = Seq(
      Multimodal.MediaRow(1L, "image", "png", argbPng((_, _) => 0)),
      Multimodal.MediaRow(2L, "image", "png",
        argbPng((x, y) => x * 7919 + y * 104729)))
      .toDS()
    val px = Multimodal.grayPixels(rows, 9, 7).collect()
      .map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    assert(px(1L) == px(2L),
      "under-alpha RGB must never reach the hash")
    // the transparent half reads as WHITE (255), the opaque half 64
    assert(px(1L).take(4).forall(_ == 64) && px(1L).slice(5, 9).forall(_ == 255),
      s"got ${px(1L)}")
  }

  test("grayPixelsStub is deterministic, shaped w*h, and identical " +
      "payloads get identical pixels (hamming-0 dHash codes) — the " +
      "decode seam the pHash pipeline rides") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "wholly different text")).toDF("doc_id", "text")
    val px = Multimodal.grayPixelsStub(Multimodal.fromDocuments(docs))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    assert(px(1L).length == 63)
    assert(px.values.flatten.forall(v => v >= 0 && v <= 255))
    assert(px(1L) == px(2L), "identical payloads must decode identically")
    assert(px(1L) != px(3L))
    // and twice over the same input: bit-identical (md5 is pure)
    val again = Multimodal.grayPixelsStub(Multimodal.fromDocuments(docs))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
    assert(again == px)
    val codes = Multimodal.grayPixelsStub(Multimodal.fromDocuments(docs))
      .select(col("media_id"), Multimodal.dHash(col("px")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(codes(1L) == codes(2L) && codes(1L) != codes(3L))
  }

  test("gif round trip is LOSSLESS: known gray grids -> animated GIF " +
      "-> gifFrames recovers every grid exactly, stride samples the " +
      "right source frames, and undecodable payloads yield one " +
      "(-1, NULL) row") {
    import spark.implicits._
    val grids = Seq(
      Array.tabulate(9 * 7)(i => (i * 53) % 256),
      Array.tabulate(9 * 7)(i => (i * 31 + 7) % 256),
      Array.tabulate(9 * 7)(i => 255 - (i * 11) % 256))
    val gif = Multimodal.gifOfGrayFrames(grids, 9, 7)
    val rows = Seq(
      Multimodal.MediaRow(1L, "video", "gif", gif),
      Multimodal.MediaRow(2L, "video", "gif", "not a gif".getBytes("UTF-8")))
      .toDS()
    val out = Multimodal.gifFrames(rows, stride = 1, w = 9, h = 7)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> Option(r.get(2))
        .map(_ => r.getSeq[Int](2).toList))
      .toMap
    grids.zipWithIndex.foreach { case (g, i) =>
      assert(out((1L, i)).contains(g.toList),
        s"frame $i did not round-trip exactly")
    }
    assert(out((2L, -1)).isEmpty, "undecodable payload -> (-1, NULL px)")
    assert(out.size == 4)
    // a corrupt logical-screen descriptor DECLARING a multi-GB canvas
    // must null-route, not attempt the allocation (OutOfMemoryError is
    // an Error — it would kill the task, not reach the Exception
    // handler): patch the header's width/height (bytes 6-9, LE) of a
    // valid GIF to 50000x50000
    val bomb = gif.clone()
    bomb(6) = 0x50.toByte; bomb(7) = 0xC3.toByte // 50000 LE
    bomb(8) = 0x50.toByte; bomb(9) = 0xC3.toByte
    val bombOut = Multimodal.gifFrames(
        Seq(Multimodal.MediaRow(9L, "video", "gif", bomb)).toDS(),
        stride = 1, w = 9, h = 7)
      .collect().map(r => (r.getLong(0), r.getInt(1), Option(r.get(2))))
    assert(bombOut.toSeq == Seq((9L, -1, None)),
      s"implausible screen must null-route, got ${bombOut.toSeq}")
    // the PER-FRAME twin: sane logical screen, but an ImageDescriptor
    // declaring 40000x40000 — reader.read would allocate that raster
    // (OutOfMemoryError, an Error) unless the header-only guard
    // refuses first. Hand-built minimal GIF: header + 10x10 LSD +
    // bomb descriptor + well-formed-enough data blocks + trailer.
    val frameBomb = (Seq[Int](
      'G', 'I', 'F', '8', '9', 'a',
      10, 0, 10, 0, 0, 0, 0, // LSD: 10x10, no GCT
      0x2C, 0, 0, 0, 0, 0x40, 0x9C, 0x40, 0x9C, 0x00, // 40000x40000
      0x08, 0x01, 0x00, 0x00, // LZW min code + 1 data byte + term
      0x3B)).map(_.toByte).toArray
    val fbOut = Multimodal.gifFrames(
        Seq(Multimodal.MediaRow(10L, "video", "gif", frameBomb)).toDS(),
        stride = 1, w = 9, h = 7)
      .collect().map(r => (r.getLong(0), r.getInt(1), Option(r.get(2))))
    assert(fbOut.toSeq == Seq((10L, -1, None)),
      s"implausible frame must null-route, got ${fbOut.toSeq}")
    // and a null payload must null-route, not NPE the task
    val nullOut = Multimodal.gifFrames(
        Seq(Multimodal.MediaRow(11L, "video", "gif",
          null: Array[Byte])).toDS(),
        stride = 1, w = 9, h = 7)
      .collect().map(r => (r.getLong(0), r.getInt(1), Option(r.get(2))))
    assert(nullOut.toSeq == Seq((11L, -1, None)),
      s"null payload must null-route, got ${nullOut.toSeq}")
    // stride=2 keeps source indices 0 and 2 with their provenance
    val sampled = Multimodal.gifFrames(rows.filter(_.media_id == 1L),
        stride = 2, w = 9, h = 7)
      .collect().map(r => r.getInt(1) -> r.getSeq[Int](2).toList).toMap
    assert(sampled.keySet == Set(0, 2))
    assert(sampled(2) == grids(2).toList)
  }

  test("gifFrames composites the GIF89a playback model: delta rects " +
      "draw at their offsets, restoreToBackgroundColor clears the " +
      "rect (reads white through the alpha flattening), and " +
      "restoreToPrevious rewinds the draw") {
    import spark.implicits._
    // 18x14 canvas -> 9x7 grid via exact 2x2 box averages, so the
    // expected grids are hand-replayable on plain arrays. -1 marks
    // "transparent" (composites to 255 in boxGray).
    val cw = 18; val ch = 14
    val base = Array.tabulate(cw * ch)(i => (i * 3) % 200)
    def over(canvas: Array[Int], px: Array[Int], w: Int, h: Int,
        left: Int, top: Int): Array[Int] = {
      val out = canvas.clone()
      for (y <- 0 until h; x <- 0 until w)
        out((top + y) * cw + (left + x)) = px(y * w + x)
      out
    }
    def cleared(canvas: Array[Int], w: Int, h: Int, left: Int,
        top: Int): Array[Int] = {
      val out = canvas.clone()
      for (y <- 0 until h; x <- 0 until w)
        out((top + y) * cw + (left + x)) = -1
      out
    }
    def grid(canvas: Array[Int]): List[Int] =
      (for (cy <- 0 until 7; cx <- 0 until 9) yield {
        val vs = for (dy <- 0 until 2; dx <- 0 until 2)
          yield { val v = canvas((cy * 2 + dy) * cw + (cx * 2 + dx))
            if (v < 0) 255 else v }
        vs.sum / 4
      }).toList
    val patch = Array.fill(6 * 4)(250)
    val tiny = Array.fill(2 * 2)(5)
    val gif = Multimodal.gifOfFrames(Seq(
      Multimodal.GifFrame(base, cw, ch),
      Multimodal.GifFrame(patch, 6, 4, left = 4, top = 2,
        disposal = "restoreToBackgroundColor"),
      Multimodal.GifFrame(tiny, 2, 2, left = 10, top = 8,
        disposal = "restoreToPrevious"),
      Multimodal.GifFrame(tiny, 2, 2, left = 0, top = 0)))
    val rows = Seq(Multimodal.MediaRow(1L, "video", "gif", gif)).toDS()
    val out = Multimodal.gifFrames(rows, stride = 1, w = 9, h = 7)
      .collect().map(r => r.getInt(1) -> r.getSeq[Int](2).toList).toMap
    // frame 0: the base canvas
    assert(out(0) == grid(base), "frame 0 must be the base canvas")
    // frame 1: patch drawn over base at (4,2)
    assert(out(1) == grid(over(base, patch, 6, 4, 4, 2)),
      "frame 1 must composite the delta rect over the live canvas")
    // frame 1's disposal clears its rect; frame 2 draws tiny at (10,8)
    val afterClear = cleared(base, 6, 4, 4, 2)
    assert(out(2) == grid(over(afterClear, tiny, 2, 2, 10, 8)),
      "restoreToBackgroundColor must clear the rect to background")
    // frame 2's disposal REWINDS its draw; frame 3 draws tiny at (0,0)
    assert(out(3) == grid(over(afterClear, tiny, 2, 2, 0, 0)),
      "restoreToPrevious must rewind frame 2's draw")
  }

  test("videoNearDupPairs rolls frame matches up to video pairs: " +
      "cross-video only (media-first struct ordering), counts every " +
      "matching frame pair once, min_hamming over survivors, and the " +
      "minMatchedPairs gate filters singles") {
    import spark.implicits._
    // videos: A={15, 240, 0xFF00, 15}, B={15, 241, 0x0FF0}, C=far.
    // maxHamming=2, bits=16. A.f0/A.f3 are identical SAME-video
    // frames (must not pair); Axf0/Bf0 h=0 (x2: A.f3 too), Af1/Bf1
    // h=1; C matches nothing within 2.
    val frames = Seq(
      (1L, 0, 15L), (1L, 1, 240L), (1L, 2, 0xFF00L), (1L, 3, 15L),
      (2L, 0, 15L), (2L, 1, 241L), (2L, 2, 0x0FF0L),
      (3L, 0, 0x5A5AL), (3L, 1, 0xA5A5L))
      .toDF("media_id", "frame_no", "code")
    val pairs = Multimodal.videoNearDupPairs(frames, maxHamming = 2,
        maxBucket = None, bits = 16)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getInt(3))).toMap
    assert(pairs.keySet == Set((1L, 2L)),
      s"expected only (1,2), got ${pairs.keySet}")
    // matched frame pairs: (A.f0,B.f0), (A.f3,B.f0), (A.f1,B.f1)
    assert(pairs((1L, 2L)) == ((3L, 0)),
      s"expected (3 pairs, min_hamming 0), got ${pairs((1L, 2L))}")
    // the gate: requiring >= 4 matched pairs drops the pair
    assert(Multimodal.videoNearDupPairs(frames, maxHamming = 2,
      maxBucket = None, bits = 16, minMatchedPairs = 4L)
      .count() == 0)
  }

  test("video near-dup end-to-end on REAL encoded GIFs: a lightly " +
      "perturbed re-encode of a 3-frame video is flagged against its " +
      "original; an inverted video is not") {
    import spark.implicits._
    // structurally DISTINCT frames (different gradient directions) —
    // a constant brightness offset would not do: dHash is invariant
    // to it, so offset-only "frames" all share one code
    def gradient(seed: Int, flip: Boolean): Array[Int] =
      Array.tabulate(90 * 70) { i =>
        val (x, y) = (i % 90, i / 90)
        val v = (x * (2 + 2 * seed) + y * (1 + seed)) % 256
        if (flip) 255 - v else v
      }
    def jitter(px: Array[Int]): Array[Int] =
      px.zipWithIndex.map { case (v, i) =>
        math.min(255, math.max(0, v + (i % 5) - 2)) }
    val a = Multimodal.gifOfGrayFrames(
      (0 until 3).map(gradient(_, flip = false)), 90, 70)
    val b = Multimodal.gifOfGrayFrames(
      (0 until 3).map(s => jitter(gradient(s, flip = false))), 90, 70)
    val c = Multimodal.gifOfGrayFrames(
      (0 until 3).map(gradient(_, flip = true)), 90, 70)
    val rows = Seq(
      Multimodal.MediaRow(1L, "video", "gif", a),
      Multimodal.MediaRow(2L, "video", "gif", b),
      Multimodal.MediaRow(3L, "video", "gif", c)).toDS()
    import org.apache.spark.sql.functions.col
    val codes = Multimodal.gifFrames(rows)
      .select(col("media_id"), col("frame_no"),
        Multimodal.dHash(col("px")).as("code"))
    val pairs = Multimodal.videoNearDupPairs(codes, maxHamming = 6,
        maxBucket = None, bits = 56)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
      .toMap
    assert(pairs.contains((1L, 2L)),
      s"perturbed re-encode not flagged; pairs=${pairs.keySet}")
    assert(pairs((1L, 2L)) == 3L, "all 3 frames should match")
    assert(!pairs.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      "inverted video must not pair with anything")
  }

  test("incrementalVideoPairs: batch videos match indexed corpus " +
      "videos (full-recompute parity), and a video present in BOTH " +
      "corpus and batch never reports itself") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, struct}
    // corpus: videos 1, 2 (2 frames each); batch: video 1 AGAIN
    // (overlapping reprocessing), video 10 near video 2, video 11 far
    val corpus = Seq(
      (1L, 0, 0x0FL), (1L, 1, 0xF0L),
      (2L, 0, 0xFF00L), (2L, 1, 0x00FFL))
      .toDF("media_id", "frame_no", "code")
    val index = graft.dedup.Dedup.hammingBandRows(
      corpus.select(struct(col("media_id"), col("frame_no")).as("id"),
        col("code")),
      maxHamming = 2, bits = 16)
    val batch = Seq(
      (1L, 0, 0x0FL), (1L, 1, 0xF0L), // itself — must not pair
      (10L, 0, 0xFF01L), (10L, 1, 0x00FEL), // h=1/h=1 of video 2
      (11L, 0, 0x5A5AL))
      .toDF("media_id", "frame_no", "code")
    val pairs = Multimodal.incrementalVideoPairs(index, batch,
        maxHamming = 2, maxBucket = None, bits = 16)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getInt(3))).toMap
    // video 1's self-overlap is dropped; video 10 pairs with corpus
    // video 2 on both frames; video 1's frames ALSO match batch-video
    // 1's indexed twin — but that IS the self pair, gone
    assert(pairs.keySet == Set((10L, 2L)), s"got ${pairs.keySet}")
    assert(pairs((10L, 2L)) == ((2L, 1)), s"got ${pairs((10L, 2L))}")
  }

  test("frameGridsStub: deterministic, frame-salted (distinct frames " +
      "get distinct grids; identical payloads get identical frame " +
      "sets), shaped w*h") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "wholly different text")).toDF("doc_id", "text")
    val px = Multimodal.frameGridsStub(
        Multimodal.fromDocuments(docs), frames = 3)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getSeq[Int](2).toList)
      .toMap
    assert(px.size == 9)
    assert(px.values.forall(g => g.length == 63 &&
      g.forall(v => v >= 0 && v <= 255)))
    assert(px((1L, 0)) != px((1L, 1)), "frames must be salted apart")
    (0 until 3).foreach(f => assert(px((1L, f)) == px((2L, f)),
      "identical payloads must get identical frame grids"))
    assert(px((1L, 0)) != px((3L, 0)))
    val again = Multimodal.frameGridsStub(
        Multimodal.fromDocuments(docs), frames = 3)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> r.getSeq[Int](2).toList)
      .toMap
    assert(again == px, "stub must be bit-deterministic")
  }

  test("pcmEnergyContour golden: constant-amplitude windows of a real " +
      "mono 16-bit WAV read back as their exact RMS values, and a " +
      "monotone contour dHashes to all-ones") {
    // 33 windows x 30 samples, window w alternating +/-(w*700):
    // RMS of a constant-magnitude window is the magnitude itself
    val samples = Array.tabulate(33 * 30) { i =>
      val w = i / 30
      val a = w * 700
      if (i % 2 == 0) a else -a
    }
    val wav = Multimodal.wavOfSamples(samples)
    val got = Multimodal.pcmContourOf(wav, 33)
    val expected = Array.tabulate(33)(w =>
      math.round(w * 700.0 / 32768.0 * 255.0).toInt)
    assert(got.toList == expected.toList,
      s"contour ${got.toList} != expected ${expected.toList}")
    // strictly increasing contour -> every gradient bit set
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Seq(Multimodal.MediaRow(1L, "audio", "wav", wav)).toDS()
    val code = Multimodal.audioFingerprint(rows)
      .select(col("code")).collect().head.getLong(0)
    assert(code == (1L << 32) - 1,
      s"monotone contour must set all 32 bits, got $code")
  }

  test("pcmEnergyContour parses channels and widths: a stereo WAV " +
      "with L=R equals its mono twin; 8-bit unsigned decodes around " +
      "the 128 midpoint; non-PCM and non-WAV payloads yield NULL " +
      "energy (and NULL codes downstream)") {
    import spark.implicits._
    val mono = Array.tabulate(330)(i => if (i % 2 == 0) 8000 else -8000)
    def wav(channels: Int, bits: Int, fmtCode: Int,
        data: Array[Int]): Array[Byte] = {
      val bytesPer = bits / 8
      val dataLen = data.length * bytesPer
      val out = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(fmtCode.toShort).putShort(channels.toShort).putInt(8000)
        .putInt(8000 * channels * bytesPer).putShort((channels * bytesPer).toShort)
        .putShort(bits.toShort)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      data.foreach(s => bits match {
        case 16 => out.putShort(s.toShort)
        case 32 => out.putInt(s)
        case _ => out.put(s.toByte)
      })
      out.array()
    }
    val stereo = mono.flatMap(s => Array(s, s))
    assert(Multimodal.pcmContourOf(wav(2, 16, 1, stereo), 33).toList ==
      Multimodal.pcmContourOf(Multimodal.wavOfSamples(mono), 33).toList,
      "L=R stereo must mix to its mono twin")
    // 8-bit unsigned: alternating 128+64 / 128-64 -> |s|=64 of 128
    val eight = Array.tabulate(330)(i => if (i % 2 == 0) 192 else 64)
    val got8 = Multimodal.pcmContourOf(wav(1, 8, 1, eight), 33)
    assert(got8.toList == List.fill(33)(math.round(64.0 / 128.0 * 255.0).toInt),
      s"8-bit contour ${got8.toList}")
    // 24-bit LE signed: alternating +/-(1<<20) of 2^23 full scale
    // -> every window round(2^20/2^23*255) = 32; 3-byte LE samples
    // built by hand (the wav() helper writes 16/32/8-bit only)
    val s24 = Array.tabulate(330)(i => if (i % 2 == 0) 1 << 20 else -(1 << 20))
    val w24 = {
      val dataLen = s24.length * 3
      val out = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(8000)
        .putInt(8000 * 3).putShort(3).putShort(24)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      s24.foreach { s =>
        out.put((s & 0xff).toByte).put(((s >> 8) & 0xff).toByte)
          .put(((s >> 16) & 0xff).toByte)
      }
      out.array()
    }
    assert(Multimodal.pcmContourOf(w24, 33).toList == List.fill(33)(32),
      "24-bit LE sign-extension")
    // 32-bit LE signed: +/-(1<<28) of 2^31 -> round(255/8) = 32
    val s32 = Array.tabulate(330)(i => if (i % 2 == 0) 1 << 28 else -(1 << 28))
    assert(Multimodal.pcmContourOf(wav(1, 32, 1, s32), 33).toList ==
      List.fill(33)(32), "32-bit LE")
    // refusals -> NULL, and the NULL propagates through the hash
    assert(Multimodal.pcmContourOf("not audio".getBytes("UTF-8"), 33) == null)
    assert(Multimodal.pcmContourOf(wav(1, 16, 3, mono), 33) == null,
      "non-PCM format codes must refuse")
    import org.apache.spark.sql.functions.col
    val codes = Multimodal.audioFingerprint(Seq(
        Multimodal.MediaRow(1L, "audio", "wav", "junk".getBytes),
        Multimodal.MediaRow(2L, "audio", "wav", Multimodal.wavOfSamples(mono)))
        .toDS())
      .collect().map(r => r.getLong(0) ->
        Option(r.get(r.fieldIndex("code")))).toMap
    assert(codes(1L).isEmpty, "unparseable audio must code NULL")
    assert(codes(2L).nonEmpty)
  }

  test("audio near-dup contract: a volume-preserving light edit of a " +
      "real WAV lands within hamming 6 of its original's contour " +
      "hash; a different signal stays far — and the pairs ride the " +
      "shared hamming banding kernel at bits=32") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // a loudness SHAPE: per-window amplitude follows a bumpy curve
    def amps(phase: Double): Array[Int] = Array.tabulate(33)(w =>
      (6000 + 5000 * math.sin(w / 4.0 + phase)).toInt)
    def signal(amps: Array[Int], jitterPct: Int): Array[Int] =
      Array.tabulate(33 * 40) { i =>
        val w = i / 40
        val a = amps(w) + amps(w) * jitterPct / 100
        if (i % 2 == 0) a else -a
      }
    val rows = Seq(
      Multimodal.MediaRow(1L, "audio", "wav",
        Multimodal.wavOfSamples(signal(amps(0.0), 0))),
      Multimodal.MediaRow(2L, "audio", "wav",
        Multimodal.wavOfSamples(signal(amps(0.0), 3))), // +3% gain
      Multimodal.MediaRow(3L, "audio", "wav",
        Multimodal.wavOfSamples(signal(amps(2.5), 0)))) // shifted shape
      .toDS()
    val codes = Multimodal.audioFingerprint(rows).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val near = java.lang.Long.bitCount(codes(1L) ^ codes(2L))
    val far = java.lang.Long.bitCount(codes(1L) ^ codes(3L))
    assert(near <= 6, s"light edit drifted hamming $near > 6")
    assert(far > 10, s"different signal unexpectedly close: $far")
    // and the shared kernel surfaces exactly the near pair
    val pairs = graft.dedup.Dedup.hammingBandedPairs(
        Multimodal.audioFingerprint(rows)
          .select(col("media_id").as("id"), col("code")),
        maxHamming = 6, maxBucket = None, bits = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("EVERY face null-routes a null payload instead of NPE-ing the " +
      "task: stubs mirror their real faces' null contracts") {
    import spark.implicits._
    import Multimodal.MediaRow
    val rows = Seq(
      MediaRow(1L, "image", "png", "real bytes".getBytes("UTF-8")),
      MediaRow(2L, "image", "png", null)).toDS()
    // decodeStub: zeroed features, null checksum
    val feats = Multimodal.decodeStub(rows).collect()
      .map(f => f.media_id -> f).toMap
    assert(feats(2L).checksum == null && feats(2L).byte_len == 0)
    assert(feats(1L).checksum != null)
    // grayPixelsStub: (id, NULL px) like grayPixels
    val px = Multimodal.grayPixelsStub(rows).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(px(2L).isEmpty && px(1L).nonEmpty)
    // frameGridsStub: one (id, -1, NULL px) row like gifFrames
    val grids = Multimodal.frameGridsStub(rows, frames = 3).collect()
      .map(r => (r.getLong(0), r.getInt(1), Option(r.get(2))))
    assert(grids.count(_._1 == 1L) == 3)
    assert(grids.filter(_._1 == 2L).toSeq == Seq((2L, -1, None)))
    // frameSampleStub: no samples for the null payload; stride guard
    val samples = Multimodal.frameSampleStub(rows, stride = 4).collect()
    assert(samples.forall(_.getLong(0) == 1L) && samples.nonEmpty)
    intercept[IllegalArgumentException] {
      Multimodal.frameSampleStub(rows, stride = 0)
    }
    // pcmEnergyContour: null payload -> null energy, task alive
    val audio = Seq(MediaRow(3L, "audio", "wav", null)).toDS()
    val contour = Multimodal.pcmEnergyContour(audio, windows = 4)
      .collect()
    assert(contour.length == 1 && contour.head.get(1) == null)
    // dHash refuses a bitless grid loudly at build time
    intercept[IllegalArgumentException] {
      Multimodal.dHash(org.apache.spark.sql.functions.col("px"),
        w = 1, h = 7)
    }
  }
}
