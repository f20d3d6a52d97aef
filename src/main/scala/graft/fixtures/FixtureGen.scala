package graft.fixtures

import java.time.Instant
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{Dataset, SparkSession}

/** Seeded re-implementation of the reference data generator's semantics
  * (`/root/reference/generate_data.py:28-92`): one machine cycle is 8 rows
  * — Cycle_Start; AS_Check(AS_VacuumUnits); Pick_Check(PP_VacuumUnits) and
  * Pick_Check(PP_Force) at the same millisecond; AS_Blowoff_Check
  * (AS_VacuumUnits); Place_Check(PP_Force) and Place_Check(PP_VacuumUnits)
  * at the same millisecond; Cycle_End — with inter-step delays of
  * (130–150), (95–105), (50–55), (220–250), (80–100) ms and ok/error value
  * ranges co-designed with `config/schwellwerte.json`'s thresholds.
  *
  * Unlike the reference it is fully deterministic (fixed seed), and it
  * plants the SURVEY §7.4 edge cases: events before the first Cycle_Start
  * (cycle_seq must stay 0), a trailing cycle with no Cycle_End, same-ms
  * tie pairs, blank parameter/value fields, and (raw CSV only) an
  * unparseable-timestamp row plus a null-machine row that the cleanse
  * stage must drop.
  */
object FixtureGen {

  /** The intended post-cleanse row — ground truth for the oracle parquet. */
  final case class CleanEvent(
      event_timestamp: java.sql.Timestamp,
      machine_id: String,
      event_name: String,
      parameter_name: String,
      value: Option[Float])

  final case class Generated(csvLines: Seq[String], clean: Seq[CleanEvent])

  private val isoFmt = DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'")
    .withZone(ZoneOffset.UTC)

  private def iso(epochMs: Long): String = isoFmt.format(Instant.ofEpochMilli(epochMs))

  private def csvLine(ts: String, m: String, e: String, p: String, v: String) =
    s"$ts,$m,$e,$p,$v"

  /** One decimal place keeps sink rounding well away from boundaries. */
  private def sample1dp(rnd: Random, lo: Double, hi: Double): Float =
    (math.round((lo + rnd.nextDouble() * (hi - lo)) * 10.0) / 10.0).toFloat

  /** Generate `machines` parallel machine streams from `startEpochMs` until
    * `endEpochMs`. `idleGapMs = (0,0)` reproduces the reference's
    * back-to-back ~617 ms cycle cadence (~1.12 M rows/machine-day);
    * a nonzero gap thins the stream for small fixtures spanning hours.
    */
  def generate(
      machines: Seq[String],
      startEpochMs: Long,
      endEpochMs: Long,
      idleGapMs: (Int, Int) = (0, 0),
      errorRate: Double = 0.02,
      seed: Long = 42L,
      withEdgeCases: Boolean = true): Generated = {

    val csv = new ArrayBuffer[String]()
    val clean = new ArrayBuffer[CleanEvent]()
    csv += "timestamp,machine_id,event_name,parameter_name,value"

    def emit(tMs: Long, m: String, e: String, p: String, v: Option[Float]): Unit = {
      csv += csvLine(iso(tMs), m, e, if (p == null) "" else p,
        v.map(_.toString).getOrElse(""))
      clean += CleanEvent(new java.sql.Timestamp(tMs), m, e,
        if (p == null) "" else p, v)
    }

    machines.zipWithIndex.foreach { case (m, mi) =>
      val rnd = new Random(seed + mi)
      def delay(lo: Int, hi: Int): Long = (lo + rnd.nextInt(hi - lo + 1)).toLong
      // ok-range value, or an error-range value with prob errorRate;
      // ranges mirror generate_data.py:35-52 / schwellwerte.json thresholds
      def vacAs(): Float = // ok (40,70), error > 70
        if (rnd.nextDouble() < errorRate) sample1dp(rnd, 70.5, 80.0)
        else sample1dp(rnd, 40.0, 69.9)
      def vacPp(): Float = // ok (50,75), error > 75
        if (rnd.nextDouble() < errorRate) sample1dp(rnd, 75.5, 85.0)
        else sample1dp(rnd, 50.0, 74.9)
      def release(): Float = // ok (450,550), error < 450
        if (rnd.nextDouble() < errorRate) sample1dp(rnd, 400.0, 449.0)
        else sample1dp(rnd, 450.1, 550.0)
      def force(): Float = // ok (60,120), error outside [60,120]
        if (rnd.nextDouble() < errorRate)
          (if (rnd.nextBoolean()) sample1dp(rnd, 50.0, 59.4) else sample1dp(rnd, 120.6, 130.0))
        else sample1dp(rnd, 60.1, 119.9)

      var t = startEpochMs
      if (withEdgeCases) {
        // Orphan readings before the first Cycle_Start: cycle_seq stays 0,
        // NULL cycle_time downstream (daily_aggregator.py:45,64 semantics).
        emit(t - 5000, m, "AS_Check", "AS_VacuumUnits", Some(vacAs()))
        emit(t - 4000, m, "Pick_Check", "PP_Force", Some(force()))
        // Raw-only garbage the cleanse stage must drop:
        csv += csvLine("not-a-timestamp", m, "AS_Check", "AS_VacuumUnits", "55.5")
        csv += csvLine(iso(t - 3000), "", "AS_Check", "AS_VacuumUnits", "56.5")
      }
      while (t < endEpochMs) {
        emit(t, m, "Cycle_Start", null, None)
        val t1 = t + delay(130, 150)
        emit(t1, m, "AS_Check", "AS_VacuumUnits", Some(vacAs()))
        val t2 = t1 + delay(95, 105)
        emit(t2, m, "Pick_Check", "PP_VacuumUnits", Some(vacPp())) // same-ms tie
        emit(t2, m, "Pick_Check", "PP_Force", Some(force()))      // same-ms tie
        val t3 = t2 + delay(50, 55)
        emit(t3, m, "AS_Blowoff_Check", "AS_VacuumUnits", Some(release()))
        val t4 = t3 + delay(220, 250)
        emit(t4, m, "Place_Check", "PP_Force", Some(force()))      // same-ms tie
        emit(t4, m, "Place_Check", "PP_VacuumUnits", Some(release())) // same-ms tie (release reading, ok 450-550)
        val t5 = t4 + delay(80, 100)
        emit(t5, m, "Cycle_End", null, None)
        t = t5 + delay(idleGapMs._1.max(1), idleGapMs._2.max(2))
      }
      if (withEdgeCases) {
        // Trailing cycle with no Cycle_End: boundaries collapse to the
        // Start row alone => cycle_time 0.0, not NULL.
        emit(t, m, "Cycle_Start", null, None)
        emit(t + 140, m, "AS_Check", "AS_VacuumUnits", Some(vacAs()))
      }
    }
    Generated(csv.toSeq, clean.toSeq)
  }

  def writeCsv(path: String, lines: Seq[String]): Unit = {
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(f, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }

  def cleanDataset(spark: SparkSession, g: Generated): Dataset[CleanEvent] = {
    import spark.implicits._
    spark.createDataset(g.clean)
  }

  /** CLI arg validation, parity with the reference's entry point
    * (`/root/reference/generate_data.py:11-23`): exactly
    * `<machine_id> <YYYY-MM-DD>`, with a strict ISO date parse.
    */
  def validateArgs(args: Seq[String]): Either[String, (String, java.time.LocalDate)] =
    args match {
      case Seq(machineId, dateStr) =>
        try Right((machineId, java.time.LocalDate.parse(dateStr)))
        catch { case _: java.time.format.DateTimeParseException =>
          Left(s"invalid date '$dateStr' (expected e.g. 2024-10-16)")
        }
      case _ => Left("usage: FixtureGen <machine_id> <YYYY-MM-DD>")
    }

  /** Output naming scheme of the reference generator
    * (`/root/reference/generate_data.py:55-58`):
    * `machine_event_logs_<id>_<start>_to_<end>.csv` with both bounds
    * rendered as `yyyy-MM-dd_HH-mm` UTC.
    */
  def cliFileName(machineId: String, start: Instant, end: Instant): String = {
    val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd_HH-mm").withZone(ZoneOffset.UTC)
    s"machine_event_logs_${machineId}_${fmt.format(start)}_to_${fmt.format(end)}.csv"
  }

  /** Parse an env knob with the same Either-shaped error reporting as
    * [[validateArgs]] — a malformed `GRAFT_SIM_HOURS=abc` must surface as
    * the clean usage-error exit path, not a NumberFormatException trace.
    */
  private def envNum[A](env: Map[String, String], key: String, default: A)(
      parse: String => A): Either[String, A] =
    env.get(key) match {
      case None => Right(default)
      case Some(raw) =>
        scala.util.Try(parse(raw)).toEither.left
          .map(_ => s"invalid $key '$raw' (expected a number)")
    }

  /** The CLI body, separated from [[main]] so tests can inject env.
    * Returns the written file, or the validation error.
    */
  def runCli(args: Seq[String], env: Map[String, String]): Either[String, java.io.File] =
    for {
      parsed <- validateArgs(args)
      (machineId, date) = parsed
      hours <- envNum(env, "GRAFT_SIM_HOURS", 24)(_.toInt)
      // deterministic by design (the documented divergence from the
      // unseeded reference): the same (machine, day) regenerates byte
      // for byte; GRAFT_SEED overrides for variation studies
      seed <- envNum(env, "GRAFT_SEED",
        machineId.hashCode.toLong * 1000003L + date.toEpochDay)(_.toLong)
    } yield {
      val start = date.atStartOfDay(ZoneOffset.UTC).toInstant
      val end = start.plusSeconds(hours * 3600L)
      val dir = env.getOrElse("GRAFT_DATA_DIR", "./raw_data")
      val g = generate(Seq(machineId), start.toEpochMilli, end.toEpochMilli,
        idleGapMs = (0, 0), errorRate = 0.02, seed = seed, withEdgeCases = false)
      val f = new java.io.File(dir, cliFileName(machineId, start, end))
      writeCsv(f.getPath, g.csvLines)
      f
    }

  /** Drop-in replacement for `python generate_data.py <machine_id>
    * <YYYY-MM-DD>` (`/root/reference/generate_data.py`): one simulated
    * machine-day — 24 h from midnight UTC at the full ~617 ms cycle
    * cadence (~1.12 M rows) — written to
    * `$GRAFT_DATA_DIR/machine_event_logs_…csv` (default `./raw_data`,
    * the reference's hardcoded directory). `GRAFT_SIM_HOURS` (default
    * 24, the reference's `SimDauer` constant) shrinks the window for
    * smoke fixtures.
    */
  def main(args: Array[String]): Unit =
    runCli(args.toSeq, sys.env) match {
      case Left(err) => System.err.println(err); sys.exit(1)
      case Right(f) => println(s"wrote $f")
    }

  /** One media-payload fixture row: the payload bytes plus the
    * GENERATOR's ground truth — what a correct header parse must
    * recover (`exp_*` null and `valid = 0` for deliberately-malformed
    * payloads). The oracle for `ext_multimodal_real_meta` just selects
    * these columns; the engine side must re-derive them from the bytes.
    *
    * Rows whose payload carries a REAL decodable pixel array
    * (uncompressed 24-bit BMP, zlib-deflated PNG) additionally carry
    * the pixel-tier ground truth the `ext_multimodal_pixel_*` oracles
    * read back: integer channel/luma sums, the 16-bin luma histogram,
    * and the 8×8 integer-box-resample checksum — all computed by the
    * generator from the raw pixels BEFORE encoding, so a hash match
    * proves the engine's container decode + unfilter + resample end to
    * end. `px_ok = 0` rows (no pixel array, or a deliberately corrupt
    * one behind a valid header) pin the pixel tier's rejection path.
    */
  final case class MediaFixtureRow(
      media_id: Long,
      exp_fmt: String,
      exp_width: Option[Int],
      exp_height: Option[Int],
      valid: Int,
      payload: Array[Byte],
      px_ok: Int = 0,
      px_n: Option[Long] = None,
      px_sum_r: Option[Long] = None,
      px_sum_g: Option[Long] = None,
      px_sum_b: Option[Long] = None,
      px_sum_luma: Option[Long] = None,
      px_luma_hist: Option[Seq[Long]] = None,
      rz_w: Option[Int] = None,
      rz_h: Option[Int] = None,
      rz_checksum: Option[Long] = None)

  /** Deterministic media payloads with GENUINE minimal container
    * headers — real PNG signatures + IHDR, real JPEG marker sequences
    * (APP0/COM segments before the SOFn, so parsers must walk segments,
    * not peek a fixed offset; one variant truncated exactly after the
    * SOF width bytes, which a correct T.81 walk still parses), real
    * GIF87a/89a logical screen descriptors, real BITMAPINFOHEADER BMPs,
    * real WebP RIFF containers in all three chunk layouts (VP8 lossy /
    * VP8L lossless / VP8X extended), real TIFF 6.0 headers in both byte
    * orders with SHORT and LONG dimension tags, real BigTIFF headers
    * (magic 43, LONG8 widths), and thumbnail-first TIFFs whose ground
    * truth is the SECOND (full-resolution) IFD — followed by seeded
    * filler standing in for pixel data. Four row classes additionally
    * carry COMPLETE decodable images with pixel-level ground truth:
    * uncompressed 24-bit BMP (bottom-up and top-down) and zlib-real PNG
    * (truecolor and truecolor-alpha, scanline filters 0–4). Interleaved
    * malformed rows cover the rejection paths: truncated signatures, a
    * PNG whose first chunk is not IHDR, a JPEG that reaches SOS without
    * any SOF, a RIFF that is not a WebP (WAVE audio), a VP8 chunk
    * truncated before its start code, a TIFF whose IFD offset points
    * past the buffer, a TIFF missing its height tag, zero dims, empty
    * and garbage payloads, and a header-valid PNG whose IDAT is garbage
    * (pixel tier must reject what the header tier accepts).
    */
  def mediaPayloads(n: Int, seed: Long): Seq[MediaFixtureRow] = {
    val rnd = new Random(seed)
    def filler(len: Int): Array[Byte] = {
      val a = new Array[Byte](len); rnd.nextBytes(a); a
    }
    def be32(v: Long): Array[Byte] = Array(
      ((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def be16(v: Int): Array[Byte] =
      Array(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    def le16(v: Int): Array[Byte] =
      Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def ascii(s: String): Array[Byte] =
      s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val pngSig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

    def png(w: Int, h: Int): Array[Byte] =
      pngSig ++ be32(13L) ++ ascii("IHDR") ++ be32(w.toLong) ++ be32(h.toLong) ++
        Array[Byte](8, 2, 0, 0, 0) ++ filler(4 + rnd.nextInt(64)) // crc + data
    def jpeg(w: Int, h: Int, sof: Int, extraSegs: Int): Array[Byte] = {
      val app0 = Array(0xff, 0xe0).map(_.toByte) ++ be16(16) ++ ascii("JFIF") ++
        Array[Byte](0, 1, 1, 0) ++ be16(72) ++ be16(72) ++ Array[Byte](0, 0)
      val extras = (0 until extraSegs).flatMap { _ =>
        val body = filler(2 + rnd.nextInt(12))
        Array(0xff, 0xfe).map(_.toByte) ++ be16(2 + body.length) ++ body // COM
      }.toArray
      val sofSeg = Array(0xff.toByte, sof.toByte) ++ be16(17) ++
        Array[Byte](8) ++ be16(h) ++ be16(w) ++ Array[Byte](3) ++
        Array[Byte](1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1)
      Array(0xff, 0xd8).map(_.toByte) ++ app0 ++ extras ++ sofSeg ++
        Array(0xff, 0xda).map(_.toByte) ++ be16(12) ++ filler(10 + rnd.nextInt(48))
    }
    def gif(w: Int, h: Int, v89: Boolean): Array[Byte] =
      ascii(if (v89) "GIF89a" else "GIF87a") ++ le16(w) ++ le16(h) ++
        Array[Byte](0xf7.toByte, 0, 0) ++ filler(rnd.nextInt(32))
    def bmp(w: Int, h: Int): Array[Byte] =
      ascii("BM") ++ le32(54 + w * 3) ++ le32(0) ++ le32(54) ++ le32(40) ++
        le32(w) ++ le32(h) ++ le16(1) ++ le16(24) ++ filler(16 + rnd.nextInt(32))
    // JPEG whose buffer ends exactly after the SOF width bytes — the
    // header was readable, so a correct walk parses it (pins the
    // i+9 <= length bound; len still claims a full 3-component SOF)
    def jpegTruncAtWidth(w: Int, h: Int): Array[Byte] = {
      val app0 = Array(0xff, 0xe0).map(_.toByte) ++ be16(16) ++ ascii("JFIF") ++
        Array[Byte](0, 1, 1, 0) ++ be16(72) ++ be16(72) ++ Array[Byte](0, 0)
      Array(0xff, 0xd8).map(_.toByte) ++ app0 ++
        Array(0xff.toByte, 0xc0.toByte) ++ be16(17) ++ Array[Byte](8) ++
        be16(h) ++ be16(w)
    }
    def le24(v: Int): Array[Byte] = Array(
      (v & 0xff).toByte, ((v >> 8) & 0xff).toByte, ((v >> 16) & 0xff).toByte)
    def riff(fourcc: String, data: Array[Byte]): Array[Byte] =
      ascii("RIFF") ++ le32(4 + 8 + data.length) ++ ascii("WEBP") ++
        ascii(fourcc) ++ le32(data.length) ++ data
    def webpLossy(w: Int, h: Int): Array[Byte] =
      riff("VP8 ", Array[Byte](0, 0, 0) ++ // frame tag
        Array(0x9d, 0x01, 0x2a).map(_.toByte) ++ le16(w) ++ le16(h) ++
        filler(8 + rnd.nextInt(24)))
    def webpLossless(w: Int, h: Int): Array[Byte] = {
      val v = ((w - 1) & 0x3fff) | (((h - 1) & 0x3fff) << 14)
      riff("VP8L", Array(0x2f.toByte) ++ le32(v) ++ filler(4 + rnd.nextInt(16)))
    }
    def webpExtended(w: Int, h: Int): Array[Byte] =
      riff("VP8X", Array[Byte](0x10, 0, 0, 0) ++ le24(w - 1) ++ le24(h - 1)) ++
        filler(rnd.nextInt(16))
    def tiff(w: Int, h: Int, le: Boolean, useLong: Boolean,
        dropHeight: Boolean = false): Array[Byte] = {
      def w16(v: Int) = if (le) le16(v) else be16(v)
      def w32(v: Long) = if (le) le32(v.toInt) else be32(v)
      val typ = if (useLong) 4 else 3
      def entry(tag: Int, v: Int): Array[Byte] =
        w16(tag) ++ w16(typ) ++ w32(1L) ++
          // SHORT is left-justified in the 4-byte value field
          (if (useLong) w32(v.toLong) else w16(v) ++ Array[Byte](0, 0))
      val entries =
        (Seq(entry(256, w)) ++
          (if (dropHeight) Seq.empty else Seq(entry(257, h))) ++
          Seq(entry(296, 2))).toArray // ResolutionUnit: a non-dim tag to skip
      ascii(if (le) "II" else "MM") ++ w16(42) ++ w32(8L) ++
        w16(entries.length) ++ entries.flatten ++ w32(0L) ++
        filler(rnd.nextInt(32))
    }
    // BigTIFF (magic 43): u16 offset size 8, u16 reserved 0, u64 first-IFD
    // offset; IFD = u64 entry count, 20-byte entries (u64 count, 8-byte
    // value field), u64 next pointer. Width as LONG8 (type 16) and height
    // as LONG (type 4) exercise both wide-value reads; tag 254 = 0 pins
    // the full-resolution NewSubfileType parse in BigTIFF form.
    def bigTiff(w: Int, h: Int, le: Boolean): Array[Byte] = {
      def w16(v: Int) = if (le) le16(v) else be16(v)
      def w32(v: Long) = if (le) le32(v.toInt) else be32(v)
      def w64(v: Long): Array[Byte] =
        if (le) (0 until 8).map(k => ((v >> (8 * k)) & 0xff).toByte).toArray
        else (0 until 8).map(k => ((v >> (8 * (7 - k))) & 0xff).toByte).toArray
      def entry(tag: Int, typ: Int, v: Long): Array[Byte] =
        w16(tag) ++ w16(typ) ++ w64(1L) ++ (typ match {
          case 3 => w16(v.toInt) ++ Array.fill[Byte](6)(0) // SHORT, left-justified
          case 4 => w32(v) ++ Array.fill[Byte](4)(0) // LONG
          case _ => w64(v) // LONG8
        })
      val entries = Array(
        entry(254, 4, 0L), // NewSubfileType: full-resolution image
        entry(256, 16, w.toLong), // ImageWidth as LONG8
        entry(257, 4, h.toLong), // ImageLength as LONG
        entry(296, 3, 2L)) // ResolutionUnit: a non-dim tag to skip
      ascii(if (le) "II" else "MM") ++ w16(43) ++ w16(8) ++ w16(0) ++
        w64(16L) ++ w64(entries.length.toLong) ++ entries.flatten ++
        w64(0L) ++ filler(rnd.nextInt(32))
    }
    // Classic TIFF whose FIRST IFD is a reduced-resolution thumbnail
    // (NewSubfileType bit 0) with the full image behind the next-IFD
    // pointer — the crawled-corpus layout a naive first-IFD-only parser
    // reports thumbnail dims for. Ground truth is the SECOND IFD's dims.
    def tiffThumbFirst(w: Int, h: Int, le: Boolean): Array[Byte] = {
      def w16(v: Int) = if (le) le16(v) else be16(v)
      def w32(v: Long) = if (le) le32(v.toInt) else be32(v)
      def entry(tag: Int, typ: Int, v: Long): Array[Byte] =
        w16(tag) ++ w16(typ) ++ w32(1L) ++
          (if (typ == 3) w16(v.toInt) ++ Array[Byte](0, 0) else w32(v))
      def ifd(sub: Long, iw: Int, ih: Int, next: Long): Array[Byte] =
        w16(3) ++ entry(254, 4, sub) ++ entry(256, 3, iw.toLong) ++
          entry(257, 3, ih.toLong) ++ w32(next)
      val ifdLen = 2 + 3 * 12 + 4 // 42 bytes
      val ifd0At = 8L
      val ifd1At = ifd0At + ifdLen
      ascii(if (le) "II" else "MM") ++ w16(42) ++ w32(ifd0At) ++
        ifd(1L, math.max(1, w / 8), math.max(1, h / 8), ifd1At) ++
        ifd(0L, w, h, 0L) ++ filler(rnd.nextInt(32))
    }

    // --- pixel-true payloads (REAL decodable pixel arrays) + the
    //     generator-side ground truth the ext_multimodal_pixel_* oracles
    //     read back. Stats/histogram/resample are computed from the raw
    //     RGB array BEFORE encoding, with the documented integer
    //     arithmetic (luma = (299r+587g+114b)/1000; 8x8 box resample,
    //     channel mean = floor(sum/count), checksum = sum of resampled
    //     unsigned bytes).
    def rgbPixels(w: Int, h: Int): Array[Byte] = {
      val a = new Array[Byte](w * h * 3); rnd.nextBytes(a); a
    }
    // grayscale source as an r=g=b RGB array: one ground-truth shape for
    // both color and gray rows; the PNG encoder reads the R channel
    def grayRgbPixels(w: Int, h: Int): Array[Byte] = {
      val g = new Array[Byte](w * h); rnd.nextBytes(g)
      val a = new Array[Byte](w * h * 3)
      var i = 0
      while (i < g.length) {
        a(i * 3) = g(i); a(i * 3 + 1) = g(i); a(i * 3 + 2) = g(i)
        i += 1
      }
      a
    }
    def bmpPixelFile(w: Int, h: Int, topDown: Boolean, pix: Array[Byte],
        bits: Int): Array[Byte] = {
      val px = bits / 8 // 24-bit BGR or 32-bit BGRX
      val stride = ((w * px + 3) / 4) * 4 // rows pad to 4-byte boundaries
      val data = new Array[Byte](stride * h)
      var j = 0
      while (j < h) {
        // bottom-up files store the bottom image row first
        val imgRow = if (topDown) j else h - 1 - j
        var x = 0
        while (x < w) {
          val s = (imgRow * w + x) * 3
          data(j * stride + x * px) = pix(s + 2) // BMP stores BGR(X)
          data(j * stride + x * px + 1) = pix(s + 1)
          data(j * stride + x * px + 2) = pix(s)
          // 32-bit pad byte X stays 0
          x += 1
        }
        j += 1
      }
      ascii("BM") ++ le32(54 + data.length) ++ le32(0) ++ le32(54) ++
        le32(40) ++ le32(w) ++ le32(if (topDown) -h else h) ++
        le16(1) ++ le16(bits) ++ le32(0) ++ le32(data.length) ++
        le32(2835) ++ le32(2835) ++ le32(0) ++ le32(0) ++ data
    }
    def pngChunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val t = ascii(typ)
      val crc = new java.util.zip.CRC32()
      crc.update(t); crc.update(data)
      be32(data.length.toLong) ++ t ++ data ++ be32(crc.getValue)
    }
    def pngPixelFile(w: Int, h: Int, colorType: Int, pix: Array[Byte]): Array[Byte] = {
      // 0 = grayscale, 2 = truecolor, 4 = gray+alpha, 6 = RGBA
      val bpp = colorType match { case 0 => 1; case 2 => 3; case 4 => 2; case _ => 4 }
      val gray = colorType == 0 || colorType == 4
      val alpha = colorType == 4 || colorType == 6
      // raw scanlines (random alpha where present — the decoder must
      // drop it; gray sources are r=g=b, the encoder takes the R channel)
      val lines = Array.ofDim[Byte](h, w * bpp)
      for (y <- 0 until h; x <- 0 until w) {
        val s = (y * w + x) * 3
        if (gray) lines(y)(x * bpp) = pix(s)
        else {
          lines(y)(x * bpp) = pix(s)
          lines(y)(x * bpp + 1) = pix(s + 1)
          lines(y)(x * bpp + 2) = pix(s + 2)
        }
        if (alpha) lines(y)(x * bpp + bpp - 1) = (rnd.nextInt(256) & 0xff).toByte
      }
      // forward-filter, type cycling 0..4 per row so every unfilter path
      // in the decoder is exercised
      val filtered = new Array[Byte](h * (1 + w * bpp))
      for (y <- 0 until h) {
        val ft = y % 5
        filtered(y * (1 + w * bpp)) = ft.toByte
        for (i <- 0 until w * bpp) {
          val x = lines(y)(i) & 0xff
          val a = if (i >= bpp) lines(y)(i - bpp) & 0xff else 0
          val b = if (y > 0) lines(y - 1)(i) & 0xff else 0
          val c = if (y > 0 && i >= bpp) lines(y - 1)(i - bpp) & 0xff else 0
          val pred = ft match {
            case 0 => 0
            case 1 => a
            case 2 => b
            case 3 => (a + b) >> 1
            case _ =>
              val p = a + b - c
              val pa = math.abs(p - a); val pb = math.abs(p - b)
              val pc = math.abs(p - c)
              if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
          }
          filtered(y * (1 + w * bpp) + 1 + i) = ((x - pred) & 0xff).toByte
        }
      }
      val defl = new java.util.zip.Deflater()
      defl.setInput(filtered); defl.finish()
      val bos = new java.io.ByteArrayOutputStream()
      val tmp = new Array[Byte](4096)
      while (!defl.finished()) bos.write(tmp, 0, defl.deflate(tmp))
      defl.end()
      pngSig ++
        pngChunk("IHDR", be32(w.toLong) ++ be32(h.toLong) ++
          Array[Byte](8, colorType.toByte, 0, 0, 0)) ++
        pngChunk("IDAT", bos.toByteArray) ++
        pngChunk("IEND", Array.emptyByteArray)
    }
    def pixelRow(id: Long, fmt: String, w: Int, h: Int,
        payload: Array[Byte], pix: Array[Byte]): MediaFixtureRow = {
      var sr = 0L; var sg = 0L; var sb = 0L; var sl = 0L
      val hist = new Array[Long](16)
      var i = 0
      while (i < pix.length) {
        val r = pix(i) & 0xff; val g = pix(i + 1) & 0xff; val b = pix(i + 2) & 0xff
        sr += r; sg += g; sb += b
        sl += 299L * r + 587L * g + 114L * b
        hist(((299 * r + 587 * g + 114 * b) / 1000) >> 4) += 1
        i += 3
      }
      var checksum = 0L
      for (py <- 0 until 8; px <- 0 until 8) {
        val y0 = (py.toLong * h / 8).toInt
        val y1 = math.max(y0 + 1, ((py + 1).toLong * h / 8).toInt)
        val x0 = (px.toLong * w / 8).toInt
        val x1 = math.max(x0 + 1, ((px + 1).toLong * w / 8).toInt)
        var cr = 0L; var cg = 0L; var cb = 0L
        for (y <- y0 until y1; x <- x0 until x1) {
          val o = (y * w + x) * 3
          cr += pix(o) & 0xff; cg += pix(o + 1) & 0xff; cb += pix(o + 2) & 0xff
        }
        val n = (y1 - y0).toLong * (x1 - x0)
        checksum += cr / n + cg / n + cb / n
      }
      MediaFixtureRow(id, fmt, Some(w), Some(h), 1, payload,
        px_ok = 1, px_n = Some(w.toLong * h),
        px_sum_r = Some(sr), px_sum_g = Some(sg), px_sum_b = Some(sb),
        px_sum_luma = Some(sl), px_luma_hist = Some(hist.toSeq),
        rz_w = Some(8), rz_h = Some(8), rz_checksum = Some(checksum))
    }

    (0 until n).map { i =>
      val id = i.toLong
      val w = 1 + rnd.nextInt(4096)
      val h = 1 + rnd.nextInt(4096)
      val w14 = w min 16383; val h14 = h min 16383 // VP8's 14-bit dims
      // pixel-true rows keep dims small (the pixel array is committed
      // payload bytes); everything else uses the wide dim range above
      val pw = 1 + rnd.nextInt(32); val ph = 1 + rnd.nextInt(32)
      i % 32 match {
        case 0 | 13 => MediaFixtureRow(id, "png", Some(w), Some(h), 1, png(w, h))
        case 1 =>
          MediaFixtureRow(id, "jpeg", Some(w min 65535), Some(h min 65535), 1,
            jpeg(w min 65535, h min 65535, 0xc0, extraSegs = rnd.nextInt(3)))
        case 2 =>
          MediaFixtureRow(id, "jpeg", Some(w min 65535), Some(h min 65535), 1,
            jpeg(w min 65535, h min 65535, 0xc2, extraSegs = rnd.nextInt(3)))
        case 3 => // buffer ends exactly after the SOF width — still valid
          MediaFixtureRow(id, "jpeg", Some(w min 65535), Some(h min 65535), 1,
            jpegTruncAtWidth(w min 65535, h min 65535))
        case 4 => MediaFixtureRow(id, "gif", Some(w min 65535), Some(h min 65535), 1,
          gif(w min 65535, h min 65535, v89 = false))
        case 5 => MediaFixtureRow(id, "gif", Some(w min 65535), Some(h min 65535), 1,
          gif(w min 65535, h min 65535, v89 = true))
        case 6 => MediaFixtureRow(id, "bmp", Some(w), Some(h), 1, bmp(w, h))
        case 7 => // top-down negative height
          MediaFixtureRow(id, "bmp", Some(w), Some(h), 1, bmp(w, -h))
        case 8 => MediaFixtureRow(id, "webp", Some(w14), Some(h14), 1,
          webpLossy(w14, h14))
        case 9 => MediaFixtureRow(id, "webp", Some(w14), Some(h14), 1,
          webpLossless(w14, h14))
        case 10 => MediaFixtureRow(id, "webp", Some(w), Some(h), 1,
          webpExtended(w, h))
        case 11 => MediaFixtureRow(id, "tiff", Some(w), Some(h), 1,
          tiff(w, h, le = true, useLong = false))
        case 12 => MediaFixtureRow(id, "tiff", Some(w), Some(h), 1,
          tiff(w, h, le = false, useLong = true))
        // the two combos cases 11/12 do NOT cover: (LE, LONG) when
        // i%64 == 14, (BE, SHORT) when i%64 == 46 — both le and useLong
        // keyed to the SAME predicate, or this row would regenerate the
        // 11/12 combos and leave the other two parser paths unexercised
        case 14 => MediaFixtureRow(id, "tiff", Some(w), Some(h), 1,
          tiff(w, h, le = i % 64 < 32, useLong = i % 64 < 32))
        case 15 =>
          MediaFixtureRow(id, "jpeg", Some(w min 65535), Some(h min 65535), 1,
            jpeg(w min 65535, h min 65535, 0xc1, extraSegs = 1 + rnd.nextInt(2)))
        case 16 => // truncated PNG: signature only
          MediaFixtureRow(id, "unknown", None, None, 0,
            pngSig.take(4 + rnd.nextInt(5)))
        case 17 => // PNG whose first chunk is not IHDR
          MediaFixtureRow(id, "unknown", None, None, 0,
            pngSig ++ be32(13L) ++ ascii("IDAT") ++ filler(21))
        case 18 => // JPEG that hits SOS with no SOF emitted
          MediaFixtureRow(id, "unknown", None, None, 0,
            Array(0xff, 0xd8, 0xff, 0xda).map(_.toByte) ++ be16(8) ++ filler(16))
        case 19 => // a RIFF that is not a WebP image (WAVE audio)
          MediaFixtureRow(id, "unknown", None, None, 0,
            ascii("RIFF") ++ le32(36) ++ ascii("WAVE") ++ ascii("fmt ") ++
              le32(16) ++ filler(16))
        case 20 => // VP8 chunk truncated before its keyframe start code
          MediaFixtureRow(id, "unknown", None, None, 0,
            ascii("RIFF") ++ le32(4 + 8 + 3) ++ ascii("WEBP") ++
              ascii("VP8 ") ++ le32(3) ++ Array[Byte](0, 0, 0))
        case 21 => // TIFF whose IFD offset points past the buffer
          MediaFixtureRow(id, "unknown", None, None, 0,
            ascii("II") ++ le16(42) ++ le32(100000) ++ filler(8))
        case 22 => // TIFF missing its height tag (ImageLength)
          MediaFixtureRow(id, "unknown", None, None, 0,
            tiff(w, h, le = true, useLong = false, dropHeight = true))
        case 23 => // zero-dim GIF
          MediaFixtureRow(id, "unknown", None, None, 0,
            gif(0, h min 65535, v89 = true))
        case 24 => // garbage / empty
          if (i % 64 == 24) MediaFixtureRow(id, "unknown", None, None, 0, Array.empty)
          else MediaFixtureRow(id, "unknown", None, None, 0, filler(24 + rnd.nextInt(64)))
        case 25 => // pixel-true BMP, bottom-up; 24-bit / 32-bit alternating
          locally {
            val pix = rgbPixels(pw, ph)
            val bits = if (i % 64 < 32) 24 else 32
            pixelRow(id, "bmp", pw, ph,
              bmpPixelFile(pw, ph, topDown = false, pix, bits), pix)
          }
        case 26 => // pixel-true BMP, top-down (negative biHeight); both depths
          locally {
            val pix = rgbPixels(pw, ph)
            val bits = if (i % 64 < 32) 24 else 32
            pixelRow(id, "bmp", pw, ph,
              bmpPixelFile(pw, ph, topDown = true, pix, bits), pix)
          }
        case 27 => // pixel-true PNG: truecolor (2) / grayscale (0) alternating
          locally {
            val gray = i % 64 >= 32
            val pix = if (gray) grayRgbPixels(pw, ph) else rgbPixels(pw, ph)
            pixelRow(id, "png", pw, ph,
              pngPixelFile(pw, ph, colorType = if (gray) 0 else 2, pix), pix)
          }
        case 28 => // pixel-true PNG with alpha: RGBA (6) / gray+alpha (4)
          locally {
            val gray = i % 64 >= 32
            val pix = if (gray) grayRgbPixels(pw, ph) else rgbPixels(pw, ph)
            pixelRow(id, "png", pw, ph,
              pngPixelFile(pw, ph, colorType = if (gray) 4 else 6, pix), pix)
          }
        case 29 => // BigTIFF, both byte orders (keyed like case 14)
          MediaFixtureRow(id, "tiff", Some(w), Some(h), 1,
            bigTiff(w, h, le = i % 64 < 32))
        case 30 => // thumbnail-first TIFF: ground truth = 2nd IFD's dims
          MediaFixtureRow(id, "tiff", Some(w), Some(h), 1,
            tiffThumbFirst(w, h, le = i % 64 < 32))
        case _ => // 31: valid PNG header, corrupt IDAT — the pixel tier
          // must reject (px_ok 0) what the header tier accepts (ok 1)
          locally {
            val cw = w min 512; val ch = h min 512
            MediaFixtureRow(id, "png", Some(cw), Some(ch), 1,
              pngSig ++
                pngChunk("IHDR", be32(cw.toLong) ++ be32(ch.toLong) ++
                  Array[Byte](8, 2, 0, 0, 0)) ++
                pngChunk("IDAT", filler(20)) ++
                pngChunk("IEND", Array.emptyByteArray))
          }
      }
    }
  }
}

/** Fixed fixture locations used by [[graft.queries.PipelineQueries]] and
  * their DuckDB oracles (absolute paths — the oracle SQL embeds them).
  */
object Fixtures {
  val dir = "/root/repo/fixtures"
  val rawCsv = s"$dir/machine_events_raw.csv"
  val cleanParquet = s"$dir/machine_events_clean.parquet"
  /** Glob the oracle uses (Spark writes parquet as a directory). */
  val cleanParquetGlob = s"$cleanParquet/*.parquet"
  val mediaParquet = s"$dir/media_payloads.parquet"
  val mediaParquetGlob = s"$mediaParquet/*.parquet"

  /** 500 seeded media payloads (~72% real headers across PNG/JPEG/GIF/
    * BMP/WebP/TIFF/BigTIFF incl. four pixel-true row classes, ~28%
    * deliberately malformed) with generator ground truth — the corpus
    * the `ext_multimodal_real_meta` / `ext_multimodal_pixel_*` queries
    * parse and their oracles read back. Deterministic (seed 1213), so a
    * wiped checkout regenerates byte-identical content.
    */
  def ensureMedia(spark: SparkSession): Unit = synchronized {
    if (new java.io.File(mediaParquet).exists()) return
    import spark.implicits._
    FixtureGen.mediaPayloads(500, seed = 1213L).toDS()
      .coalesce(1).write.mode("overwrite").parquet(mediaParquet)
  }

  /** 2 machines × 4 hours with 5–15 s idle gaps: ~23 k rows, enough for
    * multi-hour rollups while staying committable. Starts at 22:00 so the
    * window crosses a date boundary (exercises the date-bucketing paths).
    */
  def ensure(spark: SparkSession): Unit = synchronized {
    val haveCsv = new java.io.File(rawCsv).exists()
    val haveParquet = new java.io.File(cleanParquet).exists()
    if (haveCsv && haveParquet) return
    val start = java.time.Instant.parse("2024-10-16T22:00:00Z").toEpochMilli
    val end = start + 4L * 3600 * 1000
    val g = FixtureGen.generate(
      Seq("DieBonder_01", "DieBonder_02"), start, end,
      idleGapMs = (5000, 15000), errorRate = 0.02, seed = 42L)
    if (!haveCsv) FixtureGen.writeCsv(rawCsv, g.csvLines)
    if (!haveParquet)
      FixtureGen.cleanDataset(spark, g).coalesce(1)
        .write.mode("overwrite").parquet(cleanParquet)
  }
}
