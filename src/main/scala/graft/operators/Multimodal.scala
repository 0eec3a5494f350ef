package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.tables.Tables

/** Multimodal-column plumbing (SURVEY.md §2.3): media as opaque
  * `binary` payloads with typed metadata, REAL byte-level header
  * decoding (PNG IHDR chunk walk, JPEG SOF segment scan, GIF logical
  * screen descriptor — pure byte arithmetic, no codec library), and
  * deterministic frame sampling.
  *
  * The test corpus has no image files, so `imagePayloads` frames each
  * document's text bytes in a REAL container header (format-correct
  * PNG/JPEG/GIF byte layouts with deterministic dimensions); the
  * decoder then parses those containers exactly as it would parse
  * on-disk assets — `parseImage` is a genuine structural parser, not
  * a stub (ImageParseSpec feeds it handcrafted files, including a
  * JPEG whose SOF0 sits behind an APP0 segment). The DuckDB oracle
  * re-derives width/height from the SAME byte offsets over the blob,
  * so m01 is value-level verified end to end.
  */
object Multimodal {

  /** A decoded media record: structural metadata parsed from payload
    * bytes plus a simple real feature vector (body-byte moments).
    */
  final case class Decoded(
      doc_id: Long,
      format: String,
      n_bytes: Long,
      width: Int,
      height: Int,
      feature: Array[Double]
  )

  // ---------------------------------------------------------------
  // Real byte-level parsers (pure byte arithmetic, no codecs)
  // ---------------------------------------------------------------

  private val PngMagic = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)

  /** Structural image-header parse: dispatches on magic bytes, then
    *  - PNG:  walks chunks from offset 8 until IHDR; width/height are
    *    big-endian 32-bit at IHDR data offsets 0/4 (PNG spec §11.2.2);
    *  - JPEG: walks marker segments from offset 2 until a SOF0-SOF3
    *    frame header; height/width are big-endian 16-bit at segment
    *    offsets 3/5 (ITU T.81 §B.2.2);
    *  - GIF:  width/height are little-endian 16-bit at bytes 6/8 of
    *    the logical screen descriptor (GIF89a spec §18).
    * Unknown payloads decode as ("unknown", 0, 0) rather than throwing
    * (a 100 TB ingest routes them to a side channel, it doesn't die).
    */
  def parseImage(id: Long, b: Array[Byte]): Decoded = {
    def u8(i: Int): Int = b(i) & 0xff
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def be32(i: Int): Int =
      (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)

    var format = "unknown"
    var w = 0
    var h = 0
    if (b.length >= 24 && (0 until 8).forall(i => u8(i) == PngMagic(i))) {
      format = "png"
      // chunk walk: [len:4][type:4][data:len][crc:4] ... — length is
      // attacker-controlled: walk in Long and stop on any non-forward
      // or out-of-range advance instead of wrapping into the array
      var off = 8L
      var found = false
      while (!found && off + 8 <= b.length) {
        val clen = be32(off.toInt).toLong & 0xffffffffL
        val ctype = new String(b, off.toInt + 4, 4, java.nio.charset.StandardCharsets.US_ASCII)
        if (ctype == "IHDR" && off + 16 <= b.length) {
          w = be32(off.toInt + 8)
          h = be32(off.toInt + 12)
          found = true
        }
        val next = off + 8 + clen + 4
        if (next <= off) found = true // corrupt size: refuse to loop
        off = next
      }
    } else if (b.length >= 2 && u8(0) == 0xff && u8(1) == 0xd8) {
      format = "jpeg"
      // segment walk: FFD8 then FF<marker>[len:2][payload:len-2] ...
      var off = 2
      var found = false
      while (!found && off + 4 <= b.length && u8(off) == 0xff) {
        val marker = u8(off + 1)
        val isSof = marker >= 0xc0 && marker <= 0xcf &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc
        if (isSof && off + 9 <= b.length) {
          h = be16(off + 5)
          w = be16(off + 7)
          found = true
        } else {
          off += 2 + be16(off + 2)
        }
      }
    } else if (b.length >= 13 && u8(0) == 'G' && u8(1) == 'I' && u8(2) == 'F' && u8(3) == '8') {
      format = "gif"
      w = le16(6)
      h = le16(8)
    }

    // real (if simple) features: byte-value moments over the payload
    val n = b.length
    var sum = 0.0
    var sumSq = 0.0
    var mn = 255.0
    var mx = 0.0
    var i = 0
    while (i < n) {
      val v = (b(i) & 0xff).toDouble
      sum += v; sumSq += v * v
      if (v < mn) mn = v
      if (v > mx) mx = v
      i += 1
    }
    val mean = if (n > 0) sum / n else 0.0
    val variance = if (n > 0) sumSq / n - mean * mean else 0.0
    Decoded(id, format, n.toLong, w, h, Array(mean, variance, mn, mx))
  }

  /** One cell of a g×g thumbnail grid: exact integer byte-sum and
    * count over the cell's raster slice, px = sum_b / n_b (floor).
    */
  final case class ThumbCell(
      doc_id: Long,
      format: String,
      cell: Int,
      sum_b: Long,
      n_b: Long,
      px: Long
  )

  /** The RESIZE/downsample step of a multimodal pipeline, with the
    * honest stub boundary this container allows: a real pixel decode
    * needs codecs, so the "raster" is the payload's body bytes —
    * but the body OFFSET is found by a real structural walk (PNG:
    * past the IHDR chunk via its length field; JPEG: marker walk to
    * the end of the SOF0 segment; GIF: past the 13-byte logical
    * screen descriptor), and the downsample itself is the real
    * shape: the raster split into g² contiguous cells, each reduced
    * to its exact integer byte-sum/count and floor-mean sample —
    * deterministic, partition-local, and reproducible byte-for-byte
    * by the blob-offset oracle. Swapping in a codec changes ONE
    * function (bytes → raster); the Spark plumbing, schema and
    * aggregation are what they would be in production.
    */
  /** The shared structural header walk: where each container's raster
    * body starts. Returns (format, bodyStart) or None for unknown /
    * truncated payloads. Extracted from [[parseThumb]] so body-level
    * consumers (m05's downsample, m08's container-invariant
    * fingerprint) locate the raster with the SAME walk.
    */
  def rasterStart(b: Array[Byte]): Option[(String, Int)] = {
    def u8(i: Int): Int = b(i) & 0xff
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def be32(i: Int): Long =
      (u8(i).toLong << 24) | (u8(i + 1).toLong << 16) | (u8(i + 2).toLong << 8) | u8(i + 3).toLong
    val png = b.length >= 8 && u8(0) == 0x89 && u8(1) == 'P' && u8(2) == 'N' && u8(3) == 'G'
    val jpeg = b.length >= 2 && u8(0) == 0xff && u8(1) == 0xd8
    val gif = b.length >= 13 && u8(0) == 'G' && u8(1) == 'I' && u8(2) == 'F' && u8(3) == '8'
    if (png && b.length >= 16) {
      // body follows the first (IHDR) chunk: 8 magic + 12 framing
      // + the chunk's own length field (a real decoder walks on to
      // IDAT; this container puts the raster right after IHDR).
      // Length is attacker-controlled: clamp in Long — a 4 GB
      // field must yield "no body", not an Int-wrapped offset
      val s = 8L + 12L + be32(8)
      Some(("png", math.min(s, b.length.toLong).toInt))
    } else if (jpeg) {
      // marker walk to the end of the first SOF segment — the SAME
      // SOF set as parseImage (SOF0-SOF15 minus DHT/JPG/DAC), so a
      // progressive (SOF2) or extended-sequential (SOF1) body is
      // found too, and the resync guard stops on a non-FF byte
      // instead of wandering through garbage
      var off = 2
      var found = -1
      while (found < 0 && off + 4 <= b.length && u8(off) == 0xff) {
        val marker = u8(off + 1)
        val isSof = marker >= 0xc0 && marker <= 0xcf &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc
        if (isSof) found = off + 2 + be16(off + 2)
        else off += 2 + be16(off + 2)
      }
      Some(("jpeg", if (found >= 0) math.min(found, b.length) else b.length))
    } else if (gif) Some(("gif", 13))
    else None
  }

  def parseThumb(id: Long, b: Array[Byte], g: Int = 4): Seq[ThumbCell] = {
    def u8(i: Int): Int = b(i) & 0xff
    val (format, start) = rasterStart(b) match {
      case Some(fs) => fs
      case None     => return Seq.empty
    }
    val n = b.length - start
    if (n <= 0) return Seq.empty
    val cells = g * g
    (0 until cells).flatMap { k =>
      val lo = start + (k.toLong * n / cells).toInt
      val hi = start + ((k + 1).toLong * n / cells).toInt
      if (hi <= lo) None
      else {
        var s = 0L
        var i = lo
        while (i < hi) { s += u8(i); i += 1 }
        Some(ThumbCell(id, format, k, s, (hi - lo).toLong, s / (hi - lo)))
      }
    }
  }

  /** Partition-wise thumbnail downsample — one row per grid cell. */
  def decodeThumbs(df: DataFrame, g: Int = 4): Dataset[ThumbCell] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(it => it.flatMap { case (id, bytes) => parseThumb(id, bytes, g) })
  }

  /** A structurally-located raster body, hex-encoded (format from the
    * container magic; the header is EXCLUDED, so two containers
    * wrapping the same raster yield identical body_hex).
    */
  final case class RasterBody(doc_id: Long, format: String, body_hex: String)

  /** Partition-wise body extraction via the real header walk — the
    * input to container-invariant fingerprinting (m08).
    */
  def decodeBodies(df: DataFrame): Dataset[RasterBody] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(it => it.flatMap { case (id, bytes) =>
        rasterStart(bytes) match {
          case Some((fmt, s)) if bytes.length > s =>
            val sb = new java.lang.StringBuilder((bytes.length - s) * 2)
            var i = s
            while (i < bytes.length) {
              val v = bytes(i) & 0xff
              sb.append("0123456789ABCDEF".charAt(v >> 4))
              sb.append("0123456789ABCDEF".charAt(v & 15))
              i += 1
            }
            Some(RasterBody(id, fmt, sb.toString))
          case _ => None
        }
      })
  }

  /** A decoded audio record: RIFF/WAVE structural metadata. */
  final case class AudioDecoded(
      doc_id: Long,
      format: String,
      channels: Int,
      sample_rate: Int,
      bits: Int,
      n_samples: Long,
      duration_ms: Long
  )

  /** Structural RIFF/WAVE parse (pure byte arithmetic, no codec):
    * verifies the RIFF/WAVE magics, then walks chunks from offset 12
    * ([id:4][size:le32][data:size][pad if odd] — RIFF spec) until the
    * "fmt " and "data" chunks are found; channels/rate/bits come from
    * the fmt fields, duration from dataSize / byteRate. Unknown or
    * truncated payloads decode as ("unknown", zeros) — a 100 TB
    * ingest routes them to a side channel, it doesn't die.
    */
  def parseAudio(id: Long, b: Array[Byte]): AudioDecoded = {
    def u8(i: Int): Int = b(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long =
      u8(i).toLong | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def tag(i: Int): String =
      new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
    val bad = AudioDecoded(id, "unknown", 0, 0, 0, 0L, 0L)
    if (b.length >= 44 && tag(0) == "RIFF" && tag(8) == "WAVE") {
      // chunk sizes are attacker-controlled: advance in Long so a
      // 4 GB size field can't wrap the offset into the array
      var off = 12L
      var ch = 0; var sr = 0; var bits = 0; var ba = 0; var br = 0L; var ds = -1L
      while (off + 8 <= b.length && (ch == 0 || ds < 0)) {
        val ctag = tag(off.toInt)
        val csz = le32(off.toInt + 4)
        if (ctag == "fmt " && off + 24 <= b.length) {
          ch = le16(off.toInt + 10); sr = le32(off.toInt + 12).toInt
          br = le32(off.toInt + 16); ba = le16(off.toInt + 20); bits = le16(off.toInt + 22)
        } else if (ctag == "data") ds = csz
        off += 8 + csz + (csz & 1) // odd chunks are padded
      }
      if (ch > 0 && ds >= 0 && ba > 0 && br > 0)
        AudioDecoded(id, "wav", ch, sr, bits, ds / ba, ds * 1000 / br)
      else bad
    } else bad
  }

  /** One analysis window of PCM16 audio: exact integer fold over the
    * data chunk's samples. `sum_sq` is the integer sum of v² over all
    * samples in the window (across channels), `peak` = max |v|
    * (32768 for a full-scale negative sample), `ms_q` = sum_sq /
    * n_samp — the floor mean square, the exact-integer carrier of
    * RMS² (RMS itself is sqrt(ms_q) downstream when a float is
    * wanted; keeping the table integral keeps it bit-reproducible).
    */
  final case class PcmWindow(
      doc_id: Long,
      win: Long,
      n_samp: Long,
      sum_sq: Long,
      peak: Long,
      ms_q: Long
  )

  /** Windowed RMS/peak analysis of a PCM16 WAV payload — the
    * sample-level step m03's header decode stops short of. The fmt
    * and data chunks are located by the same real RIFF walk as
    * [[parseAudio]] (LIST/junk chunks before them are skipped via
    * their size fields), then window w folds frames
    * [w·winFrames, (w+1)·winFrames) with pure integer arithmetic —
    * no float enters the pipeline. Trailing bytes past the last
    * whole frame are ignored, exactly what a sample-aligned decoder
    * does; a data size field larger than the actual payload is
    * clamped to the bytes present (hostile-size hardening, same
    * policy as the image/video walks). Non-WAV or non-PCM16 payloads
    * yield no rows (a 100 TB ingest routes them to a side channel,
    * it doesn't die).
    */
  def parsePcmWindows(id: Long, b: Array[Byte], winFrames: Int = 256): Seq[PcmWindow] = {
    def u8(i: Int): Int = b(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long =
      u8(i).toLong | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)
    def tag(i: Int): String =
      new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (!(b.length >= 44 && tag(0) == "RIFF" && tag(8) == "WAVE")) return Seq.empty
    var off = 12L
    var ch = 0; var bits = 0; var ba = 0; var dOff = -1L; var dSz = -1L
    while (off + 8 <= b.length && (ch == 0 || dOff < 0)) {
      val ctag = tag(off.toInt)
      val csz = le32(off.toInt + 4)
      if (ctag == "fmt " && off + 24 <= b.length) {
        ch = le16(off.toInt + 10); ba = le16(off.toInt + 20); bits = le16(off.toInt + 22)
      } else if (ctag == "data") { dOff = off + 8; dSz = csz }
      off += 8 + csz + (csz & 1) // odd chunks are padded
    }
    if (ch <= 0 || bits != 16 || ba < 2 * ch || dOff < 0) return Seq.empty
    val avail = math.min(dSz, b.length - dOff)
    val nfr = avail / ba
    if (nfr <= 0) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[PcmWindow]
    var w = 0L
    while (w * winFrames < nfr) {
      val f0 = w * winFrames
      val f1 = math.min(f0 + winFrames, nfr)
      var sumSq = 0L; var peak = 0L; var n = 0L
      var f = f0
      while (f < f1) {
        val base = (dOff + f * ba).toInt
        var j = 0
        while (j < ch) {
          val v = le16(base + 2 * j).toShort.toLong
          sumSq += v * v
          if (-v > peak) peak = -v else if (v > peak) peak = v
          n += 1
          j += 1
        }
        f += 1
      }
      out += PcmWindow(id, w, n, sumSq, peak, sumSq / n)
      w += 1
    }
    out.toSeq
  }

  /** Partition-wise PCM window fold — one row per (doc, window). */
  def decodePcm(df: DataFrame, winFrames: Int = 256): Dataset[PcmWindow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(it => it.flatMap { case (id, bytes) => parsePcmWindows(id, bytes, winFrames) })
  }

  /** A decoded video record: ISO-BMFF (MP4) structural metadata. */
  final case class VideoDecoded(
      doc_id: Long,
      format: String,
      width: Int,
      height: Int,
      timescale: Long,
      duration_ms: Long
  )

  /** Structural ISO-BMFF/MP4 parse (ISO/IEC 14496-12, pure byte
    * arithmetic, no codec): walks top-level boxes
    * ([size:be32][type:4][payload]; size 1 = 64-bit largesize
    * follows, size 0 = box extends to EOF) until `moov`, then walks
    * its children for `mvhd` (movie timescale + duration, version 0
    * and 1 layouts) and the first `trak`'s `tkhd` (track width/height
    * as 16.16 fixed point — the integer part is reported). Duration
    * is converted to ms with integer arithmetic. Non-MP4 or truncated
    * payloads decode as ("unknown", zeros) — a 100 TB ingest routes
    * them to a side channel, it doesn't die.
    */
  def parseVideo(id: Long, b: Array[Byte]): VideoDecoded = {
    def u8(i: Int): Int = b(i) & 0xff
    def be16(i: Int): Int = (u8(i) << 8) | u8(i + 1)
    def be32(i: Int): Long =
      (u8(i).toLong << 24) | (u8(i + 1).toLong << 16) | (u8(i + 2).toLong << 8) | u8(i + 3).toLong
    def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
    def tag(i: Int): String =
      new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
    // Resolves a box's (payloadStart, boxEnd) honoring largesize/EOF.
    def boxBounds(off: Int): (Int, Long) = {
      val sz = be32(off)
      if (sz == 1L && off + 16 <= b.length) (off + 16, off + be64(off + 8))
      else if (sz == 0L) (off + 8, b.length.toLong)
      else (off + 8, off + sz)
    }
    val bad = VideoDecoded(id, "unknown", 0, 0, 0L, 0L)
    if (b.length < 16 || tag(4) != "ftyp") return bad
    var ts = 0L; var dur = -1L
    // per-trak (width, height, handler): the REPORTED dims are the
    // first VIDEO trak's (mdia/hdlr handler 'vide'), not the first
    // trak's — multi-track files put audio first as often as video;
    // hdlr-free files fall back to the first trak (old behavior)
    val trakDims = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, String)]
    var off = 0
    while (off + 8 <= b.length) {
      val (pay, end) = boxBounds(off)
      if (tag(off + 4) == "moov") {
        var c = pay
        val moovEnd = math.min(end, b.length.toLong)
        while (c + 8 <= moovEnd) {
          val (cPay, cEnd) = boxBounds(c)
          val ctag = tag(c + 4)
          if (ctag == "mvhd" && cPay + 4 <= b.length) {
            val v = u8(cPay)
            if (v == 1 && cPay + 32 <= b.length) {
              ts = be32(cPay + 20); dur = be64(cPay + 24)
            } else if (v == 0 && cPay + 20 <= b.length) {
              ts = be32(cPay + 12); dur = be32(cPay + 16)
            }
          } else if (ctag == "trak") {
            var tw = 0; var th = 0; var handler = ""
            var t = cPay
            var tOk = true
            while (tOk && t + 8 <= math.min(cEnd, b.length.toLong)) {
              val (tPay, tEnd) = boxBounds(t)
              if (tag(t + 4) == "tkhd" && tPay + 4 <= b.length) {
                // width/height close the fixed 84/96-byte v0/v1 payload
                val fix = if (u8(tPay) == 1) 88 else 76
                if (tPay + fix + 8 <= b.length) {
                  tw = be16(tPay + fix)
                  th = be16(tPay + fix + 4)
                }
              } else if (tag(t + 4) == "mdia") {
                // handler_type from mdia/hdlr (payload offset 8, §8.4.3)
                var m = tPay
                var mOk = true
                val mEnd = math.min(tEnd, b.length.toLong)
                while (mOk && m + 8 <= mEnd) {
                  val (mPay, mBoxEnd) = boxBounds(m)
                  if (tag(m + 4) == "hdlr" && mPay + 12 <= b.length)
                    handler = tag(mPay + 8)
                  if (mBoxEnd <= m) mOk = false
                  else m = math.min(mBoxEnd, mEnd).toInt
                }
              }
              if (tEnd <= t) tOk = false // corrupt size: refuse to loop
              else t = math.min(tEnd, b.length.toLong).toInt
            }
            trakDims += ((tw, th, handler))
          }
          if (cEnd <= c) return bad // corrupt size: refuse to loop
          c = math.min(cEnd, moovEnd).toInt
        }
      }
      if (end <= off) return bad // corrupt size: refuse to loop
      off = if (end > Int.MaxValue) b.length else end.toInt
    }
    val (w, h, _) = trakDims.find(_._3 == "vide")
      .orElse(trakDims.headOption).getOrElse((0, 0, ""))
    if (ts > 0 && dur >= 0) VideoDecoded(id, "mp4", w, h, ts, dur * 1000L / ts)
    else bad
  }

  /** Partition-wise video decode — same shape as [[decode]]. */
  def decodeVideo(df: DataFrame): Dataset[VideoDecoded] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(it => it.map { case (id, bytes) => parseVideo(id, bytes) })
  }

  /** Partition-wise audio decode — same shape as [[decode]]. */
  def decodeAudio(df: DataFrame): Dataset[AudioDecoded] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(it => it.map { case (id, bytes) => parseAudio(id, bytes) })
  }

  /** Partition-wise decode of a (doc_id, payload) frame — the shape a
    * real codec pipeline uses (batch per partition, typed Encoder out).
    */
  def decode(df: DataFrame): Dataset[Decoded] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(it => it.map { case (id, bytes) => parseImage(id, bytes) })
  }

  // ---------------------------------------------------------------
  // Deterministic format-true payload corpus over the documents table
  // ---------------------------------------------------------------

  /** Deterministic dimensions: width from doc_id, height from the
    * text BYTE length (both < 2^16 so they fit 16-bit JPEG/GIF
    * fields). Byte length (not char length) keeps Spark and DuckDB
    * agreeing on any input encoding.
    */
  private def dims(c: DataFrame): DataFrame =
    c.withColumn("_w", (lit(16) + pmod(col("doc_id") * 37, lit(2000))).cast("int"))
      .withColumn("_h", (lit(16) + pmod(length(col("text").cast("binary")), lit(1500))).cast("int"))

  private def hexN(c: Column, n: Int): Column = lpad(hex(c), n, "0")

  /** Documents framed as real image containers, cycling format by
    * doc_id % 3. The headers are byte-correct per spec:
    *   PNG: magic + IHDR chunk (len 13, type, w:be32, h:be32, bit
    *        depth 8, color type 6, no compression/filter/interlace,
    *        zero CRC — decoders that don't checksum accept it);
    *   JPEG: SOI + SOF0 (len 17, precision 8, h:be16, w:be16, 3
    *        components with standard sampling factors);
    *   GIF: "GIF89a" + w:le16 + h:le16 + zero flags/bg/aspect.
    * The document's text bytes ride behind the header as the "pixel
    * data" — structurally parseable, deterministically reproducible.
    */
  def imagePayloads(spark: SparkSession, dir: String): DataFrame =
    payloadsWithContainer(spark, dir, containerShift = 0, idOffset = 0L)

  /** [[imagePayloads]] generalized: container format chosen by
    * (doc_id + containerShift) % 3, ids emitted as doc_id + idOffset.
    * `containerShift != 0` RE-WRAPS every body in a different
    * container than its [[imagePayloads]] twin — the deterministic
    * stand-in for the re-served/re-muxed asset scenario the
    * container-invariant operators (m08/m09) exist to catch, since
    * the synthetic corpus has no naturally re-containered payloads.
    */
  def payloadsWithContainer(
      spark: SparkSession, dir: String,
      containerShift: Int, idOffset: Long): DataFrame = {
    import spark.implicits._
    val pngHdr = concat(
      lit("89504E470D0A1A0A" + "0000000D" + "49484452"),
      hexN($"_w", 8), hexN($"_h", 8),
      lit("0806000000" + "00000000"))
    val jpegHdr = concat(
      lit("FFD8" + "FFC0" + "0011" + "08"),
      hexN($"_h", 4), hexN($"_w", 4),
      lit("03" + "012200" + "021101" + "031101"))
    val gifHdr = concat(
      lit("474946383961"),
      substring(hexN($"_w", 4), 3, 2), substring(hexN($"_w", 4), 1, 2),
      substring(hexN($"_h", 4), 3, 2), substring(hexN($"_h", 4), 1, 2),
      lit("000000"))
    val c = pmod($"doc_id" + containerShift, lit(3))
    dims(Tables.load(spark, dir, "documents"))
      .select(
        ($"doc_id" + idOffset).as("doc_id"),
        concat(
          unhex(
            when(c === 0, pngHdr)
              .when(c === 1, jpegHdr)
              .otherwise(gifHdr)),
          $"text".cast("binary")
        ).as("payload")
      )
  }

  /** The (band, bh) minhash band keys of a payload column's raster
    * BODY — m08's exact banding derivation (X12 structural walk +
    * byte-8-gram mod-16 sketch, X8 minhash, 4 md5 band hashes)
    * exposed per-row so BOTH a batch index build and the streaming
    * probe/append (ST16) run one code path. Stateless per row —
    * no aggregation — so a streaming caller stays append-mode legal:
    * the persisted index is the state, exactly ST6's design. Rows
    * whose container is unknown/truncated or whose sketch is empty
    * (tiny bodies) are dropped, matching m08's banding domain.
    */
  def rasterBandKeys(payloads: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val rb = payloads.select(
        col(idCol),
        graft.functions.GraftExpressions.rasterBodyGrams(col(payloadCol), 8).as("_rb"))
      .where(col("_rb").isNotNull && size(col("_rb.sketch")) > 0)
      .select(col(idCol), col("_rb.sketch").as("_sk"))
    graft.operators.Dedup.bandKeysFromShingles(rb, idCol, "_sk")
  }

  /** The raster band index ([[IndexLayout.KeySetIndex]]):
    * [[rasterBandKeys]] rows (doc_id, band, bh) plus `pfx`, the first
    * hex char of the band hash, under hive (band, pfx) dirs — the text
    * band index's layout, so ST16 probes it the same way.
    */
  private val RasterBandIndex = new IndexLayout.KeySetIndex("RasterBandIndex", "band", "pfx")

  /** Append the kept payloads' raster band keys into the CURRENT
    * epoch; an append that a concurrent publish overtook raises
    * instead of landing in a retired epoch
    * ([[IndexLayout.KeySetIndex.append]]).
    */
  private[graft] def appendRasterBandIndex(
      kept: DataFrame,
      idCol: String,
      payloadCol: String,
      path: String
  ): Unit =
    RasterBandIndex.append(
      rasterBandKeys(kept, idCol, payloadCol).withColumnRenamed(idCol, "doc_id")
        .withColumn("pfx", substring(col("bh"), 1, 1)),
      path)

  private def le16hex(c: Column): Column =
    concat(substring(hexN(c, 4), 3, 2), substring(hexN(c, 4), 1, 2))
  private def le32hex(c: Column): Column =
    concat(substring(hexN(c, 8), 7, 2), substring(hexN(c, 8), 5, 2),
      substring(hexN(c, 8), 3, 2), substring(hexN(c, 8), 1, 2))

  /** Documents framed as byte-correct PCM WAV containers: RIFF header,
    * fmt chunk (PCM, 1-2 channels, deterministic sample rate, 16-bit),
    * data chunk = the text bytes. Same idea as [[imagePayloads]]: the
    * corpus has no audio files, so format-true containers are built
    * deterministically and the parser decodes them exactly as it would
    * on-disk assets.
    */
  def audioPayloads(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = Tables.load(spark, dir, "documents")
      .withColumn("_body", $"text".cast("binary"))
      .withColumn("_ds", length($"_body").cast("long"))
      .withColumn("_ch", (lit(1) + pmod($"doc_id", lit(2))).cast("long"))
      .withColumn("_sr", (lit(8000) + pmod($"doc_id" * 13, lit(36000))).cast("long"))
    val hdr = concat(
      lit("52494646"), le32hex(lit(36L) + $"_ds"), // RIFF size
      lit("57415645"), // WAVE
      lit("666D7420"), lit("10000000"), // "fmt " + len 16
      lit("0100"), // PCM
      le16hex($"_ch"),
      le32hex($"_sr"),
      le32hex($"_sr" * $"_ch" * 2), // byte rate
      le16hex($"_ch" * 2), // block align
      lit("1000"), // 16 bits
      lit("64617461"), le32hex($"_ds") // "data" + size
    )
    d.select($"doc_id", concat(unhex(hdr), $"_body").as("payload"))
  }

  /** Unity transform matrix of mvhd/tkhd (ISO 14496-12 §8.2.2.2). */
  private val MatrixHex =
    "00010000" + "00000000" * 3 + "00010000" + "00000000" * 3 + "40000000"

  /** Documents framed as byte-correct minimal MP4 (ISO-BMFF)
    * containers: `ftyp` (isom), `moov` holding an mvhd v0
    * (deterministic timescale, duration = 25 media units per body
    * byte), one `trak` with `tkhd` (width/height as 16.16 fixed
    * point) AND a full sample-table chain `mdia`/`mdhd`/`hdlr`/
    * `minf`/`stbl` — `stts` (one run of n_frames samples, 1250 media
    * units each), `stsz` (uniform 50-byte samples), `stco` (one
    * chunk at absolute file offset 408, where mdat's payload
    * starts) — and an `mdat` whose payload is the text bytes, so
    * every sample the table indexes is 50 REAL payload bytes
    * addressable by (offset, size). n_frames = body_bytes / 50;
    * trailing bytes past the last whole sample are unindexed mdat
    * padding, exactly what a real muxer leaves. Same idea as
    * [[imagePayloads]]: no video files exist in the corpus, so
    * format-true containers are built deterministically and the
    * parser walks them exactly as it would on-disk assets.
    */
  def videoPayloads(spark: SparkSession, dir: String): DataFrame =
    videoPayloadsOf(Tables.load(spark, dir, "documents"))

  /** [[videoPayloads]] over an arbitrary (doc_id, text) frame — the
    * container builder itself, exposed so specs and scale probes can
    * mux adversarial corpora (e.g. a boilerplate frame shared by a
    * thousand videos) through the same byte-correct ISO-BMFF path.
    */
  def videoPayloadsOf(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val d = dims(docs)
      .withColumn("_body", $"text".cast("binary"))
      .withColumn("_ds", length($"_body").cast("long"))
      .withColumn("_ts", (lit(600) + pmod($"doc_id" * 7, lit(30000))).cast("long"))
      .withColumn("_dur", $"_ds" * 25)
      .withColumn("_nf", ($"_ds" / 50).cast("long"))
    val mvhd = concat(
      lit("0000006C" + "6D766864" + "00000000" + "00000000" + "00000000"),
      hexN($"_ts", 8), hexN($"_dur", 8),
      lit("00010000" + "0100" + "0000" + "00000000" * 2 + MatrixHex +
        "00000000" * 6 + "00000002"))
    val tkhd = concat(
      lit("0000005C" + "746B6864" + "00000007" + "00000000" + "00000000" +
        "00000001" + "00000000"),
      hexN($"_dur", 8),
      lit("00000000" * 2 + "0000" + "0000" + "0000" + "0000" + MatrixHex),
      hexN($"_w", 4), lit("0000"), hexN($"_h", 4), lit("0000"))
    // mdia(168) = mdhd(32) + hdlr(32) + minf(96 = stbl(88 =
    // stsd(16) + stts(24) + stsz(20) + stco(20)))
    val mdhd = concat(
      lit("00000020" + "6D646864" + "00000000" + "00000000" + "00000000"),
      hexN($"_ts", 8), hexN($"_nf" * 1250L, 8), lit("0000" + "0000"))
    val hdlr = lit("00000020" + "68646C72" + "00000000" + "00000000" +
      "76696465" + "00000000" * 3) // handler 'vide'
    val stts = concat(
      lit("00000018" + "73747473" + "00000000"),
      when($"_nf" > 0, lit("00000001")).otherwise(lit("00000000")),
      hexN($"_nf", 8), lit("000004E2")) // 1250 units per sample
    val stsz = concat(
      lit("00000014" + "7374737A" + "00000000" + "00000032"), // uniform 50
      hexN($"_nf", 8))
    val stco = lit("00000014" + "7374636F" + "00000000" + "00000001" +
      "00000198") // one chunk @ 408 = the fixed header length below
    val stbl = concat(
      lit("00000058" + "7374626C" + "00000010" + "73747364" +
        "00000000" + "00000000"), // empty stsd
      stts, stsz, stco)
    val mdia = concat(lit("000000A8" + "6D646961"), mdhd, hdlr,
      concat(lit("00000060" + "6D696E66"), stbl))
    val hdr = concat(
      lit("00000010" + "66747970" + "69736F6D" + "00000200"), // ftyp
      lit("00000180" + "6D6F6F76"), // moov (8 + 108 + 268)
      mvhd,
      lit("0000010C" + "7472616B"), // trak (8 + 92 + 168)
      tkhd,
      mdia,
      hexN(lit(8L) + $"_ds", 8), lit("6D646174") // mdat header @ 400
    )
    d.select($"doc_id", concat(unhex(hdr), $"_body").as("payload"))
  }

  final case class FrameInfo(
      doc_id: Long,
      trak_idx: Long, // the trak's ordinal among moov's traks (multi-video files emit one run per video trak)
      frame_idx: Long,
      f_offset: Long,
      f_size: Long
  )

  /** Structural per-frame (offset, size) extraction from an ISO-BMFF
    * sample table (ISO/IEC 14496-12 §8.6–8.7, pure byte arithmetic):
    * walks ftyp → moov → the VIDEO trak (the first whose mdia/hdlr
    * handler is 'vide'; hdlr-free files fall back to the first trak)
    * → mdia → minf → stbl and reads
    *   stsz — sample count + sizes (uniform `sample_size` field or
    *          the per-sample entry table),
    *   stco — chunk offsets (the single-chunk layout puts every
    *          sample in chunk 1; multi-chunk needs stsc, which this
    *          minimal walk treats as one run — documented limit).
    * Frame k's offset is chunk_offset + sum of sizes of samples
    * 0..k-1 — REAL addressable mdat bytes, not an index fiction.
    * Non-MP4 / truncated / sample-table-free payloads yield no
    * frames (the side-channel rule of [[parseVideo]]).
    */
  def parseFrames(id: Long, b: Array[Byte]): Seq[FrameInfo] = {
    def u8(i: Int): Int = b(i) & 0xff
    def be32(i: Int): Long =
      (u8(i).toLong << 24) | (u8(i + 1).toLong << 16) | (u8(i + 2).toLong << 8) | u8(i + 3).toLong
    def be64(i: Int): Long = (be32(i) << 32) | be32(i + 4)
    def tag(i: Int): String =
      new String(b, i, 4, java.nio.charset.StandardCharsets.US_ASCII)
    def boxBounds(off: Int): (Int, Long) = {
      val sz = be32(off)
      if (sz == 1L && off + 16 <= b.length) (off + 16, off + be64(off + 8))
      else if (sz == 0L) (off + 8, b.length.toLong)
      else (off + 8, off + sz)
    }
    // descend into the first child box named `want` within [from, to)
    def child(want: String, from: Int, to: Long): Option[(Int, Long)] = {
      var c = from
      val end = math.min(to, b.length.toLong)
      while (c + 8 <= end) {
        val (pay, cEnd) = boxBounds(c)
        if (cEnd <= c) return None // corrupt size
        if (tag(c + 4) == want) return Some((pay, cEnd))
        // clamp: a 4 GB/largesize box end would wrap .toInt negative
        c = math.min(cEnd, end).toInt
      }
      None
    }
    if (b.length < 16 || tag(4) != "ftyp") return Seq.empty
    // every trak under moov (multi-track MP4s put audio first as
    // often as video — "first trak" is not a video selector)
    def traks(from: Int, to: Long): Seq[(Int, Long)] = {
      val end = math.min(to, b.length.toLong)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
      var c = from
      var ok = true
      while (ok && c + 8 <= end) {
        val (pay, cEnd) = boxBounds(c)
        if (cEnd <= c) ok = false // corrupt size
        else {
          if (tag(c + 4) == "trak") out += ((pay, cEnd))
          c = math.min(cEnd, end).toInt
        }
      }
      out.toSeq
    }
    // handler_type from mdia/hdlr (payload offset 8, §8.4.3)
    def handlerOf(trakPay: Int, trakEnd: Long): Option[String] = for {
      (mdiaPay, mdiaEnd) <- child("mdia", trakPay, trakEnd)
      (hPay, _) <- child("hdlr", mdiaPay, mdiaEnd)
      if hPay + 12 <= b.length
    } yield tag(hPay + 8)
    val all = child("moov", 0, b.length.toLong)
      .map { case (mp, me) => traks(mp, me) }.getOrElse(Seq.empty)
    // EVERY video trak's sample table (multi-video-trak files emit
    // per-trak frame rows, distinguished by trak_idx = the trak's
    // ordinal among moov's traks in file order, frame_idx restarting
    // per trak); hdlr-free files fall back to the first trak. A
    // corrupt trak contributes no frames without silencing its
    // siblings (the side-channel rule, per trak).
    val withIdx = all.zipWithIndex
    val videos = withIdx.filter { case (t, _) => handlerOf(t._1, t._2).contains("vide") }
    val chosen = if (videos.nonEmpty) videos else withIdx.take(1)
    def framesOf(trakIdx: Int, trakPay: Int, trakEnd: Long): Seq[FrameInfo] = {
      val stbl = for {
        (mdiaPay, mdiaEnd) <- child("mdia", trakPay, trakEnd)
        (minfPay, minfEnd) <- child("minf", mdiaPay, mdiaEnd)
        s <- child("stbl", minfPay, minfEnd)
      } yield s
      stbl match {
        case None => Seq.empty
        case Some((sPay, sEnd)) =>
          val stsz = child("stsz", sPay, sEnd)
          val stco = child("stco", sPay, sEnd)
          (stsz, stco) match {
            case (Some((zPay, _)), Some((cPay, _)))
                if zPay + 12 <= b.length && cPay + 12 <= b.length =>
              val uniform = be32(zPay + 4)
              val n = be32(zPay + 8).toInt
              // sample-count sanity: a count that is negative (Int wrap
              // of a 4-byte field), larger than the file itself (every
              // real sample is >= 1 byte), or whose size table would sit
              // past EOF (Long math — 4 * n overflows Int) is corrupt
              if (n < 0 || n > b.length) return Seq.empty
              if (be32(cPay + 4) < 1) return Seq.empty
              val chunk0 = be32(cPay + 8)
              if (uniform == 0L && zPay + 12L + 4L * n > b.length) return Seq.empty
              var off = chunk0
              (0 until n).map { k =>
                val sz = if (uniform > 0) uniform else be32(zPay + 12 + 4 * k)
                val f = FrameInfo(id, trakIdx.toLong, k.toLong, off, sz)
                off += sz
                f
              }
            case _ => Seq.empty
          }
      }
    }
    chosen.flatMap { case ((trakPay, trakEnd), idx) => framesOf(idx, trakPay, trakEnd) }
  }

  /** Partition-wise frame-table decode — one row per indexed sample. */
  def decodeFrames(df: DataFrame): Dataset[FrameInfo] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(it => it.flatMap { case (id, bytes) => parseFrames(id, bytes) })
  }

  /** Documents re-cast as a media table for the frame-sampling query:
    * opaque binary payload + media_type discriminator.
    */
  private def mediaTable(spark: SparkSession, dir: String) = {
    import spark.implicits._
    Tables.load(spark, dir, "documents")
      .select(
        $"doc_id",
        element_at(array(lit("image"), lit("audio"), lit("video")),
          ($"doc_id" % 3 + 1).cast("int")).as("media_type"),
        $"text".cast("binary").as("payload")
      )
  }

  // ---------------------------------------------------------------
  // DuckDB oracle helpers: hex-substring → integer (DuckDB has no
  // hex→int conversion; decode digit-by-digit with shifts, same trick
  // as PortableHash.sqlHash60 — DuckDB's hex() is uppercase)
  // ---------------------------------------------------------------

  private def sqlHexToInt(hexExpr: String, n: Int): String =
    s"list_aggregate(list_transform(generate_series(1, $n), " +
      s"i -> (CAST(strpos('0123456789ABCDEF', substr($hexExpr, CAST(i AS INT), 1)) AS BIGINT) - 1) " +
      s"<< (4 * ($n - i))), 'sum')"

  /** DuckDB image of [[videoPayloads]]'s container (shared by the
    * m02/m04 oracles): the identical ftyp/moov/trak/mdia/stbl/mdat
    * hex built with blob functions, then each payload's hex image.
    */
  private def sqlVideoPayloadCtes(filterSql: String): String =
    s"""WITH d AS (
      SELECT doc_id,
        16 + (doc_id * 37) % 2000 AS w,
        16 + octet_length(encode(text)) % 1500 AS h,
        600 + (doc_id * 7) % 30000 AS ts,
        octet_length(encode(text)) * 25 AS dur,
        octet_length(encode(text)) // 50 AS nf,
        encode(text) AS body
      FROM documents $filterSql),
    p AS (SELECT doc_id, unhex(
        '00000010' || '66747970' || '69736F6D' || '00000200' ||
        '00000180' || '6D6F6F76' ||
        '0000006C' || '6D766864' || '00000000' || '00000000' || '00000000' ||
        printf('%08X', ts) || printf('%08X', dur) ||
        '00010000' || '0100' || '0000' || repeat('00000000', 2) ||
        '$MatrixHex' || repeat('00000000', 6) || '00000002' ||
        '0000010C' || '7472616B' ||
        '0000005C' || '746B6864' || '00000007' || '00000000' || '00000000' ||
        '00000001' || '00000000' || printf('%08X', dur) ||
        repeat('00000000', 2) || '0000' || '0000' || '0000' || '0000' ||
        '$MatrixHex' ||
        printf('%04X', w) || '0000' || printf('%04X', h) || '0000' ||
        '000000A8' || '6D646961' ||
        '00000020' || '6D646864' || '00000000' || '00000000' || '00000000' ||
        printf('%08X', ts) || printf('%08X', nf * 1250) || '0000' || '0000' ||
        '00000020' || '68646C72' || '00000000' || '00000000' ||
        '76696465' || repeat('00000000', 3) ||
        '00000060' || '6D696E66' ||
        '00000058' || '7374626C' || '00000010' || '73747364' ||
        '00000000' || '00000000' ||
        '00000018' || '73747473' || '00000000' ||
        CASE WHEN nf > 0 THEN '00000001' ELSE '00000000' END ||
        printf('%08X', nf) || '000004E2' ||
        '00000014' || '7374737A' || '00000000' || '00000032' || printf('%08X', nf) ||
        '00000014' || '7374636F' || '00000000' || '00000001' || '00000198' ||
        printf('%08X', 8 + octet_length(body)) || '6D646174'
      ) || body AS payload FROM d),
    hx AS (SELECT doc_id, hex(payload) AS hp FROM p)"""

  /** The payload-construction CTE shared by the m01 oracle — the same
    * deterministic framing as [[imagePayloads]], built with DuckDB
    * blob functions, followed by the hex image of each payload.
    */
  /** The container-header CASE of [[payloadsWithContainer]] in DuckDB
    * blob SQL, parameterized by the case scrutinee so the re-wrapped
    * variant ((doc_id + 1) % 3) replays the identical branch text.
    */
  private def sqlHdrCase(scrutinee: String): String =
    s"""unhex(CASE $scrutinee
      |      WHEN 0 THEN '89504E470D0A1A0A' || '0000000D' || '49484452' ||
      |        printf('%08X', w) || printf('%08X', h) || '0806000000' || '00000000'
      |      WHEN 1 THEN 'FFD8' || 'FFC0' || '0011' || '08' ||
      |        printf('%04X', h) || printf('%04X', w) || '03' || '012200' || '021101' || '031101'
      |      ELSE '474946383961' ||
      |        substr(printf('%04X', w), 3, 2) || substr(printf('%04X', w), 1, 2) ||
      |        substr(printf('%04X', h), 3, 2) || substr(printf('%04X', h), 1, 2) || '000000'
      |    END) || body""".stripMargin

  private val sqlPayloadDimsCte: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    16 + (doc_id * 37) % 2000 AS w,
      |    16 + octet_length(encode(text)) % 1500 AS h,
      |    encode(text) AS body
      |  FROM documents)""".stripMargin

  private val sqlPayloadCtes: String =
    s"""$sqlPayloadDimsCte,
      |p AS (
      |  SELECT doc_id,
      |    ${sqlHdrCase("doc_id % 3")} AS payload
      |  FROM d),
      |hx AS (SELECT doc_id, hex(payload) AS hp, octet_length(payload) AS nb FROM p)""".stripMargin

  /** [[sqlPayloadCtes]] plus every body RE-WRAPPED in its neighbor
    * container under doc_id + 1e9 — the m09 oracle's image of
    * payloadsWithContainer(containerShift = 1, idOffset = 1e9).
    */
  private val sqlPayloadCtesRewrap: String =
    s"""$sqlPayloadDimsCte,
      |p AS (
      |  SELECT doc_id,
      |    ${sqlHdrCase("doc_id % 3")} AS payload
      |  FROM d
      |  UNION ALL
      |  SELECT doc_id + 1000000000 AS doc_id,
      |    ${sqlHdrCase("(doc_id + 1) % 3")} AS payload
      |  FROM d),
      |hx AS (SELECT doc_id, hex(payload) AS hp, octet_length(payload) AS nb FROM p)""".stripMargin

  /** DuckDB image of the X8 + bandKeysFromShingles minhash banding
    * over a per-doc distinct gram LIST `gs` — Dedup's layout (16
    * perms, 4 bands of 4, band hash = md5 of the '|'-joined row
    * minima); `list_min` over the distinct list equals the X8 array
    * minimum over the same set. Used by the m08 oracle so the banded
    * CANDIDATE semantics are value-pinned across engines, exactly as
    * d02/d21's sqlCandCtes pin the text-shingle banding.
    */
  private lazy val sqlGramMinhashCols: String = (0 until 16)
    .map(i => s"list_min(list_transform(gs, s -> substr(md5(s || '|$i'), 1, 16))) AS mh$i")
    .mkString(",\n            ")

  private lazy val sqlGramBandCases: String = (0 until 4).map { b =>
    val cat = (b * 4 until b * 4 + 4).map(r => s"mh$r").mkString(" || '|' || ")
    if (b < 3) s"WHEN $b THEN md5($cat)" else s"ELSE md5($cat)"
  }.mkString(" ")

  val all: Seq[Q] = Seq(
    Q(
      "m01_multimodal_meta",
      "Real byte-level image-header decode (PNG IHDR / JPEG SOF0 / GIF descriptor) over binary payloads",
      (spark, dir) => {
        import spark.implicits._
        // Spark side: the REAL structural parser, partition-wise.
        // Oracle side: independent fixed-offset byte decode over the
        // same blob — agreement means the parser walks to the right
        // offsets for every format.
        decode(imagePayloads(spark, dir))
          .toDF()
          .select($"doc_id", $"format", $"n_bytes", $"width", $"height")
          .orderBy($"doc_id")
      },
      Some(s"""$sqlPayloadCtes
        SELECT doc_id,
          CASE WHEN substr(hp, 1, 16) = '89504E470D0A1A0A' THEN 'png'
               WHEN substr(hp, 1, 4) = 'FFD8' THEN 'jpeg'
               WHEN substr(hp, 1, 12) = '474946383961' THEN 'gif'
               ELSE 'unknown' END AS format,
          CAST(nb AS BIGINT) AS n_bytes,
          CAST(CASE
            WHEN substr(hp, 1, 16) = '89504E470D0A1A0A' THEN ${sqlHexToInt("substr(hp, 33, 8)", 8)}
            WHEN substr(hp, 1, 4) = 'FFD8' THEN ${sqlHexToInt("substr(hp, 19, 4)", 4)}
            ELSE ${sqlHexToInt("substr(hp, 15, 2) || substr(hp, 13, 2)", 4)}
          END AS INT) AS width,
          CAST(CASE
            WHEN substr(hp, 1, 16) = '89504E470D0A1A0A' THEN ${sqlHexToInt("substr(hp, 41, 8)", 8)}
            WHEN substr(hp, 1, 4) = 'FFD8' THEN ${sqlHexToInt("substr(hp, 15, 4)", 4)}
            ELSE ${sqlHexToInt("substr(hp, 19, 2) || substr(hp, 17, 2)", 4)}
          END AS INT) AS height
        FROM hx ORDER BY doc_id""")
    ),

    Q(
      "m02_frame_sample",
      "Real frame sampling: every 10th sample of the parsed stts/stsz/stco table, with structural (offset, size)",
      (spark, dir) => {
        import spark.implicits._
        // Spark side: the REAL box walk (ftyp → moov → trak → mdia →
        // minf → stbl), frames addressed by the sample table's actual
        // (chunk offset + cumulative size) — every emitted row is a
        // readable mdat byte range, not an index fiction. Oracle
        // side: independent fixed-offset decode of stsz/stco from the
        // same blob. The media-type routing stays doc_id % 3 == 2
        // (mediaTable's "video" slice).
        decodeFrames(videoPayloads(spark, dir).filter($"doc_id" % 3 === 2))
          .toDF()
          .filter($"frame_idx" % 10 === 0)
          .withColumn("frame_key", md5(concat($"doc_id", lit(":"), $"frame_idx")))
          .select($"doc_id", $"frame_idx", $"f_offset", $"f_size", $"frame_key")
          .orderBy($"doc_id", $"frame_idx")
      },
      Some {
        // stsz sample_size@372 sample_count@376, stco chunk_offset@396
        def be32dec(k: Int) = sqlHexToInt(s"substr(hp, ${2 * k + 1}, 8)", 8)
        s"""${sqlVideoPayloadCtes("WHERE doc_id % 3 = 2")},
        t AS (SELECT doc_id,
            CAST(${be32dec(372)} AS BIGINT) AS f_size,
            CAST(${be32dec(376)} AS BIGINT) AS n_frames,
            CAST(${be32dec(396)} AS BIGINT) AS chunk
          FROM hx),
        f AS (SELECT doc_id, f_size, chunk,
            unnest(generate_series(CAST(0 AS BIGINT), n_frames - 1, 10)) AS frame_idx
          FROM t WHERE n_frames > 0)
        SELECT doc_id, frame_idx,
          CAST(chunk + frame_idx * f_size AS BIGINT) AS f_offset,
          f_size,
          md5(doc_id || ':' || frame_idx) AS frame_key
        FROM f ORDER BY doc_id, frame_idx"""
      }
    ),

    Q(
      "m05_thumbnail_grid",
      "Resize/downsample plumbing: 4x4 grid of exact integer byte samples per image raster",
      (spark, dir) => {
        import spark.implicits._
        // Spark side: structural body-offset walk (PNG chunk length /
        // JPEG marker walk / GIF descriptor) + partition-local exact
        // integer downsample. Oracle side: the same offsets decoded
        // independently from the blob's hex image, byte sums redone
        // with DuckDB list folds — every cell value matches exactly.
        decodeThumbs(imagePayloads(spark, dir), g = 4)
          .toDF()
          .orderBy($"doc_id", $"cell")
      },
      Some {
        val byteVal = (pos: String) =>
          s"(CAST(strpos('0123456789ABCDEF', substr(hp, CAST($pos AS INT), 1)) AS BIGINT) - 1) * 16 + " +
            s"(CAST(strpos('0123456789ABCDEF', substr(hp, CAST($pos + 1 AS INT), 1)) AS BIGINT) - 1)"
        s"""$sqlPayloadCtes,
        st AS (SELECT doc_id, hp, nb,
            CASE WHEN substr(hp, 1, 16) = '89504E470D0A1A0A' THEN 'png'
                 WHEN substr(hp, 1, 4) = 'FFD8' THEN 'jpeg'
                 ELSE 'gif' END AS format,
            CAST(CASE WHEN substr(hp, 1, 16) = '89504E470D0A1A0A'
                   THEN 20 + ${sqlHexToInt("substr(hp, 17, 8)", 8)}
                 WHEN substr(hp, 1, 4) = 'FFD8'
                   THEN 4 + ${sqlHexToInt("substr(hp, 9, 4)", 4)}
                 ELSE 13 END AS BIGINT) AS strt
          FROM hx),
        cells AS (SELECT doc_id, hp, format, CAST(k AS INT) AS cell,
            strt + (k * (nb - strt)) // 16 AS lo,
            strt + ((k + 1) * (nb - strt)) // 16 AS hi
          FROM st, (SELECT unnest(generate_series(0, 15)) AS k) ks
          WHERE nb - strt > 0),
        vals AS (SELECT doc_id, format, cell,
            CAST(list_aggregate(list_transform(generate_series(lo, hi - 1),
              bi -> ${byteVal("2 * bi + 1")}), 'sum') AS BIGINT) AS sum_b,
            CAST(hi - lo AS BIGINT) AS n_b
          FROM cells WHERE hi > lo)
        SELECT doc_id, format, cell, sum_b, n_b, sum_b // n_b AS px
        FROM vals ORDER BY doc_id, cell"""
      }
    ),

    Q(
      "m03_audio_meta",
      "Real byte-level RIFF/WAVE header decode (fmt chunk walk) over binary payloads",
      (spark, dir) => {
        import spark.implicits._
        decodeAudio(audioPayloads(spark, dir))
          .toDF()
          .select($"doc_id", $"format", $"channels", $"sample_rate",
            $"bits", $"n_samples", $"duration_ms")
          .orderBy($"doc_id")
      },
      Some {
        // hex position of byte k (0-based) is 2k+1; WAV field offsets:
        // ch@22 sr@24 byteRate@28 blockAlign@32 bits@34 dataSize@40
        def le16dec(p: Int) = sqlHexToInt(s"substr(hp, ${p + 2}, 2) || substr(hp, $p, 2)", 4)
        def le32dec(p: Int) = sqlHexToInt(
          s"substr(hp, ${p + 6}, 2) || substr(hp, ${p + 4}, 2) || substr(hp, ${p + 2}, 2) || substr(hp, $p, 2)", 8)
        def le16sql(x: String) =
          s"substr(printf('%04X', $x), 3, 2) || substr(printf('%04X', $x), 1, 2)"
        def le32sql(x: String) =
          s"substr(printf('%08X', $x), 7, 2) || substr(printf('%08X', $x), 5, 2) || " +
            s"substr(printf('%08X', $x), 3, 2) || substr(printf('%08X', $x), 1, 2)"
        s"""WITH d AS (
          SELECT doc_id,
            1 + doc_id % 2 AS ch,
            8000 + (doc_id * 13) % 36000 AS sr,
            encode(text) AS body
          FROM documents),
        p AS (SELECT doc_id, unhex(
            '52494646' || ${le32sql("36 + octet_length(body)")} || '57415645' ||
            '666D7420' || '10000000' || '0100' ||
            ${le16sql("ch")} || ${le32sql("sr")} || ${le32sql("sr * ch * 2")} ||
            ${le16sql("ch * 2")} || '1000' ||
            '64617461' || ${le32sql("octet_length(body)")}
          ) || body AS payload FROM d),
        hx AS (SELECT doc_id, hex(payload) AS hp FROM p)
        SELECT doc_id,
          CASE WHEN substr(hp, 1, 8) = '52494646' AND substr(hp, 17, 8) = '57415645'
               THEN 'wav' ELSE 'unknown' END AS format,
          CAST(${le16dec(45)} AS INT) AS channels,
          CAST(${le32dec(49)} AS INT) AS sample_rate,
          CAST(${le16dec(69)} AS INT) AS bits,
          CAST(${le32dec(81)} // ${le16dec(65)} AS BIGINT) AS n_samples,
          CAST(${le32dec(81)} * 1000 // ${le32dec(57)} AS BIGINT) AS duration_ms
        FROM hx ORDER BY doc_id"""
      }
    ),

    Q(
      "m06_pcm_windows",
      "Windowed RMS/peak over the data chunk's PCM16 samples (exact integer folds, partition-local)",
      (spark, dir) => {
        import spark.implicits._
        // Spark side: real RIFF chunk walk to the data chunk, then a
        // partition-local integer fold per 64-frame window. Oracle
        // side: the data chunk IS the text body, so the oracle
        // indexes the body hex directly — a fully independent
        // per-sample decode at the same byte offsets.
        decodePcm(audioPayloads(spark, dir), winFrames = 64)
          .toDF()
          .orderBy($"doc_id", $"win")
      },
      Some {
        val byteVal = (pos: String) =>
          s"(CAST(strpos('0123456789ABCDEF', substr(hb, CAST($pos AS INT), 1)) AS BIGINT) - 1) * 16 + " +
            s"(CAST(strpos('0123456789ABCDEF', substr(hb, CAST($pos + 1 AS INT), 1)) AS BIGINT) - 1)"
        // sample (frame f, channel j)'s low byte is body byte
        // f*2*ch + 2*j (hex pos of byte k is 2k+1); signed le16
        s"""WITH d AS (
          SELECT doc_id, 1 + doc_id % 2 AS ch, encode(text) AS body FROM documents),
        hx AS (SELECT doc_id, ch, hex(body) AS hb, octet_length(body) AS ds FROM d),
        fr AS (SELECT doc_id, ch, hb,
            unnest(generate_series(CAST(0 AS BIGINT), ds // (2 * ch) - 1)) AS f
          FROM hx WHERE ds // (2 * ch) > 0),
        sm AS (SELECT doc_id, ch, hb, f, unnest(generate_series(0, ch - 1)) AS j FROM fr),
        v AS (SELECT doc_id, f // 64 AS win,
            CASE WHEN raw >= 32768 THEN raw - 65536 ELSE raw END AS v
          FROM (SELECT doc_id, f,
              (${byteVal("2 * (f * 2 * ch + 2 * j) + 1")}) +
              256 * (${byteVal("2 * (f * 2 * ch + 2 * j + 1) + 1")}) AS raw
            FROM sm) rv)
        SELECT doc_id, win, CAST(count(*) AS BIGINT) AS n_samp,
          CAST(sum(v * v) AS BIGINT) AS sum_sq,
          CAST(max(abs(v)) AS BIGINT) AS peak,
          CAST(CAST(sum(v * v) AS BIGINT) // count(*) AS BIGINT) AS ms_q
        FROM v GROUP BY doc_id, win ORDER BY doc_id, win"""
      }
    ),

    Q(
      "m04_video_meta",
      "Real byte-level ISO-BMFF/MP4 box-walk decode (mvhd timescale/duration, tkhd dimensions)",
      (spark, dir) => {
        import spark.implicits._
        decodeVideo(videoPayloads(spark, dir))
          .toDF()
          .select($"doc_id", $"format", $"width", $"height",
            $"timescale", $"duration_ms")
          .orderBy($"doc_id")
      },
      Some {
        // Byte offsets in the framed container (hex pos = 2k+1):
        // ftyp tag@4, moov tag@20, mvhd timescale@44 duration@48,
        // tkhd width@224 height@228 (16.16 — int part is the be16);
        // the round-5 sample-table boxes sit AFTER tkhd, so these
        // offsets are unchanged.
        def be32dec(k: Int) = sqlHexToInt(s"substr(hp, ${2 * k + 1}, 8)", 8)
        def be16dec(k: Int) = sqlHexToInt(s"substr(hp, ${2 * k + 1}, 4)", 4)
        s"""${sqlVideoPayloadCtes("")}
        SELECT doc_id,
          CASE WHEN substr(hp, 9, 8) = '66747970' AND substr(hp, 41, 8) = '6D6F6F76'
               THEN 'mp4' ELSE 'unknown' END AS format,
          CAST(${be16dec(224)} AS INT) AS width,
          CAST(${be16dec(228)} AS INT) AS height,
          CAST(${be32dec(44)} AS BIGINT) AS timescale,
          CAST(${be32dec(48)} * 1000 // ${be32dec(44)} AS BIGINT) AS duration_ms
        FROM hx ORDER BY doc_id"""
      }
    ),

    Q(
      "m07_byte_histogram",
      "Per-media-type byte-value histogram (16 bins over the payload's high nibbles)",
      (spark, dir) => {
        import spark.implicits._
        // The pixel-intensity-histogram analog for opaque payloads:
        // the byte-value distribution per media type — the cheap
        // corpus-level signal that catches a batch of corrupted /
        // wrongly-encoded assets (a spike at 0x00, a missing-range
        // encoding bug) before any real decode runs. The high nibble
        // (b & 0xF0) >>> 4 IS the odd-position hex digit the oracle
        // decodes via instr('0123456789ABCDEF', c)-1 — identical
        // values, but the Spark side now folds each payload into 16
        // longs in ONE codegen pass (X9 NibbleHistogram) instead of
        // materializing a 2-chars-per-byte hex string and exploding
        // payload_len rows per doc (measured 3.1 s -> sub-second at
        // sf0.1). posexplode emits 16 rows per doc; the only shuffle
        // carries the map-side-combined (media_type, bin) partials —
        // 48 rows at any corpus size. The share divides inside the
        // window over the final 48-row frame; empty bins are dropped
        // post-agg to match the oracle's present-bytes-only rows.
        val w = Window.partitionBy($"media_type")
        mediaTable(spark, dir)
          .select($"media_type",
            graft.functions.GraftExpressions.nibbleHistogram($"payload").as("h"))
          .select($"media_type", posexplode($"h").as(Seq("bin", "n")))
          .groupBy($"media_type", $"bin".cast("int").as("bin"))
          .agg(sum($"n").as("n_bytes"))
          .where($"n_bytes" > 0)
          .withColumn("share",
            round($"n_bytes".cast("double") /
              sum($"n_bytes").over(w).cast("double"), 6))
          .orderBy($"media_type", $"bin")
      },
      Some("""WITH p AS (SELECT doc_id,
          CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
               WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
          hex(encode(text)) AS hp
          FROM documents),
        b AS (SELECT media_type,
            CAST(instr('0123456789ABCDEF', substr(hp, CAST(i AS INT), 1)) - 1 AS INT) AS bin
          FROM p, unnest(generate_series(1, len(hp), 2)) AS t(i)),
        h AS (SELECT media_type, bin, COUNT(*) AS n_bytes FROM b GROUP BY 1, 2)
        SELECT media_type, bin, n_bytes,
          ROUND(CAST(n_bytes AS DOUBLE) /
            CAST(SUM(n_bytes) OVER (PARTITION BY media_type) AS DOUBLE), 6) AS share
        FROM h ORDER BY media_type, bin""")
    ),

    Q(
      "m08_container_invariant_dup",
      "Container-invariant raster dedup: byte-8-gram Jaccard >= 0.4 over the structurally-extracted body",
      (spark, dir) => {
        import spark.implicits._
        // The multimodal dedup gap a raw-blob hash can't close: the
        // SAME raster re-wrapped in a different container (png body
        // re-served as jpeg, re-muxed assets) differs from byte 0, so
        // d01-style payload hashing misses it. The fingerprint is
        // computed over the BODY ONLY, located by the real structural
        // header walk (rasterStart — PNG chunk length / JPEG SOF
        // marker walk / GIF descriptor), as the set of overlapping
        // byte-8-grams — insertion-robust where any positional hash
        // is not. Round 11 replaced the round-10 all-pairs posting
        // self-join over byte-4-grams (4-byte grams of natural-
        // language bytes are near-universal — hot posting lists
        // approach corpus size, the join is quadratic: 448 s at
        // sf0.1, 84% of the whole bench) with d02's banded-candidate
        // discipline, now ACTUALLY composed: X12 RasterBodyGrams does
        // header-walk + gram-set in ONE codegen pass over the payload
        // bytes (no hex body string, no mapPartitions, no interpreted
        // HOF), X8 MinHashHex + (band, bh) equi-join generates
        // candidates, and exact Jaccard >= 0.4 is verified PAIRWISE
        // via array_intersect on candidates only (minhashLshAtScale's
        // verify: no posting join exists at any scale, so no hot-gram
        // cap is even needed). The gram width moved 4 -> 8 with the
        // oracle re-derived: 4-byte grams of text are shared by
        // UNRELATED documents ("the ", " and") — measured byte-4-gram
        // banding still emitted 639k candidate pairs from 5k sf0.1
        // docs — while 8-byte windows are selective on text AND
        // binary, so candidates collapse to actual near-dups; the
        // re-containered-identical-body pairs this operator exists to
        // find have J = 1.0 at any width. Banding runs on the
        // deterministic mod-16 gram SKETCH (X12's third field — a
        // Broder-style mod-p subsample, emitted in the same codegen
        // pass), so the 16-perm minhash touches 1/16 of the grams
        // (measured 3.1 s -> 0.2 s at sf0.1) while the exact verify
        // still runs on FULL gram sets; identical bodies have
        // identical sketches, so every re-containered duplicate still
        // collides. Docs whose sketch is empty (tiny bodies) are
        // excluded from banding on both engines — never silently
        // bucketed together. cross_container marks pairs whose
        // containers DIFFER. At 100 TB the cost is d02's: one narrow
        // band-key shuffle + one candidate-keyed join. The DuckDB
        // oracle replays the SAME sketch + banding (md5-derived
        // minhash and the mod-16 filter are engine-portable), so
        // candidate semantics are value-pinned, not approximated.
        // spread the single-split scan: the X12 byte-gram walk is the
        // heaviest per-row work in the m-family and otherwise runs on
        // one core (no-op at scale — see fanOutSmallScan; measured
        // win on m08 only, so m01-m07/m09/m10 keep the plain scan)
        val rb = Ops.fanOutSmallScan(imagePayloads(spark, dir))
          .select($"doc_id",
            graft.functions.GraftExpressions.rasterBodyGrams($"payload", 8).as("rb"))
          .where($"rb".isNotNull)
          .select($"doc_id", $"rb.format".as("format"), $"rb.grams".as("sh"),
            $"rb.sketch".as("sk"))
          .cache()
        val cands = Dedup.minhashCandidates(
          rb.where(size($"sk") > 0).select($"doc_id", $"sk".as("sh"))).distinct()
        cands
          .join(rb.select($"doc_id".as("id_a"), $"sh".as("_ga"), $"format".as("fa")), "id_a")
          .join(rb.select($"doc_id".as("id_b"), $"sh".as("_gb"), $"format".as("fb")), "id_b")
          .withColumn("c", size(array_intersect($"_ga", $"_gb")).cast("long"))
          .withColumn("jac", $"c".cast("double") / (size($"_ga") + size($"_gb") - $"c"))
          .where($"jac" >= 0.4)
          .select($"id_a", $"id_b", round($"jac", 6).as("jaccard"),
            ($"fa" =!= $"fb").as("cross_container"))
          .orderBy($"id_a", $"id_b")
      },
      // The strt CTE is a SIMPLIFIED image of rasterStart that is
      // exact ONLY under the imagePayloads generator layout, which
      // PayloadLayoutSpec pins: every JPEG payload's FIRST marker
      // segment is an SOF (SOI immediately followed by FFC0 — no
      // APPn, so the Scala marker walk terminates on segment one),
      // and every non-PNG/non-JPEG payload starts with the GIF8
      // magic at >= 13 bytes. If the generator ever gains APPn
      // segments or malformed payloads, the spec fails loudly
      // instead of the oracle silently diverging from the real walk.
      Some(s"""$sqlPayloadCtes,
        st AS (SELECT doc_id, hp, nb,
            CASE WHEN substr(hp, 1, 16) = '89504E470D0A1A0A' THEN 'png'
                 WHEN substr(hp, 1, 4) = 'FFD8' THEN 'jpeg'
                 ELSE 'gif' END AS format,
            CAST(CASE WHEN substr(hp, 1, 16) = '89504E470D0A1A0A'
                   THEN 20 + ${sqlHexToInt("substr(hp, 17, 8)", 8)}
                 WHEN substr(hp, 1, 4) = 'FFD8'
                   THEN 4 + ${sqlHexToInt("substr(hp, 9, 4)", 4)}
                 ELSE 13 END AS BIGINT) AS strt
          FROM hx),
        bodies AS (SELECT doc_id, format, substr(hp, CAST(2 * strt + 1 AS INT)) AS bh
          FROM st WHERE nb - strt >= 8),
        grams AS (SELECT doc_id, format,
            list_distinct(list_transform(generate_series(1, len(bh) // 2 - 7),
              i -> substr(bh, CAST(2 * i - 1 AS INT), 16))) AS gs
          FROM bodies),
        sk AS (SELECT doc_id,
            list_filter(gs, s -> substr(s, 16, 1) = '0') AS gs
          FROM grams),
        sig AS (SELECT doc_id,
            $sqlGramMinhashCols
          FROM sk WHERE len(gs) > 0),
        bands AS (SELECT doc_id, b AS band,
            CASE b $sqlGramBandCases END AS bh
          FROM sig, (VALUES (0), (1), (2), (3)) AS t(b)),
        cands AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
          FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh
            AND a.doc_id < b.doc_id),
        v AS (SELECT c.id_a, c.id_b,
            CAST(len(list_intersect(ga.gs, gb.gs)) AS DOUBLE) /
              (len(ga.gs) + len(gb.gs) - len(list_intersect(ga.gs, gb.gs))) AS jac,
            ga.format <> gb.format AS cross_container
          FROM cands c
          JOIN grams ga ON ga.doc_id = c.id_a
          JOIN grams gb ON gb.doc_id = c.id_b)
        SELECT id_a, id_b, ROUND(jac, 6) AS jaccard, cross_container
        FROM v WHERE jac >= 0.4 ORDER BY id_a, id_b""")
    ),

    Q(
      "m09_perceptual_near_dup",
      "Perceptual average-hash near-dup: Hamming<=3 over the structural-body aHash, pigeonhole-banded",
      (spark, dir) => {
        import spark.implicits._
        // The OTHER image-dedup modality: m08's byte-gram Jaccard
        // catches re-containered and insert-edited bodies, but a
        // re-ENCODED image (same picture, different bytes everywhere)
        // shares no byte grams at all — production image dedup runs a
        // PERCEPTUAL hash (aHash/pHash/dHash family) whose bits
        // survive re-encoding because they threshold region MEANS,
        // not bytes. X13 AvgHash60 computes the aHash shape in one
        // codegen pass: structural header walk (the m05/m08 walk)
        // locates the body, 60 equi-partition segments stand in for
        // the pixel grid (real codecs are stubbed per the brief; a
        // decoder drops in at the segment-mean reduction), bit j =
        // segment j's mean > global mean decided by exact int64
        // cross-multiplication — no fp, so the oracle replays the
        // hash bit-for-bit. Near-dup = Hamming <= 3, found at scale
        // by d03's pigeonhole: 4 x 15-bit bands, a pair within
        // distance 3 must agree exactly on >= 1 band, so candidates
        // come from 4 narrow band equi-joins (self-join on a
        // 15-bit-key frame — one shuffle of 4 rows/doc), never an
        // all-pairs scan; exact bit_count(xor) verifies candidates.
        // The corpus has no naturally re-containered assets (and the
        // text-byte stand-in bodies have near-uniform segment means,
        // so word-level near-dups do NOT survive Hamming <= 3 — that
        // is m08's jaccard regime), so the input unions each payload
        // with its deterministically RE-WRAPPED twin (same body,
        // neighbor container, id + 1e9): the invariance contract —
        // same raster under a different container hashes IDENTICALLY
        // and is caught at Hamming 0 — is then exercised on every
        // doc, and the oracle replays the same union. cross_container
        // marks pairs whose containers differ.
        val ah = imagePayloads(spark, dir)
          .unionByName(payloadsWithContainer(spark, dir,
            containerShift = 1, idOffset = 1000000000L))
          .select($"doc_id",
            graft.functions.GraftExpressions.avgHash60($"payload").as("a"))
          .where($"a".isNotNull)
          .select($"doc_id", $"a.format".as("format"), $"a.ahash".as("ah"))
        val seg = ah.select(
          $"doc_id", $"ah", $"format",
          posexplode(array((0 until 4).map(k =>
            shiftrightunsigned($"ah", k * 15).bitwiseAND(32767L)): _*)).as(Seq("k", "seg")))
        val a = seg.select($"doc_id".as("id_a"), $"ah".as("ha"), $"format".as("fa"), $"k", $"seg")
        val b = seg.select($"doc_id".as("id_b"), $"ah".as("hb"), $"format".as("fb"), $"k", $"seg")
        a.join(b, Seq("k", "seg")).where($"id_a" < $"id_b")
          .select($"id_a", $"id_b", $"ha", $"hb", $"fa", $"fb").distinct()
          .withColumn("hamming", bit_count($"ha".bitwiseXOR($"hb")))
          .where($"hamming" <= 3)
          .select($"id_a", $"id_b", $"hamming".cast("int").as("hamming"),
            ($"fa" =!= $"fb").as("cross_container"))
          .orderBy($"id_a", $"id_b")
      },
      // Same strt simplification as m08 (PayloadLayoutSpec pins the
      // generator layout it relies on). The hash replay is exact
      // integer arithmetic end-to-end: byte values decoded from hex
      // pairs (the m07 discipline), segment of byte i = i*60/n by
      // integer division, threshold by cross-multiplication.
      Some(s"""$sqlPayloadCtesRewrap,
        st AS (SELECT doc_id, hp, nb,
            CASE WHEN substr(hp, 1, 16) = '89504E470D0A1A0A' THEN 'png'
                 WHEN substr(hp, 1, 4) = 'FFD8' THEN 'jpeg'
                 ELSE 'gif' END AS format,
            CAST(CASE WHEN substr(hp, 1, 16) = '89504E470D0A1A0A'
                   THEN 20 + ${sqlHexToInt("substr(hp, 17, 8)", 8)}
                 WHEN substr(hp, 1, 4) = 'FFD8'
                   THEN 4 + ${sqlHexToInt("substr(hp, 9, 4)", 4)}
                 ELSE 13 END AS BIGINT) AS strt
          FROM hx),
        bodies AS (SELECT doc_id, format,
            substr(hp, CAST(2 * strt + 1 AS INT)) AS bh,
            nb - strt AS n
          FROM st WHERE nb - strt >= 60),
        bytes AS (SELECT doc_id, n, i,
            CAST((strpos('0123456789ABCDEF', substr(bh, CAST(2 * i + 1 AS INT), 1)) - 1) * 16
               + (strpos('0123456789ABCDEF', substr(bh, CAST(2 * i + 2 AS INT), 1)) - 1) AS BIGINT) AS v,
            (i * 60) // n AS seg
          FROM bodies, LATERAL (SELECT unnest(generate_series(0, CAST(n - 1 AS INT))) AS i)),
        segsum AS (SELECT doc_id, seg,
            CAST(SUM(v) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS l
          FROM bytes GROUP BY doc_id, seg),
        tot AS (SELECT doc_id, CAST(SUM(v) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS n
          FROM bytes GROUP BY doc_id),
        sig AS (SELECT ss.doc_id, b.format,
            CAST(SUM(CASE WHEN ss.s * tt.n > tt.t * ss.l
              THEN CAST(1 AS BIGINT) << CAST(ss.seg AS INT) ELSE 0 END) AS BIGINT) AS ahash
          FROM segsum ss JOIN tot tt ON tt.doc_id = ss.doc_id
          JOIN bodies b ON b.doc_id = ss.doc_id
          GROUP BY ss.doc_id, b.format),
        seg4 AS (SELECT doc_id, format, ahash, k,
            (ahash >> CAST(15 * k AS INT)) & 32767 AS sg
          FROM sig, (VALUES (0), (1), (2), (3)) AS t(k)),
        cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
            a.ahash AS ha, b.ahash AS hb, a.format AS fa, b.format AS fb
          FROM seg4 a JOIN seg4 b ON a.k = b.k AND a.sg = b.sg
            AND a.doc_id < b.doc_id)
        SELECT id_a, id_b,
          CAST(bit_count(xor(ha, hb)) AS INT) AS hamming,
          fa <> fb AS cross_container
        FROM cand WHERE bit_count(xor(ha, hb)) <= 3
        ORDER BY id_a, id_b""")
    ),

    Q(
      "m10_video_frame_dup",
      "Cross-video duplicate FRAMES via the sample tables: re-mux detection at frame granularity",
      (spark, dir) => {
        // The frame-level twin of m08's container-invariant raster
        // dedup: a video re-containered WITHOUT re-encoding (the
        // common mirror-site transformation) keeps its mdat frame
        // bytes — so shared frames across files are found by walking
        // each container's REAL sample table (stsz/stco offsets, the
        // m02 machinery) and equi-joining frame content keys. The
        // join is d01's exact-dedup shape at frame granularity, run
        // at its 100 TB shape (frameDupPairs): keys are hash60 of
        // the frame bytes' hex image (8-byte long, not a 2x-frame
        // string — the shuffle moves fixed-width keys and bands by
        // hash automatically), and frame document-frequency is
        // capped (black/silence frames are the g11 heavy-hitter
        // problem — a frame shared by k files costs k^2 pairs; df >
        // FrameDfCap frames are boilerplate, not re-mux evidence,
        // and are EXCLUDED — the d04/O9 hot-shingle discipline). The
        // cap is inert on this corpus (max df = 4 at every sf), so
        // the oracle mirrors it exactly.
        Multimodal.frameDupPairs(
            Multimodal.frameKeys(Multimodal.videoPayloads(spark, dir)))
          .orderBy(col("vid_a"), col("vid_b"))
      },
      Some(s"""WITH d AS (SELECT doc_id, upper(hex(encode(text))) AS hx,
            octet_length(encode(text)) AS ds FROM documents),
        f AS (SELECT DISTINCT doc_id,
            ${graft.functions.PortableHash.sqlHash60(
              "substr(hx, CAST(k * 100 + 1 AS BIGINT), 100)")} AS fk
          FROM d, unnest(generate_series(0, ds // 50 - 1)) AS u(k)
          WHERE ds >= 50),
        elig AS (SELECT fk FROM f GROUP BY fk
          HAVING COUNT(*) BETWEEN 2 AND $FrameDfCap)
        SELECT a.doc_id AS vid_a, b.doc_id AS vid_b,
          CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM f a JOIN f b ON a.fk = b.fk AND a.doc_id < b.doc_id
        WHERE a.fk IN (SELECT fk FROM elig)
        GROUP BY 1, 2 ORDER BY vid_a, vid_b""")
    )
  )

  // ---------------------------------------------------------------
  // m10's reusable scale core (shared by the canned query, the spec's
  // exact-vs-capped pin, and the O57 frame index below).
  // ---------------------------------------------------------------

  /** Frame document-frequency cap: a frame key held by more than this
    * many videos is boilerplate (black frames, silence, color bars) —
    * it contributes df^2 pairs while carrying no re-mux evidence, so
    * [[frameDupPairs]] EXCLUDES it (recall contract: pairs whose ONLY
    * shared frames are such boilerplate are not reported; any pair
    * sharing >= 1 non-boilerplate frame still surfaces, with
    * n_shared counting its non-boilerplate frames). 64 is two orders
    * above the observed max df on real content (4) and two orders
    * below where the k^2 blowup starts to matter.
    */
  final val FrameDfCap = 64 // literal => compile-time constant: safe to
  // reference from the `all` Seq above regardless of object init order

  /** Distinct (doc_id, fk) frame-content keys for a video corpus:
    * walk each container's REAL sample table ([[decodeFrames]]) and
    * hash60 each frame's byte content (via its hex image — uppercase
    * in both engines, so the key is oracle-portable). 8-byte keys,
    * set semantics: replayed appends of the same video are absorbed
    * by the distinct.
    */
  def frameKeys(pay: DataFrame): DataFrame =
    decodeFrames(pay).toDF()
      .join(pay, Seq("doc_id"))
      .select(col("doc_id"),
        graft.functions.PortableHash.hash60(upper(expr(
          "substring(hex(payload), cast(f_offset * 2 + 1 as int), cast(f_size * 2 as int))")))
          .as("fk"))
      .distinct()

  /** Cross-video shared-frame pairs over [[frameKeys]] output, at the
    * heavy-hitter-safe shape: keys with document frequency below 2
    * (can't pair) or above `dfCap` (boilerplate — see [[FrameDfCap]])
    * are dropped BEFORE the self-join, so the pair work is bounded by
    * (eligible keys) x dfCap^2 regardless of how many videos share a
    * black frame. One combinable df agg + one semi join + the
    * equi-self-join — no corpus-scaled broadcast, no all-pairs.
    */
  def frameDupPairs(keyed: DataFrame, dfCap: Int = FrameDfCap): DataFrame = {
    val eligible = keyed.groupBy(col("fk"))
      .agg(count(lit(1)).as("_df"))
      .where(col("_df") >= 2L && col("_df") <= dfCap.toLong)
      .select(col("fk"))
    val k = keyed.join(eligible, Seq("fk"), "left_semi")
    k.select(col("doc_id").as("vid_a"), col("fk"))
      .join(k.select(col("doc_id").as("vid_b"), col("fk")), Seq("fk"))
      .where(col("vid_a") < col("vid_b"))
      .groupBy(col("vid_a"), col("vid_b")).agg(count(lit(1)).as("n_shared"))
  }

  // ---------------------------------------------------------------
  // O54: the PERSISTED perceptual-hash band index — m09's image
  // near-dup with a day-2 incremental path, closing the one dedup
  // modality that still required re-hashing the corpus per batch.
  // Same pigeonhole decomposition as the in-query m09 (AvgHash60 →
  // 4 × 15-bit bands; Hamming ≤ 3 ⇒ ≥ 1 band agrees exactly) stored
  // in the O24 band-index shape: hive (band, pfx) dirs — pfx = the
  // band segment's top 4 bits, 16 buckets per band — under the O30
  // versioned-epoch lifecycle (IndexLayout.KeySetIndex). A probe
  // broadcasts the batch's band keys (batch rows × 4), equi-joins the
  // stored side with DPP
  // pruning down to the probed buckets, and verifies candidates with
  // the exact bit_count(xor) ≤ maxHamming — the corpus appears ONLY
  // through pruned index files, so day-2 cost is O(batch +
  // collisions) at any corpus size. Appends follow appendBandIndex's
  // routed-sink pattern (band keys are a SET — replayed appends are
  // absorbed by the probe's distinct, no count semantics to corrupt).
  // ---------------------------------------------------------------

  private def perceptualBands(assets: DataFrame, idCol: String, payloadCol: String): DataFrame =
    assets
      .select(col(idCol).as("doc_id"),
        graft.functions.GraftExpressions.avgHash60(col(payloadCol)).as("a"))
      .where(col("a").isNotNull)
      .select(col("doc_id"), col("a.format").as("format"), col("a.ahash").as("ah"))
      .select(col("doc_id"), col("ah"), col("format"),
        posexplode(array((0 until 4).map(k =>
          shiftrightunsigned(col("ah"), k * 15).bitwiseAND(32767L)): _*))
          .as(Seq("band", "seg")))
      .withColumn("pfx", shiftrightunsigned(col("seg"), 11).cast("int"))

  /** The perceptual index's lifecycle ([[IndexLayout.KeySetIndex]]):
    * rows (doc_id, ah, format, band, seg, pfx) under hive (band, pfx)
    * dirs.
    */
  private val PerceptualIndex = new IndexLayout.KeySetIndex("PerceptualIndex", "band", "pfx")

  /** Persist the corpus's perceptual band keys as a versioned epoch.
    * An empty or all-unhashable corpus (every body sub-60 bytes →
    * avgHash60 null) raises instead of publishing an unreadable epoch.
    */
  def writePerceptualIndex(
      assets: DataFrame,
      idCol: String,
      payloadCol: String,
      path: String): Unit =
    PerceptualIndex.write(perceptualBands(assets, idCol, payloadCol), path)

  /** Manifest-resolved read; feeds [[probePerceptualIndex]]. Pending
    * tombstones ([[tombstonePerceptualIndex]]) are masked immediately
    * — a taken-down asset never surfaces as a near-dup even before the
    * compaction that deletes its band keys (the probe loses its DPP
    * while they are pending; see [[IndexLayout.KeySetIndex.read]]).
    */
  def readPerceptualIndex(spark: SparkSession, path: String): DataFrame =
    PerceptualIndex.read(spark, path, col("doc_id"), col("ah"), col("format"),
      col("band").cast("int"), col("seg"), col("pfx").cast("int"))

  /** Register assets for DELETION from the perceptual index — the
    * takedown/retention obligation, image modality. Masked from the
    * very next read; applied permanently by [[compactPerceptualIndex]].
    */
  def tombstonePerceptualIndex(ids: DataFrame, idCol: String, path: String): Unit =
    PerceptualIndex.tombstone(ids, idCol, path)

  /** Periodic compaction for the append-maintained perceptual index
    * ([[IndexLayout.KeySetIndex.compact]]): one file per (band, pfx)
    * bucket, replayed-append duplicates and tombstoned assets dropped,
    * the ST25 append ledger carried forward.
    */
  def compactPerceptualIndex(spark: SparkSession, path: String, keepVersions: Int = 1): Unit =
    PerceptualIndex.compact(spark, path, keepVersions)

  /** Day-2 probe: perceptual near-dups of `batch` against the stored
    * corpus — (new_id, idx_id, hamming, cross_container), hamming ≤
    * `maxHamming` (≤ 3 keeps the 4-band pigeonhole EXACT: a missed
    * pair would need > 3 differing bits). The batch side broadcasts
    * (ingestion-bounded), the stored side is read only in the probed
    * (band, pfx) buckets, and candidates dedupe before the exact
    * verify. Probing re-indexed ids against themselves is filtered
    * (new_id != idx_id under a shared id space).
    */
  def probePerceptualIndex(
      batch: DataFrame,
      idCol: String,
      payloadCol: String,
      index: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      s"probePerceptualIndex: 4 x 15-bit bands guarantee recall only to " +
        s"Hamming 3, got $maxHamming — widen the band scheme first")
    val nb = perceptualBands(batch, idCol, payloadCol)
      .select(col("doc_id").as("new_id"), col("ah").as("ha"),
        col("format").as("fa"), col("band"), col("seg"), col("pfx"))
    broadcast(nb)
      .join(index.select(col("doc_id").as("idx_id"), col("ah").as("hb"),
          col("format").as("fb"), col("band"), col("seg"), col("pfx")),
        Seq("band", "pfx", "seg"))
      .where(col("new_id") =!= col("idx_id"))
      .select(col("new_id"), col("idx_id"), col("ha"), col("hb"), col("fa"), col("fb"))
      .distinct()
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .where(col("hamming") <= maxHamming)
      .select(col("new_id"), col("idx_id"), col("hamming").cast("int").as("hamming"),
        (col("fa") =!= col("fb")).as("cross_container"))
  }

  /** Day-N maintenance: append the KEPT batch assets' band keys into
    * the current epoch (single maintenance queue vs compactions;
    * replayed appends leave duplicate band-key rows the probe's
    * distinct absorbs — band keys are a SET, no count semantics to
    * corrupt). */
  def appendPerceptualIndex(
      kept: DataFrame,
      idCol: String,
      payloadCol: String,
      path: String): Unit =
    PerceptualIndex.append(perceptualBands(kept, idCol, payloadCol), path)

  // ---------------------------------------------------------------
  // O57: the PERSISTED video-frame index — m10's day-2 incremental
  // path, closing the last near-dup modality that still rescanned the
  // whole corpus per batch (O24 covers text bands, O51/O52 lexical and
  // gram stores, O54 images). Stored row: (doc_id, fk, pfx) where fk
  // is the hash60 frame-content key ([[frameKeys]]) and pfx its top 6
  // bits — 64 hive dirs, hash-uniform by construction. A probe
  // broadcasts the batch's frame keys (batch rows only), equi-joins
  // the stored side with DPP pruning down to the probed pfx buckets,
  // and applies [[FrameDfCap]] on the UNION document frequency
  // (batch + index) so its verdicts equal the batch m10 over the
  // union corpus — the corpus appears ONLY through pruned index
  // files, day-2 cost O(batch + collisions) at any corpus size.
  // Frame keys are a SET (distinct per video): replayed appends leave
  // duplicate rows the probe's distinct absorbs and compaction
  // reclaims — the O54 contract, same lifecycle, same ledger.
  // ---------------------------------------------------------------

  private def framePfx(fk: Column): Column =
    shiftrightunsigned(fk, 54).cast("int") // top 6 of 60 bits -> 64 buckets

  /** The frame index's lifecycle ([[IndexLayout.KeySetIndex]]): rows
    * (doc_id, fk, pfx) under 64 hive pfx dirs.
    */
  private val FrameIndex = new IndexLayout.KeySetIndex("FrameIndex", "pfx")

  private def frameIndexKeys(videos: DataFrame): DataFrame =
    frameKeys(videos).withColumn("pfx", framePfx(col("fk")))

  /** Persist a video corpus's frame keys as a versioned epoch.
    * `videos` = (doc_id, payload) ISO-BMFF containers; frames come
    * from the REAL sample tables. A corpus with no parseable sample
    * tables raises instead of publishing an unreadable epoch.
    */
  def writeFrameIndex(videos: DataFrame, path: String): Unit =
    FrameIndex.write(frameIndexKeys(videos), path)

  /** Manifest-resolved read; feeds [[probeFrameIndex]]. Pending
    * tombstones mask immediately ([[IndexLayout.KeySetIndex.read]]).
    */
  def readFrameIndex(spark: SparkSession, path: String): DataFrame =
    FrameIndex.read(spark, path, col("doc_id"), col("fk"), col("pfx").cast("int"))

  /** Register videos for DELETION from the frame index — the
    * takedown/retention obligation, video modality. Masked from the
    * very next read; applied permanently by [[compactFrameIndex]].
    */
  def tombstoneFrameIndex(ids: DataFrame, idCol: String, path: String): Unit =
    FrameIndex.tombstone(ids, idCol, path)

  /** Periodic compaction ([[IndexLayout.KeySetIndex.compact]]): one
    * file per pfx bucket, duplicates and tombstoned videos dropped,
    * the ST28 append ledger carried forward.
    */
  def compactFrameIndex(spark: SparkSession, path: String, keepVersions: Int = 1): Unit =
    FrameIndex.compact(spark, path, keepVersions)

  /** Day-2 probe: shared-frame pairs between `batch` videos and the
    * stored corpus — (new_id, idx_id, n_shared), the cross-split
    * slice of the batch m10 over the UNION corpus (FrameIndexSpec
    * pins the equality). The [[FrameDfCap]] boilerplate exclusion is
    * applied on the union document frequency: batch-side df from the
    * batch's own keys, index-side df counted over exactly the stored
    * rows the probe already pulled (the probed fks' bucket-pruned
    * postings — batch-bounded, never a corpus pass). The batch side
    * broadcasts; the stored side is read only in the probed pfx
    * buckets via DPP. Probing re-indexed ids against themselves is
    * filtered (new_id != idx_id under a shared id space).
    */
  def probeFrameIndex(
      batch: DataFrame,
      index: DataFrame,
      dfCap: Int = FrameDfCap): DataFrame = {
    val nb = frameKeys(batch)
      .select(col("doc_id").as("new_id"), col("fk"))
      .withColumn("pfx", framePfx(col("fk")))
    // all stored postings for the probed keys (distinct: replayed
    // appends leave duplicate rows), pulled ONCE and reused for both
    // the index-side df and the pair join
    val hits = index
      .join(broadcast(nb.select(col("fk"), col("pfx")).distinct()), Seq("pfx", "fk"), "left_semi")
      .select(col("doc_id").as("idx_id"), col("fk"))
      .distinct()
    val bdf = nb.groupBy(col("fk")).agg(count(lit(1)).as("_bdf"))
    // index-side holders NOT also in the batch under the shared id
    // space: a video probed while already indexed must count ONCE in
    // the union df (the batch m10 distincts (doc, fk) before
    // counting) — double-counting would wrongly exclude frames near
    // the cap. The anti-join is batch-bounded (hits already is).
    val idf = hits.join(
        nb.select(col("new_id").as("idx_id"), col("fk")),
        Seq("idx_id", "fk"), "left_anti")
      .groupBy(col("fk")).agg(count(lit(1)).as("_idf"))
    // union df in [2, dfCap]: the same eligibility the batch m10
    // computes over corpus ∪ batch — boilerplate stays boilerplate
    // whether its holders sit in the index, the batch, or both
    val elig = bdf.join(idf, Seq("fk"), "left_outer")
      .withColumn("_df", col("_bdf") + coalesce(col("_idf"), lit(0L)))
      .where(col("_df") >= 2L && col("_df") <= dfCap.toLong)
      .select(col("fk"))
    nb.join(elig, Seq("fk"), "left_semi")
      .join(hits.join(elig, Seq("fk"), "left_semi"), Seq("fk"))
      .where(col("new_id") =!= col("idx_id"))
      .groupBy(col("new_id"), col("idx_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Day-N maintenance: append the KEPT batch videos' frame keys into
    * the current epoch (set semantics — the O54 append contract). */
  def appendFrameIndex(kept: DataFrame, path: String): Unit =
    FrameIndex.append(frameIndexKeys(kept), path)
}
