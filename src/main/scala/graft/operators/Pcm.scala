package graft.operators

import java.io.ByteArrayOutputStream

import graft.codec.Bytes
import graft.engine.Tables

/** REAL WAV PCM sample decode — the audio twin of `Pixels`.
  *
  * The existing audio family stops at headers (q239's RIFF walk reads
  * fmt/data metadata; `AudioHeaders.encodeWav` declares a sample count
  * it never materializes). Here the fixture emitter writes byte-valid
  * RIFF/WAVE streams whose data chunk carries REAL 16-bit little-endian
  * PCM samples, and the decoder reads the samples back out of the
  * bytes and computes integer-exact signal statistics: peak amplitude,
  * absolute sum, strict zero crossings, and near-full-scale clip
  * counts — the silence/clipping/energy gates an audio training
  * pipeline runs before anything expensive touches a clip. The oracle
  * replays the sample formula arithmetically (lag window for the
  * crossings), so an endianness slip, a sign-extension bug, or an
  * off-by-one in the chunk walk shows up as a hash mismatch.
  *
  * Scale shape: map-only (one decode per blob, no shuffle until the
  * final per-doc row), linear in bytes; identical posture to the
  * header walks (corrupt → None, never throw). Reference analogue:
  * the map-side per-record feature slot (mapper.py:21-41); the RIFF
  * layout is the public WAVE spec.
  */
object Pcm {

  /** Byte-valid RIFF/WAVE with REAL PCM payload: a LIST/INFO chunk
    * carrying `comment` (variable length + RIFF even-padding — the
    * walk must hop it), a 16-byte PCM fmt chunk, and a data chunk of
    * 16-bit LE samples. */
  def encodePcmWav(channels: Int, sampleRate: Int, samples: Array[Int],
      comment: Array[Byte]): Array[Byte] = {
    require(channels >= 1 && samples.length % channels == 0,
      s"sample count ${samples.length} not a multiple of $channels channels")
    val listBody = "INFO".getBytes("US-ASCII") ++ comment
    val listPad = listBody.length % 2
    val dataLen = samples.length * 2
    val riffLen = 4 + (8 + listBody.length + listPad) + (8 + 16) + (8 + dataLen)
    val out = new ByteArrayOutputStream(riffLen + 8)
    def tag(t: String): Unit = out.write(t.getBytes("US-ASCII"), 0, 4)
    tag("RIFF"); Bytes.le32(out, riffLen); tag("WAVE")
    tag("LIST"); Bytes.le32(out, listBody.length); out.write(listBody, 0, listBody.length)
    if (listPad == 1) out.write(0)
    tag("fmt "); Bytes.le32(out, 16)
    Bytes.le16(out, 1) // PCM
    Bytes.le16(out, channels); Bytes.le32(out, sampleRate)
    Bytes.le32(out, sampleRate * channels * 2) // byte rate
    Bytes.le16(out, channels * 2) // block align
    Bytes.le16(out, 16) // bits per sample
    tag("data"); Bytes.le32(out, dataLen)
    samples.foreach { s =>
      require(s >= -32768 && s <= 32767, s"sample $s out of s16 range")
      Bytes.le16(out, s & 0xffff)
    }
    out.toByteArray
  }

  final case class PcmAudio(channels: Int, sampleRate: Int,
      samples: Array[Int])

  /** G.711 µ-law expansion (one byte → linear sample): complement,
    * split sign / 3-bit exponent / 4-bit mantissa, undo the +33 bias
    * shift. This is the classic ulaw2linear law (±8031 on the 13-bit
    * scale — the published expansion table divided by 4); byte 0xFF →
    * 0, 0x80 → +8031, 0x00 → −8031. Integer-exact, so the oracle
    * replays it with SQL bit ops. */
  def muLawToLinear(b: Int): Int = {
    val u = (~b) & 0xff
    val sign = (u & 0x80) != 0
    val exp = (u >> 4) & 7
    val man = u & 0x0f
    val mag = (((man << 1) + 33) << exp) - 33
    if (sign) -mag else mag
  }

  /** G.711 A-law expansion (the European companding half): XOR 0x55,
    * split sign / 3-bit segment / 4-bit mantissa; segment 0 is linear
    * (+8 rounding), higher segments shift the biased mantissa. The
    * classic alaw2linear law on the 16-bit scale: byte 0x55 → −8,
    * 0xD5 → +8, max magnitude 32256. A-law's sign convention is the
    * REVERSE of µ-law's: bit 7 SET means positive. Integer-exact, so
    * the oracle replays it with SQL bit ops. */
  def aLawToLinear(b: Int): Int = {
    val i = (b ^ 0x55) & 0xff
    val t0 = (i & 0x0f) << 4
    val seg = (i >> 4) & 7
    val mag = seg match {
      case 0 => t0 + 8
      case 1 => t0 + 0x108
      case s => (t0 + 0x108) << (s - 1)
    }
    if ((i & 0x80) != 0) mag else -mag
  }

  /** Decode PCM out of a RIFF/WAVE stream: LE chunk walk with
    * even-padding hops, fmt parse, data chunk → linear samples.
    * Supported fmt combinations: code 1 (linear PCM) at 16 or 24 bits
    * — sign-extended LE — code 7 (G.711 µ-law) and code 6 (G.711
    * A-law) at 8 bits, expanded through the published companding
    * laws. Anything else / corrupt → None. */
  def decodePcmWav(bytes: Array[Byte]): Option[PcmAudio] =
    try {
      if (bytes.length < 44) return None
      if (new String(bytes, 0, 4, "US-ASCII") != "RIFF" ||
          new String(bytes, 8, 4, "US-ASCII") != "WAVE") return None
      var off = 12
      var fmtCode = -1; var channels = -1; var rate = -1; var bits = -1
      var samples: Array[Int] = null
      while (off + 8 <= bytes.length) {
        val tag = new String(bytes, off, 4, "US-ASCII")
        val len = Bytes.i32le(bytes, off + 4)
        if (len < 0 || off + 8 + len > bytes.length) return None
        tag match {
          case "fmt " =>
            if (len < 16) return None
            fmtCode = Bytes.u16le(bytes, off + 8)
            channels = Bytes.u16le(bytes, off + 10)
            rate = Bytes.i32le(bytes, off + 12)
            bits = Bytes.u16le(bytes, off + 22)
            if (fmtCode == 0xfffe) {
              // WAVE_FORMAT_EXTENSIBLE: the real format lives in the
              // SubFormat GUID's first two bytes; the remaining 14 must
              // be the fixed KSDATAFORMAT tail (a stray GUID is not a
              // format we know). Most real-world 24-bit WAVs use this.
              if (len < 40 || Bytes.u16le(bytes, off + 24) < 22) return None
              val guidAt = off + 8 + 24
              val tail = Array(0x00, 0x00, 0x00, 0x00, 0x10, 0x00, 0x80,
                0x00, 0x00, 0xaa, 0x00, 0x38, 0x9b, 0x71)
              var i = 0
              while (i < 14) {
                if ((bytes(guidAt + 2 + i) & 0xff) != tail(i)) return None
                i += 1
              }
              fmtCode = Bytes.u16le(bytes, guidAt)
            }
            val supported = (fmtCode == 1 && (bits == 16 || bits == 24)) ||
              ((fmtCode == 6 || fmtCode == 7) && bits == 8)
            if (!supported || channels < 1) return None
          case "data" =>
            if (fmtCode < 0) return None
            if (fmtCode == 1 && bits == 16) {
              if (len % 2 != 0) return None
              samples = Array.tabulate(len / 2) { i =>
                Bytes.i16le(bytes, off + 8 + i * 2)
              }
            } else if (fmtCode == 1) { // 24-bit LE, sign-extended
              if (len % 3 != 0) return None
              samples = Array.tabulate(len / 3) { i =>
                val p = off + 8 + i * 3
                val v = Bytes.u24le(bytes, p)
                (v << 8) >> 8 // sign-extend bit 23
              }
            } else if (fmtCode == 7) {
              samples = Array.tabulate(len) { i =>
                muLawToLinear(bytes(off + 8 + i) & 0xff)
              }
            } else { // fmt 6: A-law
              samples = Array.tabulate(len) { i =>
                aLawToLinear(bytes(off + 8 + i) & 0xff)
              }
            }
          case _ => () // LIST and friends — hop
        }
        off += 8 + len + (len % 2) // RIFF chunks are even-aligned
      }
      if (samples == null) None
      else Some(PcmAudio(channels, rate, samples))
    } catch { case _: Exception => None }

  /** Byte-valid µ-law RIFF/WAVE (fmt code 7, 8 bits/sample): same
    * chunk layout as `encodePcmWav` but the data chunk carries raw
    * companded BYTES — fixtures generate the bytes arithmetically, so
    * no lossy linear→companded stage exists anywhere in the pipeline. */
  def encodeMuLawWav(channels: Int, sampleRate: Int, mulaw: Array[Byte],
      comment: Array[Byte]): Array[Byte] =
    encodeG711Wav(7, channels, sampleRate, mulaw, comment)

  /** A-law sibling (fmt code 6). */
  def encodeALawWav(channels: Int, sampleRate: Int, alaw: Array[Byte],
      comment: Array[Byte]): Array[Byte] =
    encodeG711Wav(6, channels, sampleRate, alaw, comment)

  /** Byte-valid 24-bit linear PCM RIFF/WAVE: 3-byte LE samples,
    * interleaved by channel (the studio/podcast master format). */
  def encodePcm24Wav(channels: Int, sampleRate: Int, samples: Array[Int],
      comment: Array[Byte]): Array[Byte] = {
    require(channels >= 1 && samples.length % channels == 0,
      s"sample count ${samples.length} not a multiple of $channels channels")
    val listBody = "INFO".getBytes("US-ASCII") ++ comment
    val listPad = listBody.length % 2
    val dataLen = samples.length * 3
    val dataPad = dataLen % 2
    val riffLen = 4 + (8 + listBody.length + listPad) + (8 + 16) +
      (8 + dataLen + dataPad)
    val out = new ByteArrayOutputStream(riffLen + 8)
    def tag(t: String): Unit = out.write(t.getBytes("US-ASCII"), 0, 4)
    tag("RIFF"); Bytes.le32(out, riffLen); tag("WAVE")
    tag("LIST"); Bytes.le32(out, listBody.length); out.write(listBody, 0, listBody.length)
    if (listPad == 1) out.write(0)
    tag("fmt "); Bytes.le32(out, 16)
    Bytes.le16(out, 1) // PCM
    Bytes.le16(out, channels); Bytes.le32(out, sampleRate)
    Bytes.le32(out, sampleRate * channels * 3) // byte rate
    Bytes.le16(out, channels * 3) // block align
    Bytes.le16(out, 24) // bits per sample
    tag("data"); Bytes.le32(out, dataLen)
    samples.foreach { s =>
      require(s >= -(1 << 23) && s < (1 << 23), s"sample $s out of s24 range")
      out.write(s & 0xff); out.write((s >>> 8) & 0xff)
      out.write((s >>> 16) & 0xff)
    }
    if (dataPad == 1) out.write(0)
    out.toByteArray
  }

  /** 24-bit PCM wrapped in WAVE_FORMAT_EXTENSIBLE (fmt 0xFFFE, 40-byte
    * fmt chunk, SubFormat GUID = PCM) — how real-world studio WAVs
    * actually declare >16-bit formats. */
  def encodePcm24ExtensibleWav(channels: Int, sampleRate: Int,
      samples: Array[Int], comment: Array[Byte]): Array[Byte] = {
    require(channels >= 1 && samples.length % channels == 0,
      s"sample count ${samples.length} not a multiple of $channels channels")
    val listBody = "INFO".getBytes("US-ASCII") ++ comment
    val listPad = listBody.length % 2
    val dataLen = samples.length * 3
    val dataPad = dataLen % 2
    val riffLen = 4 + (8 + listBody.length + listPad) + (8 + 40) +
      (8 + dataLen + dataPad)
    val out = new ByteArrayOutputStream(riffLen + 8)
    def tag(t: String): Unit = out.write(t.getBytes("US-ASCII"), 0, 4)
    tag("RIFF"); Bytes.le32(out, riffLen); tag("WAVE")
    tag("LIST"); Bytes.le32(out, listBody.length); out.write(listBody, 0, listBody.length)
    if (listPad == 1) out.write(0)
    tag("fmt "); Bytes.le32(out, 40)
    Bytes.le16(out, 0xfffe) // WAVE_FORMAT_EXTENSIBLE
    Bytes.le16(out, channels); Bytes.le32(out, sampleRate)
    Bytes.le32(out, sampleRate * channels * 3)
    Bytes.le16(out, channels * 3)
    Bytes.le16(out, 24)
    Bytes.le16(out, 22) // cbSize
    Bytes.le16(out, 24) // valid bits per sample
    Bytes.le32(out, 0) // channel mask: unspecified
    Bytes.le16(out, 1) // SubFormat: PCM
    Seq(0x00, 0x00, 0x00, 0x00, 0x10, 0x00, 0x80, 0x00, 0x00, 0xaa,
      0x00, 0x38, 0x9b, 0x71).foreach(out.write)
    tag("data"); Bytes.le32(out, dataLen)
    samples.foreach { s =>
      require(s >= -(1 << 23) && s < (1 << 23), s"sample $s out of s24 range")
      out.write(s & 0xff); out.write((s >>> 8) & 0xff)
      out.write((s >>> 16) & 0xff)
    }
    if (dataPad == 1) out.write(0)
    out.toByteArray
  }

  private def encodeG711Wav(code: Int, channels: Int, sampleRate: Int,
      mulaw: Array[Byte], comment: Array[Byte]): Array[Byte] = {
    require(channels >= 1 && mulaw.length % channels == 0,
      s"sample count ${mulaw.length} not a multiple of $channels channels")
    val listBody = "INFO".getBytes("US-ASCII") ++ comment
    val listPad = listBody.length % 2
    val dataPad = mulaw.length % 2
    val riffLen = 4 + (8 + listBody.length + listPad) + (8 + 16) +
      (8 + mulaw.length + dataPad)
    val out = new ByteArrayOutputStream(riffLen + 8)
    def tag(t: String): Unit = out.write(t.getBytes("US-ASCII"), 0, 4)
    tag("RIFF"); Bytes.le32(out, riffLen); tag("WAVE")
    tag("LIST"); Bytes.le32(out, listBody.length); out.write(listBody, 0, listBody.length)
    if (listPad == 1) out.write(0)
    tag("fmt "); Bytes.le32(out, 16)
    Bytes.le16(out, code) // G.711: 6 = A-law, 7 = µ-law
    Bytes.le16(out, channels); Bytes.le32(out, sampleRate)
    Bytes.le32(out, sampleRate * channels) // byte rate: one byte per sample
    Bytes.le16(out, channels) // block align
    Bytes.le16(out, 8) // bits per sample
    tag("data"); Bytes.le32(out, mulaw.length)
    out.write(mulaw, 0, mulaw.length)
    if (dataPad == 1) out.write(0)
    out.toByteArray
  }

  final case class PcmStatsRow(doc_id: Long, n_samples: Int, peak: Int,
      sum_abs: Long, zero_crossings: Int, clip_count: Int)

  final case class SegmentRow(doc_id: Long, n_segments: Int,
      speech_samples: Int, longest_segment: Int, silence_samples: Int)

  /** Silence-based utterance segmentation — the clip splitter every
    * speech pipeline runs before transcription: a SILENCE RUN is ≥
    * `minRun` consecutive samples with |s| < `threshold`; segments
    * are the maximal spans between silence runs (quiet blips shorter
    * than minRun stay inside their segment). Single pass. */
  def segments(id: Long, samples: Array[Int], threshold: Int,
      minRun: Int): SegmentRow = {
    // pass 1: mark silence-run membership
    val silent = new Array[Boolean](samples.length)
    var i = 0
    while (i < samples.length) {
      if (math.abs(samples(i)) < threshold) {
        var j = i
        while (j < samples.length && math.abs(samples(j)) < threshold) j += 1
        if (j - i >= minRun) java.util.Arrays.fill(silent, i, j, true)
        i = j
      } else i += 1
    }
    // pass 2: islands of non-silence
    var nSeg = 0; var speech = 0; var longest = 0; var silence = 0
    var run = 0
    i = 0
    while (i <= samples.length) {
      if (i < samples.length && !silent(i)) run += 1
      else {
        if (run > 0) {
          nSeg += 1; speech += run
          if (run > longest) longest = run
          run = 0
        }
        if (i < samples.length) silence += 1
      }
      i += 1
    }
    SegmentRow(id, nSeg, speech, longest, silence)
  }

  /** Integer signal stats over a decoded sample stream. Zero crossings
    * are STRICT sign changes between adjacent samples (a zero sample
    * breaks the run, matching the lag-window oracle); clip threshold
    * is |s| >= 1900 for the fixture's ±2000 range. */
  def stats(id: Long, samples: Array[Int], clipAt: Int): PcmStatsRow = {
    var peak = 0; var sumAbs = 0L; var cross = 0; var clip = 0
    var i = 0
    while (i < samples.length) {
      val s = samples(i)
      val a = math.abs(s)
      if (a > peak) peak = a
      sumAbs += a
      if (a >= clipAt) clip += 1
      if (i > 0 && samples(i - 1).toLong * s < 0) cross += 1
      i += 1
    }
    PcmStatsRow(id, samples.length, peak, sumAbs, cross, clip)
  }

  /** 2:1 decimation with a pair box filter — the audio thumbnail:
    * d(k) = (s(2k) + s(2k+1)) / 2 with TRUNCATING division (toward
    * zero). Division convention measured, not assumed: DuckDB's `//`
    * truncates on negatives (−5 // 2 = −2), same as Scala's `/` — an
    * earlier floorDiv draft hash-mismatched the oracle on every
    * negative odd pair sum. Requires an even sample count. */
  def decimate2(samples: Array[Int]): Array[Int] = {
    require(samples.length % 2 == 0, "decimate2 needs an even count")
    Array.tabulate(samples.length / 2)(k =>
      (samples(2 * k) + samples(2 * k + 1)) / 2)
  }

  val defs: Seq[QueryDef] = Seq(

    // ----- REAL PCM sample decode: WAV → samples → signal gates ------
    // Each doc becomes a byte-valid mono 16-bit WAV (LIST hop, PCM fmt,
    // real LE samples following an arithmetic ramp); the decoder reads
    // the samples OUT OF THE BYTES and computes the energy/silence/
    // clipping gates. The oracle replays the ramp with a lag window.
    QueryDef(
      "q336_wav_pcm_decode",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text").fanout.as[(Long, String)]
          .map { case (id, text) =>
            val n = (200 + id % 300).toInt
            val samples = Array.tabulate(n)(t =>
              ((id * 31 + t.toLong * 17) % 4001).toInt - 2000)
            val bytes = encodePcmWav(1, 8000, samples,
              text.getBytes("UTF-8"))
            decodePcmWav(bytes) match {
              case Some(a) => stats(id, a.samples, clipAt = 1900)
              case None => PcmStatsRow(id, -1, -1, -1L, -1, -1)
            }
          }.toDF().orderBy($"doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, 200 + doc_id % 300 AS n FROM documents),
        ts AS (SELECT doc_id, unnest(generate_series(0, n - 1)) AS t
               FROM base),
        sm AS (SELECT doc_id, t,
                      (doc_id * 31 + t * 17) % 4001 - 2000 AS s FROM ts),
        lagd AS (SELECT doc_id, s,
                        lag(s) OVER (PARTITION BY doc_id ORDER BY t) AS prev
                 FROM sm)
        SELECT doc_id,
               CAST(COUNT(*) AS INT) AS n_samples,
               CAST(MAX(ABS(s)) AS INT) AS peak,
               CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
               CAST(SUM(CASE WHEN prev * s < 0 THEN 1 ELSE 0 END) AS INT)
                 AS zero_crossings,
               CAST(SUM(CASE WHEN ABS(s) >= 1900 THEN 1 ELSE 0 END) AS INT)
                 AS clip_count
        FROM lagd
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ----- µ-law telephony decode: G.711 WAV → linear → gates --------
    // The 8kHz-telephony sibling of q336: fmt code 7, one µ-law byte
    // per sample, bytes arithmetic from doc_id. The decoder expands
    // through the published ulaw2linear law; the oracle replays the
    // complement/exponent/mantissa bit math in SQL, so a bias slip or
    // a sign-bit confusion lands in every column at once.
    QueryDef(
      "q339_mulaw_wav_decode",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text").fanout.as[(Long, String)]
          .map { case (id, text) =>
            val n = (150 + id % 250).toInt
            val mulaw = Array.tabulate(n)(t =>
              ((id * 13 + t.toLong * 29) % 256).toByte)
            val bytes = encodeMuLawWav(1, 8000, mulaw,
              text.getBytes("UTF-8"))
            decodePcmWav(bytes) match {
              case Some(a) => stats(id, a.samples, clipAt = 4000)
              case None => PcmStatsRow(id, -1, -1, -1L, -1, -1)
            }
          }.toDF().orderBy($"doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, 150 + doc_id % 250 AS n FROM documents),
        ts AS (SELECT doc_id, unnest(generate_series(0, n - 1)) AS t
               FROM base),
        ub AS (SELECT doc_id, t,
                      255 - (doc_id * 13 + t * 29) % 256 AS u FROM ts),
        sm AS (SELECT doc_id, t,
                      CASE WHEN u >= 128 THEN
                        -((((u % 16) * 2 + 33) << ((u // 16) % 8)) - 33)
                      ELSE
                        ((((u % 16) * 2 + 33) << ((u // 16) % 8)) - 33)
                      END AS s
               FROM ub),
        lagd AS (SELECT doc_id, s,
                        lag(s) OVER (PARTITION BY doc_id ORDER BY t) AS prev
                 FROM sm)
        SELECT doc_id,
               CAST(COUNT(*) AS INT) AS n_samples,
               CAST(MAX(ABS(s)) AS INT) AS peak,
               CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
               CAST(SUM(CASE WHEN prev * s < 0 THEN 1 ELSE 0 END) AS INT)
                 AS zero_crossings,
               CAST(SUM(CASE WHEN ABS(s) >= 4000 THEN 1 ELSE 0 END) AS INT)
                 AS clip_count
        FROM lagd
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ----- silence segmentation: the utterance splitter ---------------
    // Every third 50-sample stretch is near-silent (|s| ≤ 3); the loud
    // ramp's own incidental sub-threshold samples form runs of at most
    // ~7 (< minRun 25), so they must stay INSIDE their segment — a
    // splitter that cuts on any quiet sample over-segments and fails
    // the hash. The oracle is a pure gaps-and-islands replay: silence
    // runs via t − row_number() grouping with a ≥25 count filter, then
    // speech islands over what remains.
    QueryDef(
      "q353_silence_segmentation",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text").fanout.as[(Long, String)]
          .map { case (id, text) =>
            val n = (450 + id % 300).toInt
            val samplesArr = Array.tabulate(n) { t =>
              if ((t / 50) % 3 == 2) ((id + t) % 7).toInt - 3
              else {
                val v = ((id * 31 + t.toLong * 17) % 3001).toInt - 1500
                v
              }
            }
            val bytes = encodePcmWav(1, 16000, samplesArr,
              text.getBytes("UTF-8"))
            decodePcmWav(bytes) match {
              case Some(a) => segments(id, a.samples, threshold = 50,
                minRun = 25)
              case None => SegmentRow(id, -1, -1, -1, -1)
            }
          }.toDF().orderBy($"doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, 450 + doc_id % 300 AS n FROM documents),
        ts AS (SELECT doc_id, unnest(generate_series(0, n - 1)) AS t
               FROM base),
        sm AS (SELECT doc_id, t,
                      CASE WHEN (t // 50) % 3 = 2
                           THEN (doc_id + t) % 7 - 3
                           ELSE (doc_id * 31 + t * 17) % 3001 - 1500
                      END AS s
               FROM ts),
        quiet AS (SELECT doc_id, t,
                         CASE WHEN ABS(s) < 50 THEN 1 ELSE 0 END AS q
                  FROM sm),
        runs AS (SELECT doc_id, t, q,
                        t - ROW_NUMBER() OVER (PARTITION BY doc_id, q
                                               ORDER BY t) AS grp
                 FROM quiet),
        -- silence runs: quiet groups of >= 25 samples
        silranges AS (
          SELECT doc_id, grp, COUNT(*) AS len
          FROM runs WHERE q = 1
          GROUP BY doc_id, grp
          HAVING COUNT(*) >= 25),
        marked AS (
          SELECT r.doc_id, r.t,
                 CASE WHEN r.q = 1 AND sr.grp IS NOT NULL
                      THEN 1 ELSE 0 END AS silent
          FROM runs r
          LEFT JOIN silranges sr
            ON sr.doc_id = r.doc_id AND sr.grp = r.grp AND r.q = 1),
        speech AS (
          SELECT doc_id, t,
                 t - ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY t) AS seg
          FROM marked WHERE silent = 0),
        segs AS (SELECT doc_id, seg, COUNT(*) AS len
                 FROM speech GROUP BY doc_id, seg),
        sil AS (SELECT doc_id, SUM(CASE WHEN silent = 1 THEN 1 ELSE 0 END)
                       AS silence_samples
                FROM marked GROUP BY doc_id)
        SELECT g.doc_id,
               CAST(COUNT(*) AS INT) AS n_segments,
               CAST(SUM(g.len) AS INT) AS speech_samples,
               CAST(MAX(g.len) AS INT) AS longest_segment,
               CAST(MAX(sil.silence_samples) AS INT) AS silence_samples
        FROM segs g JOIN sil ON sil.doc_id = g.doc_id
        GROUP BY g.doc_id
        ORDER BY g.doc_id""")),

    // ----- 2:1 decimation: the audio resize, through real bytes -------
    // Decode 16-bit WAV → pair box filter (truncating division, the
    // measured DuckDB `//` convention — see `decimate2`) → re-encode
    // the half-rate stream → decode AGAIN and report its gates, so
    // the encoder runs at the derived rate and a division-convention
    // slip on negative pairs lands in sum_abs.
    QueryDef(
      "q355_audio_decimation",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text").fanout.as[(Long, String)]
          .map { case (id, text) =>
            val n = 2 * (150 + id % 200).toInt
            val samples = Array.tabulate(n)(t =>
              ((id * 31 + t.toLong * 17) % 4001).toInt - 2000)
            val wav = encodePcmWav(1, 16000, samples,
              text.getBytes("UTF-8"))
            val out = for {
              a <- decodePcmWav(wav)
              half = decimate2(a.samples)
              wav2 = encodePcmWav(1, 8000, half, Array.emptyByteArray)
              b <- decodePcmWav(wav2)
            } yield stats(id, b.samples, clipAt = 1900)
            out.getOrElse(PcmStatsRow(id, -1, -1, -1L, -1, -1))
          }.toDF().orderBy($"doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, 2 * (150 + doc_id % 200) AS n FROM documents),
        ts AS (SELECT doc_id, unnest(generate_series(0, n - 1)) AS t
               FROM base),
        sm AS (SELECT doc_id, t // 2 AS k,
                      (doc_id * 31 + t * 17) % 4001 - 2000 AS s FROM ts),
        dec AS (SELECT doc_id, k, SUM(s) // 2 AS d
                FROM sm GROUP BY doc_id, k),
        lagd AS (SELECT doc_id, d,
                        lag(d) OVER (PARTITION BY doc_id ORDER BY k) AS prev
                 FROM dec)
        SELECT doc_id,
               CAST(COUNT(*) AS INT) AS n_samples,
               CAST(MAX(ABS(d)) AS INT) AS peak,
               CAST(SUM(ABS(d)) AS BIGINT) AS sum_abs,
               CAST(SUM(CASE WHEN prev * d < 0 THEN 1 ELSE 0 END) AS INT)
                 AS zero_crossings,
               CAST(SUM(CASE WHEN ABS(d) >= 1900 THEN 1 ELSE 0 END) AS INT)
                 AS clip_count
        FROM lagd
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ----- A-law WAV decode: the other G.711 companding half ----------
    // fmt code 6, one A-law byte per sample. The expansion is the
    // classic alaw2linear law (XOR 0x55, segment/mantissa split, sign
    // bit REVERSED vs µ-law: set = positive); the oracle replays the
    // bit math in SQL, so a segment-shift slip or the µ-law sign
    // convention applied here lands in every column.
    QueryDef(
      "q365_alaw_wav_decode",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text").fanout.as[(Long, String)]
          .map { case (id, text) =>
            val n = (150 + id % 250).toInt
            val alaw = Array.tabulate(n)(t =>
              ((id * 19 + t.toLong * 31) % 256).toByte)
            val bytes = encodeALawWav(1, 8000, alaw,
              text.getBytes("UTF-8"))
            decodePcmWav(bytes) match {
              case Some(a) => stats(id, a.samples, clipAt = 16000)
              case None => PcmStatsRow(id, -1, -1, -1L, -1, -1)
            }
          }.toDF().orderBy($"doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, 150 + doc_id % 250 AS n FROM documents),
        ts AS (SELECT doc_id, unnest(generate_series(0, n - 1)) AS t
               FROM base),
        ib AS (SELECT doc_id, t,
                      xor((doc_id * 19 + t * 31) % 256, 85) AS i FROM ts),
        sm AS (SELECT doc_id, t,
                      CASE WHEN i >= 128 THEN 1 ELSE -1 END *
                      CASE (i // 16) % 8
                        WHEN 0 THEN (i % 16) * 16 + 8
                        WHEN 1 THEN (i % 16) * 16 + 264
                        ELSE ((i % 16) * 16 + 264)
                               << ((i // 16) % 8 - 1)
                      END AS s
               FROM ib),
        lagd AS (SELECT doc_id, s,
                        lag(s) OVER (PARTITION BY doc_id ORDER BY t) AS prev
                 FROM sm)
        SELECT doc_id,
               CAST(COUNT(*) AS INT) AS n_samples,
               CAST(MAX(ABS(s)) AS INT) AS peak,
               CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs,
               CAST(SUM(CASE WHEN prev * s < 0 THEN 1 ELSE 0 END) AS INT)
                 AS zero_crossings,
               CAST(SUM(CASE WHEN ABS(s) >= 16000 THEN 1 ELSE 0 END) AS INT)
                 AS clip_count
        FROM lagd
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ----- 24-bit STEREO PCM decode: the studio/podcast master shape --
    // fmt code 1 at 24 bits, 3-byte LE sign-extended samples
    // interleaved L R — a byte-order or block-align slip scrambles
    // the channels or lands at scale 256. Values span the full ±2^23
    // range; per-channel sums are replayed exactly.
    QueryDef(
      "q366_wav_pcm24_stereo_decode",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"text").fanout.as[(Long, String)]
          .map { case (id, text) =>
            val n = (120 + id % 200).toInt // frames
            val inter = new Array[Int](2 * n)
            var t = 0
            while (t < n) {
              inter(2 * t) =
                ((id * 9973 + t.toLong * 104729) % 16000000).toInt - 8000000
              inter(2 * t + 1) =
                ((id * 7919 + t.toLong * 130363) % 12000000).toInt - 6000000
              t += 1
            }
            // odd ids wrap in WAVE_FORMAT_EXTENSIBLE — the container
            // real studio tools emit for 24-bit; same samples, so the
            // oracle is container-blind by construction
            val bytes =
              if (id % 2 == 1) encodePcm24ExtensibleWav(2, 48000, inter,
                text.getBytes("UTF-8"))
              else encodePcm24Wav(2, 48000, inter, text.getBytes("UTF-8"))
            decodePcmWav(bytes) match {
              case Some(a) if a.channels == 2 =>
                val m = a.samples.length / 2
                var sl = 0L; var sr = 0L; var pk = 0
                var i = 0
                while (i < m) {
                  sl += math.abs(a.samples(2 * i).toLong)
                  sr += math.abs(a.samples(2 * i + 1).toLong)
                  pk = math.max(pk, math.max(math.abs(a.samples(2 * i)),
                    math.abs(a.samples(2 * i + 1))))
                  i += 1
                }
                (id, m, a.sampleRate, pk, sl, sr)
              case _ => (id, -1, -1, -1, -1L, -1L)
            }
          }.toDF("doc_id", "n_frames", "rate", "peak", "sum_abs_l",
            "sum_abs_r")
          .orderBy($"doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, 120 + doc_id % 200 AS n FROM documents),
        ts AS (SELECT doc_id, n, unnest(generate_series(0, n - 1)) AS t
               FROM base),
        sm AS (SELECT doc_id, n,
                      (doc_id * 9973 + t * 104729) % 16000000 - 8000000 AS l,
                      (doc_id * 7919 + t * 130363) % 12000000 - 6000000 AS r
               FROM ts)
        SELECT doc_id,
               CAST(MAX(n) AS INT) AS n_frames,
               CAST(48000 AS INT) AS rate,
               CAST(MAX(GREATEST(ABS(l), ABS(r))) AS INT) AS peak,
               CAST(SUM(ABS(l)) AS BIGINT) AS sum_abs_l,
               CAST(SUM(ABS(r)) AS BIGINT) AS sum_abs_r
        FROM sm
        GROUP BY doc_id
        ORDER BY doc_id""")),

    // ----- crawl → audio composition: the q350 story for sound --------
    // Each doc is a gzipped WARC response whose payload is an AUDIO
    // blob in one of three real formats by id%3 — 16-bit PCM WAV,
    // µ-law WAV, FLAC (fixed-predictor mono) — and the pipeline runs
    // the full consumer path: gunzip → WARC parse → dispatch on the
    // payload magic (RIFF vs fLaC) → the format's real sample decode
    // → signal stats. The oracle replays every branch's sample
    // formula, so each transport layer must be exactly transparent
    // (the q350 discipline: a stats-only oracle over a three-decoder
    // dispatch).
    QueryDef(
      "q368_crawl_audio_pipeline",
      (s, dir) => {
        import s.implicits._
        Tables.load(s, dir, "documents")
          .select($"doc_id").fanout.as[Long]
          .map { id =>
            val n = (200 + id % 200).toInt
            val fmt = (id % 3).toInt
            val audio: Array[Byte] = fmt match {
              case 0 =>
                val samples = Array.tabulate(n)(t =>
                  ((id * 37 + t.toLong * 23) % 3989).toInt - 1994)
                encodePcmWav(1, 16000, samples, Array.emptyByteArray)
              case 1 =>
                val mulaw = Array.tabulate(n)(t =>
                  ((id * 13 + t.toLong * 29) % 256).toByte)
                encodeMuLawWav(1, 8000, mulaw, Array.emptyByteArray)
              case _ =>
                val samples = Array.tabulate(n)(t =>
                  ((id * 37 + t.toLong * 23) % 3989).toInt - 1994)
                Flac.encodeFlac(samples, 256, 8000)
            }
            val warc = Warc.encodeRecord("response",
              Some(s"http://audio.site${id % 50}.example/a$id"),
              s"<urn:uuid:audio-$id>", audio)
            val blob = Compression.encodeGzip(warc, mtime = 0L,
              fname = None, fcomment = None)
            val decoded: Option[Array[Int]] = for {
              bytes <- Compression.gunzip(blob)
              rec <- Warc.parse(bytes).headOption
              p = rec.payload
              samples <- p match {
                case _ if p.length >= 4 && p(0) == 'R' && p(1) == 'I' &&
                  p(2) == 'F' && p(3) == 'F' =>
                  decodePcmWav(p).map(_.samples)
                case _ if p.length >= 4 && p(0) == 'f' && p(1) == 'L' &&
                  p(2) == 'a' && p(3) == 'C' =>
                  Flac.decodeFlac(p).map(_.samples)
                case _ => None
              }
            } yield samples
            decoded match {
              case Some(sm) =>
                val st = stats(id, sm, clipAt = Int.MaxValue)
                (id, fmt, st.n_samples, st.peak, st.sum_abs)
              case None => (id, fmt, -1, -1, -1L)
            }
          }
          .toDF("doc_id", "format", "n_samples", "peak", "sum_abs")
          .orderBy($"doc_id")
      },
      Some("""
        WITH base AS (
          SELECT doc_id, 200 + doc_id % 200 AS n,
                 CAST(doc_id % 3 AS INT) AS fmt FROM documents),
        ts AS (SELECT doc_id, n, fmt,
                      unnest(generate_series(0, n - 1)) AS t FROM base),
        sm AS (SELECT doc_id, fmt,
                      CASE WHEN fmt = 1 THEN
                        CASE WHEN 255 - (doc_id * 13 + t * 29) % 256 >= 128
                          THEN -(((((255 - (doc_id * 13 + t * 29) % 256)
                                    % 16) * 2 + 33)
                                  << (((255 - (doc_id * 13 + t * 29) % 256)
                                       // 16) % 8)) - 33)
                          ELSE (((((255 - (doc_id * 13 + t * 29) % 256)
                                   % 16) * 2 + 33)
                                 << (((255 - (doc_id * 13 + t * 29) % 256)
                                      // 16) % 8)) - 33)
                        END
                      ELSE (doc_id * 37 + t * 23) % 3989 - 1994
                      END AS s
               FROM ts)
        SELECT doc_id, MAX(fmt) AS format,
               CAST(COUNT(*) AS INT) AS n_samples,
               CAST(MAX(ABS(s)) AS INT) AS peak,
               CAST(SUM(ABS(s)) AS BIGINT) AS sum_abs
        FROM sm
        GROUP BY doc_id
        ORDER BY doc_id"""))
  )
}
