package graft.multimodal

import graft.{Op, Tables}, Op.Oracle
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Opaque-binary multimodal column plumbing (SURVEY.md §2.6 #44).
  *
  * Pattern for image/audio/video at 100 TB: payloads ride as `binary`
  * columns next to a typed metadata struct; decode / feature-extract
  * runs per-partition over iterator batches (never per-row driver
  * round-trips), and the decoded features land back as ordinary columns.
  * IMAGE decode is REAL (javax.imageio: PNG/BMP/GIF/JPEG, pure JVM,
  * headless-safe) — pixel-level features, spec-verified against
  * programmatically rendered images. AUDIO decode is REAL for
  * WAV/AU/AIFF PCM (javax.sound.sampled, same pure-JDK trade) —
  * sample-level amplitude features, spec-verified against synthesized
  * waveforms. Compressed audio and video, whose codecs are not in the
  * JVM, take a deterministic byte-statistics fallback; the Spark-side
  * contract (schema, batch iteration, partitioning) is identical on
  * all paths.
  */
object Multimodal extends Op.Registry {

  /** A multimodal record: payload + typed metadata. */
  case class MediaRecord(doc_id: Long, payload: Array[Byte], fmt: String, n_frames: Int)

  /** Decoded per-record features. */
  case class MediaFeatures(doc_id: Long, byte_len: Int, n_frames: Int, mean_level: Double)

  /** Fallback decode: deterministic byte statistics (mean byte value ≈
    * "loudness") for formats with no JVM codec in this environment
    * (audio/video). Image formats take the REAL decode path below.
    */
  def decodeStub(rec: MediaRecord): MediaFeatures = {
    val mean = if (rec.payload.isEmpty) 0.0
      else rec.payload.map(b => (b & 0xff).toDouble).sum / rec.payload.length
    MediaFeatures(rec.doc_id, rec.payload.length, rec.n_frames, math.round(mean * 1e6) / 1e6)
  }

  /** Decoded image summary: dimensions + mean Rec.601 luma (0-255). */
  case class ImageFeatures(doc_id: Long, width: Int, height: Int,
      n_px: Long, mean_luma: Double, decoded: Boolean)

  /** Image formats javax.imageio decodes out of the box (pure JVM, no
    * native libs — works headless). */
  val imageFormats: Set[String] = Set("png", "bmp", "gif", "jpg", "jpeg", "wbmp")

  /** REAL image decode: javax.imageio pixel decode of a PNG/BMP/GIF/JPEG
    * payload → (width, height, mean Rec.601 luma). None when the bytes
    * are not a decodable image (corrupt, truncated, or a non-image
    * format) — callers keep the row and flag it, never throw.
    */
  /** Decompression-bomb guard: a tiny hostile payload can DECLARE huge
    * dimensions; full decode would allocate w·h·4 bytes inside an
    * executor task and OOM the JVM (an Error, not the caught
    * Exception). Header dims are read without decoding pixels. */
  val MaxDecodePixels: Long = 64L * 1024 * 1024 // 64 MP ≈ 256 MB ARGB

  private def headerDims(payload: Array[Byte]): Option[(Int, Int)] = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(payload))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val reader = readers.next()
        try {
          reader.setInput(iis, true, true)
          Some((reader.getWidth(0), reader.getHeight(0)))
        } finally reader.dispose()
      }
    } finally iis.close()
  }

  def decodeImage(payload: Array[Byte]): Option[(Int, Int, Double)] = {
    if (payload == null || payload.isEmpty) return None
    try {
      val dims = headerDims(payload)
      if (!dims.exists { case (w, h) =>
        w > 0 && h > 0 && w.toLong * h <= MaxDecodePixels }) return None
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        var sum = 0.0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            sum += 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
              0.114 * (rgb & 0xff)
            x += 1
          }
          y += 1
        }
        Some((w, h, sum / (w.toLong * h)))
      }
    } catch { case _: Exception => None }
  }

  /** Audio container formats the pure JDK parses headlessly
    * (javax.sound.sampled: WAV/AU/AIFF carrying 8/16-bit PCM).
    * Compressed audio (mp3/aac/ogg) and all video stay on the declared
    * byte-statistics fallback — their codecs are not in the JVM. */
  val audioFormats: Set[String] = Set("wav", "wave", "au", "aiff", "aif", "snd")

  /** Decoded audio summary: format geometry + amplitude statistics over
    * normalized [-1, 1] samples. */
  case class AudioFeatures(doc_id: Long, sample_rate: Int, channels: Int,
      n_frames_audio: Long, mean_abs: Double, rms: Double, decoded: Boolean)

  /** REAL audio decode: javax.sound.sampled parse of a WAV/AU/AIFF
    * payload carrying 8- or 16-bit PCM (signed/unsigned, either
    * endianness) → (sample_rate, channels, frames, mean |amplitude|,
    * RMS) over samples normalized to [-1, 1]. Pure JDK, headless-safe
    * (the javax.imageio trade applied to audio). None when the bytes
    * are not decodable PCM — callers keep the row and flag it. */
  def decodeAudio(payload: Array[Byte]): Option[(Int, Int, Long, Double, Double)] = {
    if (payload == null || payload.isEmpty) return None
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val fmt = ais.getFormat
        val bits = fmt.getSampleSizeInBits
        val enc = fmt.getEncoding
        import javax.sound.sampled.AudioFormat.Encoding.{PCM_SIGNED, PCM_UNSIGNED}
        if (!((enc == PCM_SIGNED || enc == PCM_UNSIGNED) && (bits == 8 || bits == 16)))
          return None
        // frameLength bounds the read; WAV is uncompressed so the
        // payload size bounds memory — no decompression-bomb analog
        val bytes = ais.readAllBytes()
        val bps = bits / 8
        val n = bytes.length / bps
        if (n == 0 || fmt.getChannels <= 0) return None
        var sumAbs = 0.0
        var sumSq = 0.0
        var i = 0
        while (i < n) {
          val raw: Int =
            if (bits == 8) bytes(i) & 0xff
            else {
              val b0 = bytes(i * 2) & 0xff
              val b1 = bytes(i * 2 + 1) & 0xff
              if (fmt.isBigEndian) (b0 << 8) | b1 else (b1 << 8) | b0
            }
          val signed: Int =
            if (enc == PCM_UNSIGNED) raw - (if (bits == 8) 128 else 32768)
            else if (bits == 8) bytes(i).toInt
            else if (raw >= 32768) raw - 65536
            else raw
          val v = signed / (if (bits == 8) 128.0 else 32768.0)
          sumAbs += math.abs(v)
          sumSq += v * v
          i += 1
        }
        Some((fmt.getSampleRate.toInt, fmt.getChannels,
          (n / fmt.getChannels).toLong, sumAbs / n, math.sqrt(sumSq / n)))
      } finally ais.close()
    } catch { case _: Exception => None }
  }

  /** Audio-table decode: one AudioFeatures row per record,
    * decoded=false (zero geometry) for payloads the JDK cannot parse —
    * the audio twin of [[decodeImages]]. */
  def decodeAudios(records: Dataset[MediaRecord]): Dataset[AudioFeatures] = {
    import records.sparkSession.implicits._
    records.mapPartitions(_.map { rec =>
      decodeAudio(rec.payload) match {
        case Some((sr, ch, nf, ma, rms)) =>
          AudioFeatures(rec.doc_id, sr, ch, nf,
            math.round(ma * 1e6) / 1e6, math.round(rms * 1e6) / 1e6, decoded = true)
        case None => AudioFeatures(rec.doc_id, 0, 0, 0L, 0.0, 0.0, decoded = false)
      }
    })
  }

  /** The typed per-partition decode pipeline. Dispatch by format: image
    * payloads run the REAL javax.imageio decode (mean_level = mean
    * luma, 0-255); WAV/AU/AIFF payloads run the REAL
    * javax.sound.sampled PCM decode (mean_level = RMS amplitude, 0-1);
    * everything else (compressed audio, video) falls back to the
    * byte-statistics stand-in — the one remaining declared stub.
    * Batched per partition, no driver involvement, decode failures
    * degrade to the fallback instead of failing the job.
    */
  def decodeAll(records: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import records.sparkSession.implicits._
    records.mapPartitions(_.map { rec =>
      val real: Option[Double] =
        if (imageFormats.contains(rec.fmt)) decodeImage(rec.payload).map(_._3)
        else if (audioFormats.contains(rec.fmt)) decodeAudio(rec.payload).map(_._5)
        else None
      real.fold(decodeStub(rec)) { level =>
        MediaFeatures(rec.doc_id, rec.payload.length, rec.n_frames,
          math.round(level * 1e6) / 1e6)
      }
    })
  }

  /** Image-table decode: one ImageFeatures row per record, decoded=false
    * (zero dims) for payloads imageio cannot read. The production shape
    * for "run a vision feature over a binary column". */
  def decodeImages(records: Dataset[MediaRecord]): Dataset[ImageFeatures] = {
    import records.sparkSession.implicits._
    records.mapPartitions(_.map { rec =>
      decodeImage(rec.payload) match {
        case Some((w, h, luma)) =>
          ImageFeatures(rec.doc_id, w, h, w.toLong * h,
            math.round(luma * 1e6) / 1e6, decoded = true)
        case None => ImageFeatures(rec.doc_id, 0, 0, 0L, 0.0, decoded = false)
      }
    })
  }

  /** Per-scanline feature over REAL decoded pixels: every `stride`-th row
    * of the image → its mean luma (the image twin of frameFeatures —
    * "sample frames, extract a per-frame feature"). Runs inside the
    * decode partition; scanlines never shuffle. */
  case class ScanlineFeature(doc_id: Long, line_idx: Int, y: Int, mean_luma: Double)

  def scanlineFeatures(records: Dataset[MediaRecord], stride: Int = 4): Dataset[ScanlineFeature] = {
    import records.sparkSession.implicits._
    records.flatMap { rec =>
      val img =
        if (!imageFormats.contains(rec.fmt) || rec.payload == null || rec.payload.isEmpty) null
        else try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(rec.payload))
             catch { case _: Exception => null }
      if (img == null) Iterator.empty
      else {
        val w = img.getWidth
        (0 until img.getHeight by stride).zipWithIndex.iterator.map { case (y, idx) =>
          var sum = 0.0
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            sum += 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
              0.114 * (rgb & 0xff)
            x += 1
          }
          ScanlineFeature(rec.doc_id, idx, y, math.round(sum / w * 1e6) / 1e6)
        }
      }
    }
  }

  /** Build the media table from documents (text bytes standing in for a
    * real payload column). */
  def mediaRecords(s: SparkSession, dir: String): Dataset[MediaRecord] = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        (when(pmod(col("doc_id"), lit(2)) === 0, "img").otherwise("audio")).as("fmt"),
        (floor(octet_length(encode(col("text"), "UTF-8")) / 100) + 1).cast("int").as("n_frames"))
      .as[MediaRecord]
  }

  /** Build the media table from real files on any filesystem via the
    * binaryFile source (IO.readBinaryFiles): path-hash ids, extension
    * as format, stride-derived frame count — the ingestion end of the
    * decode pipeline above. */
  def mediaRecordsFromFiles(s: SparkSession, path: String,
      glob: String = "*"): Dataset[MediaRecord] = {
    import s.implicits._
    graft.sources.IO.readBinaryFiles(s, path, glob)
      .select(xxhash64(col("path")).as("doc_id"),
        col("content").as("payload"),
        lower(regexp_extract(col("path"), "\\.([A-Za-z0-9]+)$", 1)).as("fmt"),
        (floor(octet_length(col("content")) / 100) + 1).cast("int").as("n_frames"))
      .as[MediaRecord]
  }

  /** 44. metadata math over the opaque payload — SQL-checkable half of
    * the plumbing (octet length, checksum, frame count, sampled frame
    * offsets). The typed decode path is asserted in ScalaTest. */
  def multimodalMeta(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(
        col("doc_id"),
        octet_length(col("payload")).cast("long").as("byte_len"),
        substring(sha2(col("payload"), 256), 1, 16).as("checksum16"),
        (floor(octet_length(col("payload")) / 100) + 1).as("n_frames"),
        // guarded: sequence(0,-1,100) throws on an empty payload
        when(octet_length(col("payload")) > 0,
          size(expr("sequence(0, CAST(octet_length(payload) AS INT) - 1, 100)")).cast("long"))
          .otherwise(0L).as("n_sampled"))

  /** Decoded frame stand-in: one row per sampled frame. */
  case class FrameFeature(doc_id: Long, frame_idx: Int, offset: Int, level: Double)

  /** STUB resize/feature-extract per frame: a real pipeline would crop /
    * rescale pixel buffers here; the stand-in reads the payload byte at
    * the frame offset. Runs inside the same partition as the decode —
    * frames never shuffle. */
  def frameFeatures(records: Dataset[MediaRecord], stride: Int = 100): Dataset[FrameFeature] = {
    import records.sparkSession.implicits._
    records.flatMap { rec =>
      val n = rec.payload.length
      (0 until n by stride).zipWithIndex.map { case (off, idx) =>
        FrameFeature(rec.doc_id, idx, off, (rec.payload(off) & 0xff).toDouble)
      }
    }
  }

  /** 44b. frame sampling as a relational query — one row per sampled
    * frame offset (stride 100) with the stub per-frame feature (payload
    * byte at the offset). explode() keeps it distributed; the oracle
    * checks the offset math + byte lookup exactly. ASCII-safe because
    * the frame feature reads bytes, and the synthetic corpus text is
    * ASCII (byte i == char i). */
  def multimodalFrames(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .filter(octet_length(col("payload")) > 0)
      .select(col("doc_id"), col("payload"),
        posexplode(expr("sequence(0, CAST(octet_length(payload) AS INT) - 1, 100)")))
      .select(
        col("doc_id"),
        col("pos").cast("long").as("frame_idx"),
        col("col").cast("long").as("offset"),
        expr("CAST(ascii(substring(CAST(payload AS STRING), col + 1, 1)) AS DOUBLE)").as("level"))

  // ---------------------------------------------------------------
  // 154. cross-asset frame dedup: fingerprint every sampled frame (a
  // 16-byte content window at the frame offset — the stub stand-in for
  // a perceptual frame hash), count how many assets carry each
  // fingerprint, score each asset by its duplicated-frame fraction —
  // the video-pipeline twin of para_dedup (shared intros/outros/stock
  // footage across assets). Fingerprints travel as xxhash64 longs; the
  // distinct set and the frequency join share one exchange
  // (shuffle_hash hints). ASCII-safe: the synthetic corpus text is
  // ASCII so byte windows ≡ char windows, which is what lets the
  // oracle mirror the fingerprint exactly.
  def frameDedup(s: SparkSession, dir: String): DataFrame = {
    val fr = Tables.documents(s, dir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        explode(expr("sequence(0, length(text) - 1, 100)")).as("off"), col("text"))
      .select(col("doc_id"), xxhash64(expr("substring(text, off + 1, 16)")).as("h"))
      .distinct()
    val freq = fr.groupBy(col("h")).agg(count(lit(1)).as("df"))
    fr.hint("shuffle_hash").join(freq.hint("shuffle_hash"), "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        count(when(col("df") >= 2, lit(1))).as("n_dup"))
      .select(col("doc_id"), col("n_frames"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_frames"), 6).as("dup_frac"))
  }

  private val frameDedupSql =
    """WITH fr AS (
         SELECT DISTINCT doc_id, substr(text, CAST(i AS INT) + 1, 16) AS fp
         FROM documents,
         LATERAL unnest(generate_series(0, length(text) - 1, 100)) AS u(i)
         WHERE length(text) > 0),
       freq AS (SELECT fp, count(*) AS df FROM fr GROUP BY 1)
       SELECT doc_id, count(*) AS n_frames,
              count(CASE WHEN df >= 2 THEN 1 END) AS n_dup,
              round(CAST(count(CASE WHEN df >= 2 THEN 1 END) AS DOUBLE)
                    / count(*), 6) AS dup_frac
       FROM fr JOIN freq USING (fp) GROUP BY 1"""

  val ops: Seq[Op] = Seq(
    Op("frame_dedup", frameDedup _, Oracle(frameDedupSql)),
    Op("multimodal_frames", multimodalFrames _, Oracle(
      """SELECT doc_id,
         CAST(i // 100 AS BIGINT) AS frame_idx,
         CAST(i AS BIGINT) AS offset,
         CAST(ascii(substr(text, CAST(i AS INT) + 1, 1)) AS DOUBLE) AS level
         FROM documents,
         LATERAL unnest(generate_series(0, octet_length(encode(text)) - 1, 100)) AS u(i)
         WHERE octet_length(encode(text)) > 0""")),
    Op("multimodal_meta", multimodalMeta _, Oracle(
      """SELECT doc_id,
         CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
         substr(sha256(text), 1, 16) AS checksum16,
         CAST(floor(octet_length(encode(text)) / 100) + 1 AS BIGINT) AS n_frames,
         CAST(len(generate_series(0, octet_length(encode(text)) - 1, 100)) AS BIGINT) AS n_sampled
         FROM documents""")))
}
