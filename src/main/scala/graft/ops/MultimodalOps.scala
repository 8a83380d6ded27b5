package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Multimodal-column plumbing: image/audio/video as opaque `binary` payloads
  * with typed metadata, plus a decode/feature-extract stage.
  *
  * Decode tiers — image, audio, and video are all REAL decodes now; the
  * [[decodeFeatures]] stub remains only as the generic slot where an
  * external codec (JNI FFmpeg et al.) would plug in:
  *  - [[decodePng]] is a REAL image decode: payloads are genuine PNGs
  *    (synthesized map-side with `BufferedImage` + `ImageIO.write`, dims
  *    and pixel colors deterministic functions of doc_id) and the decode
  *    stage reads them back with `ImageIO.read`, emitting true width/
  *    height plus the top-left pixel's RGB — values only a real pixel
  *    decode can produce, yet mirrored exactly by the DuckDB oracle's
  *    modular arithmetic (PNG is lossless);
  *  - [[decodeWav]] is a REAL audio decode via the JDK-native WAV codec
  *    (`javax.sound.sampled.AudioSystem`): payloads are genuine RIFF/WAVE
  *    files (16-bit PCM synthesized map-side, rate/channels/frames/samples
  *    deterministic functions of doc_id) read back through
  *    `getAudioInputStream`, emitting format fields and the first PCM
  *    sample — again arithmetic-mirrored in the oracle (PCM is lossless);
  *  - [[decodeVideoFrames]] is a REAL container parse + frame-sample +
  *    per-frame pixel decode (length-prefixed stream of genuine PNGs, the
  *    MJPEG framing pattern), and [[thumbnailDigest]] is a REAL
  *    decode→nearest-neighbor-resize→digest chain.
  *
  * Scale: payloads never shuffle (all derivations are map-side); metadata
  * aggregations group on small derived columns. A real pipeline would also
  * set `spark.sql.files.maxPartitionBytes` low enough that a partition of
  * payloads fits executor memory — noted here because at 100 TB the payload
  * column dominates row size.
  */
object MultimodalOps {

  /** ImageIO's default ImageInputStream cache is a TEMP FILE per read —
    * for thousands of tiny in-memory payloads that is one file create +
    * delete per image, serialized on the filesystem (measured: the decode
    * queries' dominant, high-variance cost at sf0.1). Memory caching is
    * the right mode when payloads are already byte arrays. JVM-global and
    * idempotent; every codec call site routes through [[imageIoRead]] so
    * executors (same JVM in local mode, fresh JVMs on a cluster) always
    * have it set.
    */
  private lazy val imageIoMemCached: Unit =
    javax.imageio.ImageIO.setUseCache(false)

  private[ops] def imageIoRead(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    imageIoMemCached
    javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
  }

  /** A decoded-media record (what a real decoder would emit). */
  final case class MediaFeature(
      media_id: Long,
      kind: String,
      n_bytes: Long,
      width: Int,
      height: Int,
      n_frames: Int)

  /** Synthesize the media table from `documents`: payload = utf-8 bytes of
    * text, kind derived from the source shard. Stands in for a real
    * `binary`-column table with the same schema.
    */
  def mediaTable(s: SparkSession, dir: String): DataFrame =
    Tables.read(s, dir, "documents").select(
      col("doc_id").as("media_id"),
      element_at(
        typedLit(Seq("image", "audio", "video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("payload"))

  /** DECODE STUB — deterministic fake standing in for the codec call, now
    * needed for VIDEO only (image → [[decodePng]], audio → [[decodeWav]]
    * are real decodes). A real implementation decodes `payload` (e.g.
    * FFmpeg via JNI) per partition; this derives dimensions from the byte
    * length so tests and oracles are reproducible.
    */
  private def fakeDecode(mediaId: Long, kind: String, payload: Array[Byte]): MediaFeature = {
    val n = payload.length.toLong
    MediaFeature(
      media_id = mediaId,
      kind = kind,
      n_bytes = n,
      width = (n % 640).toInt,
      height = (n % 480).toInt,
      n_frames = if (kind == "video") (n % 24).toInt else 1)
  }

  /** The per-partition decode stage: iterator-in/iterator-out so a real
    * decoder can batch, reuse codec contexts, and stream — the Scala
    * equivalent of a `mapInPandas` batch UDF. This is the ONLY non-Catalyst
    * stage in the engine, deliberately: opaque codecs cannot be expressions.
    */
  def decodeFeatures(s: SparkSession, dir: String): Dataset[MediaFeature] = {
    import s.implicits._
    mediaTable(s, dir)
      .select(col("media_id"), col("kind"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        // real impl: initialize the codec once per partition here
        rows.map { case (id, kind, payload) => fakeDecode(id, kind, payload) }
      }
  }

  // ---- real PNG decode ----------------------------------------------------

  /** A decoded PNG record: true dimensions + top-left pixel channels. */
  final case class DecodedPng(
      media_id: Long, width: Int, height: Int, r0: Int, g0: Int, b0: Int)

  /** Deterministic PNG payload: w×h TYPE_INT_RGB image whose pixel (x,y)
    * is colored by modular arithmetic on (seed, x, y). Runs map-side on
    * executors — the synthesis stage of a binary-column table.
    */
  private[ops] def encodePngSized(seed: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = ((seed + 31L * x + 17L * y) % 256).toInt
        val g = ((seed * 7 + 13L * x + 5L * y) % 256).toInt
        val b = ((seed * 13 + 3L * x + 11L * y) % 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** The single-image payload for `id`: (id%13+4)×(id%7+3), seeded by id. */
  private[ops] def encodePng(id: Long): Array[Byte] =
    encodePngSized(id, (id % 13 + 4).toInt, (id % 7 + 3).toInt)

  /** Synthesized payload tables are memoized per (session, dir, kind) —
    * codec synthesis is the expensive stage, and two queries share the
    * PNG table (decode + thumbnail). Same discipline as the shingle
    * index: materialize once, every stage reads the materialization.
    */
  private val mediaCache =
    IndexMemo.cache[(SparkSession, String, String), DataFrame]()

  /** (media_id, payload binary) — a genuine PNG per document id. */
  def pngTable(s: SparkSession, dir: String): DataFrame =
    IndexMemo(mediaCache, (s, dir, "png")) {
      import s.implicits._
      IndexStore.loadOrBuild(s,
        IndexStore.scopedName("media-png", dir),
        Tables.fileIdent(s, dir, "documents")) {
      Tables.read(s, dir, "documents").select(col("doc_id"))
        .as[Long]
        .mapPartitions(_.map(id => (id, encodePng(id))))
        .toDF("media_id", "payload")
      }
    }

  /** REAL decode: `ImageIO.read` per payload (codec shareable per
    * partition), emitting dimensions and pixel values read from the decoded
    * raster. Mirrors [[decodeFeatures]]'s iterator-in/iterator-out batch
    * shape; the oracle reproduces every output column from doc_id alone
    * because the synthesis above is deterministic and PNG is lossless.
    */
  def decodePng(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pngTable(s, dir)
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val img = imageIoRead(payload)
          val rgb = img.getRGB(0, 0)
          DecodedPng(
            media_id = id,
            width = img.getWidth,
            height = img.getHeight,
            r0 = (rgb >> 16) & 255,
            g0 = (rgb >> 8) & 255,
            b0 = rgb & 255)
        }
      }
      .toDF()
      .orderBy("media_id")
  }

  /** Decoded values re-derived arithmetically — what the oracle computes. */
  val decodePngSql: String =
    """SELECT doc_id AS media_id,
      |  (doc_id % 13 + 4)::INTEGER AS width,
      |  (doc_id % 7 + 3)::INTEGER AS height,
      |  (doc_id % 256)::INTEGER AS r0,
      |  ((doc_id * 7) % 256)::INTEGER AS g0,
      |  ((doc_id * 13) % 256)::INTEGER AS b0
      |FROM documents ORDER BY media_id""".stripMargin

  // ---- real video container: parse + frame-sample + per-frame decode ------

  /** A sampled, decoded video frame. */
  final case class DecodedFrame(
      media_id: Long, frame_idx: Int, n_frames: Int,
      width: Int, height: Int, r0: Int)

  /** Deterministic video payload for `id`: a length-prefixed container
    * (4-byte big-endian frame count, then per frame 4-byte length + a
    * GENUINE PNG) of id%5+2 frames sized (id%13+4)×(id%7+3), frame f
    * seeded id·1000+f. The container framing is what MJPEG-style streams
    * do; the frames are real codec output, so the decode stage below does
    * real parsing AND real pixel decoding.
    */
  private[ops] def encodeVideo(id: Long): Array[Byte] = {
    val w = (id % 13 + 4).toInt
    val h = (id % 7 + 3).toInt
    val nFrames = (id % 5 + 2).toInt
    val baos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(baos)
    out.writeInt(nFrames)
    var f = 0
    while (f < nFrames) {
      val png = encodePngSized(id * 1000 + f, w, h)
      out.writeInt(png.length)
      out.write(png)
      f += 1
    }
    out.flush()
    baos.toByteArray
  }

  /** (media_id, payload binary) — a genuine frame container per doc id. */
  def videoTable(s: SparkSession, dir: String): DataFrame =
    IndexMemo(mediaCache, (s, dir, "video")) {
      import s.implicits._
      IndexStore.loadOrBuild(s,
        IndexStore.scopedName("media-video", dir),
        Tables.fileIdent(s, dir, "documents")) {
      Tables.read(s, dir, "documents").select(col("doc_id"))
        .as[Long]
        .mapPartitions(_.map(id => (id, encodeVideo(id))))
        .toDF("media_id", "payload")
      }
    }

  /** REAL frame sampling + decode: parse the container, keep every
    * `sampleEvery`-th frame (the brief's frame-sample op — at 100 TB you
    * decode 1/k of the stream, never the whole payload), `ImageIO.read`
    * each kept frame, emit true dims + the top-left pixel. Same
    * iterator-in/iterator-out codec slot; payloads never shuffle (the
    * explode happens AFTER decode, on small typed rows).
    */
  def decodeVideoFrames(s: SparkSession, dir: String, sampleEvery: Int = 2): DataFrame = {
    import s.implicits._
    videoTable(s, dir)
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, payload) =>
          val in = new java.io.DataInputStream(
            new java.io.ByteArrayInputStream(payload))
          val nFrames = in.readInt()
          (0 until nFrames).iterator.flatMap { f =>
            val len = in.readInt()
            val png = new Array[Byte](len)
            in.readFully(png)
            if (f % sampleEvery != 0) None // sampled out: skip the decode
            else {
              val img = imageIoRead(png)
              Some(DecodedFrame(
                media_id = id, frame_idx = f, n_frames = nFrames,
                width = img.getWidth, height = img.getHeight,
                r0 = (img.getRGB(0, 0) >> 16) & 255))
            }
          }
        }
      }
      .toDF()
      .orderBy("media_id", "frame_idx")
  }

  /** Sampled-frame fields re-derived arithmetically — the oracle. */
  def decodeVideoFramesSql(sampleEvery: Int = 2): String =
    s"""SELECT doc_id AS media_id, f::INTEGER AS frame_idx,
       |  (doc_id % 5 + 2)::INTEGER AS n_frames,
       |  (doc_id % 13 + 4)::INTEGER AS width,
       |  (doc_id % 7 + 3)::INTEGER AS height,
       |  ((doc_id * 1000 + f) % 256)::INTEGER AS r0
       |FROM documents,
       |  (SELECT unnest(range(0, 6)) AS f)
       |WHERE f < doc_id % 5 + 2 AND f % $sampleEvery = 0
       |ORDER BY media_id, frame_idx""".stripMargin

  /** A decoded-and-resized thumbnail digest. */
  final case class Thumbnail(
      media_id: Long, thumb_w: Int, thumb_h: Int, red_sum: Long)

  /** REAL resize: decode the PNG, nearest-neighbor resample to a fixed
    * thumb_w×thumb_h raster (source pixel (x·w/tw, y·h/th) — the exact
    * integer mapping, implemented directly over the decoded raster so
    * the oracle can mirror it arithmetically), and digest the red
    * channel. The decode→transform→reduce chain of a real image
    * pipeline, all map-side.
    */
  def thumbnailDigest(s: SparkSession, dir: String, tw: Int = 4, th: Int = 3): DataFrame = {
    import s.implicits._
    pngTable(s, dir)
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val img = imageIoRead(payload)
          val (w, h) = (img.getWidth, img.getHeight)
          var sum = 0L
          var y = 0
          while (y < th) {
            var x = 0
            while (x < tw) {
              val rgb = img.getRGB(x * w / tw, y * h / th)
              sum += (rgb >> 16) & 255
              x += 1
            }
            y += 1
          }
          Thumbnail(id, tw, th, sum)
        }
      }
      .toDF()
      .orderBy("media_id")
  }

  /** The thumbnail digest re-derived arithmetically: red(x,y) =
    * (id + 31·src_x + 17·src_y) mod 256 with the same integer
    * nearest-neighbor source mapping.
    */
  def thumbnailDigestSql(tw: Int = 4, th: Int = 3): String =
    s"""SELECT doc_id AS media_id, $tw AS thumb_w, $th AS thumb_h,
       |  sum((doc_id
       |       + 31 * ((x * (doc_id % 13 + 4)) // $tw)
       |       + 17 * ((y * (doc_id % 7 + 3)) // $th)) % 256)::BIGINT AS red_sum
       |FROM documents,
       |  (SELECT unnest(range(0, $tw)) AS x),
       |  (SELECT unnest(range(0, $th)) AS y)
       |GROUP BY doc_id ORDER BY media_id""".stripMargin

  // ---- perceptual frame dedup (aHash over decoded frames) -----------------

  final case class FrameHash(media_id: Long, frame_idx: Int, ahash: Long)

  /** Frameset synthesis rule: frames 0/1 of media `id` are the video's own
    * (seed id·1000+f); frame 2 REPLAYS the group anchor's frame 0
    * (seed (id − id%5)·1000) — the planted cross-video duplicate a frame
    * dedup must find. All frames render at a fixed 8×6 so equal seeds ⇒
    * bit-identical pixels. (Channel arithmetic depends on seed mod 256, so
    * distant seed classes collide too — the realistic perceptual-collision
    * tail; the oracle mirrors the arithmetic, so both engines agree
    * exactly.)
    */
  private[ops] def framesetSeed(id: Long, f: Int): Long =
    if (f == 2) (id - id % 5) * 1000 else id * 1000 + f

  val FrameSetW = 8
  val FrameSetH = 6
  val FramesPerMedia = 3

  /** (media_id, frame_idx, payload): three genuine PNGs per document. */
  def framesetTable(s: SparkSession, dir: String): DataFrame =
    IndexMemo(mediaCache, (s, dir, "frameset")) {
      import s.implicits._
      IndexStore.loadOrBuild(s,
        IndexStore.scopedName("media-frameset", dir),
        Tables.fileIdent(s, dir, "documents")) {
      Tables.read(s, dir, "documents").select(col("doc_id"))
        .as[Long]
        .mapPartitions(_.flatMap(id => (0 until FramesPerMedia).map(f =>
          (id, f, encodePngSized(framesetSeed(id, f), FrameSetW, FrameSetH)))))
        .toDF("media_id", "frame_idx", "payload")
      }
    }

  /** Perceptual frame dedup: decode every frame, compute its 64-bit
    * average-hash (8×8 nearest-neighbor gray resample, bit j set iff
    * 64·gray_j > Σgray — integer-exact threshold), and group identical
    * hashes across ALL videos. The decode+hash runs in the codec slot
    * (mapPartitions), emits 16 bytes/frame, and the only shuffle keys on
    * the 8-byte hash — at 100 TB frame payloads never leave their
    * partition, the same shape as the text exact-dedup. Output: one row
    * per duplicate group (≥2 frames), keyed by its first (media, frame).
    */
  def frameDupGroups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    framesetTable(s, dir)
      .as[(Long, Int, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, f, payload) =>
          val img = imageIoRead(payload)
          val (w, h) = (img.getWidth, img.getHeight)
          val grays = new Array[Int](64)
          var sum = 0L
          var j = 0
          while (j < 64) {
            val rgb = img.getRGB((j % 8) * w / 8, (j / 8) * h / 8)
            val gray = (((rgb >> 16) & 255) + ((rgb >> 8) & 255) + (rgb & 255)) / 3
            grays(j) = gray
            sum += gray
            j += 1
          }
          var hash = 0L
          j = 0
          while (j < 64) {
            if (64L * grays(j) > sum) hash |= 1L << j
            j += 1
          }
          FrameHash(id, f, hash)
        }
      }
      .toDF()
      // pair-encode (media, frame) so the group's FIRST member is one
      // deterministic min on both engines
      .groupBy(col("ahash"))
      .agg(
        count(lit(1)).as("n_dups"),
        min(col("media_id") * FramesPerMedia + col("frame_idx")).as("k"))
      .where(col("n_dups") >= 2)
      .select(
        (col("k") / FramesPerMedia).cast("long").as("first_media"),
        pmod(col("k"), lit(FramesPerMedia)).cast("long").as("first_frame"),
        col("n_dups"), col("ahash"))
      .orderBy("first_media", "first_frame")
  }

  /** The aHash re-derived arithmetically from the synthesis rule. */
  def frameDupGroupsSql(): String = {
    val w = FrameSetW; val h = FrameSetH; val fpm = FramesPerMedia
    // gray_j from seed: x = j%8 mapped via x*w/8, y = j/8 mapped via y*h/8
    val gray =
      s"""(((seed + 31 * (((j % 8) * $w) // 8) + 17 * ((j // 8) * $h // 8)) % 256)
         | + ((seed * 7 + 13 * (((j % 8) * $w) // 8) + 5 * ((j // 8) * $h // 8)) % 256)
         | + ((seed * 13 + 3 * (((j % 8) * $w) // 8) + 11 * ((j // 8) * $h // 8)) % 256)) // 3"""
        .stripMargin.replace("\n", "")
    s"""WITH fr AS (
       |  SELECT doc_id AS media_id, f AS frame_idx,
       |    CASE WHEN f = 2 THEN (doc_id - doc_id % 5) * 1000
       |         ELSE doc_id * 1000 + f END AS seed
       |  FROM documents, (SELECT unnest(range(0, $fpm)) AS f)),
       |g AS (
       |  SELECT media_id, frame_idx,
       |    list_transform(range(0, 64), j -> $gray) AS grays
       |  FROM fr),
       |hs AS (
       |  SELECT media_id, frame_idx,
       |    list_sum(list_transform(range(0, 64),
       |      j -> CASE WHEN 64 * grays[j + 1] > list_sum(grays)
       |           THEN CASE WHEN j = 63 THEN -9223372036854775808::HUGEINT
       |                     ELSE (1::BIGINT << j)::HUGEINT END
       |           ELSE 0::HUGEINT END))::BIGINT AS ahash
       |  FROM g)
       |SELECT (min(media_id * $fpm + frame_idx) // $fpm)::BIGINT AS first_media,
       |  (min(media_id * $fpm + frame_idx) % $fpm)::BIGINT AS first_frame,
       |  count(*) AS n_dups, ahash
       |FROM hs GROUP BY ahash HAVING count(*) >= 2
       |ORDER BY first_media, first_frame""".stripMargin
  }

  // ---- real WAV (audio) decode --------------------------------------------

  /** A decoded WAV record: format fields + the first PCM sample. */
  final case class DecodedWav(
      media_id: Long, sample_rate: Int, channels: Int, n_frames: Long,
      first_sample: Int)

  /** Deterministic RIFF/WAVE payload for `id`: 16-bit signed little-endian
    * PCM, sample rate 8000 + (id%5)·2000 Hz, id%2+1 channels, id%50+20
    * frames; sample (frame i, channel c) = (id·31 + 7i + 3c) mod 2¹⁶ −
    * 2¹⁵. Synthesized map-side on executors with the JDK's own WAV writer.
    */
  private[graft] def encodeWav(id: Long): Array[Byte] = {
    val sampleRate = (8000 + (id % 5) * 2000).toInt
    val channels = (id % 2 + 1).toInt
    val nFrames = (id % 50 + 20).toInt
    // Direct RIFF/WAVE construction (optimization round 18): the previous
    // form synthesized the identical container through AudioSystem.write —
    // an AudioInputStream + ByteArrayOutputStream + stream-copy per row
    // that triaged at ~40% of q_multimodal_audio's steady cost. The
    // canonical 44-byte PCM header written here is BYTE-IDENTICAL to the
    // JDK WaveFileWriter's output (pinned against AudioSystem.write by
    // LlmOpsSpec's encodeWavViaAudioSystem), so the read side still
    // exercises the real codec on the same bytes.
    val dataLen = nFrames * channels * 2
    val buf = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val blockAlign = channels * 2
    buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort) // PCM
      .putShort(channels.toShort)
      .putInt(sampleRate)
      .putInt(sampleRate * blockAlign) // byte rate
      .putShort(blockAlign.toShort)
      .putShort(16.toShort) // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    var i = 0
    while (i < nFrames) {
      var c = 0
      while (c < channels) {
        val v = (((id * 31 + 7L * i + 3L * c) % 65536L) - 32768L).toInt
        buf.putShort(v.toShort) // little-endian 16-bit sample
        c += 1
      }
      i += 1
    }
    buf.array()
  }

  /** (media_id, payload binary) — a genuine WAV file per document id. */
  def wavTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.read(s, dir, "documents").select(col("doc_id"))
      .as[Long]
      .mapPartitions(_.map(id => (id, encodeWav(id))))
      .toDF("media_id", "payload")
  }

  /** REAL audio decode: `AudioSystem.getAudioInputStream` parses the RIFF
    * header (format, frame count) and streams the PCM body; the first
    * 16-bit little-endian sample is read from the decoded stream. Same
    * iterator-in/iterator-out codec slot as [[decodePng]]; every output
    * column is re-derived arithmetically by the oracle.
    */
  def decodeWav(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    wavTable(s, dir)
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(payload))
          val fmt = ais.getFormat
          // AudioInputStream reads WHOLE FRAMES only — a sub-frame request
          // returns 0, so a byte-granular retry loop could spin on a short
          // read. readFully delegates the retry to the stream layer and
          // throws EOFException on a truncated frame.
          val frameSize = fmt.getFrameSize
          val buf = new Array[Byte](frameSize)
          new java.io.DataInputStream(ais).readFully(buf)
          DecodedWav(
            media_id = id,
            sample_rate = fmt.getSampleRate.toInt,
            channels = fmt.getChannels,
            n_frames = ais.getFrameLength,
            first_sample = (buf(1) << 8) | (buf(0) & 0xff))
        }
      }
      .toDF()
      .orderBy("media_id")
  }

  /** Decoded WAV fields re-derived arithmetically — the oracle. */
  val decodeWavSql: String =
    """SELECT doc_id AS media_id,
      |  (8000 + (doc_id % 5) * 2000)::INTEGER AS sample_rate,
      |  (doc_id % 2 + 1)::INTEGER AS channels,
      |  (doc_id % 50 + 20)::BIGINT AS n_frames,
      |  ((doc_id * 31) % 65536 - 32768)::INTEGER AS first_sample
      |FROM documents ORDER BY media_id""".stripMargin

  // ---- audio fingerprint dedup --------------------------------------------

  final case class AudioFp(media_id: Long, n_frames: Int, afp: Long)

  /** Audioset synthesis rule: every 4th document (id%4 == 3) REPLAYS its
    * group anchor's audio (seed id − id%4) — the planted duplicate
    * recording; all WAV parameters (rate, channels, frames, samples)
    * derive from the seed, so replayed payloads are byte-identical.
    */
  private[ops] def audiosetSeed(id: Long): Long =
    if (id % 4 == 3) id - id % 4 else id

  /** (media_id, payload): a genuine WAV per document under the replay rule. */
  def audiosetTable(s: SparkSession, dir: String): DataFrame =
    IndexMemo(mediaCache, (s, dir, "audioset")) {
      import s.implicits._
      IndexStore.loadOrBuild(s,
        IndexStore.scopedName("media-audioset", dir),
        Tables.fileIdent(s, dir, "documents")) {
      Tables.read(s, dir, "documents").select(col("doc_id"))
        .as[Long]
        .mapPartitions(_.map(id => (id, encodeWav(audiosetSeed(id)))))
        .toDF("media_id", "payload")
      }
    }

  /** Audio dedup by energy fingerprint: decode the FULL channel-0 PCM
    * stream (real AudioSystem parse + readFully of every frame), split it
    * into 16 equal windows, set bit w iff window w's mean |sample| exceeds
    * the whole recording's (cross-multiplied — integer-exact), and group
    * identical 16-bit fingerprints. Same scale shape as the frame dedup:
    * decode in the codec slot, shuffle only the 8-byte fingerprint.
    */
  def audioDupGroups(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    audiosetTable(s, dir)
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(payload))
          val fmt = ais.getFormat
          val n = ais.getFrameLength.toInt
          val frameSize = fmt.getFrameSize
          val body = new Array[Byte](n * frameSize)
          new java.io.DataInputStream(ais).readFully(body)
          val absSamples = new Array[Long](n)
          var total = 0L
          var i = 0
          while (i < n) {
            val off = i * frameSize
            val v = (body(off + 1) << 8) | (body(off) & 0xff)
            absSamples(i) = math.abs(v).toLong
            total += absSamples(i)
            i += 1
          }
          var fp = 0L
          var w = 0
          while (w < 16) {
            val start = w * n / 16
            val end = (w + 1) * n / 16
            var sumW = 0L
            var j = start
            while (j < end) { sumW += absSamples(j); j += 1 }
            if (sumW * n > total * (end - start)) fp |= 1L << w
            w += 1
          }
          AudioFp(id, n, fp)
        }
      }
      .toDF()
      .groupBy(col("afp"), col("n_frames"))
      .agg(count(lit(1)).as("n_dups"), min(col("media_id")).as("first_media"))
      .where(col("n_dups") >= 2)
      .select(col("first_media"), col("n_dups"), col("n_frames").cast("long").as("n_frames"),
        col("afp"))
      .orderBy("first_media")
  }

  /** The fingerprint re-derived arithmetically from the synthesis rule. */
  def audioDupGroupsSql(): String =
    """WITH sd AS (
      |  SELECT doc_id AS media_id,
      |    CASE WHEN doc_id % 4 = 3 THEN doc_id - doc_id % 4 ELSE doc_id END AS seed
      |  FROM documents),
      |ss AS (
      |  SELECT media_id, (seed % 50 + 20)::BIGINT AS n,
      |    list_transform(range(0, seed % 50 + 20),
      |      i -> abs(((seed * 31 + 7 * i) % 65536) - 32768)) AS samples
      |  FROM sd),
      |fp AS (
      |  SELECT media_id, n,
      |    list_sum(list_transform(range(0, 16), w ->
      |      CASE WHEN list_sum(list_slice(samples, w * n // 16 + 1, (w + 1) * n // 16)) * n
      |                > list_sum(samples) * ((w + 1) * n // 16 - w * n // 16)
      |           THEN (1::BIGINT << w) ELSE 0 END))::BIGINT AS afp
      |  FROM ss)
      |SELECT min(media_id) AS first_media, count(*) AS n_dups, n AS n_frames, afp
      |FROM fp GROUP BY afp, n HAVING count(*) >= 2
      |ORDER BY first_media""".stripMargin

  /** Oracle-able metadata projection over the media table — pure column
    * functions (byte length, content hash, stub dimensions), mirroring what
    * [[decodeFeatures]] computes imperatively.
    */
  def mediaMeta(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir).select(
      col("media_id"),
      col("kind"),
      length(col("payload")).cast("long").as("n_bytes"),
      md5(col("payload")).as("content_hash"),
      (length(col("payload")) % 640).cast("long").as("width"),
      (length(col("payload")) % 480).cast("long").as("height"),
      when(col("kind") === "video", (length(col("payload")) % 24).cast("long"))
        .otherwise(1L).as("n_frames"))
      .orderBy("media_id")

  val mediaMetaSql: String =
    """SELECT doc_id AS media_id,
      |  ['image','audio','video'][(doc_id % 3 + 1)::INTEGER] AS kind,
      |  octet_length(text::BLOB)::BIGINT AS n_bytes,
      |  md5(text) AS content_hash,
      |  (octet_length(text::BLOB) % 640)::BIGINT AS width,
      |  (octet_length(text::BLOB) % 480)::BIGINT AS height,
      |  CASE WHEN doc_id % 3 + 1 = 3 THEN (octet_length(text::BLOB) % 24)::BIGINT
      |       ELSE 1::BIGINT END AS n_frames
      |FROM documents ORDER BY media_id""".stripMargin
}
