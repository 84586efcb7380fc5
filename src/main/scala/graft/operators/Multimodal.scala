package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (SURVEY.md §2.C): media as opaque
  * `binary` columns + typed metadata, with partition-batched decode.
  *
  * Two codec paths share the seam:
  *  - the deterministic STUB ([[decode]]/[[resize]] — reads real
  *    bytes, emits fake-but-deterministic features) keeps the gate
  *    replayable over the synthetic corpus;
  *  - the REAL image path ([[decodeImage]]/[[resizeImage]] —
  *    javax.imageio, in-JDK: PNG/BMP/GIF/JPEG) decodes actual
  *    pixels, spec-driven on a generated PNG (MultimodalCodecSpec),
  *    the REAL audio path ([[decodeAudio]]/[[audioChunksReal]] —
  *    javax.sound.sampled, in-JDK: WAV/AIFF/AU PCM) demuxes actual
  *    samples, spec-driven on generated WAVs, and the REAL video
  *    path ([[decodeVideo]]/[[frameSampleReal]] — pure-JVM RIFF/AVI
  *    chunk walk + javax.imageio MJPEG frame decode) demuxes actual
  *    containers, spec-driven on generated AVIs.
  * All run the same Spark-side contract — schema, encoders,
  * mapPartitions batching (one codec init per partition, like a
  * Pandas-UDF batch), partition sizing — so swapping stub → real
  * changes no plumbing.
  */
object Multimodal {

  case class MediaRecord(doc_id: Long, payload: Array[Byte], width: Int, height: Int)
  case class MediaFeatures(doc_id: Long, byte_len: Int, mean_byte: Double,
                           width: Int, height: Int, aspect_q: Double)

  /** Attach a deterministic fake payload + metadata to documents
    * (payload = md5 bytes of the text; metadata derived from doc_id).
    * In production this column comes straight from the lake. */
  def attachPayload(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id"),
      unhex(md5(col("text"))).as("payload"),
      ((col("doc_id") % 64) + 16).cast("int").as("width"),
      ((col("doc_id") % 48) + 16).cast("int").as("height"))

  // --- the stubbed decode: deterministic, container-runnable -------
  private def decodeOne(r: MediaRecord): MediaFeatures = {
    // ??? real codec goes here; deterministic fake reads the bytes:
    val len = r.payload.length
    var sum = 0L
    var i = 0
    while (i < len) { sum += (r.payload(i) & 0xff); i += 1 }
    val mean = if (len == 0) 0.0 else sum.toDouble / len
    // half-up rounding (floor(x·scale + .5)) — engine-portable, unlike
    // rint's banker's rounding, so the DuckDB oracle can replicate it
    MediaFeatures(r.doc_id, len, math.floor(mean * 100 + 0.5) / 100,
      r.width, r.height,
      math.floor(r.width.toDouble / r.height * 1000 + 0.5) / 1000)
  }

  /** Partition-batched decode — the mapInPandas-equivalent shape:
    * per-partition init happens once (codec/model load), rows stream
    * through without per-row setup cost. */
  def decode(media: Dataset[MediaRecord]): Dataset[MediaFeatures] =
    media.mapPartitions { it =>
      // per-partition "codec init" would run here, once
      it.map(decodeOne)
    }(Encoders.product[MediaFeatures])

  /** End-to-end: documents → payload column → typed dataset →
    * batched decode → features frame. */
  def features(documents: DataFrame): DataFrame = {
    val ds = attachPayload(documents).as[MediaRecord](Encoders.product[MediaRecord])
    decode(ds).toDF()
  }

  // --- the REAL codec path (javax.imageio — in-JDK, no external
  // dependency: PNG/BMP/GIF/JPEG readers ship with the JRE). Same
  // seam, same schemas, same mapPartitions batch shape as the stub;
  // the body decodes actual pixels. The gate keeps the deterministic
  // stub (a synthetic corpus has no real images and the oracle must
  // replay); a deployment whose payload column holds real image
  // bytes swaps decode → decodeImage / resize → resizeImage and
  // nothing upstream or downstream changes (spec-pinned on a
  // generated PNG in MultimodalCodecSpec). ------------------------

  /** Decode real image bytes: dimensions from the decoded frame
    * (metadata width/height are advisory at ingest — the pixels are
    * the truth), mean_byte = mean luminance over all pixels, rounded
    * with the same engine-portable half-up the stub uses. */
  def decodeImage(media: Dataset[MediaRecord]): Dataset[MediaFeatures] =
    media.mapPartitions { it =>
      // per-partition codec init: one cache-mode set per partition
      javax.imageio.ImageIO.setUseCache(false)
      it.map { r =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.payload))
        require(img != null, s"undecodable image payload for doc ${r.doc_id}")
        // channel sums accumulate UNDIVIDED (a per-pixel (r+g+b)/3 in
        // int arithmetic truncates up to 2/3 per pixel and biases the
        // mean low); one exact division by 3n at the end. Bulk getRGB:
        // identical ARGB ints to the per-pixel call (same ColorModel
        // conversion), without w·h method dispatches.
        val px = img.getRGB(0, 0, img.getWidth, img.getHeight, null, 0,
          img.getWidth)
        var sum = 0L
        var i = 0
        while (i < px.length) {
          val rgb = px(i)
          sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
          i += 1
        }
        val n = img.getWidth.toLong * img.getHeight
        val mean = if (n == 0) 0.0 else sum.toDouble / (3.0 * n)
        MediaFeatures(r.doc_id, r.payload.length,
          math.floor(mean * 100 + 0.5) / 100,
          img.getWidth, img.getHeight,
          math.floor(img.getWidth.toDouble / img.getHeight * 1000 + 0.5) / 1000)
      }
    }(Encoders.product[MediaFeatures])

  /** Real resize: decode, scale into the (maxW, maxH) bounding box
    * preserving aspect (identical geometry math to the stub), bilinear
    * resample via Graphics2D, re-encode PNG. One codec init per
    * partition; rows stream through. */
  def resizeImage(media: Dataset[MediaRecord], maxW: Int, maxH: Int): Dataset[ResizedMedia] =
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { r =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.payload))
        require(img != null, s"undecodable image payload for doc ${r.doc_id}")
        val scale = math.min(1.0,
          math.min(maxW.toDouble / img.getWidth, maxH.toDouble / img.getHeight))
        val w = math.max(1, math.floor(img.getWidth * scale).toInt)
        val h = math.max(1, math.floor(img.getHeight * scale).toInt)
        val out = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = out.createGraphics()
        g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
          java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, w, h, null)
        g.dispose()
        val buf = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", buf)
        ResizedMedia(r.doc_id, buf.toByteArray, w, h,
          math.floor(scale * 1000 + 0.5) / 1000)
      }
    }(Encoders.product[ResizedMedia])

  case class ResizedMedia(doc_id: Long, payload: Array[Byte],
                          width: Int, height: Int, scale_q: Double)

  /** Resize pass (stubbed codec): targets a bounding box, preserving
    * aspect ratio — the real geometry math — while the pixel resample
    * is a deterministic fake (payload re-hashed with the new dims, so
    * downstream content-addressing sees a *different* object, exactly
    * like a real resize). Same mapPartitions batch shape as decode. */
  def resize(media: Dataset[MediaRecord], maxW: Int, maxH: Int): Dataset[ResizedMedia] =
    media.mapPartitions { it =>
      // per-partition codec init would run here, once
      it.map { r =>
        val scale = math.min(1.0,
          math.min(maxW.toDouble / r.width, maxH.toDouble / r.height))
        val w = math.max(1, math.floor(r.width * scale).toInt)
        val h = math.max(1, math.floor(r.height * scale).toInt)
        // ??? real resample goes here; fake: payload keyed by new dims
        val digest = java.security.MessageDigest.getInstance("MD5")
        digest.update(r.payload)
        digest.update(s":${w}x$h".getBytes("UTF-8"))
        ResizedMedia(r.doc_id, digest.digest(), w, h,
          math.floor(scale * 1000 + 0.5) / 1000)
      }
    }(Encoders.product[ResizedMedia])

  /** Frame sampling (stubbed demux): a "video" doc yields one row per
    * sampled frame — the one-to-many batch shape real frame extraction
    * has. Frame count derives from metadata (doc_id % 10 + 1 here, the
    * duration field in production); every `stride`-th frame is kept and
    * fingerprinted deterministically (md5 of doc_id:frame_idx — the
    * stand-in for the decoded frame's content hash). Row-local
    * projection + explode: no shuffle, embarrassingly parallel at any
    * corpus size. */
  def frameSample(documents: DataFrame, stride: Int): DataFrame = {
    // stride = 0 would make `frame_idx % 0` null and silently empty
    // the result; fail at plan-build time instead
    require(stride > 0, s"frameSample: stride must be > 0, got $stride")
    documents
      .select(col("doc_id"), ((col("doc_id") % 10) + 1).cast("int").as("n_frames"))
      .select(col("doc_id"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1)).as("frame_idx"))
      .filter(col("frame_idx") % stride === 0)
      .select(col("doc_id"), col("n_frames"), col("frame_idx"),
        md5(concat_ws(":", col("doc_id"), col("frame_idx"))).as("frame_fp"))
  }

  // --- the REAL audio codec path (javax.sound.sampled — in-JDK, no
  // external dependency: WAV/AIFF/AU PCM readers ship with the JRE).
  // The audio twin of decodeImage/resizeImage: same seam, same
  // mapPartitions batch shape as the stubbed audioChunks; the body
  // demuxes actual WAV bytes. The gate keeps the deterministic stub
  // (the synthetic corpus has no real audio and the oracle must
  // replay); a deployment whose payload column holds real WAV bytes
  // swaps audioChunks → audioChunksReal and nothing upstream or
  // downstream changes (spec-pinned on generated PCM WAVs in
  // MultimodalCodecSpec). -------------------------------------------

  case class AudioMeta(doc_id: Long, sample_rate: Int, channels: Int,
                       n_frames: Long, duration_ms: Long)
  case class AudioChunk(doc_id: Long, duration_ms: Long, chunk_idx: Long,
                        start_ms: Long, end_ms: Long, mean_amp: Double)

  /** The thread's last-matching AudioFileReader SPI. AudioSystem
    * .getAudioInputStream re-runs the whole provider loop on EVERY
    * call — for a homogeneous corpus that is 2-3 thrown-and-caught
    * UnsupportedAudioFileExceptions per record from the non-matching
    * readers, measured at ~71 s of m_audio_real's
    * ~125 s decode wall over 500k docs at 100×. Caching the reader
    * that accepted the last payload (the public
    * javax.sound.sampled.spi extension point — the same providers
    * AudioSystem consults) keeps the real codec under test while
    * paying the dispatch once per (thread, format); a cache miss
    * falls back to the full provider scan, so mixed-format corpora
    * decode exactly as before. */
  private val cachedAudioReader =
    new ThreadLocal[javax.sound.sampled.spi.AudioFileReader]

  /** Provider list materialized ONCE (not a fresh ServiceLoader per
    * cache miss) — the miss path is now a plain list walk. */
  private lazy val audioReaders: Seq[javax.sound.sampled.spi.AudioFileReader] = {
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader.load(
      classOf[javax.sound.sampled.spi.AudioFileReader]).iterator().asScala.toSeq
  }

  private def openPcm(docId: Long,
                      payload: Array[Byte]): javax.sound.sampled.AudioInputStream = {
    import javax.sound.sampled.UnsupportedAudioFileException
    val bais = new java.io.ByteArrayInputStream(payload)
    val cached = cachedAudioReader.get()
    if (cached != null) {
      try return checkPcm(docId, cached.getAudioInputStream(bais))
      catch { case _: UnsupportedAudioFileException => bais.reset() }
    }
    var lastMiss: UnsupportedAudioFileException = null
    for (reader <- audioReaders) {
      try {
        val in = reader.getAudioInputStream(bais)
        cachedAudioReader.set(reader)
        return checkPcm(docId, in)
      } catch {
        case e: UnsupportedAudioFileException => lastMiss = e; bais.reset()
      }
    }
    // Terminal fallback through AudioSystem itself: its provider
    // preference order is authoritative, so a payload only one of
    // several same-container readers accepts decodes exactly as it
    // did pre-cache (the list walk above is an optimization, not a
    // semantics change). Don't cache — we can't see which reader won.
    try checkPcm(docId, javax.sound.sampled.AudioSystem.getAudioInputStream(bais))
    catch {
      case e: UnsupportedAudioFileException =>
        val cause = if (lastMiss != null) lastMiss else e
        throw new IllegalArgumentException(
          s"undecodable audio payload for doc $docId", cause)
    }
  }

  private def checkPcm(docId: Long,
                       in: javax.sound.sampled.AudioInputStream)
      : javax.sound.sampled.AudioInputStream = {
    require(in.getFormat.getEncoding ==
        javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
        in.getFormat.getSampleSizeInBits == 16,
      s"doc $docId: only 16-bit signed PCM supported, " +
        s"got ${in.getFormat}")
    in
  }

  /** Decode real audio headers: sample rate / channel count / frame
    * count from the DECODED stream (metadata is advisory — the
    * container is the truth, the decodeImage discipline);
    * duration_ms = ⌊frames·1000/rate⌋. One codec init per partition;
    * rows stream through. */
  def decodeAudio(media: Dataset[MediaRecord]): Dataset[AudioMeta] =
    media.mapPartitions { it =>
      // per-partition codec init would run here, once
      it.map { r =>
        val in = openPcm(r.doc_id, r.payload)
        val fmt = in.getFormat
        val frames = in.getFrameLength
        val rate = math.round(fmt.getSampleRate)
        in.close()
        AudioMeta(r.doc_id, rate, fmt.getChannels, frames,
          frames * 1000L / rate)
      }
    }(Encoders.product[AudioMeta])

  /** Real audio chunking — [[audioChunks]]' geometry (fixed
    * `chunkMs` windows, last chunk truncated at the clip end) over
    * DECODED samples, plus the per-chunk feature real pipelines
    * extract: mean absolute amplitude, normalized to [0, 1] by the
    * 16-bit full scale and rounded with the engine-portable half-up
    * at 6 dp (the stub's rounding discipline). Frames assign to
    * chunks in exact integer time math (frame f → chunk
    * ⌊f·1000 / (rate·chunkMs)⌋); channels average into the frame
    * amplitude. Row-local one-to-many explode like the stub: no
    * shuffle, embarrassingly parallel at any corpus size. */
  def audioChunksReal(media: Dataset[MediaRecord],
                      chunkMs: Int): Dataset[AudioChunk] = {
    // validated at plan-build time on the driver: chunkMs = 0 would
    // otherwise surface as an executor-side divide-by-zero with no
    // argument context
    require(chunkMs > 0, s"audioChunksReal: chunkMs must be > 0, got $chunkMs")
    media.mapPartitions { it =>
      // per-partition codec init would run here, once
      it.flatMap { r =>
        val in = openPcm(r.doc_id, r.payload)
        val fmt = in.getFormat
        val rate = math.round(fmt.getSampleRate).toLong
        val ch = fmt.getChannels
        val big = fmt.isBigEndian
        val bytes = in.readAllBytes()
        in.close()
        val frameBytes = 2 * ch
        val nFrames = bytes.length / frameBytes
        val durationMs = nFrames * 1000L / rate
        // per-chunk |amplitude| sums — single pass over the samples
        val sums = scala.collection.mutable.LongMap.empty[Long]
        val counts = scala.collection.mutable.LongMap.empty[Long]
        var f = 0
        while (f < nFrames) {
          val chunk = f * 1000L / (rate * chunkMs)
          var c = 0
          var amp = 0L
          while (c < ch) {
            val o = f * frameBytes + 2 * c
            val s =
              if (big) ((bytes(o) << 8) | (bytes(o + 1) & 0xff)).toShort
              else ((bytes(o + 1) << 8) | (bytes(o) & 0xff)).toShort
            amp += math.abs(s.toLong)
            c += 1
          }
          sums.put(chunk, sums.getOrElse(chunk, 0L) + amp)
          counts.put(chunk, counts.getOrElse(chunk, 0L) + ch)
          f += 1
        }
        sums.keys.toSeq.sorted.map { chunk =>
          val mean = sums(chunk).toDouble / (32768.0 * counts(chunk))
          AudioChunk(r.doc_id, durationMs, chunk, chunk * chunkMs,
            math.min(chunk * chunkMs + chunkMs, durationMs),
            math.floor(mean * 1e6 + 0.5) / 1e6)
        }
      }
    }(Encoders.product[AudioChunk])
  }

  // --- the REAL video path (pure-JVM RIFF/AVI demux + javax.imageio
  // MJPEG frame decode — both in-JDK, no external dependency). The
  // video twin of decodeImage/decodeAudio: AVI is a plain RIFF chunk
  // tree, so the container demux is ~60 lines of byte walking, and
  // MJPEG frames are ordinary JPEGs the JDK's own ImageIO decodes.
  // Same seam, same mapPartitions batch shape as the stubbed
  // frameSample; the body demuxes actual AVI bytes. The gate keeps
  // the deterministic stub (the synthetic corpus has no real video
  // and the oracle must replay); a deployment whose payload column
  // holds real MJPEG-AVI bytes swaps frameSample → frameSampleReal
  // and nothing upstream or downstream changes (spec-pinned on
  // generated AVIs in MultimodalCodecSpec). -------------------------

  case class VideoMeta(doc_id: Long, width: Int, height: Int, fps_q: Double,
                       n_frames: Int, duration_ms: Long)
  case class VideoFrame(doc_id: Long, n_frames: Int, frame_idx: Int,
                        width: Int, height: Int, mean_byte: Double,
                        frame_fp: String)

  /** Parsed AVI: stream geometry from the headers, frame payload
    * slices from the movi list. All RIFF integers are little-endian
    * u32; chunk bodies pad to even length. */
  private case class AviStream(width: Int, height: Int, scale: Long,
                               rate: Long, frames: Vector[Array[Byte]])

  private def parseAvi(docId: Long, b: Array[Byte]): AviStream = {
    def u32(o: Int): Long =
      ((b(o) & 0xffL)) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
    def cc(o: Int): String = new String(b, o, 4, "US-ASCII")
    require(b.length >= 12 && cc(0) == "RIFF" && cc(8) == "AVI ",
      s"doc $docId: payload is not a RIFF/AVI container")
    var width = 0; var height = 0; var scale = 1L; var rate = 0L
    // streams number in strl order; only the VIDEO stream's strf and
    // '##dc'/'##db' chunks count — an audio-first file must not have
    // its WAVEFORMATEX read as a BITMAPINFOHEADER or its '##wb'
    // twins' neighbors mixed into the frame list
    var strhSeen = 0; var vidsStream = -1; var lastWasVids = false
    val frames = Vector.newBuilder[Array[Byte]]
    // walk a chunk run [from, until): LIST chunks recurse (their body
    // is a fourcc list-type + a nested chunk run); leaves dispatch on
    // their id. The movi list's frame chunks are '##dc' (compressed)
    // or '##db' (uncompressed) where ## is the stream number.
    def walk(from: Int, until: Int): Unit = {
      var o = from
      while (o + 8 <= until) {
        val id = cc(o)
        val size = u32(o + 4).toInt
        val data = o + 8
        require(size >= 0 && data + size <= b.length,
          s"doc $docId: truncated AVI — chunk '$id' at offset $o " +
            s"declares $size bytes past the payload end")
        if (id == "LIST") walk(data + 4, data + size)
        else id match {
          case "strh" =>
            // the fixed fields read below (fccType at +0, dwScale/
            // dwRate at +20/+24) need 28 bytes — a malformed header
            // smaller than that must fail with the doc id, not an
            // executor-side ArrayIndexOutOfBoundsException
            require(size >= 28,
              s"doc $docId: malformed AVI — strh chunk at offset $o " +
                s"is $size bytes, stream header needs >= 28")
            lastWasVids = cc(data) == "vids" && vidsStream < 0
            if (lastWasVids) {
              // dwScale/dwRate at +20/+24 of the stream header: the
              // frame clock is rate/scale Hz (e.g. 30000/1001 = 29.97)
              vidsStream = strhSeen
              scale = u32(data + 20); rate = u32(data + 24)
            }
            strhSeen += 1
          case "strf" if lastWasVids =>
            // BITMAPINFOHEADER: biWidth at +4, biHeight at +8 — 12
            // bytes minimum before the fixed-offset reads
            require(size >= 12,
              s"doc $docId: malformed AVI — vids strf chunk at offset " +
                s"$o is $size bytes, BITMAPINFOHEADER needs >= 12")
            width = u32(data + 4).toInt
            height = math.abs(u32(data + 8).toInt)
            lastWasVids = false
          case fid if fid.length == 4 && fid(0).isDigit && fid(1).isDigit &&
              (fid.endsWith("dc") || fid.endsWith("db")) &&
              (fid.take(2).toInt == vidsStream) =>
            frames += java.util.Arrays.copyOfRange(b, data, data + size)
          case _ => () // avih/idx1/JUNK/other streams' chunks: skip
        }
        o = data + size + (size & 1) // bodies pad to even
      }
    }
    walk(12, b.length)
    require(width > 0 && rate > 0,
      s"doc $docId: AVI lacks a vids stream header")
    AviStream(width, height, math.max(1L, scale), rate, frames.result())
  }

  /** Decode real video containers: geometry and frame clock from the
    * DECODED stream headers, frame count from the movi list itself
    * (the avih dwTotalFrames field is advisory — the chunks are the
    * truth, the decodeImage discipline). fps_q half-up at 3 dp;
    * duration_ms = ⌊frames·scale·1000/rate⌋ in exact integer math.
    * One codec init per partition; rows stream through. */
  def decodeVideo(media: Dataset[MediaRecord]): Dataset[VideoMeta] =
    media.mapPartitions { it =>
      // per-partition codec init would run here, once
      it.map { r =>
        val avi = parseAvi(r.doc_id, r.payload)
        VideoMeta(r.doc_id, avi.width, avi.height,
          math.floor(avi.rate.toDouble / avi.scale * 1000 + 0.5) / 1000,
          avi.frames.length,
          avi.frames.length.toLong * avi.scale * 1000L / avi.rate)
      }
    }(Encoders.product[VideoMeta])

  /** Real frame sampling — [[frameSample]]'s geometry (every
    * `stride`-th frame kept) over DEMUXED frames, each kept frame
    * decoded by javax.imageio (MJPEG frames are plain JPEGs): dims
    * from the decoded frame, mean luminance with the undivided-sum
    * discipline of decodeImage, and the frame fingerprint over the
    * DECODED pixels (so two encodings of the same content collide —
    * what frame-level dedup wants), not the compressed bytes.
    * Row-local one-to-many flatMap like the stub: no shuffle,
    * embarrassingly parallel at any corpus size. */
  def frameSampleReal(media: Dataset[MediaRecord],
                      stride: Int): Dataset[VideoFrame] = {
    // validated at plan-build time on the driver, like audioChunksReal:
    // stride = 0 would otherwise surface as an executor-side
    // divide-by-zero with no argument context
    require(stride > 0, s"frameSampleReal: stride must be > 0, got $stride")
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false) // one init per partition
      it.flatMap { r =>
        val avi = parseAvi(r.doc_id, r.payload)
        val n = avi.frames.length
        avi.frames.iterator.zipWithIndex
          .filter(_._2 % stride == 0)
          .map { case (bytes, idx) =>
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            require(img != null,
              s"undecodable frame $idx payload for doc ${r.doc_id}")
            val digest = java.security.MessageDigest.getInstance("MD5")
            // bulk getRGB (identical ints to per-pixel; see
            // decodeImage) + ONE digest.update over the assembled
            // byte stream — same bytes in the same order, so the fp
            // is unchanged, without 3·w·h per-byte update calls
            val px = img.getRGB(0, 0, img.getWidth, img.getHeight,
              null, 0, img.getWidth)
            val stream = new Array[Byte](3 * px.length)
            var sum = 0L
            var i = 0
            while (i < px.length) {
              val rgb = px(i)
              sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
              stream(3 * i) = (rgb >> 16).toByte
              stream(3 * i + 1) = (rgb >> 8).toByte
              stream(3 * i + 2) = rgb.toByte
              i += 1
            }
            digest.update(stream)
            val np = img.getWidth.toLong * img.getHeight
            val mean = if (np == 0) 0.0 else sum.toDouble / (3.0 * np)
            VideoFrame(r.doc_id, n, idx, img.getWidth, img.getHeight,
              math.floor(mean * 100 + 0.5) / 100,
              digest.digest().map(b => f"${b & 0xff}%02x").mkString)
          }.toVector.iterator
      }
    }(Encoders.product[VideoFrame])
  }

  case class VideoFrameMoments(doc_id: Long, n_frames: Int, frame_idx: Int,
                               width: Int, height: Int, mean_byte: Double,
                               slope_x: Double, slope_y: Double)

  /** [[frameSampleReal]] plus FIRST MOMENTS of the decoded luminance
    * along each raster axis: slope_x = cov(v, x)/var(x) and slope_y =
    * cov(v, y)/var(y) over the decoded pixels (v = per-pixel channel
    * mean; var(x) = (w²−1)/12 closed-form for the uniform grid). A
    * pixel-multiset statistic like mean_byte is PERMUTATION-INVARIANT
    * — a decode that transposes x/y (or otherwise re-orders the
    * raster without dropping pixels) is invisible to it — while the
    * first moments are order-sensitive: transposition maps
    * (slope_x, slope_y) → (slope_y·var(y)/var(x)·…, swapped axes), so
    * a ramp with distinct per-axis slopes pins the walk direction.
    * Same row-local mapPartitions decode as frameSampleReal — one
    * extra multiply-accumulate per pixel, no shuffle. */
  def frameMomentsReal(media: Dataset[MediaRecord],
                       stride: Int): Dataset[VideoFrameMoments] = {
    require(stride > 0, s"frameMomentsReal: stride must be > 0, got $stride")
    media.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.flatMap { r =>
        val avi = parseAvi(r.doc_id, r.payload)
        val n = avi.frames.length
        avi.frames.iterator.zipWithIndex
          .filter(_._2 % stride == 0)
          .map { case (bytes, idx) =>
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            require(img != null,
              s"undecodable frame $idx payload for doc ${r.doc_id}")
            val w = img.getWidth; val h = img.getHeight
            // bulk getRGB (identical ints; see decodeImage)
            val px = img.getRGB(0, 0, w, h, null, 0, w)
            var sum = 0L; var sumX = 0L; var sumY = 0L
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = px(y * w + x)
                val s3 = ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
                sum += s3; sumX += s3.toLong * x; sumY += s3.toLong * y
                x += 1
              }
              y += 1
            }
            val np = w.toLong * h
            val mean = if (np == 0) 0.0 else sum.toDouble / (3.0 * np)
            def slope(mom: Long, dim: Int): Double =
              if (dim <= 1 || np == 0) 0.0
              else {
                val cov = mom.toDouble / (3.0 * np) - mean * (dim - 1) / 2.0
                cov / ((dim.toDouble * dim - 1) / 12.0)
              }
            VideoFrameMoments(r.doc_id, n, idx, w, h,
              math.floor(mean * 100 + 0.5) / 100,
              slope(sumX, w), slope(sumY, h))
          }.toVector.iterator
      }
    }(Encoders.product[VideoFrameMoments])
  }

  /** Audio chunking (stubbed demux) — frameSample's audio twin: an
    * "audio" doc yields one row per fixed-duration chunk (the window
    * shape ASR/feature pipelines consume), the last chunk truncated
    * at the clip end. Duration derives from metadata (doc_id-keyed
    * here; the real duration field in production); chunk fingerprints
    * stand in for decoded-chunk content hashes. Row-local explode —
    * no shuffle, embarrassingly parallel at any corpus size. */
  def audioChunks(documents: DataFrame, chunkMs: Int): DataFrame = {
    // chunkMs = 0 would reach the DIV below as a null/zero divisor;
    // fail at plan-build time instead
    require(chunkMs > 0, s"audioChunks: chunkMs must be > 0, got $chunkMs")
    documents
      .select(col("doc_id"),
        ((col("doc_id") % 90000) + 1000).cast("long").as("duration_ms"))
      .select(col("doc_id"), col("duration_ms"),
        explode(sequence(lit(0L),
          expr(s"CAST((duration_ms - 1) DIV $chunkMs AS BIGINT)"))).as("chunk_idx"))
      .select(col("doc_id"), col("duration_ms"), col("chunk_idx"),
        (col("chunk_idx") * chunkMs).as("start_ms"),
        least(col("chunk_idx") * chunkMs + chunkMs, col("duration_ms")).as("end_ms"),
        md5(concat_ws(":", col("doc_id"), col("chunk_idx"))).as("chunk_fp"))
  }
}
