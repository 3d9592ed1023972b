package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video payloads as opaque `binary`
  * columns with typed metadata, flowing through Spark with real schema,
  * partitioning and batch shape.
  *
  * Image and audio decode are REAL JDK codecs ([[MediaCodecs]]):
  * `javax.imageio` PNG and `javax.sound.sampled` WAV/PCM16 — features come
  * from actually-decoded pixels and samples, no external jars. VIDEO
  * metadata is a REAL container-header parse ([[Mp4Headers]], ISO BMFF
  * boxes — a public spec needing no codec): dims from `tkhd`, duration
  * from `mvhd`, sample payload from `mdat`; only frame-PIXEL decode stays
  * a clearly-marked stub (no video codec ships with the JDK — the GRFT
  * header, [[FakeDecoder]], remains the non-MP4 fallback). The
  * surrounding contract — schema, `mapPartitions` batch execution (one
  * decoder instantiation per partition, the same shape a JNI/codec binding
  * needs), partition sizing, and the feature output — is identical across
  * the three kinds, so swapping the pixel stub for a real codec changes
  * nothing downstream.
  */
object BinaryPipeline {

  /** Typed metadata carried alongside the payload. */
  case class MediaRecord(
      media_id: Long,
      kind: String,          // "image" | "audio" | "video"
      payload: Array[Byte],  // opaque encoded bytes
      source: String)

  /** Executor-side codec CPU attribution (r16 verdict task 5): the media
    * faces' cost is ~all per-row codec work inside `mapPartitions`, which
    * the bench artifact could not split from plan/shuffle time. Two
    * accumulators — fixture SYNTHESIS (encode) vs the face's own DECODE
    * (+ re-encode) — summed across tasks, so like `p_stateUpdates` they are
    * task-parallel seconds that can exceed wall. The faces collect their
    * ≤3-row aggregates, stamp, and return the rows as a literal frame, so
    * the stamps reflect the run that actually executed. `Disabled` (the
    * default everywhere) is a zero-cost pass-through — Verify and specs run
    * the identical code with no bookkeeping.
    */
  sealed trait CodecTimers extends Serializable {
    def synth[T](body: => T): T
    def decode[T](body: => T): T
    def stamp(): Unit
  }
  object CodecTimers {
    object Disabled extends CodecTimers {
      def synth[T](body: => T): T = body
      def decode[T](body: => T): T = body
      def stamp(): Unit = ()
    }
    def apply(s: SparkSession): CodecTimers = new Live(
      s.sparkContext.longAccumulator("graft.media.synth_ns"),
      s.sparkContext.longAccumulator("graft.media.decode_ns"))
    final class Live(
        synthNs: org.apache.spark.util.LongAccumulator,
        decodeNs: org.apache.spark.util.LongAccumulator) extends CodecTimers {
      private def timed[T](acc: org.apache.spark.util.LongAccumulator)(body: => T): T = {
        val t0 = System.nanoTime()
        val r = body
        acc.add(System.nanoTime() - t0)
        r
      }
      def synth[T](body: => T): T = timed(synthNs)(body)
      def decode[T](body: => T): T = timed(decodeNs)(body)
      def stamp(): Unit = {
        graft.BenchPhases.add("p_synth_cpu", synthNs.value / 1e9)
        graft.BenchPhases.add("p_decode_cpu", decodeNs.value / 1e9)
      }
    }
  }

  /** Per-media features, populated from the REAL decode of each kind:
    *   - image: `width`/`height` from the decoded PNG, `frames` = 1,
    *     `decoded_bytes` = w*h*3 (RGB24 raster), `content_sum` = Σ(r+g+b)
    *     over every decoded pixel;
    *   - audio: `frames` = PCM frame count from the WAV header,
    *     `decoded_bytes` = 2*frames (16-bit mono), `content_sum` = Σ of the
    *     decoded signed samples (can be negative);
    *   - video: `width`/`height` from the REAL MP4 `tkhd` box (or the GRFT
    *     stub header for non-MP4 payloads), `decoded_bytes` = mdat/content
    *     length, `content_sum` = 0 — pixels loudly NOT decoded, see
    *     [[VideoHeaders]].
    * `n_bytes`/`checksum` are over the raw encoded payload for all kinds.
    */
  case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Long,
      width: Int,
      height: Int,
      frames: Long,
      decoded_bytes: Long,
      content_sum: Long,
      checksum: Long,        // rolling checksum over payload bytes
      sampled_frames: Long)  // video: the frame sampler's yield; others 0

  /** Frames the stride sampler yields from a content extent —
    * ceil(ceil(len/frameSize)/stride), the number [[sampleFrames]]'s chunk
    * enumeration emits. Shared so [[extractFeatures]] can carry the
    * sampler's yield in the SAME decode pass (r16 verdict task 5: the
    * features face ran a second full synthesis just to count frames — at
    * the 100× replica a hidden double-encode) while BinaryPipelineSpec pins
    * this count against the real enumeration.
    */
  def sampledChunkCount(contentLength: Long, frameSize: Int = 64,
      stride: Int = 4): Long = {
    val chunks = (contentLength + frameSize - 1) / frameSize
    (chunks + stride - 1) / stride
  }

  /** Real JDK codecs for the image and audio kinds. PNG via `javax.imageio`
    * (lossless, so solid-color fixtures decode to exactly the encoded RGB);
    * WAV via `javax.sound.sampled` (PCM16 mono little-endian; the JDK
    * writer emits the canonical 44-byte RIFF header, so encoded size is
    * exactly 44 + 2*frames — spec-pinned). Decoders take and return plain
    * byte arrays so they drop into the per-partition batch shape unchanged.
    */
  object MediaCodecs {
    import java.awt.image.BufferedImage
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.imageio.ImageIO
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

    val SampleRateHz = 8000f

    /** Decode image bytes to a raster, or fail loudly (ImageIO.read
      * returns null on an unrecognized payload). */
    def readImage(payload: Array[Byte]): BufferedImage = {
      val img = ImageIO.read(new ByteArrayInputStream(payload))
      require(img != null, "undecodable image payload")
      img
    }

    /** Decode a JPEG through a REUSED per-thread reader. `ImageIO.read`
      * pays per call for work that is per-CODEC, not per-image: an SPI
      * registry search, a fresh reader instance, and a disk-backed
      * `FileCacheImageInputStream` (a temp FILE per decode under the
      * default `getUseCache`). At the MJPEG fixture's tiny frames that
      * setup is ~30× the pixel work — the q_media_frame_pixels face at
      * 100× was reader setup, not decode (r17 verdict task 7). One
      * thread-local reader + an in-memory input stream amortizes all
      * three; readers are not thread-safe, which is exactly what the
      * thread-local provides (bounded by executor thread count).
      * BinaryPipelineSpec pins raster equality against [[readImage]].
      */
    def readJpegReused(payload: Array[Byte]): BufferedImage =
      readReused(jpegReaders, payload)

    private val jpegReaders = new ThreadLocal[javax.imageio.ImageReader] {
      override def initialValue(): javax.imageio.ImageReader = {
        val it = ImageIO.getImageReadersByFormatName("jpeg")
        require(it.hasNext, "no JPEG ImageReader installed")
        it.next()
      }
    }

    /** Format-sniffing decode through the reused per-thread readers: PNG
      * magic → pooled PNG reader, JPEG SOI → pooled JPEG reader, anything
      * else falls back to the generic [[readImage]] (full SPI search —
      * correctness for arbitrary payloads, the reused path is the
      * throughput lane for the two formats the pipeline actually ships).
      * Same per-call-overhead argument as [[readJpegReused]]; the image
      * branch of extractFeatures/featuresAndResize decodes one PNG per
      * payload, so the setup tax was paid corpus-wide there too.
      */
    def readImageReused(payload: Array[Byte]): BufferedImage =
      if (payload.length >= 8 && payload(0) == 0x89.toByte &&
          payload(1) == 'P'.toByte && payload(2) == 'N'.toByte &&
          payload(3) == 'G'.toByte)
        readReused(pngReaders, payload)
      else if (payload.length >= 2 && payload(0) == 0xff.toByte &&
          payload(1) == 0xd8.toByte)
        readJpegReused(payload)
      else readImage(payload)

    private def readReused(pool: ThreadLocal[javax.imageio.ImageReader],
        payload: Array[Byte]): BufferedImage = {
      val r = pool.get()
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new ByteArrayInputStream(payload))
      try { r.setInput(iis, true, true); r.read(0) } finally iis.close()
    }

    private val pngReaders = new ThreadLocal[javax.imageio.ImageReader] {
      override def initialValue(): javax.imageio.ImageReader = {
        val it = ImageIO.getImageReadersByFormatName("png")
        require(it.hasNext, "no PNG ImageReader installed")
        it.next()
      }
    }

    /** Encode a raster as PNG bytes. */
    def writePng(img: BufferedImage): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** Solid-RGB raster (fixture base for both the PNG and JPEG encoders). */
    def solidRaster(width: Int, height: Int, rgb: Int): BufferedImage = {
      val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) { img.setRGB(x, y, rgb); x += 1 }
        y += 1
      }
      img
    }

    /** Encode a solid-RGB PNG (fixture generator; any PNG decodes). */
    def encodePng(width: Int, height: Int, rgb: Int): Array[Byte] =
      writePng(solidRaster(width, height, rgb))

    /** Encode a solid-RGB baseline JPEG (the MJPEG frame fixture). Lossy:
      * the decoded solid differs from the encoded one by DC quantization —
      * but for a SOLID fill every block is the same single-DC block and
      * the chroma planes are constant, so the decoded raster is UNIFORM
      * and its per-pixel value is size-independent (BinaryPipelineSpec
      * pins both), which is what lets [[Mjpeg.decodedPaletteSums]] probe
      * each palette color once at 8×8 and close the pixel-sum form.
      */
    def encodeJpeg(width: Int, height: Int, rgb: Int): Array[Byte] = {
      val bos = new ByteArrayOutputStream()
      ImageIO.write(solidRaster(width, height, rgb), "jpg", bos)
      bos.toByteArray
    }

    /** Pixel features over an ALREADY-DECODED raster: (width, height,
      * Σ(r+g+b) over pixels). Factored from [[decodeImage]] so a fused
      * features→resize stage can reuse one decode ([[featuresAndResize]],
      * r11 verdict task 7).
      */
    def rasterFeatures(img: BufferedImage): (Int, Int, Long) = {
      val (w, h) = (img.getWidth, img.getHeight)
      var sum = 0L
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val p = img.getRGB(x, y)
          sum += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
          x += 1
        }
        y += 1
      }
      (w, h, sum)
    }

    /** Decode an image payload: (width, height, Σ(r+g+b) over pixels). */
    def decodeImage(payload: Array[Byte]): (Int, Int, Long) = {
      val (w, h, sum) = rasterFeatures(readImage(payload))
      (w, h, sum)
    }

    /** Bilinear-rescale a decoded raster to fit `maxDim` preserving aspect
      * ratio (never upscales). Shared by [[resizeMedia]] and the fused
      * [[featuresAndResize]] so the two paths are byte-identical.
      */
    def resizeRaster(img: BufferedImage, maxDim: Int): BufferedImage = {
      val (w, h) = (img.getWidth, img.getHeight)
      val scale = math.min(1.0, maxDim.toDouble / math.max(w, h))
      val (nw, nh) = (math.max(1, (w * scale).toInt), math.max(1, (h * scale).toInt))
      val out = new BufferedImage(nw, nh, BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, nw, nh, null)
      g.dispose()
      out
    }

    /** Encode PCM16 mono samples as a WAV file. */
    def encodeWav(samples: Array[Short]): Array[Byte] = {
      val pcm = new Array[Byte](2 * samples.length)
      var i = 0
      while (i < samples.length) {
        pcm(2 * i) = (samples(i) & 0xff).toByte
        pcm(2 * i + 1) = ((samples(i) >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new AudioFormat(SampleRateHz, 16, 1, true, false)
      val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, samples.length.toLong)
      val bos = new ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

    /** Decode an audio payload: (frame count, Σ of decoded signed samples). */
    def decodeWav(payload: Array[Byte]): (Long, Long) = {
      val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
      try {
        val fmt = ais.getFormat
        require(fmt.getChannels == 1 && fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian,
          s"unexpected WAV shape: $fmt")
        val frames = ais.getFrameLength
        val bytes = ais.readAllBytes()
        var sum = 0L
        var i = 0
        while (i + 1 < bytes.length) {
          sum += ((bytes(i) & 0xff) | (bytes(i + 1).toInt << 8)).toShort
          i += 2
        }
        (frames, sum)
      } finally ais.close()
    }
  }

  /** STUB decoder for the VIDEO kind only (no JDK video codec exists).
    *
    * Payload layout (written by [[encodeFake]]): 4 bytes magic "GRFT",
    * 4 bytes width, 4 bytes height (big-endian), then raw content bytes.
    * A real implementation would replace `decode` with an image/audio
    * library call; the surrounding pipeline would not change.
    */
  object FakeDecoder {
    val Magic: Array[Byte] = "GRFT".getBytes("US-ASCII")

    def decode(payload: Array[Byte]): (Int, Int) = {
      require(payload.length >= 12 && payload.take(4).sameElements(Magic),
        "not a GRFT payload")
      def be32(off: Int): Int =
        ((payload(off) & 0xff) << 24) | ((payload(off + 1) & 0xff) << 16) |
          ((payload(off + 2) & 0xff) << 8) | (payload(off + 3) & 0xff)
      (be32(4), be32(8))
    }

    /** Deterministic polynomial rolling checksum (mod 2^31-1). */
    def checksum(payload: Array[Byte]): Long = {
      var h = 0L
      var i = 0
      while (i < payload.length) {
        h = (h * 31 + (payload(i) & 0xff)) % 2147483647L
        i += 1
      }
      h
    }
  }

  /** Build a fake encoded payload (test/fixture helper). */
  def encodeFake(width: Int, height: Int, content: Array[Byte]): Array[Byte] = {
    def be32(v: Int) = Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    FakeDecoder.Magic ++ be32(width) ++ be32(height) ++ content
  }

  /** REAL MP4 (ISO BMFF, ISO/IEC 14496-12) container-header parsing — no
    * codec required, the box tree is a public spec (r15 verdict task 4).
    * Dimensions come from the video track's `tkhd` box (16.16 fixed-point
    * width/height), duration from `mvhd` (duration / timescale), and the
    * sample payload from the top-level `mdat` box. This upgrades the video
    * face from "synthetic GRFT header" to "actual MP4 bytes" for the most
    * common container while keeping the honest no-decode label: frame
    * PIXELS still need a codec no JDK ships; header fields do not.
    *
    * Box layout walked here: each box is size(4, big-endian) + type(4);
    * size == 1 → a 64-bit largesize follows; size == 0 → box runs to the
    * end of the enclosing scope. `moov`/`trak` are pure containers, so the
    * walk recurses; `mvhd`/`tkhd` are FullBoxes (version + flags) whose
    * v0/v1 field widths differ and are both handled.
    */
  object Mp4Headers {

    /** Parsed header facts of one video payload. */
    case class VideoInfo(width: Int, height: Int, durationMs: Long,
        contentOffset: Int, contentLength: Int)

    private def be32(p: Array[Byte], off: Int): Long =
      ((p(off) & 0xffL) << 24) | ((p(off + 1) & 0xffL) << 16) |
        ((p(off + 2) & 0xffL) << 8) | (p(off + 3) & 0xffL)

    private def be64(p: Array[Byte], off: Int): Long =
      (be32(p, off) << 32) | be32(p, off + 4)

    private def boxType(p: Array[Byte], off: Int): String =
      new String(p, off + 4, 4, "US-ASCII")

    /** Iterate the boxes of scope [from, until): (type, bodyOff, bodyLen). */
    private def boxes(p: Array[Byte], from: Int, until: Int)
        : Iterator[(String, Int, Int)] = new Iterator[(String, Int, Int)] {
      private var off = from
      def hasNext: Boolean = {
        // a scope must end exactly on a box boundary: 1–7 trailing bytes
        // are a truncated/corrupt tree, and silently ignoring them would
        // contradict the fails-loudly contract (r16 ADVICE)
        require(off + 8 <= until || off == until,
          s"malformed MP4 scope: ${until - off} trailing bytes at $off")
        off + 8 <= until
      }
      def next(): (String, Int, Int) = {
        val size32 = be32(p, off)
        val tpe = boxType(p, off)
        val (hdr, size) =
          if (size32 == 1L && off + 16 <= until) (16, be64(p, off + 8))
          else if (size32 == 0L) (8, (until - off).toLong)
          else (8, size32)
        require(size >= hdr && off + size <= until,
          s"malformed MP4 box '$tpe' at $off: size=$size scope=$until")
        val out = (tpe, off + hdr, (size - hdr).toInt)
        off += size.toInt
        out
      }
    }

    /** True when the payload leads with an ISO BMFF box signature — the
      * `ftyp` every actual MP4 file starts with (fallbacks for headerless
      * fragments: a leading `moov`/`mdat`).
      */
    def looksLikeMp4(p: Array[Byte]): Boolean =
      p.length >= 8 && Set("ftyp", "moov", "mdat").contains(boxType(p, 0))

    /** Parse width/height (tkhd), duration (mvhd) and the mdat extent from
      * real MP4 bytes. Fails loudly on a malformed tree — same contract as
      * the image/audio codecs.
      */
    def parse(p: Array[Byte]): VideoInfo = {
      var dims: Option[(Int, Int)] = None
      var durationMs = 0L
      var mdat: Option[(Int, Int)] = None
      for ((tpe, off, len) <- boxes(p, 0, p.length)) tpe match {
        case "moov" =>
          for ((t2, o2, l2) <- boxes(p, off, off + len)) t2 match {
            case "mvhd" =>
              val v = p(o2) & 0xff
              val (timescale, duration) =
                if (v == 1) (be32(p, o2 + 20), be64(p, o2 + 24))
                else (be32(p, o2 + 12), be32(p, o2 + 16))
              if (timescale > 0) durationMs = duration * 1000L / timescale
            case "trak" =>
              for ((t3, o3, _) <- boxes(p, o2, o2 + l2) if t3 == "tkhd") {
                val v = p(o3) & 0xff
                // after version/flags(4): v0 times/ids/duration = 20 bytes,
                // v1 = 32; then reserved(8) layer(2) alt(2) volume(2)
                // reserved(2) matrix(36) = 52 bytes to the 16.16 width
                val wOff = o3 + 4 + (if (v == 1) 32 else 20) + 52
                val (w, h) = ((be32(p, wOff) >> 16).toInt,
                  (be32(p, wOff + 4) >> 16).toInt)
                // first track with real dims wins (audio tracks carry 0x0)
                if (dims.isEmpty || (w > 0 && h > 0 && dims.exists(d => d._1 == 0 || d._2 == 0)))
                  dims = Some((w, h))
              }
            case _ => ()
          }
        case "mdat" if mdat.isEmpty => mdat = Some((off, len))
        case _ => ()
      }
      val (w, h) = dims.getOrElse(
        throw new IllegalArgumentException("MP4 payload carries no tkhd box"))
      val (mo, ml) = mdat.getOrElse((p.length, 0))
      VideoInfo(w, h, durationMs, mo, ml)
    }

    private def w32(v: Long): Array[Byte] =
      Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    private def box(tpe: String, body: Array[Byte]): Array[Byte] =
      w32(body.length + 8L) ++ tpe.getBytes("US-ASCII") ++ body

    private val UnityMatrix: Array[Byte] =
      (Seq(0x00010000L, 0L, 0L, 0L, 0x00010000L, 0L, 0L, 0L, 0x40000000L)
        .flatMap(w32)).toArray

    /** Build a VALID minimal MP4: ftyp(isom) + moov(mvhd + trak(tkhd)) +
      * mdat(content). Every field a parser needs is real (v0 FullBoxes,
      * unity matrix, 16.16 dims, timescale 1000 so duration is in ms) —
      * the same fixture-generator trick [[MediaCodecs.encodeWav]] plays
      * for audio: generate genuine bytes, then parse them back.
      */
    def build(width: Int, height: Int, durationMs: Long,
        content: Array[Byte]): Array[Byte] = {
      // v0 boxes carry 32-bit durations; silently truncating a 64-bit value
      // (which parse() accepts from v1 trees) would corrupt a reencode
      // rather than failing loudly (r16 ADVICE). ~49 days at timescale 1000
      // — a builder for longer media emits v1 mvhd/tkhd instead.
      require(durationMs >= 0 && durationMs <= 0xffffffffL,
        s"durationMs $durationMs exceeds the v0 32-bit box field; " +
          "emit version-1 mvhd/tkhd for durations past 2^32-1 ms")
      val ftyp = box("ftyp",
        "isom".getBytes("US-ASCII") ++ w32(0x200L) ++ "isom".getBytes("US-ASCII"))
      val mvhd = box("mvhd",
        w32(0L) ++                       // version 0 + flags
          w32(0L) ++ w32(0L) ++          // creation/modification time
          w32(1000L) ++                  // timescale: 1000 => duration in ms
          w32(durationMs) ++             // duration
          w32(0x00010000L) ++            // rate 1.0
          Array[Byte](0x01, 0x00) ++     // volume 1.0
          new Array[Byte](2 + 8) ++      // reserved
          UnityMatrix ++
          new Array[Byte](24) ++         // pre_defined
          w32(2L))                       // next_track_ID
      val tkhd = box("tkhd",
        w32(7L) ++                       // version 0, flags: enabled|in-movie|in-preview
          w32(0L) ++ w32(0L) ++          // creation/modification time
          w32(1L) ++                     // track_ID
          w32(0L) ++                     // reserved
          w32(durationMs) ++             // duration (movie timescale)
          new Array[Byte](8) ++          // reserved
          new Array[Byte](2 + 2) ++      // layer, alternate_group
          new Array[Byte](2 + 2) ++      // volume (0 for video), reserved
          UnityMatrix ++
          w32(width.toLong << 16) ++     // 16.16 fixed-point
          w32(height.toLong << 16))
      ftyp ++ box("moov", mvhd ++ box("trak", tkhd)) ++ box("mdat", content)
    }
  }

  /** Container dispatch for the video kind: real MP4 headers when the
    * payload is ISO BMFF, the GRFT stub otherwise. Returns the uniform
    * header facts every video consumer needs (dims, duration, content
    * extent) so downstream stages are container-agnostic.
    */
  object VideoHeaders {
    case class Header(width: Int, height: Int, durationMs: Long,
        contentOffset: Int, contentLength: Int, container: String)

    def decode(payload: Array[Byte]): Header =
      if (Mp4Headers.looksLikeMp4(payload)) {
        val i = Mp4Headers.parse(payload)
        Header(i.width, i.height, i.durationMs, i.contentOffset,
          i.contentLength, "mp4")
      } else {
        val (w, h) = FakeDecoder.decode(payload)
        Header(w, h, 0L, 12, payload.length - 12, "grft")
      }

    /** Header rewrite preserving the container (the stub "rescale"). */
    def reencode(h: Header, payload: Array[Byte], newW: Int, newH: Int): Array[Byte] = {
      val content = java.util.Arrays.copyOfRange(
        payload, h.contentOffset, h.contentOffset + h.contentLength)
      if (h.container == "mp4") Mp4Headers.build(newW, newH, h.durationMs, content)
      else encodeFake(newW, newH, content)
    }
  }

  /** Decode + feature-extract over a media Dataset. Image and audio rows go
    * through the REAL JDK codecs ([[MediaCodecs]]); video through the stub.
    *
    * `mapPartitions` so decoder state is instantiated once per partition
    * (not per row) — the standard shape for codec/model handles.
    * Repartitions to `targetPartitions` first: media payloads are large and
    * skewed, so partition count is sized by byte budget, not row count.
    */
  def extractFeatures(media: Dataset[MediaRecord],
      targetPartitions: Int = 0,
      timers: CodecTimers = CodecTimers.Disabled): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    val sized = if (targetPartitions > 0) media.repartition(targetPartitions) else media
    sized.mapPartitions { it =>
      // per-partition decoder init (ImageIO scans its reader SPI registry
      // lazily on first use; one scan per partition, then cached)
      it.map { r =>
        val base = (r.media_id, r.kind, r.payload.length.toLong,
          FakeDecoder.checksum(r.payload))
        timers.decode {
          r.kind match {
            case "image" =>
              // reused-reader decode (readImageReused): the per-call SPI
              // search + temp-file stream of ImageIO.read was corpus-wide
              // overhead here exactly as on the MJPEG frames
              val (w, h, pixelSum) = MediaCodecs.rasterFeatures(
                MediaCodecs.readImageReused(r.payload))
              MediaFeatures(base._1, base._2, base._3, w, h,
                frames = 1L, decoded_bytes = w.toLong * h * 3,
                content_sum = pixelSum, checksum = base._4, sampled_frames = 0L)
            case "audio" =>
              val (frames, sampleSum) = MediaCodecs.decodeWav(r.payload)
              MediaFeatures(base._1, base._2, base._3, 0, 0,
                frames = frames, decoded_bytes = 2L * frames,
                content_sum = sampleSum, checksum = base._4, sampled_frames = 0L)
            case _ =>
              val vh = VideoHeaders.decode(r.payload)
              // sampled_frames is the SAMPLER's yield, per codec path (r17
              // ADVICE): MJPEG content dispatches to real frame splitting
              // in [[sampleFrames]], so the fused count must be the real
              // frame count there, not the chunk-stub closed form
              val sampled =
                if (Mjpeg.looksLikeMjpegAt(r.payload, vh.contentOffset,
                    vh.contentLength))
                  Mjpeg.splitJpegFrames(java.util.Arrays.copyOfRange(
                    r.payload, vh.contentOffset,
                    vh.contentOffset + vh.contentLength)).size.toLong
                else sampledChunkCount(vh.contentLength.toLong)
              MediaFeatures(base._1, base._2, base._3, vh.width, vh.height,
                frames = 0L, decoded_bytes = vh.contentLength.toLong,
                content_sum = 0L, checksum = base._4,
                sampled_frames = sampled)
          }
        }
      }
    }
  }

  /** Re-encoded media after a resize — same record shape so stages chain. */
  case class ResizedMedia(
      media_id: Long,
      kind: String,
      payload: Array[Byte],
      source: String,
      orig_width: Int,
      orig_height: Int)

  /** Resize stage. For the image kind this is a REAL resize: decode the PNG,
    * rescale the raster with `Graphics2D.drawImage` (bilinear) to fit
    * `maxDim` preserving aspect ratio, re-encode as PNG — the output payload
    * decodes to the new dimensions. Non-image kinds keep the stub transform
    * (header rewrite, content unchanged) so the stage chains uniformly.
    */
  def resizeMedia(media: Dataset[MediaRecord], maxDim: Int): Dataset[ResizedMedia] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // per-partition codec/scaler init would go here
      it.map { r =>
        if (r.kind == "image") {
          val img = MediaCodecs.readImage(r.payload)
          val (w, h) = (img.getWidth, img.getHeight)
          val out = MediaCodecs.resizeRaster(img, maxDim)
          ResizedMedia(r.media_id, r.kind, MediaCodecs.writePng(out), r.source, w, h)
        } else {
          val vh = VideoHeaders.decode(r.payload)
          val scale = math.min(1.0, maxDim.toDouble / math.max(vh.width, vh.height))
          val (nw, nh) = (math.max(1, (vh.width * scale).toInt),
            math.max(1, (vh.height * scale).toInt))
          // stub "rescale": header rewrite in the SAME container, content unchanged
          ResizedMedia(r.media_id, r.kind,
            VideoHeaders.reencode(vh, r.payload, nw, nh), r.source,
            vh.width, vh.height)
        }
      }
    }
  }

  /** The fused features→resize row: every [[MediaFeatures]] column plus the
    * resize outputs, produced from ONE decode of the payload.
    */
  case class MediaPipelineRow(
      media_id: Long,
      kind: String,
      n_bytes: Long,
      width: Int,
      height: Int,
      frames: Long,
      decoded_bytes: Long,
      content_sum: Long,
      checksum: Long,
      new_width: Int,
      new_height: Int,
      resized_payload: Array[Byte])

  /** Fused feature-extraction + resize — the single-decode chain (r11
    * verdict task 7). Composing [[extractFeatures]] andThen [[resizeMedia]]
    * decodes every image payload TWICE; at the 100× replica decode is ~half
    * of the 102.9 s media face, so the fusion halves the chained cost. Here
    * each image decodes once: features come from the raster
    * ([[MediaCodecs.rasterFeatures]]) and the resized payload from the SAME
    * raster ([[MediaCodecs.resizeRaster]] — literally the code
    * [[resizeMedia]] runs, so the two paths stay byte-identical;
    * BinaryPipelineSpec pins it). Audio has no resize: the payload passes
    * through with new dims 0 (unlike [[resizeMedia]]'s non-image branch,
    * which presumes GRFT stub payloads, this face takes each kind on its
    * own terms). Video keeps the stub header rescale.
    */
  def featuresAndResize(media: Dataset[MediaRecord], maxDim: Int,
      targetPartitions: Int = 0,
      timers: CodecTimers = CodecTimers.Disabled): Dataset[MediaPipelineRow] = {
    import media.sparkSession.implicits._
    val sized = if (targetPartitions > 0) media.repartition(targetPartitions) else media
    sized.mapPartitions { it =>
      it.map { r =>
        val nBytes = r.payload.length.toLong
        val csum = FakeDecoder.checksum(r.payload)
        timers.decode { r.kind match {
          case "image" =>
            val img = MediaCodecs.readImageReused(r.payload) // the ONLY decode
            val (w, h, pixelSum) = MediaCodecs.rasterFeatures(img)
            val out = MediaCodecs.resizeRaster(img, maxDim)
            MediaPipelineRow(r.media_id, r.kind, nBytes, w, h,
              frames = 1L, decoded_bytes = w.toLong * h * 3,
              content_sum = pixelSum, checksum = csum,
              new_width = out.getWidth, new_height = out.getHeight,
              resized_payload = MediaCodecs.writePng(out))
          case "audio" =>
            val (frames, sampleSum) = MediaCodecs.decodeWav(r.payload)
            MediaPipelineRow(r.media_id, r.kind, nBytes, 0, 0,
              frames = frames, decoded_bytes = 2L * frames,
              content_sum = sampleSum, checksum = csum,
              new_width = 0, new_height = 0, resized_payload = r.payload)
          case _ =>
            val vh = VideoHeaders.decode(r.payload)
            val scale = math.min(1.0, maxDim.toDouble / math.max(vh.width, vh.height))
            val (nw, nh) = (math.max(1, (vh.width * scale).toInt),
              math.max(1, (vh.height * scale).toInt))
            MediaPipelineRow(r.media_id, r.kind, nBytes, vh.width, vh.height,
              frames = 0L, decoded_bytes = vh.contentLength.toLong,
              content_sum = 0L, checksum = csum,
              new_width = nw, new_height = nh,
              resized_payload = VideoHeaders.reencode(vh, r.payload, nw, nh))
        } }
      }
    }
  }

  /** One sampled frame of a video payload. */
  case class Frame(media_id: Long, frame_no: Int, offset: Long, frame_bytes: Array[Byte])

  /** Frame sampling (STUB codec, real dataflow): emit every `stride`-th
    * fixed-size chunk of the content as a "frame" — the 1:N generator shape
    * (flatMap over partitions) a real video decoder produces. Frames carry
    * (media_id, frame_no, byte offset) so downstream feature extraction can
    * key on them.
    */
  def sampleFrames(media: Dataset[MediaRecord], frameSize: Int = 64,
      stride: Int = 4): Dataset[Frame] = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "video").mapPartitions { it =>
      it.flatMap { r =>
        val vh = VideoHeaders.decode(r.payload)
        val content = java.util.Arrays.copyOfRange(r.payload,
          vh.contentOffset, vh.contentOffset + vh.contentLength)
        // in-place slice check (not on the copy): copyOfRange zero-pads a
        // content extent that overruns the payload, and the padded copy
        // would still pass the SOI test — the overrun case must fall back
        // to the chunk path instead (r18 ADVICE, same guard as features)
        if (Mjpeg.looksLikeMjpegAt(r.payload, vh.contentOffset, vh.contentLength))
          // REAL codec path: MJPEG frames are self-delimiting JPEGs — emit
          // every actual frame at its actual byte extent (frameSize/stride
          // are chunk-stub parameters and do not apply)
          Mjpeg.splitJpegFrames(content).zipWithIndex.map {
            case ((off, bytes), i) =>
              Frame(r.media_id, i, vh.contentOffset + off.toLong, bytes)
          }.iterator
        else content.grouped(frameSize).zipWithIndex.collect {
          case (chunk, i) if i % stride == 0 =>
            Frame(r.media_id, i, vh.contentOffset + i.toLong * frameSize, chunk)
        }
      }
    }
  }

  /** Character 4-grams of a decoded `content` column (none below 4 chars). */
  private def contentGrams4: Column = expr(
    "CASE WHEN length(content) >= 4 " +
      "THEN transform(sequence(1, length(content) - 3), i -> substring(content, i, 4)) " +
      "ELSE CAST(array() AS ARRAY<STRING>) END")

  /** Media fingerprint → pairs tail of the media near-dup faces: SimHash
    * each decoded (media_id, content) row over `grams`, then band, verify
    * and gate through [[graft.operators.Dedup.simhashNearDupPairs]] under
    * `pipeline`'s name; output (media_a, media_b, hamming).
    */
  private def contentNearDupPairs(decoded: DataFrame, grams: Column,
      pipeline: String, maxHamming: Int): DataFrame = {
    val fps = graft.operators.Dedup
      .simhashLongOver(decoded, "media_id", grams)
      .withColumnRenamed("media_id", "id")
    graft.operators.Dedup
      .simhashNearDupPairs(fps, pipeline, maxHamming)
      .withColumnRenamed("doc_a", "media_a")
      .withColumnRenamed("doc_b", "media_b")
  }

  /** Perceptual-hash-style near-duplicate MEDIA pairs: decode each payload
    * (per-partition decoder shape, headers validated), fingerprint the
    * decoded CONTENT with a 60-bit SimHash over its character 4-grams, and
    * find pairs within hamming ≤ `maxHamming` via the capped quarter-band
    * machinery shared with text SimHash ([[graft.operators.Dedup]]).
    *
    * This is the dedup face the multimodal tier was missing (r8 verdict
    * task 6): the same banding/verification a real perceptual hash (pHash/
    * dHash over downsampled pixels) plugs into — a real codec would swap
    * the gram extraction for DCT-coefficient signs and nothing downstream
    * changes. The stub decode makes content = the synthetic payload's
    * UTF-8 text, which is what keeps the face oracle-checkable: DuckDB
    * recomputes the identical fingerprints from the documents table.
    */
  def mediaNearDupPairs(media: Dataset[MediaRecord], maxHamming: Int = 6)
      : DataFrame = {
    import media.sparkSession.implicits._
    val decoded = media.mapPartitions { it =>
      // per-partition decoder init would go here
      it.map { r =>
        val vh = VideoHeaders.decode(r.payload) // header validation, same as features
        (r.media_id,
          new String(r.payload, vh.contentOffset, vh.contentLength,
            java.nio.charset.StandardCharsets.UTF_8))
      }
    }.toDF("media_id", "content")
    contentNearDupPairs(decoded, contentGrams4, "mediaNearDupPairs", maxHamming)
  }

  /** Driver face over the synthetic media table. */
  def mediaNearDup(s: SparkSession, d: String, maxHamming: Int = 6): DataFrame =
    mediaNearDupPairs(syntheticMediaFromDocuments(s, d), maxHamming)

  /** Synthesize a media table with REAL encoded payloads (deterministic from
    * doc_id, no external data):
    *   - image (doc_id % 3 == 0): a genuine PNG, (id%61+4) × (id%37+4) px,
    *     solid RGB (id*37 % 256, id*59 % 256, id*83 % 256) — so the decoded
    *     pixel features are closed-form in doc_id and the DuckDB oracle can
    *     recompute them without a codec;
    *   - audio (doc_id % 3 == 1): a genuine WAV, (id%800+50) PCM16 frames of
    *     constant sample value (id%2000 − 1000);
    *   - video (doc_id % 3 == 2): a genuine MP4 box tree
    *     ([[Mp4Headers.build]]) over the document text as mdat payload,
    *     dims (id%640+1) × (id%480+1), duration (id%7200)·500+1000 ms —
    *     the features face parses REAL tkhd/mvhd boxes (no codec needed;
    *     frame pixels would need one, and stay honestly undecoded).
    */
  def syntheticRealMedia(spark: SparkSession, dir: String): Dataset[MediaRecord] =
    syntheticRealMedia(spark, dir, None)

  /** `onlyKind` prunes the SOURCE SCAN to one kind's doc_id residue before
    * any payload is synthesized. This closed the r12 verdict's
    * q_media_features-vs-pipeline gap (task 5): the frame-sampling leg used
    * to take the FULL synthesized table and filter `_.kind == "video"`
    * AFTER the typed map — a second full synthesis pass whose PNG/WAV
    * encodes (the dominant cost; encode ≳ decode for PNG) were built only
    * to be dropped. A kind-pruned second pass synthesizes ⅓ of the rows,
    * all of them the cheap stub payloads — and with a REAL media table the
    * same predicate is a partition/pushdown filter on the `kind` column,
    * which is why the knob belongs on the source, not after the codec.
    */
  def syntheticRealMedia(spark: SparkSession, dir: String,
      onlyKind: Option[String],
      timers: CodecTimers = CodecTimers.Disabled): Dataset[MediaRecord] = {
    import spark.implicits._
    val residue = onlyKind.map {
      case "image" => 0L
      case "audio" => 1L
      case "video" => 2L
      case other => throw new IllegalArgumentException(s"unknown kind: $other")
    }
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("source"))
    residue.map(r => docs.filter(col("doc_id") % 3 === r)).getOrElse(docs)
      .as[(Long, String, String)]
      .mapPartitions { it =>
        // per-partition: ImageIO SPI registry warms once, then row loop
        it.map { case (id, text, source) =>
          timers.synth { (id % 3) match {
            case 0 =>
              val rgb = (((id * 37) % 256).toInt << 16) |
                (((id * 59) % 256).toInt << 8) | ((id * 83) % 256).toInt
              MediaRecord(id, "image",
                MediaCodecs.encodePng((id % 61).toInt + 4, (id % 37).toInt + 4, rgb),
                source)
            case 1 =>
              val v = ((id % 2000) - 1000).toShort
              MediaRecord(id, "audio",
                MediaCodecs.encodeWav(Array.fill((id % 800).toInt + 50)(v)), source)
            case _ =>
              // REAL MP4 container (ftyp+moov+mdat), dims/duration closed-
              // form in doc_id, document text as the mdat payload — the
              // features face then reads ACTUAL tkhd/mvhd boxes
              MediaRecord(id, "video",
                Mp4Headers.build((id % 640).toInt + 1, (id % 480).toInt + 1,
                  durationMs = (id % 7200) * 500 + 1000,
                  text.getBytes("UTF-8")), source)
          } }
        }
      }
  }

  /** Driver face over the REAL parsed MP4 headers (r16): per-corpus rollup
    * of `mvhd` durations and `mdat` extents from the synthetic video
    * table's actual box trees. Exists so the container parse is ORACLE-
    * checked, not just spec-pinned: duration is closed-form in doc_id
    * ((id%7200)·500+1000 ms, see [[syntheticRealMedia]]) and content is
    * the document text, so DuckDB recomputes every aggregate from
    * `documents` without touching a byte of MP4. Source scan is
    * kind-pruned (video = ⅓ of ids, all cheap header builds).
    */
  def videoHeaderStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    syntheticRealMedia(s, d, Some("video"))
      .mapPartitions { it =>
        it.map { r =>
          val vh = VideoHeaders.decode(r.payload)
          (r.media_id, vh.durationMs, vh.contentLength.toLong)
        }
      }
      .toDF("media_id", "duration_ms", "content_bytes")
      .agg(count(lit(1)).as("n"),
        sum(col("duration_ms")).as("sum_duration_ms"),
        min(col("duration_ms")).as("min_duration_ms"),
        max(col("duration_ms")).as("max_duration_ms"),
        sum(col("content_bytes")).as("sum_content_bytes"))
  }

  /** Motion-JPEG: the one video codec the sandbox can decode for REAL —
    * every frame is a plain baseline JPEG, and `javax.imageio` ships a JPEG
    * codec (r16 verdict task 6). This closes the frame-PIXEL gap one honest
    * notch: MJPEG-in-MP4 payloads get actual per-frame pixel decode
    * ([[mjpegFrameStats]]), while other codecs keep the clearly-labelled
    * no-codec stub ([[sampleFrames]]'s chunk path).
    *
    * Fixture closed forms (all in doc_id, video ids = doc_id % 3 == 2):
    * frames/payload = id%4+1, frame dims (id%16+8) × (id%12+8), frame f's
    * color = palette[(id+f) % 64]. The JPEG DC quantization means decoded
    * pixel values are codec-determined, NOT the encoded RGB — the oracle
    * closes the form through [[decodedPaletteSums]]: one 8×8 probe per
    * palette color (decode is uniform and size-independent for solid
    * fills; spec-pinned), serialized into the generated SQL as a 64-row
    * VALUES table — the trained-centroid-literal pattern.
    */
  object Mjpeg {
    val PaletteSize = 64

    def paletteRgb(ci: Int): Int =
      (((ci * 37) % 256) << 16) | (((ci * 59) % 256) << 8) | ((ci * 83) % 256)

    def frameCount(id: Long): Int = (id % 4).toInt + 1
    def frameDims(id: Long): (Int, Int) =
      ((id % 16).toInt + 8, (id % 12).toInt + 8)
    def frameColorIndex(id: Long, f: Int): Int = ((id + f) % PaletteSize).toInt

    /** Decoded per-pixel (r+g+b) of each palette color, probed through the
      * REAL codec once per color at 8×8. Driver-side, 64 tiny round-trips.
      */
    lazy val decodedPaletteSums: IndexedSeq[Long] =
      (0 until PaletteSize).map { ci =>
        val img = MediaCodecs.readImage(
          MediaCodecs.encodeJpeg(8, 8, paletteRgb(ci)))
        val p = img.getRGB(0, 0)
        (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)).toLong
      }

    /** One MJPEG-in-MP4 payload: real box tree, mdat = concatenated JPEGs. */
    def buildPayload(id: Long): Array[Byte] = {
      val (w, h) = frameDims(id)
      val content = (0 until frameCount(id)).flatMap(f =>
        MediaCodecs.encodeJpeg(w, h, paletteRgb(frameColorIndex(id, f)))).toArray
      Mp4Headers.build(w, h, durationMs = frameCount(id) * 100L, content)
    }

    /** JPEG SOI leads the content slice — the MJPEG dispatch test, safe
      * against the text/GRFT fixtures (0xFF is not a valid UTF-8 lead
      * byte). Tested in place, so callers that only need the verdict
      * (extractFeatures' sampled-frames count) don't copy the content out
      * of the payload first. Requires the WHOLE slice to lie inside the
      * payload (r18 ADVICE): callers copyOfRange the extent next, and
      * copyOfRange zero-PADS past the array end — a corrupt contentLength
      * would otherwise split frames over fabricated zero bytes instead of
      * falling back to the chunk path.
      */
    def looksLikeMjpegAt(payload: Array[Byte], off: Int, len: Int): Boolean =
      len >= 4 && off >= 0 && len <= payload.length - off &&
        payload(off) == 0xff.toByte && payload(off + 1) == 0xd8.toByte

    /** Split concatenated JPEGs on their SOI..EOI extents. Baseline JPEG
      * entropy data byte-stuffs 0xFF as FF 00, so FF D9 inside a frame IS
      * the end-of-image marker — the scan is exact, not heuristic. Fails
      * loudly on a frame not starting with SOI or an unterminated tail
      * (same contract as the box walk).
      */
    def splitJpegFrames(content: Array[Byte]): Seq[(Int, Array[Byte])] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Array[Byte])]
      var pos = 0
      while (pos < content.length) {
        require(pos + 4 <= content.length &&
            content(pos) == 0xff.toByte && content(pos + 1) == 0xd8.toByte,
          s"MJPEG frame at $pos does not start with SOI")
        var j = pos + 2
        while (j + 1 < content.length &&
            !(content(j) == 0xff.toByte && content(j + 1) == 0xd9.toByte)) j += 1
        require(j + 1 < content.length, s"MJPEG frame at $pos has no EOI")
        out += ((pos, java.util.Arrays.copyOfRange(content, pos, j + 2)))
        pos = j + 2
      }
      out.toSeq
    }
  }

  /** MJPEG fixture population: the EVEN video ids. ImageIO's per-call
    * overhead (~2-3 ms/frame: stream + reader setup, not pixels) makes
    * frame volume the cost knob — half the videos ≈ 200k frames at 100×
    * keeps the face a real-decode demonstration, not a codec-overhead
    * benchmark; the closed forms and the oracle carry the same predicate.
    */
  val MjpegResidue = 2L

  /** Synthesize the MJPEG video table (REAL MP4 container, REAL JPEG
    * frames) over the video-residue doc ids — the second pass is
    * kind-pruned at the source like [[syntheticRealMedia]]'s.
    */
  def syntheticMjpegMedia(spark: SparkSession, dir: String,
      timers: CodecTimers = CodecTimers.Disabled): Dataset[MediaRecord] = {
    import spark.implicits._
    graft.Tables.documents(spark, dir)
      .filter(col("doc_id") % 3 === 2 && col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("source"))
      .as[(Long, String)]
      .mapPartitions { it =>
        it.map { case (id, source) =>
          timers.synth(MediaRecord(id, "video", Mjpeg.buildPayload(id), source))
        }
      }
  }

  /** REAL frame-pixel decode over the MJPEG table: the 1:N frame generator
    * ([[sampleFrames]]' MJPEG dispatch) feeds per-frame ImageIO decode;
    * dims and pixel sums come from actually-decoded rasters. Oracle is
    * generated ([[Mjpeg.decodedPaletteSums]] literals): every aggregate is
    * closed-form in doc_id once the 64 probed colors are known.
    */
  def mjpegFrameStats(s: SparkSession, d: String,
      timers: CodecTimers = CodecTimers.Disabled): DataFrame =
    mjpegFrameStats(syntheticMjpegMedia(s, d, timers), timers)

  /** Core over any MJPEG media dataset — the driver face feeds it the
    * staged landing so the JPEG-encode synthesis is paid once per dataset,
    * not once per run (the stream-landing pattern).
    */
  def mjpegFrameStats(media: Dataset[MediaRecord],
      timers: CodecTimers): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    sampleFrames(media)
      .mapPartitions { it =>
        // per-frame decode through the REUSED thread-local JPEG reader:
        // the per-call SPI search + temp-file cache of ImageIO.read was
        // the face's dominant cost at 100× (r17 verdict task 7)
        it.map { fr =>
          timers.decode {
            val (w, h, px) = MediaCodecs.rasterFeatures(
              MediaCodecs.readJpegReused(fr.frame_bytes))
            (fr.media_id, w.toLong, h.toLong, px)
          }
        }
      }
      .toDF("media_id", "w", "h", "px")
      .agg(count(lit(1)).as("n_frames"),
        sum(col("w")).as("sum_width"),
        sum(col("h")).as("sum_height"),
        sum(col("px")).as("sum_pixels"))
  }

  /** Synthesize an all-GRFT media table from `documents` text bytes — the
    * fixture for the perceptual near-dup face, whose "decoded content" must
    * be the document text so DuckDB can recompute identical fingerprints.
    */
  def syntheticMediaFromDocuments(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("source"))
      .as[(Long, String, String)]
      .map { case (id, text, source) =>
        val content = text.getBytes("UTF-8")
        val kind = (id % 3) match {
          case 0 => "image"
          case 1 => "audio"
          case _ => "video"
        }
        MediaRecord(id, kind,
          encodeFake((id % 640).toInt + 1, (id % 480).toInt + 1, content), source)
      }
  }

  // ------------------------------------------------------ audio (WAV/PCM)

  /** One WAV payload per document — the audio modality's typed row. A
    * separate fixture family from [[syntheticRealMedia]]'s constant-sample
    * WAVs: these carry multi-channel, multi-rate, text-derived WAVEFORMS,
    * so per-channel features (peak, energy, RMS) are non-degenerate and
    * the near-dup face fingerprints real decoded signal.
    */
  case class AudioRecord(media_id: Long, payload: Array[Byte], source: String)

  /** Per-(payload, channel) features off the REAL decode — the audio
    * analog of [[MediaFeatures]]. Integer/fixed-point by construction so
    * the DuckDB oracle replays every value exactly: `duration_ms` is
    * integer floor-division, `peak`/`sum_samples`/`sum_sq` are exact
    * integer folds over the decoded PCM, and `rms` is one exactly-rounded
    * IEEE division + sqrt of those integers.
    */
  case class AudioChannelFeatures(
      media_id: Long,
      channel: Int,
      channels: Int,
      sample_rate: Int,
      n_frames: Long,
      duration_ms: Long,
      peak: Long,
      sum_samples: Long,
      sum_sq: Long,
      rms: Double)

  /** WAV/PCM16 codec plumbing beyond the mono helper in [[MediaCodecs]]:
    * interleaved multi-channel encode, and decode through a REUSED
    * per-thread `AudioFileReader` — `AudioSystem.getAudioInputStream`
    * re-walks the provider registry per call (the §22.7 ImageIO lesson,
    * applied to `javax.sound`); the JDK's WAV reader is located once per
    * executor thread via the public `spi.AudioFileReader` service and
    * reused for every payload. BinaryPipelineSpec pins sample-exact
    * equality between the reused path and the `AudioSystem` path.
    */
  object AudioCodecs {
    import java.io.ByteArrayInputStream
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem, UnsupportedAudioFileException}

    /** The fixture's swept sample rates (all divide 1000·frames exactly
      * into the floor the oracle replays). */
    val Rates: Array[Int] = Array(8000, 16000, 32000)

    /** Encode channel-interleaved PCM16 samples as a WAV file — the
      * canonical 44-byte RIFF/fmt/data header written DIRECTLY. The
      * `AudioSystem.write` path produces byte-identical files (spec-pinned
      * mono AND stereo) but pays ~4.5 ms/call of stream plumbing, which at
      * the 100× fixture family was 2269 task-seconds of staging CPU for
      * 50 MB of WAVs; the header is 11 little-endian fields, so the
      * fixture synthesizer writes them itself and the REAL codec stays on
      * the decode side where it earns its keep ([[audioInputReused]]).
      */
    def encodeWavPcm16(interleaved: Array[Short], channels: Int,
        rateHz: Float): Array[Byte] = {
      require(channels > 0 && interleaved.length % channels == 0,
        s"interleaved length ${interleaved.length} not a multiple of $channels")
      val dataBytes = 2 * interleaved.length
      val rate = rateHz.toInt
      val blockAlign = 2 * channels
      val out = new Array[Byte](44 + dataBytes)
      def le32(off: Int, v: Int): Unit = {
        out(off) = (v & 0xff).toByte; out(off + 1) = ((v >> 8) & 0xff).toByte
        out(off + 2) = ((v >> 16) & 0xff).toByte; out(off + 3) = ((v >> 24) & 0xff).toByte
      }
      def le16(off: Int, v: Int): Unit = {
        out(off) = (v & 0xff).toByte; out(off + 1) = ((v >> 8) & 0xff).toByte
      }
      def tag(off: Int, s: String): Unit =
        System.arraycopy(s.getBytes("US-ASCII"), 0, out, off, 4)
      tag(0, "RIFF"); le32(4, 36 + dataBytes); tag(8, "WAVE")
      tag(12, "fmt "); le32(16, 16)
      le16(20, 1)                       // PCM
      le16(22, channels)
      le32(24, rate)
      le32(28, rate * blockAlign)       // byte rate
      le16(32, blockAlign)
      le16(34, 16)                      // bits per sample
      tag(36, "data"); le32(40, dataBytes)
      var i = 0
      while (i < interleaved.length) {
        out(44 + 2 * i) = (interleaved(i) & 0xff).toByte
        out(44 + 2 * i + 1) = ((interleaved(i) >> 8) & 0xff).toByte
        i += 1
      }
      out
    }

    /** The `AudioSystem.write` form of [[encodeWavPcm16]] — kept as the
      * spec's byte-equality reference (the direct header writer must
      * produce exactly what the JDK encoder produces). */
    private[graft] def encodeWavPcm16ViaJdk(interleaved: Array[Short],
        channels: Int, rateHz: Float): Array[Byte] = {
      val pcm = new Array[Byte](2 * interleaved.length)
      var i = 0
      while (i < interleaved.length) {
        pcm(2 * i) = (interleaved(i) & 0xff).toByte
        pcm(2 * i + 1) = ((interleaved(i) >> 8) & 0xff).toByte
        i += 1
      }
      val fmt = new AudioFormat(rateHz, 16, channels, true, false)
      val ais = new AudioInputStream(new ByteArrayInputStream(pcm), fmt,
        (interleaved.length / channels).toLong)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

    // the JDK ships its WAV reader as a java.desktop service provider; one
    // ServiceLoader walk per thread finds it, probing each candidate with
    // a 2-frame WAV (a reader that rejects the probe can't read the
    // fixtures either). Null → the AudioSystem fallback below.
    private lazy val probeWav: Array[Byte] =
      encodeWavPcm16(Array[Short](0, 0), 1, 8000f)
    private val wavReaders =
      new ThreadLocal[javax.sound.sampled.spi.AudioFileReader] {
        override def initialValue(): javax.sound.sampled.spi.AudioFileReader = {
          val it = java.util.ServiceLoader
            .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
          while (it.hasNext) {
            val r = it.next()
            try {
              r.getAudioInputStream(new ByteArrayInputStream(probeWav)).close()
              return r
            } catch {
              case _: UnsupportedAudioFileException => ()
              case _: java.io.IOException => ()
            }
          }
          null
        }
      }

    /** Open a payload through the reused per-thread reader (provider walk
      * amortized), falling back to the full `AudioSystem` search when no
      * provider volunteered at thread init. */
    def audioInputReused(payload: Array[Byte]): AudioInputStream = {
      val r = wavReaders.get()
      if (r == null) AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
      else r.getAudioInputStream(new ByteArrayInputStream(payload))
    }

    /** Decode a WAV payload to (channels, rateHz, frames, interleaved
      * PCM16 LE bytes) — fails loudly on any non-PCM16-LE shape, same
      * contract as the image codecs. */
    def decodePcm16(payload: Array[Byte]): (Int, Int, Long, Array[Byte]) = {
      val ais = audioInputReused(payload)
      try {
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian &&
            fmt.getChannels >= 1,
          s"unexpected WAV shape: $fmt")
        (fmt.getChannels, fmt.getSampleRate.toInt, ais.getFrameLength,
          ais.readAllBytes())
      } finally ais.close()
    }
  }

  /** The audio fixture's closed forms (shared between the synthesizer, the
    * feature face's expectations, and the generated-free static oracles):
    *   - channels  = doc_id % 2 + 1 (mono / stereo alternating);
    *   - rate      = [[AudioCodecs.Rates]][doc_id % 3];
    *   - frames    = byte-length of the document text (pure ASCII, so
    *                 length(text) in both engines);
    *   - channel 0 sample at frame t = (byte_t − 128) · 256 — the text
    *     byte recentred to signed and scaled to the PCM16 range, so the
    *     decoded signal inverts EXACTLY back to the text;
    *   - channel 1 sample (stereo) = (127 − byte_t) · 256 — the one's-
    *     complement mirror, so the two channels carry distinct (not
    *     merely copied) waveforms the per-channel rollups tell apart.
    * Everything downstream (features, fingerprints) is therefore
    * closed-form in (doc_id, text) and the DuckDB oracle replays it from
    * `documents` without any codec.
    */
  def audioSyntheticSample(b: Int, channel: Int): Short =
    if (channel == 0) (((b & 0xff) - 128) << 8).toShort
    else ((127 - (b & 0xff)) << 8).toShort

  def syntheticAudio(spark: SparkSession, dir: String,
      timers: CodecTimers = CodecTimers.Disabled): Dataset[AudioRecord] = {
    import spark.implicits._
    graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), col("source"))
      .as[(Long, String, String)]
      .mapPartitions { it =>
        it.map { case (id, text, source) =>
          timers.synth {
            val bytes = text.getBytes("UTF-8")
            val channels = (id % 2).toInt + 1
            val rate = AudioCodecs.Rates((id % 3).toInt)
            val interleaved = new Array[Short](bytes.length * channels)
            var t = 0
            while (t < bytes.length) {
              var c = 0
              while (c < channels) {
                interleaved(t * channels + c) = audioSyntheticSample(bytes(t), c)
                c += 1
              }
              t += 1
            }
            AudioRecord(id,
              AudioCodecs.encodeWavPcm16(interleaved, channels, rate.toFloat),
              source)
          }
        }
      }
  }

  /** Decode + per-channel feature extraction over an audio Dataset — the
    * audio `q_media_features` analog, one row per (payload, channel).
    * Row-local `mapPartitions` (decoder state per thread via the reused
    * reader), no shuffle: the output IS the per-channel rollup, so at
    * 100 TB this is a pure map over the payload table.
    */
  def audioChannelFeatures(media: Dataset[AudioRecord],
      timers: CodecTimers = CodecTimers.Disabled): Dataset[AudioChannelFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.flatMap { r =>
        timers.decode {
          val (channels, rate, frames, pcm) = AudioCodecs.decodePcm16(r.payload)
          val peak = new Array[Long](channels)
          val sum = new Array[Long](channels)
          val sumSq = new Array[Long](channels)
          var i = 0
          while (i + 1 < pcm.length) {
            val c = (i / 2) % channels
            val s = (((pcm(i) & 0xff) | (pcm(i + 1).toInt << 8)).toShort).toLong
            if (math.abs(s) > peak(c)) peak(c) = math.abs(s)
            sum(c) += s
            sumSq(c) += s * s
            i += 2
          }
          (0 until channels).map { c =>
            // frames == 0 (an empty payload) must yield rms 0.0, not the
            // NaN a 0/0 division produces — NaN would diverge from any
            // SQL oracle's NULL-on-empty semantics (r19 ADVICE)
            val rms = if (frames == 0L) 0.0
              else math.sqrt(sumSq(c).toDouble / frames)
            AudioChannelFeatures(r.media_id, c, channels, rate, frames,
              frames * 1000L / rate, peak(c), sum(c), sumSq(c), rms)
          }
        }
      }
    }
  }

  /** Audio fingerprint near-dup: decode channel 0, quantize each frame's
    * sample to a 6-bit amplitude level, fingerprint the level STRING with
    * the 60-bit SimHash over its 4-grams, and band/verify through the
    * capped machinery shared with text SimHash — the [[mediaNearDupPairs]]
    * shape with the gram stream coming from decoded SIGNAL, not payload
    * text. The quantization is what a real audio fingerprint (spectral
    * band energies) plugs into; here it is amplitude-bucketing, which the
    * oracle replays because sample t inverts to text byte t and the level
    * is `byte // 4` ([[audioSyntheticSample]]).
    */
  def audioNearDupPairs(media: Dataset[AudioRecord], maxHamming: Int = 6)
      : DataFrame = {
    import media.sparkSession.implicits._
    val decoded = media.mapPartitions { it =>
      it.map { r =>
        val (channels, _, frames, pcm) = AudioCodecs.decodePcm16(r.payload)
        val sb = new java.lang.StringBuilder(frames.toInt)
        var t = 0
        while (t < frames) {
          val i = t * channels * 2 // channel 0 of frame t
          val s = ((pcm(i) & 0xff) | (pcm(i + 1).toInt << 8)).toShort
          // invert the fixture scaling ((b−128)·256) back to the byte,
          // then 6-bit quantize: level = b/4, printable as chr(48+level)
          val b = (s >> 8) + 128
          sb.append((48 + b / 4).toChar)
          t += 1
        }
        (r.media_id, sb.toString)
      }
    }.toDF("media_id", "content")
    contentNearDupPairs(decoded, contentGrams4, "audioNearDupPairs", maxHamming)
  }

  // ---------------------------------------------- audio spectral fingerprint

  /** DFT window length (samples) and analyzed bin range of the spectral
    * fingerprint (r19 verdict task 6: a real audio near-dup fingerprints
    * the SPECTRUM, not raw amplitude). 32-sample windows with 10-bit
    * integer twiddles keep every value exact in Int64: |re|, |im| ≤
    * 32·32768·1024 ≈ 2³⁰ and re²+im² ≤ 2.4×10¹⁸ < 2⁶³ — so the whole
    * transform is integer arithmetic both engines replay identically.
    */
  val SpectralWindow = 32
  val SpectralBins = 8 // bins 1..8; DC (k=0) excluded — it is loudness, not pitch
  val TwiddleScale = 1024L

  /** Integer twiddle factors round(cos(2πkn/N)·1024) / round(−sin(·)·1024),
    * computed ONCE here and serialized as literal rows into the generated
    * DuckDB oracle ([[graft.SparkEntry.oracleSql]] `q_audio_spectral`) — both
    * engines share identical integers, so no libm cos/sin rounding can
    * diverge (the closed-form discipline of `q_audio_features`).
    */
  lazy val twiddleCos: Array[Array[Long]] =
    Array.tabulate(SpectralBins + 1, SpectralWindow)((k, n) =>
      Math.round(Math.cos(2.0 * Math.PI * k * n / SpectralWindow) * TwiddleScale))
  lazy val twiddleSin: Array[Array[Long]] =
    Array.tabulate(SpectralBins + 1, SpectralWindow)((k, n) =>
      Math.round(-Math.sin(2.0 * Math.PI * k * n / SpectralWindow) * TwiddleScale))

  /** Peak spectral bin of each non-overlapping [[SpectralWindow]]-sample
    * window: argmax over k ∈ [1, [[SpectralBins]]] of |DFT_k|² (exact
    * integer re²+im² with the scaled twiddles), ties → lowest k. Pure
    * function over the decoded samples — BinaryPipelineSpec pins it
    * against a hand-computed DFT on a synthetic pure tone.
    */
  def spectralPeakBins(samples: Array[Int]): Array[Int] = {
    val nw = samples.length / SpectralWindow
    val out = new Array[Int](nw)
    var w = 0
    while (w < nw) {
      var bestK = 1
      var bestM = -1L
      var k = 1
      while (k <= SpectralBins) {
        var re = 0L
        var im = 0L
        var n = 0
        while (n < SpectralWindow) {
          val x = samples(w * SpectralWindow + n).toLong
          re += x * twiddleCos(k)(n)
          im += x * twiddleSin(k)(n)
          n += 1
        }
        val m = re * re + im * im
        if (m > bestM) { bestM = m; bestK = k }
        k += 1
      }
      out(w) = bestK
      w += 1
    }
    out
  }

  /** Spectral audio near-dup: decode channel 0, DFT per 32-sample window
    * (integer twiddles), fingerprint the PEAK-BIN sequence ('1'..'8' per
    * window — the Shazam-style constellation reduced to its strongest
    * partial), SimHash the 4-grams of that sequence and band/verify/GATE
    * through the shared machinery ([[graft.operators.Dedup.simhashNearDupPairs]]
    * — same [[graft.operators.Dedup.PairRowsConfKey]] budget as every
    * enumerating pair face). Docs shorter than 4 windows (128 frames)
    * carry no spectral 4-gram and are excluded in both engines.
    *
    * Scale shape: decode + DFT is a pure map (row-local, reused
    * per-thread readers); everything after is the distinct-fingerprint
    * banded pipeline — no doc-quadratic term outside the gated expansion.
    * Oracle: the fixture waveform inverts to the text bytes
    * ([[audioSyntheticSample]]), so DuckDB rebuilds the samples from
    * `documents.text` and replays the identical integer DFT from the
    * serialized twiddle literals.
    */
  def audioSpectralPairs(media: Dataset[AudioRecord], maxHamming: Int = 6)
      : DataFrame = {
    import media.sparkSession.implicits._
    val decoded = media.mapPartitions { it =>
      it.flatMap { r =>
        val (channels, _, frames, pcm) = AudioCodecs.decodePcm16(r.payload)
        val n = frames.toInt
        val samples = new Array[Int](n)
        var t = 0
        while (t < n) {
          val i = t * channels * 2 // channel 0 of frame t
          samples(t) = (((pcm(i) & 0xff) | (pcm(i + 1).toInt << 8)).toShort).toInt
          t += 1
        }
        val peaks = spectralPeakBins(samples)
        if (peaks.length < 4) None
        else {
          val sb = new java.lang.StringBuilder(peaks.length)
          peaks.foreach(b => sb.append(('0' + b).toChar))
          Some((r.media_id, sb.toString))
        }
      }
    }.toDF("media_id", "content")
    contentNearDupPairs(decoded, expr(
      "transform(sequence(1, length(content) - 3), i -> substring(content, i, 4))"),
      "audioSpectralPairs", maxHamming)
  }
}
