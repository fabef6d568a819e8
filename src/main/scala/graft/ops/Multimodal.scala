package graft.ops

import graft.{Caches, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (builder brief): image/audio/video as opaque
  * `binary` columns with typed metadata, decoded / feature-extracted in
  * batched partition passes.
  *
  * Decode kernels come in two tiers. [[JdkCodecDecoder]] is REAL — the
  * JDK's built-in codecs (`javax.imageio` for PNG/JPEG/BMP/GIF/WBMP,
  * `javax.sound.sampled` for WAV/AIFF/AU) with raster/PCM-level feature
  * hashes, plus the real [[resizeImage]] resample and [[dhash64Image]]
  * perceptual-hash kernels, and the [[Y4m]] parser for uncompressed
  * Y4M video (real frame walk + pixel access, zero codec libraries —
  * r12 verdict item #5); spec-verified on payloads generated through
  * the same JDK encoders. [[StubDecoder]] remains for COMPRESSED video
  * (the JDK ships no video codec) and for the ORACLED mm_* queries,
  * whose synthesized payloads are text bytes, not media — its
  * deterministic arithmetic is mirrored by the SQL oracles so the
  * surrounding plumbing is hash-verified end-to-end. That plumbing is
  * what matters at 100 TB either way: the schema (binary payload + typed
  * meta), the batched `mapPartitions` execution (one decoder instance
  * per partition, streaming batches, no driver collect — the same
  * execution shape as `mapInPandas` batches), and the column-pruned scan
  * feeding it.
  */
object Multimodal {

  /** A media record: payload is an opaque binary column. */
  case class MediaRecord(media_id: Long, kind: String, payload: Array[Byte])

  /** Planted-twin id offset for the pHash legs — far above any corpus id
    * (the 100k-doc probe corpus exposed that the previous +100,000
    * offset COLLIDES with real media ids at scale, silently merging
    * unrelated records into twin families).
    */
  val TwinOffset = 100000000L

  /** Decoded metadata + a feature fingerprint. */
  case class DecodedMedia(media_id: Long, kind: String, n_bytes: Long,
                          width: Int, height: Int, n_frames: Int,
                          feature_hash: String)

  /** Decoder contract: one instance per partition, invoked per batch.
    * A real deployment binds an image/audio library here.
    */
  trait MediaDecoder extends Serializable {
    def decode(r: MediaRecord): DecodedMedia
  }

  /** REAL decoder bound to the JDK's BUILT-IN codecs — no external
    * library: `javax.imageio` reads PNG/JPEG/BMP/GIF/WBMP payloads and
    * `javax.sound.sampled` reads WAV/AIFF/AU audio. Field semantics per
    * modality (documented contract):
    *
    *   - image: width/height = decoded pixel dims, n_frames = 1,
    *     feature_hash = md5 over the decoded ARGB raster in row-major
    *     order — two different ENCODINGS of the same pixels (e.g. the
    *     same image as PNG and BMP) hash identically, which the
    *     container-byte hash cannot do;
    *   - audio: width = sample rate (Hz), height = channel count,
    *     n_frames = PCM frame count, feature_hash = md5 over the decoded
    *     PCM stream (same equivalence argument);
    *   - video: uncompressed Y4M decodes for real ([[Y4m]] — header
    *     dims, counted frame walk, hash over the decoded plane bytes);
    *     COMPRESSED containers have no JVM codec, so [[StubDecoder]]
    *     remains the declared stub for those only.
    *
    * Unreadable payloads fail fast with the media id (a curation
    * pipeline routes those to a quarantine sink; silently faking
    * dimensions would poison downstream filters). The oracled mm_*
    * queries keep [[StubDecoder]] over the synthesized text-byte table —
    * real-codec correctness is spec-tier: the suite generates REAL
    * PNG/BMP/WAV payloads through the same JDK encoders and asserts the
    * decoded facts round-trip through the Spark partition pass.
    */
  object JdkCodecDecoder extends MediaDecoder {
    def decode(r: MediaRecord): DecodedMedia = r.kind match {
      case "image" =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.payload))
        require(img != null,
          s"media ${r.media_id}: no JDK ImageReader accepts this payload")
        val md = java.security.MessageDigest.getInstance("MD5")
        val row = java.nio.ByteBuffer.allocate(4 * img.getWidth)
        var y = 0
        while (y < img.getHeight) {
          row.clear()
          var x = 0
          while (x < img.getWidth) { row.putInt(img.getRGB(x, y)); x += 1 }
          md.update(row.array, 0, 4 * img.getWidth)
          y += 1
        }
        DecodedMedia(r.media_id, r.kind, r.payload.length.toLong,
          img.getWidth, img.getHeight, 1,
          md.digest.map("%02x".format(_)).mkString)
      case "audio" =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.payload))
        try {
          val fmt = ais.getFormat
          val md = java.security.MessageDigest.getInstance("MD5")
          val buf = new Array[Byte](8192)
          var n = ais.read(buf)
          while (n > 0) { md.update(buf, 0, n); n = ais.read(buf) }
          DecodedMedia(r.media_id, r.kind, r.payload.length.toLong,
            fmt.getSampleRate.toInt, fmt.getChannels,
            ais.getFrameLength.toInt,
            md.digest.map("%02x".format(_)).mkString)
        } finally ais.close()
      case "video" =>
        // real kernel for the UNCOMPRESSED container (Y4M — see [[Y4m]]):
        // width/height from the stream header, n_frames counted from the
        // actual FRAME walk, feature_hash over the decoded plane bytes
        // (luma + chroma in stream order) so two differently-padded
        // containers of the same pixels hash identically. Compressed
        // video (no codec in the JVM) stays the declared stub.
        require(Y4m.isY4m(r.payload),
          s"media ${r.media_id}: only uncompressed Y4M video has a JVM " +
            "kernel — compressed containers need an external codec " +
            "(declared stub); route through StubDecoder or transcode " +
            "to Y4M at ingest")
        val hd = Y4m.parseHeader(r.payload)
        val md = java.security.MessageDigest.getInstance("MD5")
        var frames = 0
        Y4m.foreachFrame(r.payload) { (_, off) =>
          md.update(r.payload, off, hd.frameBytes)
          frames += 1
        }
        DecodedMedia(r.media_id, r.kind, r.payload.length.toLong,
          hd.width, hd.height, frames,
          md.digest.map("%02x".format(_)).mkString)
      case other =>
        throw new IllegalArgumentException(
          s"media ${r.media_id}: no JDK codec for kind '$other' — " +
            "bind a video decoder or route through StubDecoder")
    }
  }

  /** Real image resample on the JDK raster pipeline: decode, scale so the
    * longest side is `maxDim` (aspect preserved, floor — the same integer
    * rule as [[resize]]), re-encode PNG. The actual kernel behind the
    * resize stage when payloads are real images; bilinear interpolation.
    * CONTRACT: an already-small payload passes through BYTE-IDENTICAL in
    * its ORIGINAL container (no decode/re-encode round-trip) — callers
    * that need a normalized container must re-encode unconditionally.
    */
  def resizeImage(payload: Array[Byte], maxDim: Int): Array[Byte] = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(payload))
    require(img != null, "resizeImage: no JDK ImageReader accepts payload")
    val longSide = math.max(img.getWidth, img.getHeight).toLong
    if (longSide <= maxDim) return payload
    val w = (img.getWidth.toLong * maxDim / longSide).toInt.max(1)
    val h = (img.getHeight.toLong * maxDim / longSide).toInt.max(1)
    val out = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    try {
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, w, h, null)
    } finally g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(out, "png", bos)
    bos.toByteArray
  }

  /** Real perceptual dHash over a decoded image (the classic 9×8 kernel):
    * downsample to 9×8 grayscale (box mean over the source grid — no
    * codec dependence), bit (y·8+x) set iff gray(x,y) < gray(x+1,y).
    * Local pixel edits move only the bits whose cells they touch, so
    * near-identical images land within a small Hamming radius — the real
    * kernel the [[phash64]] byte-sampling stub stands in for.
    *
    * FULLY INTEGER (the repo's engine-exactness discipline): luma is the
    * ITU-R 601 weights scaled by 1000 (299r + 587g + 114b, exact in
    * Long), and the mean comparison cross-multiplies cell sums —
    * sum₁·n₂ < sum₂·n₁ — instead of dividing. That makes a uniform
    * brightness lift PROVABLY hash-preserving (both sides gain the same
    * lift·1000·n₁·n₂ term), where a double mean flipped analytic ties
    * depending on rounding (measured: the 100k-image probe's +8 twins
    * moved bits until this was integer).
    */
  def dhash64Image(img: java.awt.image.BufferedImage): Long = {
    val gw = 9; val gh = 8
    val lum = Array.ofDim[Long](gh, gw)
    val cnt = Array.ofDim[Long](gh, gw)
    val (iw, ih) = (img.getWidth, img.getHeight)
    var gy = 0
    while (gy < gh) {
      var gx = 0
      while (gx < gw) {
        val x0 = gx * iw / gw; val x1 = math.max((gx + 1) * iw / gw, x0 + 1)
        val y0 = gy * ih / gh; val y1 = math.max((gy + 1) * ih / gh, y0 + 1)
        var sum = 0L; var n = 0L
        var y = y0
        while (y < y1 && y < ih) {
          var x = x0
          while (x < x1 && x < iw) {
            val rgb = img.getRGB(x, y)
            sum += 299L * ((rgb >> 16) & 0xff) + 587L * ((rgb >> 8) & 0xff) +
              114L * (rgb & 0xff)
            n += 1; x += 1
          }
          y += 1
        }
        lum(gy)(gx) = sum; cnt(gy)(gx) = math.max(n, 1L)
        gx += 1
      }
      gy += 1
    }
    var h = 0L
    var i = 0
    while (i < 64) {
      val y = i / 8; val x = i % 8
      if (lum(y)(x) * cnt(y)(x + 1) < lum(y)(x + 1) * cnt(y)(x))
        h |= (1L << i)
      i += 1
    }
    h
  }

  /** STUB decoder — deterministic fake standing in for a codec on the
    * SYNTHESIZED text-byte media table (the oracled mm_* queries, whose
    * payloads are not real media) and for the video modality the JDK
    * cannot decode; [[JdkCodecDecoder]] is the real kernel for image and
    * audio payloads. The arithmetic below is mirrored by the SQL oracle
    * so the plumbing is hash-verified end-to-end.
    */
  object StubDecoder extends MediaDecoder {
    def decode(r: MediaRecord): DecodedMedia = {
      val n = r.payload.length.toLong
      DecodedMedia(r.media_id, r.kind, n,
        width = (64 + n % 576).toInt,
        height = (64 + (n * 7) % 456).toInt,
        n_frames = if (r.kind == "video") (1 + n % 16).toInt else 1,
        feature_hash = md5Hex(r.payload))
    }
    private def md5Hex(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5").digest(b)
        .map("%02x".format(_)).mkString
  }

  /** Batched decode pass: Dataset[MediaRecord] → Dataset[DecodedMedia] via
    * mapPartitions — the decoder initializes once per partition and streams
    * records (the Spark-native analogue of a Pandas-UDF batch loop).
    */
  def decodeAll(ds: Dataset[MediaRecord], decoder: MediaDecoder): Dataset[DecodedMedia] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      // per-partition decoder setup would go here (codec contexts, GPU…)
      it.map(decoder.decode)
    }
  }

  /** Synthesize a media table from `documents` (payload = utf8 bytes,
    * kind by doc_id mod 3) — the container-safe stand-in for reading real
    * image/audio columns.
    */
  def mediaFromDocs(s: SparkSession, dir: String): Dataset[MediaRecord] = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .selectExpr("doc_id AS media_id",
        "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind",
        "encode(text, 'UTF-8') AS payload")
      .as[MediaRecord]
  }

  /** Driver-checkable query: full decode pass over the synthesized media
    * table. The oracle mirrors the stub arithmetic in SQL.
    */
  def mmDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    decodeAll(mediaFromDocs(s, dir), StubDecoder)
      .toDF()
      .select(col("media_id"), col("kind"), col("n_bytes"),
        col("width"), col("height"), col("n_frames"), col("feature_hash"))
      .orderBy("media_id")
  }

  /** Driver-checkable REAL-codec query: synthesize actual PNG images and
    * WAV audio with ANALYTICALLY-KNOWN facts (dims / sample rate /
    * channels / frame count derived from doc_id), round-trip them
    * through [[JdkCodecDecoder]] in the batched partition pass, and
    * report the decoded facts. The DuckDB oracle computes the same facts
    * from the id formula WITHOUT decoding — so a hash match proves the
    * real encode→decode path reproduces the planted ground truth
    * end-to-end (the one way a SQL engine can oracle a codec).
    * Container-byte-dependent fields (payload size) are deliberately
    * not emitted: they would tie the hash to the PNG encoder version.
    */
  def mmDecodeReal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.load(s, dir, "documents").select("doc_id")
      .as[Long].map { id =>
        if (id % 2 == 0) {
          val w = 16 + (id % 17).toInt
          val h = 16 + (id * 3 % 13).toInt
          val img = new java.awt.image.BufferedImage(w, h,
            java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val g = ((id * 31 + x * 7 + y * 13) % 256).toInt
              img.setRGB(x, y, (g << 16) | (g << 8) | g)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          MediaRecord(id, "image", bos.toByteArray)
        } else {
          val nFrames = 100 + (id % 50).toInt
          val channels = 1 + (id % 2).toInt // odd ids: always 2 here
          val fmt = new javax.sound.sampled.AudioFormat(
            8000f, 16, channels, true, false)
          val pcm = new Array[Byte](nFrames * fmt.getFrameSize)
          var i = 0
          while (i < pcm.length) { pcm(i) = ((id + i * 73) % 251).toByte; i += 1 }
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, nFrames.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          MediaRecord(id, "audio", bos.toByteArray)
        }
      }
    decodeAll(media, JdkCodecDecoder).toDF()
      .select(col("media_id"), col("kind"), col("width"), col("height"),
        col("n_frames"))
      .orderBy("media_id")
  }

  /** One grayscale-histogram bin of a decoded image. */
  case class ImgHistBin(media_id: Long, bin: Int, n_px: Long)

  /** Per-image grayscale intensity histogram over the REAL decode path
    * (javax.imageio) — the first-pass image statistic every vision-data
    * pipeline computes (exposure/clipping screens, near-constant-image
    * drops, dedup pre-binning). Bins the red channel (the planted
    * corpus is gray, so r=g=b) into `bins` equal-width buckets; emits
    * only non-empty bins, one row each.
    *
    * Scale shape: a typed partition pass (decode amortized per
    * partition), per-image O(bins) state, output rows ≤ bins per image;
    * the only exchange is the presentation ORDER BY.
    */
  def mmImgHist(media: Dataset[MediaRecord], bins: Int = 16)
      : Dataset[ImgHistBin] = {
    require(bins >= 2 && 256 % bins == 0,
      s"mmImgHist: bins must divide 256, got $bins")
    import media.sparkSession.implicits._
    val width = 256 / bins
    media.flatMap { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.payload))
      require(img != null, s"media ${r.media_id}: not a decodable image")
      val counts = new Array[Long](bins)
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          val red = (img.getRGB(x, y) >> 16) & 0xff
          counts(red / width) += 1
          x += 1
        }
        y += 1
      }
      counts.indices.collect {
        case b if counts(b) > 0 => ImgHistBin(r.media_id, b, counts(b))
      }
    }
  }

  /** The oracle-checked form: the [[mmDecodeReal]] planted gradient PNGs
    * (even doc ids; gray g = (id·31 + x·7 + y·13) % 256 at w×h =
    * (16 + id%17) × (16 + 3·id%13)) — the DuckDB oracle replays the
    * per-pixel formula codec-free, so a hash match proves the real PNG
    * encode→decode→pixel walk lands on planted per-pixel CONTENT (one
    * step past mm_decode_real's container facts).
    */
  def mmImgHist(s: SparkSession, dir: String): DataFrame =
    mmImgHist(plantedGradientPngs(s, dir)).toDF()
      .orderBy("media_id", "bin")

  /** The shared planted-gradient REAL-PNG corpus of the image content
    * oracles (mm_imghist / mm_thumb): even doc ids, gray
    * g = (id·31 + x·7 + y·13) % 256 at w×h = (16 + id%17) ×
    * (16 + 3·id%13), encoded through javax.imageio — one builder so
    * the entries and their DuckDB formula replays cannot drift.
    */
  private def plantedGradientPngs(s: SparkSession,
      dir: String): Dataset[MediaRecord] = {
    import s.implicits._
    Tables.load(s, dir, "documents").select("doc_id")
      .as[Long].filter(_ % 2 == 0).map { id =>
        val w = 16 + (id % 17).toInt
        val h = 16 + (id * 3 % 13).toInt
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val g = ((id * 31 + x * 7 + y * 13) % 256).toInt
            img.setRGB(x, y, (g << 16) | (g << 8) | g)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        MediaRecord(id, "image", bos.toByteArray)
      }
  }

  /** One thumbnail cell: integer pixel count + gray sum — consumers
    * divide (keeping the relation float-free keeps it hash-exact).
    */
  case class ThumbCell(media_id: Long, cx: Int, cy: Int, n_px: Long,
                       px_sum: Long)

  /** Area-average thumbnail over the REAL decode path — the block-mean
    * downsample every perceptual hash starts from (aHash/pHash resize
    * step) and the cheapest correct image resize (each output cell is
    * the mean of ITS OWN pixel block, so no pixel is dropped and no
    * kernel ringing exists to drift between implementations). Pixel
    * (x, y) of a w×h decode lands in cell (⌊x·grid/w⌋, ⌊y·grid/h⌋);
    * the op emits per-cell integer (count, gray-sum) rows.
    *
    * This is the CONTENT-tier sibling of [[resize]]/[[mmResize]]
    * (which scale declared dimensions only — the stub-tier metadata
    * pass): mm_thumb walks the real decoded pixels, so its oracle
    * proves per-pixel content through the codec round-trip, the
    * mm_imghist discipline.
    *
    * Scale shape: a typed partition pass (decode amortized), per-image
    * O(grid²) state, output grid²-bounded per image; the only exchange
    * is the presentation ORDER BY.
    */
  def mmThumb(media: Dataset[MediaRecord], grid: Int = 8)
      : Dataset[ThumbCell] = {
    require(grid >= 1 && grid <= 64, s"mmThumb: grid in [1, 64], got $grid")
    import media.sparkSession.implicits._
    media.flatMap { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.payload))
      require(img != null, s"media ${r.media_id}: not a decodable image")
      val w = img.getWidth
      val h = img.getHeight
      val cnt = new Array[Long](grid * grid)
      val sum = new Array[Long](grid * grid)
      var y = 0
      while (y < h) {
        val cy = y * grid / h
        var x = 0
        while (x < w) {
          val cell = cy * grid + x * grid / w
          cnt(cell) += 1
          sum(cell) += (img.getRGB(x, y) >> 16) & 0xff
          x += 1
        }
        y += 1
      }
      cnt.indices.collect {
        case c if cnt(c) > 0 =>
          ThumbCell(r.media_id, c % grid, c / grid, cnt(c), sum(c))
      }
    }
  }

  /** The oracle-checked form: the mm_imghist planted gradient PNGs
    * (even doc ids; gray g = (id·31 + x·7 + y·13) % 256 at w×h =
    * (16 + id%17) × (16 + 3·id%13)) through the REAL PNG round-trip;
    * the DuckDB oracle replays the per-pixel formula codec-free and
    * aggregates the same integer cells.
    */
  def mmThumb(s: SparkSession, dir: String): DataFrame =
    mmThumb(plantedGradientPngs(s, dir)).toDF()
      .orderBy("media_id", "cy", "cx")

  /** Per-clip audio features (integer cores + derived 6-dp ratios). */
  case class AudioFeatures(media_id: Long, n_samples: Long, sample_rate: Int,
      sum_sq: Long, zero_crossings: Long, silent_frames: Long,
      n_frames_w: Long, rms: Double, zcr: Double, silence_frac: Double)

  /** REAL audio feature extraction — the audio analog of ta_quality, the
    * filtering pass a speech/audio training pipeline runs after decode:
    * per clip, loudness (RMS), zero-crossing rate (the cheap
    * voiced/unvoiced/noise discriminator), and the silent-frame fraction
    * (windows of `frameLen` samples whose peak is below
    * `silenceThresh`). Decodes REAL payloads through
    * `javax.sound.sampled` (the JdkCodecDecoder tier; 16-bit signed PCM
    * mono contract, non-conforming clips fail fast with the media id).
    *
    * Engine-exactness: the per-clip cores are INTEGERS (sample count,
    * Σ s² which fits a Long at 16-bit depth, strict sign-flip crossing
    * count, silent/total window counts); the three ratios derive from
    * them in fixed-form double arithmetic ROUND 6 — so a codec-free SQL
    * oracle can replay them closed-form on planted waveforms
    * (the mm_decode_real discipline).
    *
    * Scale design: one batched mapPartitions decode pass (the decodeAll
    * shape — a per-partition codec context amortizes), per-clip state is
    * O(1) (running sums, one frame peak), output one row per clip; the
    * trailing ORDER BY is presentation-only.
    */
  def mmAudioFeat(media: Dataset[MediaRecord], frameLen: Int = 240,
      silenceThresh: Int = 1): Dataset[AudioFeatures] = {
    require(frameLen >= 1, s"mmAudioFeat: frameLen must be >= 1, got $frameLen")
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.payload))
        try {
          val fmt = ais.getFormat
          // !isBigEndian belongs in the fail-fast set: the sample loop
          // below assumes little-endian byte order, and a big-endian
          // 16-bit payload (e.g. AIFF via AudioSystem) would otherwise
          // yield silently byte-swapped features instead of an error
          require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
            !fmt.isBigEndian &&
            fmt.getEncoding ==
              javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
            s"media ${r.media_id}: mmAudioFeat expects 16-bit signed PCM " +
              s"mono little-endian, got ${fmt}")
          val bytes = ais.readAllBytes()
          val n = bytes.length / 2
          var i = 0
          var sumSq = 0L
          var crossings = 0L
          var prev = 0
          var framePeak = 0
          var silent = 0L
          var frames = 0L
          while (i < n) {
            val lo = bytes(2 * i) & 0xff
            val hi = bytes(2 * i + 1).toInt
            val s = ((hi << 8) | lo).toShort.toInt
            sumSq += s.toLong * s
            if (i > 0 && prev * s < 0) crossings += 1
            prev = s
            val a = math.abs(s)
            if (a > framePeak) framePeak = a
            if ((i + 1) % frameLen == 0 || i + 1 == n) {
              frames += 1
              if (framePeak < silenceThresh) silent += 1
              framePeak = 0
            }
            i += 1
          }
          // ROUND-6 via BigDecimal HALF_UP — the engine's declared SQL
          // round discipline (SequentialTracker.round6) and DuckDB's
          // half-away-from-zero; math.rint is half-EVEN and would
          // diverge on an exact tie at the 7th decimal
          def r6(x: Double): Double = java.math.BigDecimal.valueOf(x)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
          val rms = if (n == 0) 0.0
            else r6(math.sqrt(sumSq.toDouble / n))
          val zcr = if (n < 2) 0.0
            else r6(crossings.toDouble / (n - 1))
          val sf = if (frames == 0) 0.0
            else r6(silent.toDouble / frames)
          AudioFeatures(r.media_id, n.toLong,
            fmt.getSampleRate.toInt, sumSq, crossings, silent, frames,
            rms, zcr, sf)
        } finally ais.close()
      }
    }
  }

  /** The oracle-checked form: planted SQUARE-WAVE WAVs with an appended
    * silent tail, every feature an analytic function of doc_id —
    * amplitude A = 1000 + 500·(id%7), half-period H ∈ {4,6,8}, active
    * samples Act = 4800 + 240·(id%5) (divisible by every H and by the
    * 240-sample window), silent tail S = 1200 + 240·(id%3). Then
    * Σs² = Act·A², crossings = Act/H − 1 (the sign never flips into the
    * zero tail under the strict product rule), silent windows = S/240 —
    * the DuckDB oracle computes all of it codec-free, so a hash match
    * proves the real WAV encode→decode→feature path lands on the planted
    * ground truth (the mm_decode_real discipline applied to CONTENT, not
    * just container facts).
    */
  def mmAudioFeat(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.load(s, dir, "documents").select("doc_id")
      .as[Long].map { id =>
        val amp = 1000 + 500 * (id % 7).toInt
        val half = 4 + 2 * (id % 3).toInt
        val act = 4800 + 240 * (id % 5).toInt
        val tail = 1200 + 240 * (id % 3).toInt
        val n = act + tail
        val pcm = new Array[Byte](2 * n)
        var i = 0
        while (i < act) {
          val v = if ((i / half) % 2 == 0) amp else -amp
          pcm(2 * i) = (v & 0xff).toByte
          pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
          i += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        MediaRecord(id, "audio", bos.toByteArray)
      }
    mmAudioFeat(media).toDF().orderBy("media_id")
  }

  /** Per-clip silence segmentation summary. */
  case class AudioSegments(media_id: Long, n_samples: Long, n_frames: Long,
      active_frames: Long, n_segments: Long, longest_run: Long)

  /** Silence-based audio segmentation (the VAD-lite pre-pass every
    * speech-corpus pipeline runs before transcription — split clips on
    * silence, drop empty audio, bound segment length): frame the clip in
    * `frameLen`-sample windows, mark a window ACTIVE when its peak
    * amplitude reaches `silenceThresh`, and run-length scan the window
    * string. Emits per clip: total windows, active windows, the number
    * of maximal active runs (= segments), and the longest run.
    *
    * Same REAL decode path and fail-fast format contract as
    * [[mmAudioFeat]] (16-bit signed PCM mono little-endian via
    * javax.sound); per-clip state is O(1) (peak, run counters), one
    * output row per clip — a narrow typed partition pass whose only
    * exchange is the presentation ORDER BY.
    */
  def mmAudioSeg(media: Dataset[MediaRecord], frameLen: Int = 240,
      silenceThresh: Int = 1): Dataset[AudioSegments] = {
    require(frameLen >= 1, s"mmAudioSeg: frameLen must be >= 1, got $frameLen")
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      it.map { r =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(r.payload))
        try {
          val fmt = ais.getFormat
          require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
            !fmt.isBigEndian &&
            fmt.getEncoding ==
              javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
            s"media ${r.media_id}: mmAudioSeg expects 16-bit signed PCM " +
              s"mono little-endian, got ${fmt}")
          val bytes = ais.readAllBytes()
          val n = bytes.length / 2
          var i = 0
          var framePeak = 0
          var frames = 0L
          var active = 0L
          var segments = 0L
          var run = 0L
          var longest = 0L
          var prevActive = false
          while (i < n) {
            val lo = bytes(2 * i) & 0xff
            val hi = bytes(2 * i + 1).toInt
            val a = math.abs(((hi << 8) | lo).toShort.toInt)
            if (a > framePeak) framePeak = a
            if ((i + 1) % frameLen == 0 || i + 1 == n) {
              frames += 1
              val isActive = framePeak >= silenceThresh
              if (isActive) {
                active += 1
                if (!prevActive) { segments += 1; run = 0L }
                run += 1
                if (run > longest) longest = run
              }
              prevActive = isActive
              framePeak = 0
            }
            i += 1
          }
          AudioSegments(r.media_id, n.toLong, frames, active, segments,
            longest)
        } finally ais.close()
      }
    }
  }

  /** The oracle-checked form: planted MULTI-BURST square-wave WAVs —
    * k = 1 + id%3 bursts of actB = 2400 + 240·(id%4) active samples
    * (amplitude/half-period as [[mmAudioFeat]]'s plant), separated by
    * silent gaps of 480 + 240·(id%2) samples, plus a silent tail of
    * 720 + 240·(id%3). Every boundary is a multiple of the 240-sample
    * window, so the segmentation is analytic: n_segments = k,
    * active_frames = k·actB/240, longest_run = actB/240 — the DuckDB
    * oracle computes it all codec-free from doc_id, locking the real
    * WAV encode→decode→segment path to planted ground truth.
    */
  def mmAudioSeg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.load(s, dir, "documents").select("doc_id")
      .as[Long].map { id =>
        val amp = 1000 + 500 * (id % 7).toInt
        val half = 4 + 2 * (id % 3).toInt
        val k = 1 + (id % 3).toInt
        val actB = 2400 + 240 * (id % 4).toInt
        val gap = 480 + 240 * (id % 2).toInt
        val tail = 720 + 240 * (id % 3).toInt
        val n = k * actB + (k - 1) * gap + tail
        val pcm = new Array[Byte](2 * n)
        var b = 0
        while (b < k) {
          val off = b * (actB + gap)
          var i = 0
          while (i < actB) {
            val v = if ((i / half) % 2 == 0) amp else -amp
            pcm(2 * (off + i)) = (v & 0xff).toByte
            pcm(2 * (off + i) + 1) = ((v >> 8) & 0xff).toByte
            i += 1
          }
          b += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        MediaRecord(id, "audio", bos.toByteArray)
      }
    mmAudioSeg(media).toDF().orderBy("media_id")
  }

  /** One sampled frame of a media record. */
  case class FrameRecord(media_id: Long, frame_idx: Long, frame_offset: Long,
                         frame_hash: String)

  /** Frame sampling pass: one row per sampled frame (video records carry
    * n_frames > 1), emitted by a typed flatMap — the same batched
    * partition-pass shape as decodeAll. Offsets/hashes are deterministic
    * stub arithmetic mirrored by the SQL oracle.
    */
  def frameSample(ds: Dataset[DecodedMedia]): Dataset[FrameRecord] = {
    import ds.sparkSession.implicits._
    ds.flatMap { d =>
      val stride = d.n_bytes / d.n_frames
      (0L until d.n_frames.toLong).map { i =>
        FrameRecord(d.media_id, i, stride * i, md5HexStr(s"${d.feature_hash}:$i"))
      }
    }
  }

  private def md5HexStr(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Driver-checkable query: decode → frame-sample over the synthesized
    * media table.
    */
  def mmFrames(s: SparkSession, dir: String): DataFrame =
    frameSample(decodeAll(mediaFromDocs(s, dir), StubDecoder))
      .toDF().orderBy("media_id", "frame_idx")

  /** Resize stage: scale decoded dims so the longest side is `maxDim`,
    * preserving aspect ratio in integer arithmetic (floor) — the stub's
    * deterministic stand-in for an image-resample kernel; mirrored by the
    * SQL oracle.
    */
  def resize(ds: Dataset[DecodedMedia], maxDim: Int = 128): Dataset[DecodedMedia] = {
    import ds.sparkSession.implicits._
    ds.map { d =>
      val longSide = math.max(d.width, d.height).toLong
      if (longSide <= maxDim) d
      else d.copy(
        width = (d.width.toLong * maxDim / longSide).toInt,
        height = (d.height.toLong * maxDim / longSide).toInt)
    }
  }

  /** Driver-checkable query: decode → resize pass. */
  def mmResize(s: SparkSession, dir: String): DataFrame =
    resize(decodeAll(mediaFromDocs(s, dir), StubDecoder))
      .toDF().select("media_id", "width", "height")
      .orderBy("media_id")

  /** 64-bit perceptual hash (dHash family) over the decoded payload: 65
    * evenly-spaced byte samples, bit i = sample(i) < sample(i+1). A local
    * pixel/byte mutation moves at most the few bits whose sample positions
    * hit it, so near-identical media land within a small Hamming radius —
    * the modality-agnostic analogue of the text SimHash. Computed in the
    * typed partition pass (where a real image dHash would run on decoded
    * grayscale), mirrored bit-for-bit by the SQL oracle.
    */
  private[ops] def phash64(b: Array[Byte]): Long = {
    val n = b.length
    var h = 0L
    var i = 0
    while (i < 64) {
      val p = (i.toLong * (n - 1) / 64).toInt
      val q = ((i + 1).toLong * (n - 1) / 64).toInt
      if ((b(p) & 0xff) < (b(q) & 0xff)) h |= (1L << i)
      i += 1
    }
    h
  }

  /** Media perceptual near-dup pairs: corpus ∪ single-byte-mutated twins
    * (media_id+TwinOffset, payload byte n/2 flipped to 'x' — same length, so
    * the sample grid is unchanged and the twin stays within Hamming ≤ 2),
    * then the SAME banded Hamming-LSH the text dedup uses (4×16-bit bands,
    * pigeonhole-exact for radius 3). Image dedup at 100 TB is exactly this
    * pipeline with a real dHash kernel in the decode pass.
    */
  def mmPhashPairs(s: SparkSession, dir: String): DataFrame =
    mmPhashPairsCore(s, dir).orderBy("media_a", "media_b")

  /** [[mmPhashPairs]] WITHOUT the presentation ORDER BY — for
    * [[mmResolve]], whose eager checkpoint would otherwise materialize
    * the global sort the label propagation never needed (r13; the
    * ddSimhashPairsCore discipline).
    */
  private[ops] def mmPhashPairsCore(s: SparkSession,
                                    dir: String): DataFrame = {
    import s.implicits._
    // tracked: the typed hash pass feeds the band self-join AND the
    // guard's count pre-agg — one narrow (media_id, phash) relation
    val sig = Caches.track(mediaFromDocs(s, dir).flatMap { r =>
      val twin = r.payload.clone()
      twin(twin.length / 2) = 'x'.toByte
      Seq((r.media_id, phash64(r.payload)),
        (r.media_id + TwinOffset, phash64(twin)))
    }.toDF("media_id", "phash"))
    sig.createOrReplaceTempView("__phash")
    val band = s.sql(
      """SELECT media_id, phash, bno,
        |       shiftright(phash, 16 * bno) & 65535 AS bk
        |FROM __phash LATERAL VIEW explode(sequence(0, 3)) AS bno"""
        .stripMargin)
    // DENSITY GUARD (r12, shared DensityGuard): media corpora alias
    // aggressively — uniform-region images (white product shots,
    // documents-as-images) share whole hashes, putting a corpus-sized
    // class into ONE band bucket (C(B,2) on one shuffle key)
    // NOT tracked (r13 A/B): sig is already pinned, so each self-join
    // side re-derives only a cheap explode over the cached hashes —
    // pinning the 4×-exploded band on top read 0.73 → 1.11 s at sf0.1
    DensityGuard.guard(band, Seq("bno", "bk"),
        DensityGuard.drawOn("phashguard:", col("bno"), lit(":"),
          col("media_id")),
        tag = "mm_phash_pairs",
        remediation = "Use more/wider bands, raise the cap, or use " +
          "onOverflow=sample.",
        onFail = Caches.release(sig))
      .createOrReplaceTempView("__phash_band")
    s.sql(
      """SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
        |       CAST(bit_count(a.phash ^ b.phash) AS BIGINT) AS hamming
        |FROM __phash_band a JOIN __phash_band b
        |  ON a.bno = b.bno AND a.bk = b.bk AND a.media_id < b.media_id
        |WHERE bit_count(a.phash ^ b.phash) <= 3""".stripMargin)
  }

  /** The 64-bit average hash of a decoded image: mmThumb's 8×8 integer
    * cells, one bit per cell — set iff the cell mean exceeds the image
    * mean, compared CROSS-MULTIPLIED (px_sum_c·N > S·n_px_c) so no
    * division ever happens. Packed as two 32-bit halves in BIGINTs
    * (the ss_bq discipline — no sign-bit overflow in either engine).
    */
  private[ops] def ahashHalves(img: java.awt.image.BufferedImage)
      : (Long, Long) = {
    val grid = 8
    val w = img.getWidth
    val h = img.getHeight
    val cnt = new Array[Long](grid * grid)
    val sum = new Array[Long](grid * grid)
    var y = 0
    while (y < h) {
      val cy = y * grid / h
      var x = 0
      while (x < w) {
        val cell = cy * grid + x * grid / w
        cnt(cell) += 1
        sum(cell) += (img.getRGB(x, y) >> 16) & 0xff
        x += 1
      }
      y += 1
    }
    val bigN = w.toLong * h
    val bigS = sum.sum
    var lo = 0L
    var hi = 0L
    var c = 0
    while (c < 64) {
      if (sum(c) * bigN > bigS * cnt(c)) {
        if (c < 32) lo |= 1L << c else hi |= 1L << (c - 32)
      }
      c += 1
    }
    (lo, hi)
  }

  /** Real-pixel aHash near-dup pairs — the content-tier upgrade of
    * [[mmPhashPairs]]'s byte-sampling stub kernel: the hash is computed
    * from DECODED pixels (the [[ahashHalves]] block-mean kernel, the
    * classical average-hash every image-dedup pipeline starts from),
    * then the SAME banded Hamming-LSH tail as the stub entry and
    * dd_simhash (4×16-bit bands, pigeonhole-exact for radius 3). The
    * hash is brightness-SHIFT-invariant (adding a constant to every
    * pixel moves cell and image means together) and scale-invariant in
    * intensity — exactly the invariances a re-encode / gamma-tweak
    * near-dup needs and raw-byte hashing cannot have.
    *
    * Scale design: one typed decode pass emits 16 bytes per image
    * (two BIGINT halves — TRACKED, so the decode never re-runs for the
    * self-join sides or the guard's count pre-agg); banding is an
    * equality join on 16-bit keys — candidates only ever meet inside a
    * band bucket, never all-pairs; verification is four xor+popcount
    * ops per candidate. DENSITY-GUARDED (r11 verdict: the probe of
    * PERF.md r11, addendum52 measured the blow-up mode — 30.9M pairs at 102k
    * aliasing images; real corpora with large uniform regions alias the
    * same way): every (bno, bk) bucket is bounded at `maxBlockRows` by
    * the shared [[DensityGuard]] BEFORE the join, sample-or-fail per
    * `onOverflow`, with a per-(band, image) draw so an image sampled
    * out of one blown band keeps its other three. Under-cap corpora
    * are bit-exact (the DuckDB oracle replays the unguarded chain).
    */
  def mmAhashPairs(media: Dataset[MediaRecord], radius: Int = 3,
      maxBlockRows: Int = DensityGuard.DefaultMaxBlockRows,
      onOverflow: String = "sample"): DataFrame = {
    require(radius >= 0 && radius <= 3,
      s"mmAhashPairs: 4x16 banding is pigeonhole-exact only to radius 3, got $radius")
    val s = media.sparkSession
    import s.implicits._
    val sig = Caches.track(media.map { r =>
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.payload))
      require(img != null, s"media ${r.media_id}: not a decodable image")
      val (lo, hi) = ahashHalves(img)
      (r.media_id, lo, hi)
    }.toDF("media_id", "lo", "hi"))
    sig.createOrReplaceTempView("__ahash")
    val band = s.sql(
      """SELECT media_id, lo, hi, bno,
        |       CASE WHEN bno < 2
        |            THEN shiftright(lo, 16 * bno) & 65535
        |            ELSE shiftright(hi, 16 * (bno - 2)) & 65535
        |       END AS bk
        |FROM __ahash LATERAL VIEW explode(sequence(0, 3)) AS bno"""
        .stripMargin)
    // NOT tracked (r13 A/B): the decoded-hash sig is already pinned, so
    // each self-join side re-derives only a cheap explode over it —
    // pinning the 4×-exploded band on top read 3.19 → 5.13 s at sf0.1
    DensityGuard.guard(band, Seq("bno", "bk"),
        DensityGuard.drawOn("ahashguard:", col("bno"), lit(":"),
          col("media_id")),
        maxBlockRows, onOverflow, tag = "mm_ahash",
        remediation = "Use more/wider bands, raise the cap, or use " +
          "onOverflow=sample.",
        onFail = Caches.release(sig))
      .createOrReplaceTempView("__ahash_band")
    s.sql(
      s"""SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
         |       CAST(bit_count(a.lo ^ b.lo)
         |            + bit_count(a.hi ^ b.hi) AS BIGINT) AS hamming
         |FROM __ahash_band a JOIN __ahash_band b
         |  ON a.bno = b.bno AND a.bk = b.bk AND a.media_id < b.media_id
         |WHERE bit_count(a.lo ^ b.lo) + bit_count(a.hi ^ b.hi)
         |        <= $radius
         |ORDER BY media_a, media_b""".stripMargin)
  }

  /** The oracle-checked form: the planted-gradient REAL PNGs plus, for
    * every 4th image (id % 8 = 0), a twin whose first thumbnail cell is
    * brightened by +100 (clamped) — a LOCAL edit that flips at most a
    * few hash bits, so most twins link inside radius 3, while the
    * gradient family's shared structure contributes organic pairs. The
    * DuckDB oracle replays pixels, cells, bits, bands, and the Hamming
    * verify codec-free; a hash match proves the whole content chain
    * through the real PNG round-trip.
    */
  def mmAhashPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val twins = Tables.load(s, dir, "documents").select("doc_id")
      .as[Long].filter(_ % 8 == 0).map { id =>
        val w = 16 + (id % 17).toInt
        val h = 16 + (id * 3 % 13).toInt
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val g0 = ((id * 31 + x * 7 + y * 13) % 256).toInt
            val g = if (x * 8 / w == 0 && y * 8 / h == 0)
              math.min(255, g0 + 100) else g0
            img.setRGB(x, y, (g << 16) | (g << 8) | g)
            x += 1
          }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        MediaRecord(id + TwinOffset, "image", bos.toByteArray)
      }
    mmAhashPairs(plantedGradientPngs(s, dir).union(twins))
  }

  /** WebDataset-style shard manifest: assign every media record to a
    * byte-budgeted shard and an offset inside it — the layout step that
    * turns a curated media table into the sequential-read tar shards a
    * training loader streams. Records are permuted by md5 digest first
    * (the ds_shuffle reproducible-permutation discipline — shards must
    * mix sources, not preserve ingest order), split across `groups`
    * independent writer groups (no global sequence: each group packs in
    * parallel, the ds_pack md5-sharding discipline), and packed
    * sequentially within the group: shard = floor(cumulative-bytes-before
    * / budget), offset = bytes before the member since its shard began.
    * Members straddle budget boundaries rather than triggering a
    * stateful close-on-overflow — the window-expressible rule whose
    * shard sizes stay within one member of the budget.
    *
    * Scale design: three windows, ALL partitioned by writer group (and
    * shard for the MIN) — never a global window; integer-exact
    * throughout. Group count scales with writer parallelism, budget with
    * shard-file size (both surfaced parameters).
    */
  def mmShard(media: DataFrame, groups: Int = 8,
      budgetBytes: Long = 4096L): DataFrame = {
    val s = media.sparkSession
    media.createOrReplaceTempView("__mm_shard_src")
    s.sql(
      s"""WITH sized AS (
         |  SELECT media_id, CAST(octet_length(payload) AS BIGINT) AS n_bytes,
         |         md5(CAST(media_id AS STRING)) AS digest,
         |         CAST((instr('0123456789abcdef',
         |                     substring(md5(CAST(media_id AS STRING)), 1, 1))
         |               - 1) % $groups AS BIGINT) AS grp
         |  FROM __mm_shard_src),
         |cum AS (
         |  SELECT media_id, n_bytes, grp,
         |         COALESCE(SUM(n_bytes) OVER (PARTITION BY grp
         |           ORDER BY digest, media_id
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L)
         |           AS cum_before
         |  FROM sized),
         |sh AS (
         |  SELECT media_id, n_bytes, grp, cum_before,
         |         cum_before div ${budgetBytes}L AS shard_local
         |  FROM cum)
         |SELECT media_id,
         |       grp * 1000000 + shard_local AS shard_id,
         |       cum_before - MIN(cum_before) OVER (
         |         PARTITION BY grp, shard_local) AS offset_bytes,
         |       n_bytes
         |FROM sh ORDER BY media_id""".stripMargin)
  }

  /** The oracle-checked form over the synthesized media table. */
  def mmShard(s: SparkSession, dir: String): DataFrame =
    mmShard(mediaFromDocs(s, dir).toDF())

  /** Frame-to-segment alignment (the audio/video ↔ transcript step of a
    * multimodal training pipeline: which caption span does each sampled
    * frame belong to): every frame row (media_id, frame_idx, frame_offset)
    * is matched to the unique segment row (media_id, seg_idx, seg_start,
    * seg_end) whose half-open [seg_start, seg_end) span contains its
    * offset. With a real codec the offsets are timestamps and the segments
    * subtitle cues; the join shape is identical.
    *
    * Scale design: ONE co-partitioned equality join on media_id with the
    * range predicate applied inside the matched key group — per-media
    * fan-in is the per-media segment count (caption cues, tens), so
    * candidate volume is segments-per-media × frames, linear in the frame
    * relation. Never a global range join.
    */
  def mmAlign(frames: DataFrame, segments: DataFrame): DataFrame = {
    val s = frames.sparkSession
    frames.createOrReplaceTempView("__al_frames")
    segments.createOrReplaceTempView("__al_segs")
    s.sql(
      """SELECT f.media_id, f.frame_idx, f.frame_offset,
        |       g.seg_idx, g.seg_start, g.seg_end
        |FROM __al_frames f JOIN __al_segs g
        |  ON g.media_id = f.media_id
        | AND f.frame_offset >= g.seg_start AND f.frame_offset < g.seg_end
        |ORDER BY f.media_id, f.frame_idx""".stripMargin)
  }

  /** The oracle-checked form: frames from the decode → frame-sample chain;
    * segments are four equal byte-quarter spans per media (floor
    * boundaries — the quarters tile [0, n_bytes) exactly, so every frame
    * lands in exactly one span).
    */
  def mmAlign(s: SparkSession, dir: String): DataFrame = {
    val dec = decodeAll(mediaFromDocs(s, dir), StubDecoder)
    val frames = frameSample(dec)
      .toDF().select("media_id", "frame_idx", "frame_offset")
    dec.toDF().select("media_id", "n_bytes").createOrReplaceTempView("__al_dec")
    val segments = s.sql(
      """SELECT media_id, CAST(j AS BIGINT) AS seg_idx,
        |       (n_bytes * j) div 4 AS seg_start,
        |       (n_bytes * (j + 1)) div 4 AS seg_end
        |FROM __al_dec LATERAL VIEW explode(sequence(0, 3)) AS j""".stripMargin)
    mmAlign(frames, segments)
  }

  /** Audio frame-window slicing (the wav2vec/Whisper ingest shape): every
    * audio record is cut into `win`-byte windows at `hop`-byte stride —
    * one manifest row per window, (media_id, win_idx, off_start,
    * off_end). With a real codec the units are samples; the overlap
    * manifest and its downstream batching are identical.
    *
    * Scale design: a pure narrow pass — per-record window count is
    * (n_bytes − win)/hop + 1, the explode is position-bounded, nothing
    * shuffles. Records shorter than one window emit nothing (the
    * documented contract).
    */
  def mmWindows(decoded: DataFrame, win: Long = 400, hop: Long = 160): DataFrame = {
    require(win >= 1 && hop >= 1, s"win=$win hop=$hop must be >= 1")
    val s = decoded.sparkSession
    decoded.createOrReplaceTempView("__mw_dec")
    s.sql(
      s"""SELECT media_id, CAST(i AS BIGINT) AS win_idx,
         |       i * ${hop}L AS off_start, i * ${hop}L + ${win}L AS off_end
         |FROM __mw_dec
         |LATERAL VIEW explode(CASE WHEN n_bytes >= ${win}L
         |  THEN sequence(0, CAST((n_bytes - ${win}L) div ${hop}L AS INT))
         |  ELSE array() END) AS i
         |ORDER BY media_id, win_idx""".stripMargin)
  }

  /** The oracle-checked form: 400-byte windows at 160-byte stride over
    * the decode chain's audio records.
    */
  def mmWindows(s: SparkSession, dir: String): DataFrame =
    mmWindows(decodeAll(mediaFromDocs(s, dir), StubDecoder).toDF()
      .filter(col("kind") === "audio").select("media_id", "n_bytes"))

  /** Content-addressed blob dedup audit (the CAS report every multimodal
    * lake runs before paying storage twice): digest each opaque binary
    * payload, group by digest, report copies / keeper / wasted bytes per
    * distinct blob. Byte-level identity is the ONLY safe dedup for media
    * payloads (text normalization does not apply to compressed bytes);
    * near-dup lives in mm_phash_pairs.
    *
    * The digest is SHA-256: md5 collisions are practically
    * constructible (chosen-prefix attacks), and in an adversarial media
    * corpus two DISTINCT payloads folding into one keeper would corrupt
    * n_bytes/wasted_bytes and silently drop a blob — a dedup keyed on a
    * breakable digest does not deliver the byte-identity guarantee this
    * report's contract states.
    *
    * Scale design: the payload never crosses the wire — the map side
    * projects (digest, media_id, n_bytes) before the one hash exchange
    * on the 64-hex digest, and count/min are partial-aggregated. Output
    * is distinct-blob-sized. At 100 TB of media this is the cheapest
    * possible full-corpus pass: scan + 80-byte rows into a combinable
    * aggregate.
    */
  def mmDupBlob(media: DataFrame): DataFrame = {
    val s = media.sparkSession
    media.createOrReplaceTempView("__cas_media")
    s.sql(
      """SELECT sha2(payload, 256) AS digest,
        |       COUNT(*) AS n_copies,
        |       MIN(media_id) AS keeper_id,
        |       MIN(CAST(octet_length(payload) AS BIGINT)) AS n_bytes,
        |       (COUNT(*) - 1)
        |         * MIN(CAST(octet_length(payload) AS BIGINT))
        |         AS wasted_bytes
        |FROM __cas_media GROUP BY sha2(payload, 256)
        |ORDER BY digest""".stripMargin)
  }

  /** The oracle-checked form: the documents-derived media relation plus
    * byte-identical twins for every 5th record (media_id + TwinIdOffset)
    * — the planted dup groups the CAS report must fold to one keeper.
    */
  def mmDupBlob(s: SparkSession, dir: String): DataFrame = {
    Tables.load(s, dir, "documents").createOrReplaceTempView("__cas_docs")
    mmDupBlob(s.sql(
      s"""SELECT doc_id AS media_id, encode(text, 'UTF-8') AS payload
         |FROM __cas_docs
         |UNION ALL
         |SELECT doc_id + ${graft.ops.Dedup.TwinIdOffset} AS media_id,
         |       encode(text, 'UTF-8') AS payload
         |FROM __cas_docs WHERE doc_id % 5 = 0""".stripMargin))
  }

  /** Consecutive-frame histogram difference — shot/scene-cut detection
    * (the Zhang-Kankanhalli-Smoliar 1993 histogram-comparison method,
    * the classical first pass of every video segmentation pipeline),
    * run here over a REAL-codec image sequence: decode frame f and
    * f−1 through javax.imageio, 16-bin grayscale histograms, L1
    * distance, flag when at least half the pixel mass moved bins
    * (l1 ≥ w·h out of the 2·w·h maximum). Everything after the decode
    * is pure integer — no threshold float to drift.
    *
    * Scale shape: the decode+histogram pass is [[mmImgHist]]'s typed
    * partition pass; the consecutive-frame comparison joins the
    * bins-sized histogram relation on (frame−1, bin) — at any frame
    * count the exchange is histograms, never pixels.
    */
  def mmHistDiff(media: Dataset[MediaRecord], bins: Int = 16)
      : DataFrame = {
    val s = media.sparkSession
    mmImgHist(media, bins).toDF()
      .createOrReplaceTempView("__hd_hist")
    s.sql(
      s"""WITH g AS (
         |  SELECT mg.media_id, mg.bin, COALESCE(h.n_px, 0L) AS n
         |  FROM (
         |    SELECT m.media_id, gb.bin
         |    FROM (SELECT DISTINCT media_id FROM __hd_hist) m
         |    LATERAL VIEW explode(sequence(0, ${bins - 1})) gb AS bin) mg
         |  LEFT JOIN __hd_hist h
         |    ON h.media_id = mg.media_id AND h.bin = mg.bin),
         |px AS (SELECT media_id, SUM(n) AS n_px FROM g GROUP BY media_id),
         |d AS (
         |  SELECT cur.media_id AS frame_id,
         |         SUM(ABS(cur.n - prv.n)) AS l1
         |  FROM g cur JOIN g prv
         |    ON prv.media_id = cur.media_id - 1 AND prv.bin = cur.bin
         |  GROUP BY cur.media_id)
         |SELECT d.frame_id, CAST(d.l1 AS BIGINT) AS l1,
         |       CAST(p.n_px AS BIGINT) AS n_px,
         |       d.l1 >= p.n_px AS is_cut
         |FROM d JOIN px p ON p.media_id = d.frame_id
         |ORDER BY frame_id""".stripMargin)
  }

  /** The oracle-checked form: a 32×24 frame sequence (one frame per
    * even doc id, F frames total) whose grays CONCENTRATE in a 32-wide
    * band — gray = (base + (x·7 + y·13) mod 32) mod 256 — with the
    * band's base drifting +1 per frame and JUMPING +128 every 16th
    * frame: planted shot cuts. Concentration matters: a full-range
    * gradient's histogram is uniform and therefore SHIFT-INVARIANT (a
    * cut would be invisible — measured, not guessed: the first plant
    * flagged zero of 6,249 cuts at 100k frames); the band puts all
    * mass in ≤ 3 bins, so drift moves 48 boundary pixels (L1 = 96 ≪
    * 768) and a jump moves everything (L1 = 1536). The DuckDB oracle
    * replays the per-pixel formula codec-free, so a hash match proves
    * cut detection through the real PNG encode→decode→histogram walk.
    */
  def mmHistDiff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val f = Tables.load(s, dir, "documents")
      .selectExpr("doc_id").filter("doc_id % 2 = 0").count()
    mmHistDiff(s.range(0L, f).map(i => histDiffFrame(i)))
  }

  /** One planted frame of the [[mmHistDiff]] sequence — shared with the
    * 100k-frame scale probe.
    */
  def histDiffFrame(fi: Long): MediaRecord = {
    val base = (fi + (fi / 16) * 128) % 256
    val img = new java.awt.image.BufferedImage(32, 24,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 24) {
      var x = 0
      while (x < 32) {
        val g = ((base + (x * 7 + y * 13) % 32) % 256).toInt
        img.setRGB(x, y, (g << 16) | (g << 8) | g)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    MediaRecord(fi, "image", bos.toByteArray)
  }

  /** Pure-JVM Y4M (YUV4MPEG2) parser — the uncompressed-video rung of
    * the decode ladder (r12 verdict item #5). Y4M is the codec-free
    * container the video toolchain itself uses for raw interchange
    * (mjpegtools' format; ffmpeg/x264's standard uncompressed input):
    * an ASCII stream header `YUV4MPEG2 W<w> H<h> F<n>:<d> [C<cs>]`,
    * then per frame an ASCII `FRAME` line followed by raw planar YUV
    * bytes — so REAL video decode (headers, frame boundaries, plane
    * geometry, pixel access) is parseable with zero codec libraries,
    * exactly as PNG/WAV got real kernels via javax. The declared-stub
    * note on the video modality now applies ONLY to compressed
    * containers (no codec in the JVM).
    */
  object Y4m {
    private val Magic = "YUV4MPEG2".getBytes("US-ASCII")

    def isY4m(b: Array[Byte]): Boolean =
      b.length > Magic.length && Magic.indices.forall(i => b(i) == Magic(i))

    /** Stream header facts + chroma-plane byte count per frame. */
    final case class Header(width: Int, height: Int, colorspace: String,
                            headerLen: Int) {
      def ySize: Int = width * height
      def chromaSize: Int = colorspace match {
        case cs if cs.startsWith("420") =>
          2 * ((width + 1) / 2) * ((height + 1) / 2)
        case cs if cs.startsWith("422") => 2 * ((width + 1) / 2) * height
        case cs if cs.startsWith("444") => 2 * width * height
        case "mono" => 0
        case other => throw new IllegalArgumentException(
          s"y4m: unsupported colorspace C$other")
      }
      def frameBytes: Int = ySize + chromaSize
    }

    def parseHeader(b: Array[Byte]): Header = {
      require(isY4m(b), "y4m: bad magic (not a YUV4MPEG2 stream)")
      var nl = 0
      while (nl < b.length && b(nl) != '\n') nl += 1
      require(nl < b.length, "y4m: unterminated stream header")
      val line = new String(b, 0, nl, "US-ASCII")
      var w = -1; var h = -1; var cs = "420jpeg" // the format's default
      line.split(' ').drop(1).foreach { p =>
        if (p.nonEmpty) p.charAt(0) match {
          case 'W' => w = p.substring(1).toInt
          case 'H' => h = p.substring(1).toInt
          case 'C' => cs = p.substring(1)
          case _ => () // F/I/A/X params don't affect plane geometry
        }
      }
      require(w > 0 && h > 0, s"y4m: missing W/H in header '$line'")
      Header(w, h, cs, nl + 1)
    }

    /** Walk every frame: `f(frameIdx, lumaOffset)` — the luma plane is
      * `b[lumaOffset, lumaOffset + ySize)`; chroma follows and is
      * skipped by geometry, never by guessing. Returns the header;
      * truncated or mis-delimited payloads fail fast with the offset.
      */
    def foreachFrame(b: Array[Byte])(f: (Int, Int) => Unit): Header = {
      val hd = parseHeader(b)
      var pos = hd.headerLen
      var idx = 0
      while (pos < b.length) {
        var nl = pos
        while (nl < b.length && b(nl) != '\n') nl += 1
        require(nl - pos >= 5 &&
          new String(b, pos, 5, "US-ASCII") == "FRAME",
          s"y4m: expected FRAME marker at byte $pos")
        pos = nl + 1
        require(pos + hd.frameBytes <= b.length,
          s"y4m: truncated frame $idx at byte $pos")
        f(idx, pos)
        pos += hd.frameBytes
        idx += 1
      }
      hd
    }
  }

  /** One planted Y4M clip (C420, constant-chroma): frames before the
    * planted cut hold luma `a = 40 + id % 60`, frames at/after hold
    * `a + 100` — a full-mass histogram jump (every pixel changes bin:
    * bins a/16 ∈ [2,6] vs (a+100)/16 ∈ [8,12] never collide at 16
    * bins), so the scene detector must flag EXACTLY the cut frame.
    * All facts derive from the id formula, [[mmDecodeReal]]'s
    * discipline, so a SQL oracle replays them codec-free.
    */
  def y4mPlanted(id: Long): Array[Byte] = {
    val w = 16 + 2 * (id % 9).toInt
    val h = 12 + 2 * (id * 3 % 7).toInt
    val nFrames = 8 + (id % 9).toInt
    val cut = 2 + (id % (nFrames - 3)).toInt
    val lumaA = (40 + id % 60).toInt
    val bos = new java.io.ByteArrayOutputStream()
    bos.write(s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C420jpeg\n"
      .getBytes("US-ASCII"))
    val cSize = 2 * (w / 2) * (h / 2)
    var f = 0
    while (f < nFrames) {
      bos.write("FRAME\n".getBytes("US-ASCII"))
      val luma = if (f < cut) lumaA else lumaA + 100
      var i = 0
      while (i < w * h) { bos.write(luma); i += 1 }
      i = 0
      while (i < cSize) { bos.write(128); i += 1 } // neutral chroma
      f += 1
    }
    bos.toByteArray
  }

  /** One detected scene cut of a video record. */
  case class SceneCut(media_id: Long, n_frames: Long, cut_frame: Long,
                      l1_moved: Long)

  /** Scene-cut detection over REAL video pixels — [[mmHistDiff]]'s
    * Zhang–Kankanhalli–Smoliar histogram comparison upgraded from a
    * PNG frame sequence to actual video streams: parse the Y4M frame
    * walk, 16-bin luma histogram per frame, consecutive L1, flag where
    * at least half the pixel mass moved bins (l1 ≥ w·h of the 2·w·h
    * max — the mmHistDiff threshold, integer-exact).
    *
    * Scale shape: a video's frames live in ONE payload row, so the
    * consecutive-frame comparison is row-local — histograms never
    * leave the partition and the operator emits only cut rows (the
    * pixel:output ratio is ~w·h·frames : 1). Contrast mmHistDiff,
    * whose frames arrive as separate rows and pay one histogram-sized
    * exchange; here there is NO shuffle before the final sort. At
    * 100 TB the decode pass is embarrassingly parallel over payloads;
    * oversized clips should be pre-chunked at ingest (the mm_windows
    * segmenting discipline), not re-split here.
    */
  def y4mSceneCuts(mediaId: Long, payload: Array[Byte],
                   bins: Int = 16): Seq[SceneCut] = {
    val hd = Y4m.parseHeader(payload)
    val ySize = hd.ySize
    val shift = 8 - Integer.numberOfTrailingZeros(bins) // 256/bins pow2
    require(bins == (1 << (8 - shift)), s"bins must be a power of two: $bins")
    val hists = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
    Y4m.foreachFrame(payload) { (_, off) =>
      val hist = new Array[Long](bins)
      var i = 0
      while (i < ySize) {
        hist((payload(off + i) & 0xFF) >> shift) += 1L
        i += 1
      }
      hists += hist
    }
    val nFrames = hists.length.toLong
    (1 until hists.length).flatMap { f =>
      var l1 = 0L
      var b = 0
      while (b < bins) {
        l1 += math.abs(hists(f)(b) - hists(f - 1)(b)); b += 1
      }
      if (l1 >= ySize) Some(SceneCut(mediaId, nFrames, f.toLong, l1))
      else None
    }
  }

  /** Driver-checkable query: planted Y4M clips (one per document id)
    * through the real byte-level parse → luma histogram → cut walk;
    * the DuckDB oracle replays the id formula codec-free
    * ([[mmDecodeReal]]'s discipline for video). A hash match proves
    * the Y4M write→parse→pixel-scan path recovers every planted cut
    * EXACTLY — frame index, frame count, and moved mass.
    */
  def mmVideoScenes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents").select("doc_id").as[Long]
      .flatMap(id => y4mSceneCuts(id, y4mPlanted(id)))
      .toDF().orderBy("media_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_histdiff" ->
      ((s: SparkSession, dir: String) => mmHistDiff(s, dir)),
    "mm_dupblob" ->
      ((s: SparkSession, dir: String) => mmDupBlob(s, dir)),
    "mm_windows" -> ((s: SparkSession, dir: String) => mmWindows(s, dir)),
    "mm_align" -> ((s: SparkSession, dir: String) => mmAlign(s, dir)),
    "mm_shard" -> ((s: SparkSession, dir: String) => mmShard(s, dir)),
    "mm_decode" -> (mmDecode _),
    "mm_decode_real" -> (mmDecodeReal _),
    "mm_audiofeat" -> (mmAudioFeat _),
    "mm_audioseg" -> (mmAudioSeg _),
    "mm_imghist" -> (mmImgHist _),
    "mm_thumb" -> (mmThumb _),
    "mm_ahash" -> (mmAhashPairs _),
    "mm_frames" -> (mmFrames _),
    "mm_resize" -> (mmResize _),
    "mm_phash_pairs" -> (mmPhashPairs _),
    "mm_resolve" -> (mmResolve _),
    "mm_video_scenes" -> (mmVideoScenes _))

  val oracleSql: Map[String, String] = Map(
    // the planted Y4M facts replayed from the id formula, codec-free
    // (the mm_decode_real discipline): n_frames = 8 + id%9, the cut at
    // 2 + id%(n_frames-3), and the moved mass 2·w·h (every pixel
    // changes bin at the planted full-luma jump)
    "mm_video_scenes" ->
      ("SELECT doc_id AS media_id, " +
        "8 + (doc_id % 9) AS n_frames, " +
        "2 + (doc_id % (5 + (doc_id % 9))) AS cut_frame, " +
        "2 * (16 + 2 * (doc_id % 9)) * (12 + 2 * (doc_id * 3 % 7)) " +
        "AS l1_moved " +
        "FROM documents ORDER BY media_id"),
    "mm_ahash" ->
      (s"""WITH ids AS (SELECT doc_id AS id, 16 + (doc_id % 17) AS w, """ +
        """16 + (doc_id * 3 % 13) AS h FROM documents """ +
        """WHERE doc_id % 2 = 0), """ +
        s"""rec AS (SELECT id AS media_id, id AS src, FALSE AS tw FROM ids """ +
        s"""UNION ALL SELECT id + $TwinOffset, id, TRUE FROM ids """ +
        """WHERE id % 8 = 0), """ +
        """px AS (SELECT r.media_id, i.w, i.h, x.x, y.y, """ +
        """CASE WHEN r.tw AND (x.x * 8) // i.w = 0 """ +
        """AND (y.y * 8) // i.h = 0 """ +
        """THEN LEAST(255, (r.src * 31 + x.x * 7 + y.y * 13) % 256 + 100) """ +
        """ELSE (r.src * 31 + x.x * 7 + y.y * 13) % 256 END AS g """ +
        """FROM rec r JOIN ids i ON i.id = r.src """ +
        """CROSS JOIN generate_series(0, 32) x(x) """ +
        """CROSS JOIN generate_series(0, 28) y(y) """ +
        """WHERE x.x < i.w AND y.y < i.h), """ +
        """cell AS (SELECT media_id, (y * 8) // h AS cy, """ +
        """(x * 8) // w AS cx, COUNT(*) AS n, SUM(g)::BIGINT AS s """ +
        """FROM px GROUP BY media_id, (y * 8) // h, (x * 8) // w), """ +
        """tot AS (SELECT media_id, SUM(n)::BIGINT AS nn, """ +
        """SUM(s)::BIGINT AS ss FROM cell GROUP BY media_id), """ +
        """bits AS (SELECT c.media_id, (c.cy * 8 + c.cx)::INT AS c, """ +
        """CASE WHEN c.s * t.nn > t.ss * c.n THEN 1 ELSE 0 END AS b """ +
        """FROM cell c JOIN tot t ON t.media_id = c.media_id), """ +
        """sig AS (SELECT media_id, """ +
        """SUM(CASE WHEN c < 32 AND b = 1 THEN 1::BIGINT << c """ +
        """ELSE 0::BIGINT END)::BIGINT AS lo, """ +
        """SUM(CASE WHEN c >= 32 AND b = 1 THEN 1::BIGINT << (c - 32) """ +
        """ELSE 0::BIGINT END)::BIGINT AS hi """ +
        """FROM bits GROUP BY media_id), """ +
        """band AS (SELECT media_id, lo, hi, t.bno, """ +
        """CASE WHEN t.bno < 2 THEN (lo >> (16 * t.bno)) & 65535 """ +
        """ELSE (hi >> (16 * (t.bno - 2))) & 65535 END AS bk """ +
        """FROM sig CROSS JOIN generate_series(0, 3) t(bno)) """ +
        """SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b, """ +
        """(bit_count(xor(a.lo, b.lo)) """ +
        """+ bit_count(xor(a.hi, b.hi)))::BIGINT AS hamming """ +
        """FROM band a JOIN band b ON a.bno = b.bno AND a.bk = b.bk """ +
        """AND a.media_id < b.media_id """ +
        """WHERE bit_count(xor(a.lo, b.lo)) """ +
        """+ bit_count(xor(a.hi, b.hi)) <= 3 """ +
        """ORDER BY media_a, media_b"""),
    "mm_thumb" ->
      ("WITH ids AS (SELECT doc_id AS id, 16 + (doc_id % 17) AS w, " +
        "16 + (doc_id * 3 % 13) AS h FROM documents " +
        "WHERE doc_id % 2 = 0), " +
        "px AS (SELECT i.id, x.x, y.y, i.w, i.h, " +
        "(i.id * 31 + x.x * 7 + y.y * 13) % 256 AS g " +
        "FROM ids i CROSS JOIN generate_series(0, 32) x(x) " +
        "CROSS JOIN generate_series(0, 28) y(y) " +
        "WHERE x.x < i.w AND y.y < i.h) " +
        "SELECT id AS media_id, ((x * 8) // w)::INT AS cx, " +
        "((y * 8) // h)::INT AS cy, " +
        "COUNT(*) AS n_px, SUM(g)::BIGINT AS px_sum " +
        "FROM px GROUP BY id, (x * 8) // w, (y * 8) // h " +
        "ORDER BY media_id, cy, cx"),
    "mm_histdiff" ->
      ("WITH fr AS (SELECT f FROM generate_series(0, 1000000) t(f) " +
        "WHERE f < (SELECT COUNT(*)::BIGINT FROM documents " +
        "WHERE doc_id % 2 = 0)), " +
        "hp AS (SELECT fr.f, " +
        "((((fr.f + (fr.f // 16) * 128) % 256) " +
        "+ (x.x * 7 + y.y * 13) % 32) % 256) // 16 AS bin, " +
        "COUNT(*) AS n_px " +
        "FROM fr CROSS JOIN generate_series(0, 31) x(x) " +
        "CROSS JOIN generate_series(0, 23) y(y) GROUP BY 1, 2), " +
        "g AS (SELECT m.f, gb.bin, COALESCE(h.n_px, 0)::BIGINT AS n " +
        "FROM (SELECT DISTINCT f FROM hp) m " +
        "CROSS JOIN generate_series(0, 15) gb(bin) " +
        "LEFT JOIN hp h ON h.f = m.f AND h.bin = gb.bin), " +
        "px AS (SELECT f, SUM(n) AS n_px FROM g GROUP BY f), " +
        "d AS (SELECT cur.f AS frame_id, SUM(ABS(cur.n - prv.n)) AS l1 " +
        "FROM g cur JOIN g prv ON prv.f = cur.f - 1 " +
        "AND prv.bin = cur.bin GROUP BY cur.f) " +
        "SELECT d.frame_id, CAST(d.l1 AS BIGINT) AS l1, " +
        "CAST(p.n_px AS BIGINT) AS n_px, d.l1 >= p.n_px AS is_cut " +
        "FROM d JOIN px p ON p.f = d.frame_id ORDER BY frame_id"),
    "mm_dupblob" ->
      (s"""WITH media AS ( """ +
        """SELECT doc_id AS media_id, text FROM documents """ +
        s"""UNION ALL SELECT doc_id + ${graft.ops.Dedup.TwinIdOffset}, """ +
        """text FROM documents WHERE doc_id % 5 = 0) """ +
        """SELECT sha256(text) AS digest, COUNT(*) AS n_copies, """ +
        """MIN(media_id) AS keeper_id, """ +
        """MIN(octet_length(encode(text)))::BIGINT AS n_bytes, """ +
        """((COUNT(*) - 1) """ +
        """* MIN(octet_length(encode(text))))::BIGINT AS wasted_bytes """ +
        """FROM media GROUP BY sha256(text) ORDER BY digest"""),
    "mm_windows" ->
      ("""WITH dec AS (SELECT doc_id AS media_id, """ +
        """octet_length(encode(text))::BIGINT AS n_bytes FROM documents """ +
        """WHERE doc_id % 3 = 1) """ +
        """SELECT media_id, i AS win_idx, i * 160 AS off_start, """ +
        """i * 160 + 400 AS off_end """ +
        """FROM (SELECT media_id, n_bytes, """ +
        """unnest(generate_series(0, (n_bytes - 400) // 160)) AS i """ +
        """FROM dec WHERE n_bytes >= 400) """ +
        """ORDER BY media_id, win_idx"""),
    "mm_align" ->
      ("""WITH dec AS (SELECT doc_id AS media_id, """ +
        """octet_length(encode(text))::BIGINT AS n_bytes, """ +
        """(CASE WHEN doc_id % 3 = 2 THEN 1 + octet_length(encode(text)) % 16 """ +
        """ELSE 1 END)::BIGINT AS n_frames FROM documents), """ +
        """fr AS (SELECT media_id, i AS frame_idx, """ +
        """(n_bytes // n_frames) * i AS frame_offset """ +
        """FROM (SELECT media_id, n_bytes, n_frames, """ +
        """unnest(generate_series(0, n_frames - 1)) AS i FROM dec)), """ +
        """seg AS (SELECT media_id, j AS seg_idx, """ +
        """(n_bytes * j) // 4 AS seg_start, """ +
        """(n_bytes * (j + 1)) // 4 AS seg_end """ +
        """FROM (SELECT media_id, n_bytes, """ +
        """unnest(generate_series(0, 3)) AS j FROM dec)) """ +
        """SELECT f.media_id, f.frame_idx, f.frame_offset, """ +
        """g.seg_idx, g.seg_start, g.seg_end """ +
        """FROM fr f JOIN seg g ON g.media_id = f.media_id """ +
        """AND f.frame_offset >= g.seg_start AND f.frame_offset < g.seg_end """ +
        """ORDER BY f.media_id, f.frame_idx"""),
    "mm_shard" ->
      ("""WITH sized AS (SELECT doc_id AS media_id, """ +
        """octet_length(encode(text))::BIGINT AS n_bytes, """ +
        """md5(doc_id::VARCHAR) AS digest, """ +
        """((strpos('0123456789abcdef', """ +
        """substr(md5(doc_id::VARCHAR), 1, 1)) - 1) % 8)::BIGINT AS grp """ +
        """FROM documents), """ +
        """cum AS (SELECT media_id, n_bytes, grp, """ +
        """COALESCE(SUM(n_bytes) OVER (PARTITION BY grp """ +
        """ORDER BY digest, media_id """ +
        """ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT """ +
        """AS cum_before FROM sized), """ +
        """sh AS (SELECT media_id, n_bytes, grp, cum_before, """ +
        """cum_before // 4096 AS shard_local FROM cum) """ +
        """SELECT media_id, grp * 1000000 + shard_local AS shard_id, """ +
        """cum_before - MIN(cum_before) OVER ( """ +
        """PARTITION BY grp, shard_local) AS offset_bytes, n_bytes """ +
        """FROM sh ORDER BY media_id"""),
    // the planted ground truth mm_decode_real's REAL encode→decode
    // round-trip must land on, computed without any codec
    "mm_decode_real" ->
      """SELECT doc_id AS media_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
        |  (CASE WHEN doc_id % 2 = 0 THEN 16 + doc_id % 17
        |        ELSE 8000 END)::INT AS width,
        |  (CASE WHEN doc_id % 2 = 0 THEN 16 + (doc_id * 3) % 13
        |        ELSE 2 END)::INT AS height,
        |  (CASE WHEN doc_id % 2 = 0 THEN 1
        |        ELSE 100 + doc_id % 50 END)::INT AS n_frames
        |FROM documents ORDER BY media_id""".stripMargin.replaceAll("\n", " "),
    // planted square-wave ground truth mm_audiofeat's real WAV
    // encode→decode→feature path must land on, computed codec-free
    "mm_audiofeat" ->
      """WITH p AS (SELECT doc_id AS media_id,
        |  (1000 + 500 * (doc_id % 7))::BIGINT AS amp,
        |  (4 + 2 * (doc_id % 3))::BIGINT AS half,
        |  (4800 + 240 * (doc_id % 5))::BIGINT AS act,
        |  (1200 + 240 * (doc_id % 3))::BIGINT AS tail
        |  FROM documents)
        |SELECT media_id,
        |  act + tail AS n_samples,
        |  8000::INT AS sample_rate,
        |  act * amp * amp AS sum_sq,
        |  act // half - 1 AS zero_crossings,
        |  tail // 240 AS silent_frames,
        |  (act + tail) // 240 AS n_frames_w,
        |  ROUND(sqrt((act * amp * amp)::DOUBLE / (act + tail)), 6) AS rms,
        |  ROUND((act // half - 1)::DOUBLE / (act + tail - 1), 6) AS zcr,
        |  ROUND((tail // 240)::DOUBLE / ((act + tail) // 240), 6)
        |    AS silence_frac
        |FROM p ORDER BY media_id""".stripMargin.replaceAll("\n", " "),
    "mm_imghist" ->
      """WITH p AS (SELECT doc_id AS media_id,
        |  16 + (doc_id % 17) AS w, 16 + (doc_id * 3 % 13) AS h
        |  FROM documents WHERE doc_id % 2 = 0),
        |cell AS (SELECT media_id, w,
        |  unnest(generate_series(0, (w * h - 1)::BIGINT)) AS c FROM p),
        |g AS (SELECT media_id,
        |  (((media_id * 31 + (c % w) * 7 + (c // w) * 13) % 256) // 16)::INT
        |    AS bin
        |  FROM cell)
        |SELECT media_id, bin, COUNT(*) AS n_px
        |FROM g GROUP BY media_id, bin
        |ORDER BY media_id, bin""".stripMargin.replaceAll("\n", " "),
    "mm_audioseg" ->
      """WITH p AS (SELECT doc_id AS media_id,
        |  (1 + doc_id % 3)::BIGINT AS k,
        |  (2400 + 240 * (doc_id % 4))::BIGINT AS actb,
        |  (480 + 240 * (doc_id % 2))::BIGINT AS gap,
        |  (720 + 240 * (doc_id % 3))::BIGINT AS tail
        |  FROM documents)
        |SELECT media_id,
        |  k * actb + (k - 1) * gap + tail AS n_samples,
        |  (k * actb + (k - 1) * gap + tail) // 240 AS n_frames,
        |  k * (actb // 240) AS active_frames,
        |  k AS n_segments,
        |  actb // 240 AS longest_run
        |FROM p ORDER BY media_id""".stripMargin.replaceAll("\n", " "),
    "mm_decode" ->
      """SELECT doc_id AS media_id,
        |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  octet_length(encode(text))::BIGINT AS n_bytes,
        |  (64 + octet_length(encode(text)) % 576)::INT AS width,
        |  (64 + (octet_length(encode(text))::BIGINT * 7) % 456)::INT AS height,
        |  (CASE WHEN doc_id % 3 = 2 THEN 1 + octet_length(encode(text)) % 16
        |        ELSE 1 END)::INT AS n_frames,
        |  md5(text) AS feature_hash
        |FROM documents ORDER BY media_id""".stripMargin.replaceAll("\n", " "),
    "mm_frames" ->
      """WITH dec AS (
        |  SELECT doc_id AS media_id,
        |    octet_length(encode(text))::BIGINT AS n_bytes,
        |    (CASE WHEN doc_id % 3 = 2 THEN 1 + octet_length(encode(text)) % 16
        |          ELSE 1 END)::BIGINT AS n_frames,
        |    md5(text) AS feature_hash
        |  FROM documents)
        |SELECT media_id, i AS frame_idx,
        |       (n_bytes // n_frames) * i AS frame_offset,
        |       md5(feature_hash || ':' || i) AS frame_hash
        |FROM (SELECT media_id, n_bytes, n_frames, feature_hash,
        |             unnest(generate_series(0, n_frames - 1)) AS i
        |      FROM dec)
        |ORDER BY media_id, frame_idx""".stripMargin.replaceAll("\n", " "),
    "mm_resize" ->
      """WITH dec AS (
        |  SELECT doc_id AS media_id,
        |    (64 + octet_length(encode(text)) % 576)::BIGINT AS w,
        |    (64 + (octet_length(encode(text))::BIGINT * 7) % 456)::BIGINT AS h
        |  FROM documents)
        |SELECT media_id,
        |  (CASE WHEN greatest(w, h) <= 128 THEN w
        |        ELSE w * 128 // greatest(w, h) END)::INT AS width,
        |  (CASE WHEN greatest(w, h) <= 128 THEN h
        |        ELSE h * 128 // greatest(w, h) END)::INT AS height
        |FROM dec ORDER BY media_id""".stripMargin.replaceAll("\n", " "),
    "mm_phash_pairs" -> phashPairsDuck,
    "mm_resolve" -> {
      val pairsSql = phashPairsDuck.replace("ORDER BY media_a, media_b", "")
      s"""WITH RECURSIVE pairs AS ($pairsSql),
         |e0 AS (SELECT media_a AS u, media_b AS v FROM pairs
         |       UNION SELECT media_b, media_a FROM pairs),
         |reach(u, v) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM e0)
         |  UNION
         |  SELECT r.u, e.v FROM reach r JOIN e0 e ON e.u = r.v)
         |SELECT u AS media_id, MIN(v) AS canon_id FROM reach GROUP BY u
         |ORDER BY media_id""".stripMargin.replaceAll("\n", " ")
    })

  /** DuckDB mirror of the typed pHash pass, shared by mm_phash_pairs and
    * mm_resolve: text is ASCII, so ascii(substr(..)) == the payload byte
    * the typed pass samples; bit 63 uses the same min-long literal as
    * the simhash oracle (1<<63 overflows DuckDB's signed shift).
    */
  private lazy val phashPairsDuck: String =
      """WITH corpus AS (
        |  SELECT doc_id AS media_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 100000000,
        |         substr(text, 1, len(text) // 2) || 'x' ||
        |         substr(text, len(text) // 2 + 2)
        |  FROM documents),
        |sig AS (
        |  SELECT media_id,
        |         list_sum([CASE WHEN
        |             ascii(substr(text, 1 + (i * (len(text) - 1)) // 64, 1))
        |           < ascii(substr(text, 1 + ((i + 1) * (len(text) - 1)) // 64, 1))
        |           THEN CASE WHEN i = 63 THEN (-9223372036854775807 - 1)
        |                ELSE (1::BIGINT << i) END
        |           ELSE 0 END
        |           FOR i IN generate_series(0, 63)])::BIGINT AS phash
        |  FROM corpus),
        |band AS (
        |  SELECT media_id, phash, g.bno,
        |         (phash >> (16 * bno)) & 65535 AS bk
        |  FROM sig CROSS JOIN generate_series(0, 3) g(bno))
        |SELECT DISTINCT a.media_id AS media_a, b.media_id AS media_b,
        |       bit_count(xor(a.phash, b.phash))::BIGINT AS hamming
        |FROM band a JOIN band b
        |  ON a.bno = b.bno AND a.bk = b.bk AND a.media_id < b.media_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 3
        |ORDER BY media_a, media_b""".stripMargin.replaceAll("\n", " ")

  /** Near-dup media clusters: the pHash-LSH pairs resolved to transitive
    * components by the SAME label-propagation engine the text dedup
    * uses ([[graft.ops.Pipeline.ddResolve]]) — candidates → verify →
    * resolve is one pipeline shape whatever the modality; each media id
    * maps to its cluster's minimum. Completes the image-dedup story:
    * mm_phash_pairs finds the edges, this hands the loader a
    * keep/replace table.
    *
    * Scale design: inherits the pairs' band-bounded candidate volume
    * and CC's one-job-per-round loop; output is clustered-media-sized.
    */
  def mmResolve(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.ops.Pipeline.ddResolve(
      mmPhashPairsCore(s, dir).select(col("media_a").as("doc_a"),
        col("media_b").as("doc_b")))
      .select(col("doc_id").as("media_id"), col("canon_id"))
      .orderBy("media_id")
  }
}
