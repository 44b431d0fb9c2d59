package graft.multimodal

import java.awt.RenderingHints
import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream, IOException}
import javax.imageio.{IIOImage, ImageIO}
import javax.imageio.stream.ImageInputStream
import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem,
  UnsupportedAudioFileException}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads travel as
  * opaque `binary` columns with a typed metadata struct; decode /
  * feature-extract / frame-sample run as batched per-partition
  * functions over the binary column.
  *
  * The Spark-side design is real and tested (MultimodalSpec): schema,
  * partition-parallel batch execution via `mapPartitions` (the Scala
  * analogue of `mapInPandas` batches), and the output contract. All
  * three modalities decode REAL bytes with pure-JDK code: images via
  * `javax.imageio` ([[ImageIoCodec]]), audio via `javax.sound.sampled`
  * ([[audioMeta]]), video in THREE container formats — MP4 with a
  * Motion-JPEG track (a pure-JVM ISO-BMFF demuxer), MJPEG
  * (concatenated JPEG, SOI/EOI marker scan) and animated GIF (the
  * JDK's multi-frame reader) — opened by one reader ([[withVideo]])
  * that both [[VideoCodec]] and [[videoFrames]] use. [[FakeCodec]]
  * remains only as the declared row-wise degradation target for what
  * the JDK cannot decode — H.264 (`avc1`) frame pixels, whose dims
  * still come from the SPS header, and undecodable bytes — swap a
  * richer decoder in through the [[DispatchingCodec]] seam without
  * touching the dataflow.
  *
  * Scale notes: payloads never shuffle — decode runs map-side on the
  * scan partitioning; only extracted (small) features flow into joins
  * or aggregations. Partition sizing must account for payload width
  * (`spark.sql.files.maxPartitionBytes` down, not row-count up).
  */
object Multimodal {

  /** One media row: payload + metadata the sources actually know. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType),         // image | audio | video
    StructField("payload", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("source", StringType),
      StructField("content_type", StringType),
      StructField("n_bytes", LongType))))))

  final case class MediaFeature(
      media_id: Long,
      kind: String,
      n_bytes: Long,
      checksum: Long,
      width: Int,       // fake-decoded dimensions / duration
      height: Int,
      frames_sampled: Int)

  /** Codec abstraction the dataflow is written against: swap decoders
    * without touching the Spark plumbing. Must be Serializable — it
    * ships inside the mapPartitions closure to every executor.
    */
  trait Codec extends Serializable {
    def checksum(payload: Array[Byte]): Long =
      payload.foldLeft(1125899906842597L)((h, b) => 31 * h + b)
    def decodeDims(kind: String, payload: Array[Byte]): (Int, Int)
    def sampleFrames(payload: Array[Byte], everyK: Int): Int
  }

  /** STUB — deterministic fallback for payloads no JDK reader claims.
    * Every value is a pure function of the payload bytes so tests are
    * stable.
    *
    * SCOPE DECISION (r13 verdict #8, mirroring the SURVEY §2.1 S8
    * precedent): this codec's remaining domain — H.264 frame PIXELS —
    * is PERMANENTLY out of scope for the pure-JDK build. Everything
    * around the pixels is real: container demux (ISO-BMFF box walker),
    * codec identification (stsd fourcc), coded dimensions (avcC SPS
    * parse, [[spsDims]]), sample locations and sizes. Decoding the
    * pixel data itself means CABAC/CAVLC entropy decode + intra/inter
    * prediction + deblocking — a full video decoder, thousands of
    * lines of public-spec implementation with no JDK entry point and
    * no library in this build's dependency envelope. The PRODUCTION
    * path is the [[DispatchingCodec]] seam: a third-party H.264
    * decoder plugs in as one (sniffer → codec) handler with zero
    * changes to the Spark plumbing (MultimodalSpec pins the dispatch
    * with a stub H.264 codec next to real GIF/JPEG rows). Absent such
    * a handler, avc1 pixel-dependent values degrade to THIS stub —
    * deterministically, per row, never by failing the job — exactly
    * like the SPI-null GIF path (MultimodalSpec pins the degradation:
    * real avcC dims + fake frame signatures for avc1, real everything
    * for jpeg-in-MP4).
    */
  object FakeCodec extends Codec {
    override def decodeDims(kind: String, payload: Array[Byte]): (Int, Int) = {
      val h = checksum(payload)
      (64 + (math.abs(h) % 1024).toInt, 64 + (math.abs(h >> 10) % 1024).toInt)
    }
    /** Pretend frame sampler: every k-th "frame" (64-byte block). */
    override def sampleFrames(payload: Array[Byte], everyK: Int): Int =
      if (payload.isEmpty) 0 else (payload.length / 64) / math.max(everyK, 1) + 1
  }

  /** REAL image path — `javax.imageio` ships in the JDK (PNG/JPEG/GIF/
    * BMP), zero new dependencies: image payloads are actually decoded
    * and report true pixel dimensions. Undecodable payloads and
    * non-image kinds fall back to [[FakeCodec]]'s deterministic stub
    * values, so one mixed-kind table still extracts in a single pass.
    */
  object ImageIoCodec extends Codec {
    override def decodeDims(kind: String, payload: Array[Byte]): (Int, Int) =
      (if (kind != "image") None else readImage(payload))
        .map(img => (img.getWidth, img.getHeight))
        .getOrElse(FakeCodec.decodeDims(kind, payload))
    override def sampleFrames(payload: Array[Byte], everyK: Int): Int =
      FakeCodec.sampleFrames(payload, everyK)
  }

  // Byte-array inputs need no disk-backed stream cache; the default
  // (useCache=true) creates and deletes a java.io.tmpdir file PER ROW
  // on every executor — a silent disk-I/O bottleneck at scale, and an
  // IOException on a full tmpdir. The switch is JVM-wide, so it runs
  // once per executor JVM, before the first ImageIO stream is created.
  private lazy val imageIoCacheOff: Unit = ImageIO.setUseCache(false)

  /** Decode one image payload; None when it is empty, no reader
    * claims it, or it is truncated/corrupt — corrupt data must degrade
    * its row, never kill a 100 TB extract job. */
  private def readImage(bytes: Array[Byte]): Option[BufferedImage] =
    if (bytes == null || bytes.isEmpty) None
    else {
      imageIoCacheOff
      try Option(ImageIO.read(new ByteArrayInputStream(bytes)))
      catch { case _: IOException | _: RuntimeException => None }
    }

  private def encodeImage(img: BufferedImage, format: String): Array[Byte] = {
    imageIoCacheOff
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, format, out)
    out.toByteArray
  }

  /** `src` drawn bilinear into a fresh w×h image of `imageType`. */
  private def drawScaled(src: BufferedImage, w: Int, h: Int, imageType: Int): BufferedImage = {
    val dst = new BufferedImage(w, h, imageType)
    val g = dst.createGraphics()
    try {
      g.setRenderingHint(
        RenderingHints.KEY_INTERPOLATION, RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(src, 0, 0, w, h, null)
    } finally g.dispose()
    dst
  }

  /** One resized image row: re-encoded payload + before/after dims. */
  final case class ResizedImage(
      media_id: Long,
      width: Int,
      height: Int,
      orig_width: Int,
      orig_height: Int,
      payload: Array[Byte])

  /** REAL image resize — decode, scale so the longest edge is `maxDim`
    * (aspect preserved, never upscale), re-encode PNG. Pure JDK
    * (`java.awt` + `javax.imageio`). This is the thumbnail/normalize
    * step of a multimodal training pipeline, and it runs map-side on
    * the scan partitioning: payloads never shuffle, output rows carry
    * the (smaller) re-encoded bytes. Rows whose payload doesn't decode
    * are dropped (the feature-extract pass is where undecodables get
    * counted). Partition sizing note as for [[extractFeatures]].
    */
  def resizeImages(media: DataFrame, maxDim: Int): Dataset[ResizedImage] = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .filter(col("kind") === "image")
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        readImage(payload).map { src =>
          val (ow, oh) = (src.getWidth, src.getHeight)
          val scale = math.min(1.0, maxDim.toDouble / math.max(ow, oh))
          val (w, h) = (math.max(1, math.round(ow * scale).toInt),
            math.max(1, math.round(oh * scale).toInt))
          ResizedImage(id, w, h, ow, oh,
            encodeImage(drawScaled(src, w, h, BufferedImage.TYPE_INT_RGB), "png"))
        }
      })
  }

  /** One audio row's real metadata (WAV/AIFF/AU via the JDK's
    * `javax.sound.sampled` — no external codec libraries). */
  final case class AudioMeta(
      media_id: Long,
      sample_rate: Int,
      channels: Int,
      n_frames: Long,
      duration_ms: Long)

  /** REAL audio metadata extraction for the formats the JDK decodes
    * natively. Undecodable payloads are dropped, like
    * [[resizeImages]]. Map-side only.
    */
  def audioMeta(media: DataFrame): Dataset[AudioMeta] = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .filter(col("kind") === "audio")
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        withAudio(payload) { in =>
          val fmt = in.getFormat
          val frames = in.getFrameLength
          val rate = fmt.getSampleRate.toInt
          Some(AudioMeta(
            media_id = id,
            sample_rate = rate,
            channels = fmt.getChannels,
            n_frames = frames,
            duration_ms =
              if (frames >= 0 && rate > 0) frames * 1000L / rate else -1L))
        }
      })
  }

  /** Open one audio payload through `javax.sound.sampled` for `f`;
    * None when it is empty or no JDK reader claims it. */
  private def withAudio[A](payload: Array[Byte])(f: AudioInputStream => Option[A]): Option[A] =
    if (payload == null || payload.isEmpty) None
    else try {
      val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
      try f(in) finally in.close()
    } catch { case _: UnsupportedAudioFileException | _: IOException => None }

  /** Batched feature extraction over the binary column — partition-
    * parallel, no shuffle; one output row per media row. Decode runs
    * map-side on the scan partitioning via the given codec
    * ([[ImageIoCodec]] = real image decode, [[FakeCodec]] = all-stub).
    */
  def extractFeatures(
      media: DataFrame,
      frameEveryK: Int = 8,
      codec: Codec = ImageIoCodec): Dataset[MediaFeature] = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .select(col("media_id"), col("kind"), col("payload"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, kind, payload) =>
        val bytes = if (payload == null) Array.emptyByteArray else payload
        val (w, h) = codec.decodeDims(kind, bytes)
        MediaFeature(
          media_id = id,
          kind = kind,
          n_bytes = bytes.length.toLong,
          checksum = codec.checksum(bytes),
          width = w,
          height = h,
          frames_sampled =
            if (kind == "video") codec.sampleFrames(bytes, frameEveryK) else 0)
      })
  }

  final case class ImageHash(media_id: Long, ahash: Long)

  /** REAL perceptual average-hash (aHash) — the image analogue of
    * SimHash and the standard first-pass image dedup key: decode,
    * bilinear-downsample to 8×8 grayscale, threshold each cell against
    * the mean → 64-bit signature. Hamming distance ≤ ~5 flags
    * near-duplicates (re-encodes, minor crops/noise). Map-side decode
    * collapses each payload to 8 BYTES, so a 100 TB image corpus
    * dedups by grouping/joining signatures — payloads never shuffle.
    * Pure JDK; undecodable rows are dropped like [[resizeImages]].
    */
  def imageHashes(media: DataFrame): Dataset[ImageHash] = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .filter(col("kind") === "image")
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        readImage(payload).map(src => ImageHash(id, aHashOf(src)))
      })
  }

  /** 64-bit average-hash of a decoded frame: bilinear 8×8 grayscale
    * downsample, threshold against the mean. Shared by the image and
    * video (per-frame) dedup paths. */
  private def aHashOf(src: BufferedImage): Long = {
    val small = drawScaled(src, 8, 8, BufferedImage.TYPE_BYTE_GRAY)
    val px = new Array[Int](64)
    var i = 0
    while (i < 64) { px(i) = small.getRaster.getSample(i % 8, i / 8, 0); i += 1 }
    val mean = px.sum / 64
    var sig = 0L
    i = 0
    while (i < 64) { if (px(i) > mean) sig |= (1L << i); i += 1 }
    sig
  }

  /** MJPEG frame boundaries: byte ranges of each SOI(FFD8)…EOI(FFD9)
    * segment in a concatenated-JPEG stream. Entropy-coded JPEG data
    * escapes 0xFF as FF00 and uses only FFD0-D7 restart markers, so a
    * literal FFD9 inside a frame is possible only in embedded preview
    * thumbnails (EXIF) — which MJPEG streams (and the synthetic
    * corpus) do not carry. Malformed tails (SOI without EOI) are
    * dropped, not errors: the degrade-row-wise policy of every codec
    * path here. */
  private[multimodal] def jpegFrameRanges(p: Array[Byte]): IndexedSeq[(Int, Int)] = {
    val out = scala.collection.immutable.IndexedSeq.newBuilder[(Int, Int)]
    var i = 0
    var start = -1
    while (i + 1 < p.length) {
      val a = p(i) & 0xFF
      val b = p(i + 1) & 0xFF
      if (start < 0) {
        if (a == 0xFF && b == 0xD8) { start = i; i += 2 } else i += 1
      } else if (a == 0xFF && b == 0xD9) {
        out += ((start, i + 2)); start = -1; i += 2
      } else i += 1
    }
    out.result()
  }

  private[multimodal] def isMjpeg(p: Array[Byte]): Boolean =
    p != null && p.length >= 2 && (p(0) & 0xFF) == 0xFF && (p(1) & 0xFF) == 0xD8

  /** ISO-BMFF (MP4/MOV) container magic: `ftyp` box name at offset 4.
    * The JDK ships no reader for it — the container the codec seam
    * exists to hand to a third-party decoder. */
  private[multimodal] def isMp4(p: Array[Byte]): Boolean =
    p != null && p.length >= 12 &&
      p(4) == 'f'.toByte && p(5) == 't'.toByte &&
      p(6) == 'y'.toByte && p(7) == 'p'.toByte

  /** The production swap-in seam for codecs the JDK lacks (MP4/H.264,
    * declared FakeCodec territory): a chain of (container-sniffer →
    * codec) handlers tried in order against the payload bytes, falling
    * back to the built-in JDK chain, [[VideoCodec]]. A third-party
    * decoder plugs in as one handler value — the Spark plumbing
    * (mapPartitions signature, schema, partitioning, degrade-row-wise
    * policy) is untouched, which MultimodalSpec pins with a stub
    * "H.264" codec dispatched by MP4 magic next to real GIF/JPEG rows.
    * Function values and codec objects are Serializable, so the whole
    * chain ships inside the executor closure like any single codec.
    */
  final case class DispatchingCodec(
      handlers: Seq[(Array[Byte] => Boolean, Codec)],
      default: Codec = VideoCodec) extends Codec {
    private def pick(p: Array[Byte]): Codec =
      handlers.collectFirst { case (sniff, c) if sniff(p) => c }
        .getOrElse(default)
    override def decodeDims(kind: String, payload: Array[Byte]): (Int, Int) =
      pick(payload).decodeDims(kind, payload)
    override def sampleFrames(payload: Array[Byte], everyK: Int): Int =
      pick(payload).sampleFrames(payload, everyK)
  }

  // ─────────────────── minimal ISO-BMFF (MP4) demuxer ───────────────
  //
  // THIRD real video container (r11 verdict #8): a pure-JVM ISO-BMFF
  // box walker that demuxes Motion-JPEG tracks — MP4 files whose
  // sample entry is 'jpeg'/'mjpa' carry independently-decodable JPEG
  // samples, so the JDK JPEG reader gives a genuinely real decode path
  // for the MP4 CONTAINER with no third-party codec. H.264 ('avc1')
  // sample data stays honestly undecodable: the demuxer reports the
  // non-JPEG fourcc and the codec falls back to [[FakeCodec]], exactly
  // the declared seam for a third-party decoder.
  //
  // Box grammar (ISO/IEC 14496-12, public spec): [size:u32]["type":4]
  // [payload]; size includes the 8-byte header; size==0 → to end,
  // size==1 → 64-bit largesize (unsupported here → None, degrade).
  // Sample layout comes from the stbl children the spec makes
  // mandatory: stsd (codec fourcc), stsz (sample sizes), stsc
  // (sample→chunk runs), stco (chunk offsets).

  private def be32(p: Array[Byte], i: Int): Long =
    ((p(i) & 0xFFL) << 24) | ((p(i + 1) & 0xFFL) << 16) |
      ((p(i + 2) & 0xFFL) << 8) | (p(i + 3) & 0xFFL)

  private def boxName(p: Array[Byte], i: Int): String =
    new String(p, i + 4, 4, "US-ASCII")

  /** Child boxes of the container spanning [from, to): (type, payload
    * start, payload end). Malformed sizes end the walk (degrade). */
  private def childBoxes(p: Array[Byte], from: Int, to: Int): Seq[(String, Int, Int)] = {
    val out = Seq.newBuilder[(String, Int, Int)]
    var i = from
    var bad = false
    while (!bad && i + 8 <= to) {
      val size = be32(p, i)
      val end = if (size == 0) to.toLong else i + size
      if (size == 1 || end < i + 8 || end > to) bad = true
      else { out += ((boxName(p, i), i + 8, end.toInt)); i = end.toInt }
    }
    out.result()
  }

  private def findBox(p: Array[Byte], from: Int, to: Int,
                      tpe: String): Option[(Int, Int)] =
    childBoxes(p, from, to).collectFirst { case (`tpe`, s, e) => (s, e) }

  /** First video track's sample-table (stbl) and sample-description
    * (stsd) box extents, the stsd holding at least one sample entry.
    * None unless the payload is an MP4 well-formed down to them. */
  private def mp4Stsd(p: Array[Byte]): Option[((Int, Int), (Int, Int))] =
    if (!isMp4(p)) None
    else for {
      (moovS, moovE) <- findBox(p, 0, p.length, "moov")
      (stS, stE) <- childBoxes(p, moovS, moovE).collectFirst { case ("trak", ts, te) =>
          for {
            (mdS, mdE) <- findBox(p, ts, te, "mdia")
            (mfS, mfE) <- findBox(p, mdS, mdE, "minf")
            stbl <- findBox(p, mfS, mfE, "stbl")
          } yield stbl
        }.flatten
      (sdS, sdE) <- findBox(p, stS, stE, "stsd")
      // stsd: version/flags(4) entry_count(4) then sample entries,
      // each [size:4]["fourcc":4]...
      if sdE - sdS >= 16 && be32(p, sdS + 4) >= 1
    } yield ((stS, stE), (sdS, sdE))

  /** Demux the first video track: (sample-entry fourcc, sample byte
    * ranges). None when the payload is not a well-formed MP4 with the
    * boxes needed to locate samples. */
  private[multimodal] def mp4SampleRanges(
      p: Array[Byte]): Option[(String, IndexedSeq[(Int, Int)])] =
    for {
      ((stS, stE), (sdS, _)) <- mp4Stsd(p)
      fourcc = boxName(p, sdS + 8)
      (szS, szE) <- findBox(p, stS, stE, "stsz")
      (scS, scE) <- findBox(p, stS, stE, "stsc")
      (coS, coE) <- findBox(p, stS, stE, "stco")
      // Each table box must at least hold its fixed header before the
      // first be32 header read: a box truncated mid-header would index
      // past the payload's end (findBox only bounds the box, not its
      // header fields).
      if szE - szS >= 12 && scE - scS >= 8 && coE - coS >= 8
      ranges <- {
        // Every count is validated against its box's actual extent
        // BEFORE any allocation or indexed read: a malformed payload
        // (isMp4 only checks the magic) must degrade row-wise like
        // every other codec path, never throw out of mapPartitions or
        // allocate a bogus 2^31-entry table.
        // stsz: vf(4) sample_size(4) count(4) [sizes]
        val fixedSize = be32(p, szS + 4)
        val nL = be32(p, szS + 8)
        val szOk = nL > 0 && nL <= p.length &&
          (fixedSize != 0 || szE - szS >= 12 + 4L * nL)
        val n = if (szOk) nL.toInt else 0
        val sizes: IndexedSeq[Long] =
          if (!szOk) IndexedSeq.empty
          else if (fixedSize != 0) IndexedSeq.fill(n)(fixedSize)
          else (0 until n).map(i => be32(p, szS + 12 + 4 * i))
        // stsc: vf(4) count(4) entries of (first_chunk, per_chunk, sdi)
        val scNL = be32(p, scS + 4)
        val scOk = scNL > 0 && scE - scS >= 8 + 12L * scNL
        val runs =
          if (!scOk) IndexedSeq.empty
          else (0 until scNL.toInt).map(i =>
            (be32(p, scS + 8 + 12 * i).toInt, be32(p, scS + 12 + 12 * i).toInt))
        // stco: vf(4) count(4) offsets
        val coNL = be32(p, coS + 4)
        val coOk = coNL > 0 && coE - coS >= 8 + 4L * coNL
        val coN = if (coOk) coNL.toInt else 0
        val offsets =
          if (!coOk) IndexedSeq.empty
          else (0 until coN).map(i => be32(p, coS + 8 + 4 * i))
        // per-chunk sample counts must be sane (a 2^31 run would spin
        // the expansion loop even though the s>=n cap keeps it safe)
        if (sizes.isEmpty || offsets.isEmpty ||
            runs.isEmpty || !runs.forall(r => r._1 >= 1 && r._2 > 0 && r._2 <= n)) None
        else {
          // expand stsc runs to per-chunk sample counts, lay samples
          // out consecutively from each chunk offset
          val perChunk = (0 until coN).map { c =>
            runs.reverse.collectFirst {
              case (first, per) if first <= c + 1 => per }.getOrElse(0)
          }
          val out = IndexedSeq.newBuilder[(Int, Int)]
          var s = 0
          var ok = true
          for (c <- 0 until coN if ok) {
            var off = offsets(c)
            for (_ <- 0 until perChunk(c) if ok) {
              if (s >= n) ok = false
              else {
                val e = off + sizes(s)
                if (e > p.length) ok = false
                else { out += ((off.toInt, e.toInt)); off = e; s += 1 }
              }
            }
          }
          if (ok && s == n) Some(out.result()) else None
        }
      }
    } yield (fourcc, ranges)

  /** Bit reader for H.264 RBSP payloads (emulation-prevention bytes
    * already stripped): fixed-width reads plus the Exp-Golomb ue/se
    * codes of ISO/IEC 14496-10 §9.1. Exhaustion returns None — these
    * are untrusted executor-side bytes, so a truncated SPS must
    * degrade row-wise like every other malformed-payload path. */
  private final class RbspBitReader(b: Array[Byte]) {
    private var pos = 0
    def u1(): Option[Int] =
      if (pos >= b.length * 8) None
      else { val v = (b(pos >> 3) >> (7 - (pos & 7))) & 1; pos += 1; Some(v) }
    def u(n: Int): Option[Int] = {
      var v = 0; var i = 0
      while (i < n) {
        u1() match {
          case Some(x) => v = (v << 1) | x
          case None => return None
        }
        i += 1
      }
      Some(v)
    }
    def ue(): Option[Int] = {
      var zeros = 0
      // cap at 30, not 31: (1 << 31) is Int.MinValue, so a 31-zero
      // prefix would wrap (1 << zeros) - 1 + r into a wrong-but-
      // positive value that passes downstream > 0 guards (ADVICE r13).
      // 2^30-scale SPS fields don't exist in any conformant stream.
      while (zeros <= 30) {
        u1() match {
          case Some(0) => zeros += 1
          case Some(_) => return u(zeros).map(r => (1 << zeros) - 1 + r)
          case None => return None
        }
      }
      None // >= 2^31 would overflow Int; no sane SPS field is that large
    }
    def se(): Option[Int] =
      ue().map(k => if (k % 2 == 0) -(k / 2) else (k + 1) / 2)
  }

  private def skipScalingLists(r: RbspBitReader, n: Int): Option[Unit] = {
    var i = 0
    while (i < n) {
      r.u1() match {
        case Some(1) =>
          val size = if (i < 6) 16 else 64
          var j = 0; var last = 8; var next = 8
          while (j < size) {
            if (next != 0) r.se() match {
              case Some(d) => next = (last + d + 256) % 256
              case None => return None
            }
            last = if (next == 0) last else next
            j += 1
          }
        case Some(_) => ()
        case None => return None
      }
      i += 1
    }
    Some(())
  }

  /** Coded width/height from an H.264 sequence-parameter-set NAL —
    * the public ISO/IEC 14496-10 §7.3.2.1 syntax down to the frame
    * cropping rectangle (crop units scale with the chroma format and
    * field coding, §7.4.2.1.1). Frame PIXELS stay undecodable in pure
    * JDK, but the dimensions live entirely in this header, so avc1
    * MP4s no longer need [[FakeCodec]] for metadata. */
  private[multimodal] def spsDims(nal: Array[Byte]): Option[(Int, Int)] = {
    if (nal.length < 4 || (nal(0) & 0x1f) != 7) return None
    // strip emulation prevention: 00 00 03 xx -> 00 00 xx
    val rbsp = {
      val out = new scala.collection.mutable.ArrayBuffer[Byte](nal.length)
      var i = 1
      while (i < nal.length) {
        if (i + 2 < nal.length && nal(i) == 0 && nal(i + 1) == 0 && nal(i + 2) == 3) {
          out += 0; out += 0; i += 3
        } else { out += nal(i); i += 1 }
      }
      out.toArray
    }
    val r = new RbspBitReader(rbsp)
    val highProfiles =
      Set(100, 110, 122, 244, 44, 83, 86, 118, 128, 138, 139, 134, 135)
    for {
      profile <- r.u(8)
      _ <- r.u(16) // constraint flags + level_idc
      _ <- r.ue() // seq_parameter_set_id
      chromaIdc <-
        if (highProfiles.contains(profile)) for {
          c <- r.ue()
          _ <- if (c == 3) r.u1() else Some(0) // separate_colour_plane
          _ <- r.ue() // bit_depth_luma_minus8
          _ <- r.ue() // bit_depth_chroma_minus8
          _ <- r.u1() // qpprime_y_zero_transform_bypass
          sm <- r.u1()
          _ <- if (sm == 1) skipScalingLists(r, if (c != 3) 8 else 12)
               else Some(())
        } yield c
        else Some(1)
      _ <- r.ue() // log2_max_frame_num_minus4
      poc <- r.ue()
      _ <- poc match {
        case 0 => r.ue().map(_ => ())
        case 1 => for {
            _ <- r.u1(); _ <- r.se(); _ <- r.se()
            n <- r.ue()
            // the spec caps num_ref_frames_in_pic_order_cnt_cycle at
            // 255 (§7.4.2.1.1); an unbounded hostile value would spin
            // the skip loop for ~2^31 iterations per row
            if n <= 255
            _ <- (0 until n).foldLeft(Option(())) { (acc, _) =>
              acc.flatMap(_ => r.se().map(_ => ())) }
          } yield ()
        case _ => Some(())
      }
      _ <- r.ue() // max_num_ref_frames
      _ <- r.u1() // gaps_in_frame_num_value_allowed
      pw <- r.ue()
      ph <- r.ue()
      // Level limits (§A.3.1, table A-1): even level 6.2's MaxFS of
      // 139,264 MBs caps either dimension near 1,055 MBs; 4096 MBs
      // (65,536 px) is a generous ceiling that keeps every product
      // below ((pw+1)*16) within Int — a hostile 2^27-scale value
      // would otherwise overflow into wrong-but-positive dimensions
      // that pass the dims > 0 guard (ADVICE r13).
      if pw < 4096 && ph < 4096
      fmo <- r.u1()
      _ <- if (fmo == 0) r.u1() else Some(0) // mb_adaptive_frame_field
      _ <- r.u1() // direct_8x8_inference
      crop <- r.u1()
      dims <-
        if (crop == 1) for {
          l <- r.ue(); rt <- r.ue(); t <- r.ue(); b <- r.ue()
        } yield {
          val (subW, subH) = chromaIdc match {
            case 1 => (2, 2)
            case 2 => (2, 1)
            case _ => (1, 1) // monochrome and 4:4:4 crop in luma units
          }
          val cropY = subH * (2 - fmo)
          // Long arithmetic: crop offsets are attacker-controlled ue()
          // values up to ~2^30; subW * (l + rt) in Int could wrap past
          // the subtraction into a positive fake width (ADVICE r13).
          ((pw + 1).toLong * 16 - subW.toLong * (l.toLong + rt),
            (2 - fmo).toLong * (ph + 1) * 16 - cropY.toLong * (t.toLong + b))
        }
        else Some(((pw + 1).toLong * 16, (2 - fmo).toLong * (ph + 1) * 16))
      // pw/ph < 4096 bounds the uncropped product at 65,536 px; a crop
      // can only shrink it, so any in-range positive pair fits in Int.
      if dims._1 > 0 && dims._2 > 0 && dims._1 <= 65536 && dims._2 <= 65536
    } yield (dims._1.toInt, dims._2.toInt)
  }

  /** Real avc1 dimensions from the MP4's avcC decoder-configuration
    * box (ISO/IEC 14496-15 §5.3.3: the sample entry carries the SPS
    * verbatim): walk stsd → first avc1 VisualSampleEntry → avcC →
    * first SPS NAL → [[spsDims]]. Every offset is bounds-checked
    * before the read, same degrade policy as [[mp4SampleRanges]]. */
  private[multimodal] def mp4AvcDims(p: Array[Byte]): Option[(Int, Int)] =
    for {
      (_, (sdS, sdE)) <- mp4Stsd(p)
      entrySize = be32(p, sdS + 8)
      if entrySize >= 8 && sdS + 8 + entrySize.toLong <= sdE
      if boxName(p, sdS + 8) == "avc1"
      // VisualSampleEntry: 8-byte box header + 78 fixed bytes, then
      // child boxes (avcC among them)
      childFrom = sdS + 8 + 8 + 78
      childTo = (sdS + 8 + entrySize).toInt
      if childFrom <= childTo
      (cS, cE) <- findBox(p, childFrom, childTo, "avcC")
      dims <- {
        // avcC: ver profile compat level lenSizeMinusOne numSPS(low 5
        // bits), then per SPS [len:2][NAL bytes]
        if (cE - cS < 8 || (p(cS + 5) & 0x1f) < 1) None
        else {
          val spsLen = ((p(cS + 6) & 0xff) << 8) | (p(cS + 7) & 0xff)
          if (spsLen < 4 || cS + 8 + spsLen > cE) None
          else spsDims(java.util.Arrays.copyOfRange(p, cS + 8, cS + 8 + spsLen))
        }
      }
    } yield dims

  /** One opened video payload: its container frame count, frame 0's
    * dims, and the decode of frame i. */
  private final case class Video(
      nFrames: Int, width: Int, height: Int, frame: Int => Option[BufferedImage])

  /** The one reader of the built-in video containers, chosen on the
    * container magic: MP4 with a Motion-JPEG (`jpeg`/`mjpa`) track,
    * then MJPEG, then animated GIF. A payload opens when its container
    * yields at least one frame and frame 0 decodes; `f` then runs on
    * it. None means undecodable: [[VideoCodec]] degrades the row to
    * [[FakeCodec]], [[videoFrames]] drops it. In the two JPEG
    * containers a frame that fails to decode is skipped on its own
    * (`frame(i)` is None); a GIF read failure, inside `f` too, fails
    * the whole payload. The GIF reader is open only while `f` runs, so
    * `f` must consume every frame it needs before it returns. */
  private def withVideo[A](p: Array[Byte])(f: Video => A): Option[A] = {
    def jpegFrames(ranges: IndexedSeq[(Int, Int)]): Option[A] = {
      def decode(i: Int) =
        readImage(java.util.Arrays.copyOfRange(p, ranges(i)._1, ranges(i)._2))
      if (ranges.isEmpty) None
      else decode(0).map(first => f(Video(ranges.length, first.getWidth, first.getHeight,
        i => if (i == 0) Some(first) else decode(i))))
    }
    if (p == null || p.isEmpty) None
    // avc1 (no JDK H.264 decoder) and any other fourcc: undecodable
    else if (isMp4(p)) mp4SampleRanges(p).collect {
        case (fourcc, ranges) if fourcc == "jpeg" || fourcc == "mjpa" => ranges
      }.flatMap(jpegFrames)
    else if (isMjpeg(p)) jpegFrames(jpegFrameRanges(p))
    else {
      val readers = ImageIO.getImageReadersByFormatName("gif")
      if (!readers.hasNext) None
      else {
        val reader = readers.next()
        imageIoCacheOff
        // Everything from stream creation on sits INSIDE the degrade
        // net: createImageInputStream can throw, and returns null when
        // no stream SPI claims the input.
        var in: ImageInputStream = null
        try {
          in = ImageIO.createImageInputStream(new ByteArrayInputStream(p))
          if (in == null) None
          else {
            reader.setInput(in)
            val n = reader.getNumImages(true) // non-GIF bytes "parse" to 0 frames
            Option.when(n > 0)(f(Video(n, reader.getWidth(0), reader.getHeight(0),
              i => Some(reader.read(i)))))
          }
        } catch {
          case _: IOException | _: RuntimeException => None
        } finally {
          reader.dispose()
          if (in != null) in.close()
        }
      }
    }
  }

  /** REAL video codec over the three built-in containers
    * ([[withVideo]]): true dims, and every k-th frame ACTUALLY decoded
    * (the pixels are touched, exactly what a training pipeline's frame
    * extractor pays). `avc1` MP4s get REAL dims from the avcC SPS
    * header ([[mp4AvcDims]]) while their frame PIXELS fall back to
    * [[FakeCodec]], until a third-party decoder plugs into
    * [[DispatchingCodec]]. Kind != "video" delegates to
    * [[ImageIoCodec]]; undecodable video payloads degrade to the stub
    * values row-wise (corrupt data must not kill a 100 TB extract). */
  object VideoCodec extends Codec {
    override def decodeDims(kind: String, payload: Array[Byte]): (Int, Int) =
      if (kind != "video") ImageIoCodec.decodeDims(kind, payload)
      else mp4AvcDims(payload)
        .orElse(withVideo(payload)(v => (v.width, v.height)))
        .getOrElse(FakeCodec.decodeDims(kind, payload))

    /** Returns the number of frames decoded. */
    override def sampleFrames(payload: Array[Byte], everyK: Int): Int =
      withVideo(payload)(v =>
        (0 until v.nFrames by math.max(everyK, 1)).count(v.frame(_).isDefined))
        .getOrElse(FakeCodec.sampleFrames(payload, everyK))
  }

  /** One sampled, decoded video frame: container facts ride along so
    * one decode pass serves both per-frame dedup and per-video
    * metadata. */
  final case class VideoFrame(
      media_id: Long,
      n_frames: Int,
      width: Int,
      height: Int,
      frame_idx: Int,
      ahash: Long)

  /** Decode every k-th frame of each video payload (MP4 Motion-JPEG,
    * MJPEG or animated GIF, via [[withVideo]]) and aHash it — the video
    * analogue of [[imageHashes]]: map-side on the scan partitioning,
    * each payload collapses to a handful of 8-byte frame signatures,
    * so a 100 TB video corpus dedups by joining signatures
    * (frame-level or video-level) with payloads never shuffling.
    * Undecodable payloads are dropped like [[resizeImages]].
    */
  def videoFrames(media: DataFrame, everyK: Int = 2): Dataset[VideoFrame] = {
    val spark = media.sparkSession
    import spark.implicits._
    val k = math.max(everyK, 1)
    media
      .filter(col("kind") === "video")
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        withVideo(payload)(v => (0 until v.nFrames by k).flatMap(i =>
          v.frame(i).map(img => VideoFrame(id, v.nFrames, v.width, v.height, i, aHashOf(img)))))
          .getOrElse(Nil)
      })
  }

  /** Candidate pairs of the banded dedup joins: 64-bit `sig` split
    * into 8 bands of 8 bits, one row per band (band_id, band_val)
    * carrying every column of `df`, self-joined as `a`/`b` on an
    * exactly matching band (and equal `alsoEqual` columns), media_id
    * of `a` below that of `b`. */
  private def bandedSelfJoin(df: DataFrame, sig: String, alsoEqual: String*): DataFrame = {
    val carried = df.columns.toSeq.map(col)
    val banded = df.select(carried :+
        explode(array((0 until 8).map(b =>
          struct(
            lit(b).as("band_id"),
            shiftright(col(sig), b * 8).bitwiseAND(lit(255L)).as("band_val"))): _*))
          .as("b"): _*)
      .select(carried ++
        Seq(col("b.band_id").as("band_id"), col("b.band_val").as("band_val")): _*)
    banded.as("a").join(banded.as("b"),
      (Seq("band_id", "band_val") ++ alsoEqual)
        .map(c => col(s"a.$c") === col(s"b.$c")).reduce(_ && _) &&
        col("a.media_id") < col("b.media_id"))
  }

  /** Near-duplicate image pairs — signatures banded into 8 bands of 8
    * bits (MinHash-LSH banding logic): candidates meet only when some
    * band matches exactly, and by pigeonhole a pair with Hamming
    * distance d < 8 has at most d dirty bands, hence ≥1 clean band —
    * GUARANTEED recall for maxDist ≤ 7, while unrelated images
    * (expected distance ~32) rarely collide. Σ bucket² within bands,
    * never corpus², and only 9-byte keys ever shuffle. Returns pairs
    * with Hamming distance ≤ maxDist, id1 < id2.
    */
  def imageDupPairs(media: DataFrame, maxDist: Int = 5): DataFrame = {
    require(maxDist < 8, "8x8-bit banding guarantees recall only for maxDist < 8")
    // Materialize the signatures (8 bytes/row) BEFORE the self-join:
    // without this, every join strategy re-runs the ImageIO decode once
    // per side — a broadcast build side computes its plan independently,
    // and shuffle-exchange reuse is an optimizer choice, not a
    // guarantee. After the checkpoint the decode provably runs once
    // (MultimodalSpec asserts no MapPartitions survives in the join
    // plan).
    val h = imageHashes(media).toDF().localCheckpoint(true)
    bandedSelfJoin(h, "ahash")
      .select(
        col("a.media_id").as("id1"), col("b.media_id").as("id2"),
        bit_count(col("a.ahash").bitwiseXOR(col("b.ahash"))).as("hamming"))
      .distinct() // a close pair collides in several bands — count once
      .filter(col("hamming") <= maxDist)
  }

  /** Seed-keyed structural watermark for the synthetic corpora: a
    * splitmix64-mixed 64-bit pattern rendered as an 8×8 grid of
    * high/low-luminance blocks blended over the gradient base. This
    * makes the planted-twin structure SEPARABLE BY CONSTRUCTION under
    * the 8×8 aHash: each hash cell covers exactly one block, so two
    * different (seed, frame) keys differ in ~32 hash bits while a
    * twin's re-encode (PNG resize, GIF palette quantization, JPEG
    * DCT, MP4 demux) cannot move a block across the threshold —
    * before r13 the bare mod-256 gradients let unrelated seeds
    * collide within the banding's Hamming budget (the 300-PNG corpus
    * planted ~28 unintended aHash-identical pairs), which made the
    * planted-pair oracle unpinnable. */
  private def stampWatermark(img: BufferedImage, seed: Long, frame: Int): Unit = {
    val side = img.getWidth
    val bs = math.max(side / 8, 1)
    var z = (seed * 8191 + frame + 1) * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    val bits = z ^ (z >>> 31)
    var by = 0
    while (by < 8) {
      var bx = 0
      while (bx < 8) {
        val hi = ((bits >>> (by * 8 + bx)) & 1L) == 1L
        var y = by * bs
        while (y < math.min((by + 1) * bs, side)) {
          var x = bx * bs
          while (x < math.min((bx + 1) * bs, side)) {
            val rgb = img.getRGB(x, y)
            def f(c: Int) = if (hi) c / 3 + 170 else c / 3
            img.setRGB(x, y,
              (f((rgb >> 16) & 255) << 16) | (f((rgb >> 8) & 255) << 8) |
                f(rgb & 255))
            x += 1
          }
          y += 1
        }
        bx += 1
      }
      by += 1
    }
  }

  /** Frame `frame` of synthetic clip `id` (seed = id/2): the seed-keyed
    * gradient, shifted per frame so consecutive frames render distinct
    * rasters, under the [[stampWatermark]] blocks; an odd id (the twin
    * of a planted near-dup pair) carries a 4x4 white corner, which
    * barely moves the 8x8 aHash mean, so planted pairs stay within
    * Hamming ~2. A pure integer function of (id, frame, x, y). */
  private def paintFrame(id: Long, frame: Int, side: Int): BufferedImage = {
    val seed = (id / 2).toInt
    val img = new BufferedImage(side, side, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < side) {
      var x = 0
      while (x < side) {
        val r = (x * (3 + seed % 5) + seed * 17 + frame * 23) % 256
        val g = (y * (2 + seed % 7) + seed * 29 + frame * 11) % 256
        val b = (x * y * (1 + seed % 3) + seed * 43) % 256
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    stampWatermark(img, seed, frame)
    if (id % 2 == 1) for (yy <- 0 until 4; xx <- 0 until 4) img.setRGB(xx, yy, 0xFFFFFF)
    img
  }

  /** The 2/4/6/8 frames of synthetic clip `id` (by seed = id/2) —
    * shared by the GIF, MJPEG and MP4 builders so cross-container
    * twins carry the SAME pixels. */
  private def synthClip(id: Long, side: Int): Seq[BufferedImage] =
    (0 until 2 + ((id / 2).toInt % 4) * 2).map(paintFrame(id, _, side))

  /** The row shape every synthetic corpus shares: one media row per id
    * in [0, n), built map-side (no driver loop) from `row(id)` =
    * (media_id, kind, payload), with the meta struct's source and
    * content type fixed per corpus. */
  private def mediaRows(spark: SparkSession, n: Int, source: String, contentType: String)(
      row: Long => (Long, String, Array[Byte])): DataFrame = {
    import spark.implicits._
    spark.range(n).as[Long]
      .mapPartitions(_.map { id0 =>
        val (id, kind, bytes) = row(id0)
        (id, kind, bytes, (source, contentType, bytes.length.toLong))
      })
      .toDF("media_id", "kind", "payload", "meta")
      .withColumn("meta", col("meta").cast(mediaSchema("meta").dataType))
  }

  /** Deterministic synthetic PNG corpus, generated DISTRIBUTED (one
    * image per `spark.range` row, encoded map-side — no driver loop):
    * ids 2k and 2k+1 render the same seed-keyed gradient pattern, with
    * the odd id carrying a small solid block of noise, so consecutive
    * pairs are planted near-duplicates for the aHash/banding path
    * while distinct seeds produce unrelated signatures. Everything is
    * a pure integer function of (id, x, y) → stable across runs, which
    * is what lets [[graft.multimodal.MultimodalQueries.imageHash]]
    * serve as a regression-gated bench entry.
    */
  def syntheticPngCorpus(spark: SparkSession, n: Int, side: Int = 64): DataFrame =
    mediaRows(spark, n, "synthetic-png", "image/png")(id =>
      (id, "image", encodeImage(paintFrame(id, 0, side), "png")))

  /** Mono 16-bit little-endian PCM of `frames` samples at `rate`,
    * written as WAV through the REAL `javax.sound.sampled` encoder. */
  private def wavBytes(rate: Int, frames: Int)(sample: Int => Int): Array[Byte] = {
    val pcm = new Array[Byte](frames * 2)
    var i = 0
    while (i < frames) {
      val s = sample(i)
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val out = new ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new ByteArrayInputStream(pcm),
        new AudioFormat(rate.toFloat, 16, 1, true, false), frames.toLong),
      AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Deterministic synthetic WAV corpus, distributed like
    * [[syntheticPngCorpus]] (no driver loop): mono 16-bit PCM sine
    * tones with id-cycled sample rates and id-varied lengths, written
    * through the REAL `javax.sound.sampled` encoder so the decode path
    * ([[audioMeta]]) exercises genuine WAV headers end-to-end. */
  def syntheticWavCorpus(spark: SparkSession, n: Int): DataFrame = {
    val rates = Array(8000, 16000, 22050, 44100)
    mediaRows(spark, n, "synthetic-wav", "audio/wav") { id =>
      val rate = rates((id % rates.length).toInt)
      val frames = (rate / 10) * (1 + (id % 5).toInt) // 0.1s .. 0.5s
      (id, "audio", wavBytes(rate, frames)(i =>
        (math.sin(2 * math.Pi * 440 * i / rate) * 12000).toInt))
    }
  }

  /** Deterministic synthetic animated-GIF corpus, distributed like
    * [[syntheticPngCorpus]]: 2 + (seed%4)·2 frames per video (2/4/6/8),
    * each frame the seed-keyed gradient shifted per frame index, written
    * through the REAL multi-frame `javax.imageio` GIF writer so the
    * decode path ([[videoFrames]], [[VideoCodec]]) exercises genuine
    * container directories and per-frame rasters end-to-end. Ids 2k and
    * 2k+1 render the same seed pattern with a small noise block on the
    * odd id — planted near-duplicate VIDEOS whose matching frames stay
    * within small Hamming distance of each other. */
  def syntheticGifCorpus(spark: SparkSession, n: Int, side: Int = 64): DataFrame =
    mediaRows(spark, n, "synthetic-gif", "image/gif") { id =>
      imageIoCacheOff
      val out = new ByteArrayOutputStream()
      val writer = ImageIO.getImageWritersByFormatName("gif").next()
      val ios = ImageIO.createImageOutputStream(out)
      try {
        writer.setOutput(ios)
        writer.prepareWriteSequence(null)
        synthClip(id, side).foreach(img =>
          writer.writeToSequence(new IIOImage(img, null, null), null))
        writer.endWriteSequence()
      } finally {
        writer.dispose()
        ios.close()
      }
      (id, "video", out.toByteArray)
    }

  /** Near-duplicate VIDEO pairs — frame-level signature matching that
    * works ACROSS container formats: the same content encoded as an
    * animated GIF and as an MJPEG stream decodes to slightly different
    * rasters (palette quantization vs DCT loss), but the 8×8 aHash of
    * aligned frames stays within a small Hamming distance, so the
    * imageDupPairs banding (8 bands × 8 bits — pigeonhole-complete for
    * distance < 8) finds the pair without ever comparing payloads.
    * Candidates band-join on (band, band_val, frame_idx) — aligned
    * frames only, so a pair's evidence is per-frame, never a bag-of-
    * frames coincidence — then verify with the exact popcount and
    * keep pairs where matched frames cover the smaller side's sampled
    * set. Payloads never shuffle: one decode pass collapses each clip
    * to 8-byte frame signatures (checkpointed), and only those flow
    * into the join — the 100 TB shape for video corpus dedup.
    */
  def videoDupPairs(
      media: DataFrame, maxDist: Int = 5, everyK: Int = 2): DataFrame = {
    require(maxDist < 8, "8x8-bit banding guarantees recall only for maxDist < 8")
    val f = videoFrames(media, everyK).toDF()
      .select(col("media_id"), col("frame_idx"), col("ahash"))
      .localCheckpoint(true) // decode runs once, not once per join side
    val sampled = f.groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_sampled"))
    val matched = bandedSelfJoin(f, "ahash", "frame_idx")
      .select(
        col("a.media_id").as("id1"), col("b.media_id").as("id2"),
        col("a.frame_idx").as("frame_idx"),
        bit_count(col("a.ahash").bitwiseXOR(col("b.ahash"))).as("hamming"))
      .distinct() // close frames collide in several bands — count once
      .filter(col("hamming") <= maxDist)
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("n_matched"), max(col("hamming")).as("max_hamming"))
    matched
      .join(sampled.select(col("media_id").as("id1"), col("n_sampled").as("n1")), Seq("id1"))
      .join(sampled.select(col("media_id").as("id2"), col("n_sampled").as("n2")), Seq("id2"))
      .filter(col("n_matched") * 2 >= least(col("n1"), col("n2")))
      .select(col("id1"), col("id2"), col("n_matched"),
        least(col("n1"), col("n2")).as("n_alignable"), col("max_hamming"))
  }

  /** Deterministic synthetic MJPEG corpus — the same frame patterns as
    * [[syntheticGifCorpus]] (2/4/6/8 frames, planted near-dup pairs on
    * odd ids) but each frame written through the REAL JDK JPEG encoder
    * and concatenated, so [[videoFrames]]' marker-scan + JPEG-decode
    * branch exercises genuine entropy-coded streams end-to-end. Ids
    * are offset by `idOffset` so a mixed GIF+MJPEG corpus keeps
    * media_id unique. */
  def syntheticMjpegCorpus(
      spark: SparkSession, n: Int, side: Int = 64, idOffset: Long = 0L): DataFrame =
    mediaRows(spark, n, "synthetic-mjpeg", "video/x-motion-jpeg")(id0 =>
      (id0 + idOffset, "video", synthClip(id0, side).flatMap(encodeImage(_, "jpg")).toArray))

  // ISO-BMFF byte assembly for the synthetic MP4 builder.
  private def beb32(v: Int): Array[Byte] = Array(
    ((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
    ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
  private def beb16(v: Int): Array[Byte] =
    Array(((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)
  private def mbox(tpe: String, parts: Array[Byte]*): Array[Byte] = {
    val body = parts.flatten.toArray
    beb32(8 + body.length) ++ tpe.getBytes("US-ASCII") ++ body
  }
  private val unitMatrix: Array[Byte] =
    Seq(0x00010000, 0, 0, 0, 0x00010000, 0, 0, 0, 0x40000000)
      .flatMap(beb32).toArray

  /** THIRD real video container: the same deterministic clips as
    * [[syntheticGifCorpus]]/[[syntheticMjpegCorpus]], wrapped in
    * spec-shaped ISO-BMFF (ftyp + mdat + moov) with a Motion-JPEG
    * (`jpeg`) VisualSampleEntry — every box the [[mp4SampleRanges]]
    * demuxer reads (stsd/stts/stsc/stsz/stco) is assembled per ISO/IEC
    * 14496-12, one chunk holding all samples. Exercises the REAL MP4
    * path end-to-end (container walk + JDK JPEG sample decode). */
  def syntheticMp4Corpus(
      spark: SparkSession, n: Int, side: Int = 64, idOffset: Long = 0L): DataFrame =
    mediaRows(spark, n, "synthetic-mp4", "video/mp4") { id0 =>
      val frames = synthClip(id0, side).map(encodeImage(_, "jpg"))
      val nF = frames.length
      val ftyp = mbox("ftyp", "isom".getBytes("US-ASCII"), beb32(0x200),
        "isom".getBytes("US-ASCII"))
      val mdat = mbox("mdat", frames: _*)
      val firstSample = ftyp.length + 8 // mdat payload start
      val entry = mbox("jpeg",
        Array.fill[Byte](6)(0), beb16(1),          // reserved, dref idx
        beb16(0), beb16(0), Array.fill[Byte](12)(0),
        beb16(side), beb16(side),                  // width, height
        beb32(0x00480000), beb32(0x00480000),      // 72 dpi
        beb32(0), beb16(1),                        // reserved, frame_count
        Array.fill[Byte](32)(0),                   // compressorname
        beb16(24), beb16(0xFFFF))                  // depth, pre_defined
      val stbl = mbox("stbl",
        mbox("stsd", beb32(0), beb32(1), entry),
        mbox("stts", beb32(0), beb32(1), beb32(nF), beb32(100)),
        mbox("stsc", beb32(0), beb32(1), beb32(1), beb32(nF), beb32(1)),
        mbox("stsz", Seq(beb32(0), beb32(0), beb32(nF)) ++
          frames.map(f => beb32(f.length)): _*),
        mbox("stco", beb32(0), beb32(1), beb32(firstSample)))
      val minf = mbox("minf",
        mbox("vmhd", beb32(1), beb16(0), beb16(0), beb16(0), beb16(0)),
        mbox("dinf", mbox("dref", beb32(0), beb32(1), mbox("url ", beb32(1)))),
        stbl)
      val mdia = mbox("mdia",
        mbox("mdhd", beb32(0), beb32(0), beb32(0), beb32(1000),
          beb32(nF * 100), beb16(0x55C4), beb16(0)),
        mbox("hdlr", beb32(0), beb32(0), "vide".getBytes("US-ASCII"),
          Array.fill[Byte](12)(0), Array[Byte](0)),
        minf)
      val trak = mbox("trak",
        mbox("tkhd", beb32(7), beb32(0), beb32(0), beb32(1), beb32(0),
          beb32(nF * 100), beb32(0), beb32(0), beb16(0), beb16(0),
          beb16(0), beb16(0), unitMatrix,
          beb32(side << 16), beb32(side << 16)),
        mdia)
      val mvhd = mbox("mvhd", beb32(0), beb32(0), beb32(0), beb32(1000),
        beb32(nF * 100), beb32(0x00010000), beb16(0x0100), beb16(0),
        beb32(0), beb32(0), unitMatrix, Array.fill[Byte](24)(0), beb32(2))
      val bytes = ftyp ++ mdat ++ mbox("moov", mvhd, trak)
      (id0 + idOffset, "video", bytes)
    }

  /** Deterministic synthetic media table for tests/demos (the container
    * ships no real media): payload bytes are a pure function of id. */
  def syntheticMedia(spark: SparkSession, n: Int): DataFrame = {
    val kinds = Seq("image", "audio", "video")
    mediaRows(spark, n, "synthetic", "application/octet-stream") { id =>
      val i = id.toInt
      (id, kinds(i % 3),
        Array.tabulate[Byte](128 + 17 * i)(j => ((i * 131 + j * 7) % 251).toByte))
    }
  }

  /** Deterministic WAV corpus with planted cross-sample-rate twins:
    * ids k and idOffset+k render the SAME seed-keyed 8-segment
    * amplitude melody, but at 8 kHz vs 16 kHz and with the twin's
    * gain scaled ×0.8 — the re-encoded-audio arrival every ingest
    * pipeline sees. Written through the real `javax.sound.sampled`
    * encoder like [[syntheticWavCorpus]]. Different seeds play
    * different amplitude patterns, so only planted twins should pair.
    */
  def syntheticWavDupCorpus(
      spark: SparkSession, n: Int, idOffset: Long = 0L): DataFrame =
    mediaRows(spark, n, "synthetic-wav", "audio/wav") { id0 =>
      val twin = idOffset > 0
      val rate = if (twin) 16000 else 8000
      val gain = if (twin) 0.8 else 1.0
      val seed = id0.toInt
      val segFrames = rate / 10 // 8 segments x 0.1s
      (id0 + idOffset, "audio", wavBytes(rate, segFrames * 8) { i =>
        val seg = i / segFrames
        // splitmix64 avalanche: distinct seeds must get distinct
        // 8-level melodies (weaker mixes collide at short seed
        // periods and plant unintended duplicate classes)
        var z = seed * 1000003L + seg + 0x9E3779B97F4A7C15L
        z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
        z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
        val lvl = ((z ^ (z >>> 31)) >>> 8) % 8
        val amp = (2000 + 1500 * lvl) * gain
        (math.sin(2 * math.Pi * 440 * i / rate) * amp).toInt
      })
    }

  /** One audio row's 64-bit energy-envelope signature: decode to PCM
    * ([[audioMeta]]'s real `javax.sound.sampled` path), split the clip
    * into 16 equal TIME windows, take mean |amplitude| per window,
    * normalize by the clip's overall mean (gain invariance), quantize
    * each ratio to 4 bits (sample-rate invariance falls out of the
    * windows being time-relative). The audio analogue of the frame
    * aHash: computed map-side, payloads never shuffle. */
  final case class AudioSig(media_id: Long, env_sig: Long, n_frames: Long)

  def audioEnvelopes(media: DataFrame): Dataset[AudioSig] = {
    val spark = media.sparkSession
    import spark.implicits._
    media
      .filter(col("kind") === "audio")
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        withAudio(payload) { in =>
          val fmt = in.getFormat
          if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1) None
          else {
            val bytes = in.readAllBytes()
            val n = bytes.length / 2
            if (n < 16) None
            else {
              val abs = new Array[Double](n)
              var i = 0
              while (i < n) {
                // Sign lives in the HIGH byte: keep it signed (plain
                // .toInt), mask only the low byte. Big-endian puts the
                // high byte first (AIFF), little-endian second (WAV).
                val s =
                  if (fmt.isBigEndian)
                    (bytes(2 * i).toInt << 8) | (bytes(2 * i + 1) & 0xff)
                  else
                    (bytes(2 * i + 1).toInt << 8) | (bytes(2 * i) & 0xff)
                abs(i) = math.abs(s.toDouble)
                i += 1
              }
              val g = abs.sum / n
              if (g <= 0) None
              else {
                var sig = 0L
                var w = 0
                while (w < 16) {
                  val from = (w.toLong * n / 16).toInt
                  val until = ((w + 1).toLong * n / 16).toInt
                  var m = 0.0
                  var j = from
                  while (j < until) { m += abs(j); j += 1 }
                  m /= math.max(1, until - from)
                  val nib = math.min(15L, math.floor(m / g * 8.0).toLong)
                  sig |= nib << (4 * w)
                  w += 1
                }
                Some(AudioSig(id, sig, n.toLong))
              }
            }
          }
        }
      })
  }

  /** Audio near-dup pairs over the envelope signatures: 8 bands of 8
    * bits (2 nibbles) generate candidates — same Σ bucket² economics
    * as the video banding, never all-pairs — and the refined distance
    * is the L1 over the 16 quantized nibbles (a ±1 quantization
    * wobble costs 1, where bit-Hamming would charge up to 4). */
  def audioDupPairs(media: DataFrame, maxL1: Int = 8): DataFrame = {
    val sigs = audioEnvelopes(media).toDF()
      .select(col("media_id"), col("env_sig"))
      .localCheckpoint(true) // decode runs once, not once per join side
    val l1 = (0 until 16).map { i =>
      abs(shiftright(col("a.env_sig"), i * 4).bitwiseAND(lit(15L)) -
        shiftright(col("b.env_sig"), i * 4).bitwiseAND(lit(15L)))
    }.reduce(_ + _)
    bandedSelfJoin(sigs, "env_sig")
      .select(
        col("a.media_id").as("id1"), col("b.media_id").as("id2"),
        col("a.band_id").as("band_id"), l1.as("l1_dist"))
      .groupBy(col("id1"), col("id2"))
      .agg(count(lit(1)).as("n_bands_matched"), min(col("l1_dist")).as("l1_dist"))
      .filter(col("l1_dist") <= maxL1)
      .select(col("id1"), col("id2"), col("l1_dist"), col("n_bands_matched"))
  }
}
