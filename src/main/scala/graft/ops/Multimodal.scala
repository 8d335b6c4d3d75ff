package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** North-star multimodal-column plumbing (SURVEY.md §2.11): media payloads
  * as opaque `binary` columns with typed metadata, decode as a
  * per-partition typed transform, and real PNG / WAV / frame-container
  * codec round trips.
  *
  * The actual codec step is STUBBED (this container has no image/audio
  * libraries): `decodeStub` produces a deterministic fake "decode" from the
  * payload bytes. Everything around it — the schema, the binary column, the
  * partition-parallel execution shape, the batch signature a real codec UDF
  * would slot into — is real Spark and tested (MultimodalStreamingSpec).
  *
  * Scale notes: payloads never leave the executors; decode work is
  * `mapPartitions` (the Scala analog of a batched pandas UDF — one
  * initialization per partition, streaming iterator, no per-row codec
  * setup). Metadata-only queries prune the binary column at the parquet
  * scan, so "how many 4K frames" never reads pixels.
  */
object Multimodal {

  case class MediaRecord(
      doc_id: Long,
      payload: Array[Byte],
      format: String,
      n_bytes: Long)

  case class DecodedMedia(
      doc_id: Long,
      width: Int,
      height: Int,
      n_frames: Int,
      pixels: Array[Int]) // fake "decoded" byte histogram, 16 bins

  /** Attach a binary payload column (here: UTF-8 of text — stands in for
    * image/audio bytes) plus typed metadata. */
  def attachPayload(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      encode(col("text"), "UTF-8").as("payload"),
      lit("text/plain").as("format"),
      octet_length(col("text")).cast("long").as("n_bytes"))

  /** STUB decode — deterministic fake: "image" dimensions derived from the
    * byte length, "pixels" = 16-bin byte-value histogram. A real build
    * replaces ONLY the body of `decodeOne` with a codec call (libjpeg,
    * ffmpeg, ...); the Spark plumbing around it is final. */
  private def decodeOne(m: MediaRecord): DecodedMedia = {
    val width = 16
    val height = ((m.n_bytes + width - 1) / width).toInt
    val hist = new Array[Int](16)
    m.payload.foreach(b => hist((b & 0xff) / 16) += 1)
    DecodedMedia(m.doc_id, width, height, n_frames = height / 16 + 1, pixels = hist)
  }

  /** Partition-parallel decode: one iterator pass per partition, codec
    * state initialized once per partition (the `mapPartitions` boundary is
    * exactly where a real decoder's native context would live). */
  def decode(media: Dataset[MediaRecord]): Dataset[DecodedMedia] = {
    import media.sparkSession.implicits._
    media.mapPartitions { it =>
      // real impl: val codec = Codec.init() here, once per partition
      it.map(decodeOne)
    }
  }

  // ---------------------------------------------------------------------
  // REAL codec path (round 9): PNG via javax.imageio — pure JVM, no native
  // deps. The stub path above stays for the original q28/q151 rows; this
  // path runs an actual encode→decode round trip so the mapPartitions
  // codec boundary carries a real codec, not a fake.
  //
  // The image CONTENT is a deterministic closed-form function of doc_id
  // (synthGray below) — that formula, not the decoder, is what the DuckDB
  // oracle evaluates, so a green row proves the decoded pixels equal
  // ground truth without the oracle ever parsing a PNG (the q122/q170
  // parser-vs-truth discipline applied to a binary codec).
  // ---------------------------------------------------------------------

  /** Ground-truth synthesis formula, shared verbatim by the Spark encode
    * path and the DuckDB oracle SQL (CatalogNorthStar q227/q228):
    *   family = doc_id / 16   (planted near-dup family, BOUNDED at ≤16
    *                           members — so families grow ∝ corpus and
    *                           planted pairs stay LINEAR in n; the first
    *                           cut used doc_id % 128, whose family SIZE
    *                           grew with the corpus and made the true
    *                           pair count quadratic — q228 measured 77×
    *                           for 10× data at sf1, Θ(output)-honest but
    *                           a fixture bug, fixed here)
    *   shift   = doc_id % 5   (within-family perturbation)
    *   width   = 16 + family % 9,  height = 16 + family % 7
    *   gray(x, y) = (family·37 + x·(7 + family%5) + y·(13 + family%11)
    *                  + x·y·(1 + family%7)) % 240 + shift  ∈ [0, 244]
    * The per-family GRADIENTS and CURVATURE (the x·y term) vary, not just
    * the offset: an offset-only formula has 240 patterns per dim class
    * (accidental all-pairs hash aliasing at corpus scale), and even
    * varied linear gradients produce low-ENTROPY aHashes — a smooth
    * plane's block-vs-global-mean bits approximate a half-plane
    * indicator, so thousands of families share a few hash values and the
    * band join degenerates into giant buckets (measured: q228 28.5× for
    * 10× data at sf10 before the curvature term). A uniform intensity shift
    * leaves the block-vs-global mean comparison invariant (both sides
    * gain shift·npix), so family members share the EXACT 64-bit aHash —
    * planted recall is a theorem, not luck. */
  def synthDims(docId: Long): (Long, Int, Int, Int) = {
    // fam stays a Long: (docId / 16).toInt would silently WRAP for
    // doc_id ≥ 2^35 while the DuckDB twin's BIGINT arithmetic would not —
    // the two engines would diverge rather than fail. The require pins
    // the domain where fam·37 (the largest product below) is still exact
    // in both engines' 64-bit arithmetic.
    require(docId >= 0 && docId < (1L << 55),
      s"synthDims: doc_id $docId outside the exact-BIGINT contract [0, 2^55)")
    val fam = docId / 16
    (fam, (docId % 5).toInt, 16 + (fam % 9).toInt, 16 + (fam % 7).toInt)
  }
  def synthGray(cluster: Long, shift: Int, x: Int, y: Int): Int =
    ((cluster * 37 + x * (7 + cluster % 5) + y * (13 + cluster % 11) +
      x * y * (1 + cluster % 7)) % 240 + shift).toInt

  case class PngRecord(doc_id: Long, png: Array[Byte])

  case class PngStats(
      doc_id: Long,
      width: Int,
      height: Int,
      n_pix: Long,
      hist: Array[Long], // 16-bin gray histogram (g/16), exact counts
      bands: Array[Long]) // 64-bit block aHash as 4×16-bit bands (lo→hi)

  // ---------------------------------------------------------------------
  // Per-partition codec providers (round 10). The ImageIO.read/write and
  // AudioSystem.* STATIC entry points consult a synchronized provider
  // registry (IIORegistry / JDK13Services) on EVERY call — a JVM-global
  // lock that serializes concurrent codec tasks. Measured at sf10
  // (500 k docs): spreading q230 from 5 scan partitions to 32 made it
  // 2.1× SLOWER (29.5 → 62.9 s) because 32 threads fought the registry
  // lock. These helpers resolve the provider ONCE per partition (the
  // codec boundary mapPartitions already establishes) and reuse the
  // instance — writers/readers are single-threaded by contract, which a
  // partition iterator satisfies. After the hoist the codec loop holds
  // no shared lock at all.
  // ---------------------------------------------------------------------

  /** Test-visible ledger of provider resolutions, keyed by the
    * `graft.codec.scope` Spark local property of the resolving task (so a
    * spec observing its own jobs is immune to concurrent suites, whose
    * tasks land under the `default` key). CodecSpiHoistSpec asserts the
    * once-per-PARTITION invariant through this: every registry-consulting
    * helper below counts itself, and a refactor that moves a resolution
    * into the record loop turns a per-partition count into a per-record
    * one. Production cost: one increment per partition, nothing per
    * record. */
  private[graft] val providerResolutions =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]
  private def countResolution(): Unit = {
    val scope = Option(org.apache.spark.TaskContext.get())
      .flatMap(tc => Option(tc.getLocalProperty("graft.codec.scope")))
      .getOrElse("default")
    providerResolutions
      .computeIfAbsent(scope, _ => new java.util.concurrent.atomic.AtomicLong)
      .incrementAndGet()
    ()
  }

  private def pngWriter(): javax.imageio.ImageWriter = {
    countResolution()
    javax.imageio.ImageIO.setUseCache(false) // no tmp-file cache on executors
    val ws = javax.imageio.ImageIO.getImageWritersByFormatName("png")
    require(ws.hasNext, "no PNG writer available")
    ws.next()
  }

  private def pngReader(): javax.imageio.ImageReader = {
    countResolution()
    javax.imageio.ImageIO.setUseCache(false)
    val rs = javax.imageio.ImageIO.getImageReadersByFormatName("png")
    require(rs.hasNext, "no PNG reader available")
    rs.next()
  }

  private def writePng(writer: javax.imageio.ImageWriter,
      img: java.awt.image.BufferedImage,
      out: java.io.ByteArrayOutputStream): Unit = {
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(out)
    writer.setOutput(ios)
    writer.write(img)
    ios.close() // flush to `out` AND release the cache segments
  }

  private def readPng(reader: javax.imageio.ImageReader, bytes: Array[Byte],
      what: => String): java.awt.image.BufferedImage = {
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    reader.setInput(iis)
    // loud failure on a corrupt payload (broken media must fail, never
    // alias to a valid record), with the record named — reader.read
    // throws rather than returning null
    try reader.read(0)
    catch {
      case e: java.io.IOException =>
        throw new IllegalArgumentException(s"undecodable PNG payload for $what", e)
    }
    finally iis.close()
  }

  /** Render + PNG-ENCODE the synthetic image per doc: a real ImageIO
    * write of a TYPE_BYTE_GRAY raster (lossless, deterministic bytes for
    * a given JVM). mapPartitions is the codec boundary: encoder state and
    * the in-memory buffer live once per partition, payloads never touch
    * the driver. */
  def encodePng(docs: DataFrame): Dataset[PngRecord] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      val writer = pngWriter()
      it.map { id =>
        val (cl, sh, w, h) = synthDims(id)
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            raster.setSample(x, y, 0, synthGray(cl, sh, x, y))
            x += 1
          }
          y += 1
        }
        val out = new java.io.ByteArrayOutputStream(w * h + 128)
        writePng(writer, img, out)
        PngRecord(id, out.toByteArray)
      }
    }
  }

  /** REAL decode: ImageIO.read the PNG bytes back to a raster and compute
    * integer-exact stats from the DECODED samples — dims, the 16-bin gray
    * histogram, and the 8×8 block aHash. All arithmetic is exact Long:
    * bit (j·8+i) is set iff blockSum·totalPix > totalSum·blockPix (cross-
    * multiplied block-mean vs global-mean — no division, no float), with
    * pixel→block binning i = x·8/w, j = y·8/h. The 64 bits emit as four
    * 16-bit band keys (lo→hi) so the oracle never needs a signed-bit-63
    * shift and the near-dup join gets its banding keys for free. A
    * corrupt/undecodable payload FAILS the task (null from ImageIO.read)
    * rather than emitting zeros that would near-dup-match every other
    * broken record. */
  def decodePngStats(pngs: Dataset[PngRecord]): Dataset[PngStats] = {
    import pngs.sparkSession.implicits._
    pngs.mapPartitions { it =>
      val reader = pngReader()
      it.map { rec =>
        val img = readPng(reader, rec.png, s"doc ${rec.doc_id}")
        val (w, h) = (img.getWidth, img.getHeight)
        val raster = img.getRaster
        val hist = new Array[Long](16)
        val bSum = new Array[Long](64)
        val bPix = new Array[Long](64)
        var tSum = 0L
        var y = 0
        while (y < h) {
          val j = y * 8 / h
          var x = 0
          while (x < w) {
            val g = raster.getSample(x, y, 0)
            val b = j * 8 + x * 8 / w
            hist(g / 16) += 1
            bSum(b) += g
            bPix(b) += 1
            tSum += g
            x += 1
          }
          y += 1
        }
        val nPix = w.toLong * h
        val bands = new Array[Long](4)
        var b = 0
        while (b < 64) {
          if (bSum(b) * nPix > tSum * bPix(b))
            bands(b / 16) |= 1L << (b % 16)
          b += 1
        }
        PngStats(rec.doc_id, w, h, nPix, hist, bands)
      }
    }
  }

  /** documents → synth PNG → real decode → stats, as one DataFrame (the
    * q227 body; also the q228 input). */
  def pngPipeline(spark: SparkSession, docs: DataFrame): DataFrame =
    decodePngStats(encodePng(docs)).toDF()

  // ---------------------------------------------------------------------
  // REAL audio codec: WAV (RIFF/PCM) via javax.sound.sampled — the same
  // formula-oracle discipline as the PNG path, on the second modality.
  // ---------------------------------------------------------------------

  /** Ground-truth audio formula, shared with the q229 oracle SQL:
    *   n_samples = 2000 + doc_id % 1000          (16-bit mono PCM, 8 kHz)
    *   sample(i) = ((doc_id % 97)·31 + i·17) % 20001 − 10000  ∈ [−10000, 10000]
    */
  def synthWavLen(docId: Long): Int = 2000 + (docId % 1000).toInt
  def synthSample(docId: Long, i: Int): Int =
    (((docId % 97) * 31 + i.toLong * 17) % 20001).toInt - 10000

  case class WavRecord(doc_id: Long, wav: Array[Byte])

  case class WavStats(
      doc_id: Long,
      n_samples: Long,
      peak: Long, // max |s|
      sum_abs: Long, // Σ|s| (exact L1 energy)
      energy: Long, // Σ s² (exact; ≤ 3000·10^8 ≪ 2^63)
      zero_crossings: Long) // # of strict sign changes (s_{i-1}·s_i < 0)

  /** Render + WAV-ENCODE the synthetic PCM per doc: a real
    * AudioSystem.write of a signed 16-bit little-endian mono stream
    * (RIFF/WAVE is a lossless PCM container, deterministic bytes). Same
    * mapPartitions codec-boundary contract as [[encodePng]]. */
  /** The WAVE container writer, resolved ONCE per partition through the
    * public SPI (`javax.sound.sampled.spi.AudioFileWriter`) instead of
    * the `AudioSystem.write` static — which funnels every call through
    * the JVM-global synchronized provider cache (JDK13Services) and
    * serializes concurrent codec tasks (the q229 sf10 outlier: 28× at
    * the decade before the hoist). Same provider, same bytes. */
  private def wavWriter(): javax.sound.sampled.spi.AudioFileWriter = {
    countResolution()
    import scala.jdk.CollectionConverters._
    java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).asScala
      .find(_.isFileTypeSupported(javax.sound.sampled.AudioFileFormat.Type.WAVE))
      .getOrElse(sys.error("no WAVE AudioFileWriter provider"))
  }

  /** All audio readers, resolved once per partition (same SPI hoist);
    * the WAV one is discovered on the first record and tried first from
    * then on. */
  private def wavReaders(): Array[javax.sound.sampled.spi.AudioFileReader] = {
    countResolution()
    import scala.jdk.CollectionConverters._
    val rs = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader]).asScala.toArray
    require(rs.nonEmpty, "no AudioFileReader providers")
    rs
  }

  def encodeWav(docs: DataFrame): Dataset[WavRecord] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      val fmt = new javax.sound.sampled.AudioFormat(
        8000f, 16, 1, /*signed=*/ true, /*bigEndian=*/ false)
      val writer = wavWriter()
      it.map { id =>
        val n = synthWavLen(id)
        val pcm = new Array[Byte](n * 2)
        var i = 0
        while (i < n) {
          val s = synthSample(id, i)
          pcm(2 * i) = (s & 0xff).toByte
          pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
          i += 1
        }
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
        val out = new java.io.ByteArrayOutputStream(pcm.length + 64)
        writer.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
        WavRecord(id, out.toByteArray)
      }
    }
  }

  /** REAL decode: AudioSystem parses the RIFF container back to the PCM
    * stream; stats are exact integers over the DECODED samples (peak, L1,
    * energy, strict zero crossings). The header is VALIDATED, not assumed
    * — an unexpected format fails the task rather than mis-decoding, and
    * a corrupt payload throws (broken media must fail loudly, never alias
    * to silence). */
  def decodeWavStats(wavs: Dataset[WavRecord]): Dataset[WavStats] = {
    import wavs.sparkSession.implicits._
    wavs.mapPartitions { it =>
      val readers = wavReaders()
      // sticky provider: the reader that decoded the last record is tried
      // first (they all throw UnsupportedAudioFileException on foreign
      // containers — exception churn per record would be its own tax)
      var sticky = 0
      def open(bytes: Array[Byte], what: => String): javax.sound.sampled.AudioInputStream = {
        var i = 0
        while (i < readers.length) {
          val idx = (sticky + i) % readers.length
          try {
            val ais = readers(idx).getAudioInputStream(
              new java.io.ByteArrayInputStream(bytes))
            sticky = idx
            return ais
          } catch {
            case _: javax.sound.sampled.UnsupportedAudioFileException => i += 1
          }
        }
        throw new IllegalArgumentException(s"undecodable WAV payload for $what")
      }
      it.map { rec =>
        val ais = open(rec.wav, s"doc ${rec.doc_id}")
        val fmt = ais.getFormat
        require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1 &&
          !fmt.isBigEndian && fmt.getEncoding ==
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          s"doc ${rec.doc_id}: unexpected WAV format $fmt")
        val bytes = ais.readAllBytes()
        val n = bytes.length / 2
        var peak = 0L; var sumAbs = 0L; var energy = 0L; var zc = 0L
        var prev = 0
        var i = 0
        while (i < n) {
          // sign-extended little-endian int16
          val s = (bytes(2 * i + 1).toInt << 8) | (bytes(2 * i).toInt & 0xff)
          val a = math.abs(s).toLong
          if (a > peak) peak = a
          sumAbs += a
          energy += s.toLong * s
          if (i > 0 && prev.toLong * s < 0) zc += 1
          prev = s
          i += 1
        }
        WavStats(rec.doc_id, n.toLong, peak, sumAbs, energy, zc)
      }
    }
  }

  /** documents → synth WAV → real decode → stats (the q229 body). */
  def wavPipeline(spark: SparkSession, docs: DataFrame): DataFrame =
    decodeWavStats(encodeWav(docs)).toDF()

  // ---------------------------------------------------------------------
  // REAL video-shaped path: a length-prefixed container of PNG FRAMES +
  // strided frame sampling with actual per-frame decode — the third
  // modality. Real video containers are box/atom structures; the
  // length-prefix container keeps the essential shape (you cannot reach
  // frame k without walking the prefix structure) while every frame is a
  // genuine PNG the codec must decode.
  // ---------------------------------------------------------------------

  /** Ground-truth video formula (q230 oracle SQL mirrors it):
    *   n_frames = 4 + doc_id % 5,   each frame 16×8 gray
    *   g(f, x, y) = (doc_id·13 + f·29 + x·7 + y·3) % 251
    */
  def synthFrameCount(docId: Long): Int = 4 + (docId % 5).toInt
  def synthFrameGray(docId: Long, f: Int, x: Int, y: Int): Int =
    ((docId * 13 + f * 29 + x * 7 + y * 3) % 251).toInt
  val FrameW = 16
  val FrameH = 8

  case class VideoRecord(doc_id: Long, container: Array[Byte], n_frames: Int)

  case class FrameStats(doc_id: Long, n_frames: Int, frame_idx: Int, frame_sum: Long)

  /** Build the container: [int32 BE length][PNG bytes] per frame. */
  def encodeVideo(docs: DataFrame): Dataset[VideoRecord] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id")).as[Long].mapPartitions { it =>
      val writer = pngWriter()
      it.map { id =>
        val nf = synthFrameCount(id)
        val out = new java.io.ByteArrayOutputStream(nf * (FrameW * FrameH + 128))
        val dos = new java.io.DataOutputStream(out)
        var f = 0
        while (f < nf) {
          val img = new java.awt.image.BufferedImage(
            FrameW, FrameH, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
          val raster = img.getRaster
          var y = 0
          while (y < FrameH) {
            var x = 0
            while (x < FrameW) {
              raster.setSample(x, y, 0, synthFrameGray(id, f, x, y))
              x += 1
            }
            y += 1
          }
          val frame = new java.io.ByteArrayOutputStream(FrameW * FrameH + 128)
          writePng(writer, img, frame)
          dos.writeInt(frame.size())
          frame.writeTo(dos)
          f += 1
        }
        VideoRecord(id, out.toByteArray, nf)
      }
    }
  }

  /** Strided frame sampling with REAL decode: walk the length-prefixed
    * container, decode every `stride`-th frame with ImageIO, and emit the
    * frame's exact intensity sum. Skipped frames are never decoded — only
    * SKIPPED OVER via their length prefix, which is the point of frame
    * sampling (decode cost ∝ sampled frames, container walk ∝ frames). */
  def sampleFrames(videos: Dataset[VideoRecord], stride: Int = 2): Dataset[FrameStats] = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    import videos.sparkSession.implicits._
    videos.mapPartitions { recs =>
      val reader = pngReader()
      recs.flatMap { rec =>
        val in = new java.io.DataInputStream(
          new java.io.ByteArrayInputStream(rec.container))
        (0 until rec.n_frames).flatMap { f =>
          val len = in.readInt()
          if (f % stride != 0) {
            in.skipNBytes(len.toLong) // sampling: skip, don't decode
            None
          } else {
            val buf = in.readNBytes(len)
            val img = readPng(reader, buf, s"doc ${rec.doc_id} frame $f")
          val raster = img.getRaster
          var sum = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) { sum += raster.getSample(x, y, 0); x += 1 }
            y += 1
          }
          Some(FrameStats(rec.doc_id, rec.n_frames, f, sum))
          }
        }
      }
    }
  }

  /** documents → synth video container → strided real decode (q230 body). */
  def videoPipeline(spark: SparkSession, docs: DataFrame, stride: Int = 2): DataFrame =
    sampleFrames(encodeVideo(docs), stride).toDF()
}
