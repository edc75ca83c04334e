package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** Multimodal-column plumbing (SURVEY.md §7.4 extension mandate): treat
  * image/audio/video payloads as opaque `binary` columns with typed
  * metadata, and run decode / feature-extraction / frame-sampling as
  * per-partition batch transforms.
  *
  * Every decode in this file is a REAL codec call — no stubs. The JDK
  * ships ImageIO's PNG and JPEG plugins, so
  * [[encodePng]]/[[decodePng]] run an actual lossless
  * encode→parse→inflate round trip (oracle-checked end to end — see
  * `mm_decode_png`), [[encodeJpeg]]/[[decodeImageMeta]] run the LOSSY
  * flavor (DCT quantization — container metadata stays deterministic
  * and is oracle-checked as `mm_decode`; pixel fidelity is spec-gated
  * because libjpeg output is implementation-defined), and
  * [[imageFeatures]] extracts histogram/mean features from decoded
  * rasters. AUDIO decode is REAL for the WAV container: the JDK ships
  * `javax.sound.sampled`'s RIFF/PCM reader-writer, so
  * [[encodeWav]]/[[decodeWav]] run an actual encode→parse round trip
  * (oracle-checked — see `mm_decode_wav`). Compressed audio (MP3/AAC)
  * and video containers have no JDK codec; their pipelines reuse these
  * same shapes (binary column, Encoders, per-partition batch decode)
  * with the codec swapped in.
  *
  * == Scale design ==
  * `mapPartitions` is deliberate: a real decoder amortizes codec/model
  * initialization once per partition (the JVM analog of a batched
  * pandas-UDF), and payloads stream through an iterator without
  * materializing the partition. All transforms are narrow — no shuffle —
  * so they scale linearly with bytes; the payloads travel as parquet
  * binary, never through the driver.
  */
object Multimodal {

  /** Binary asset row: payload + minimal typed metadata. */
  case class Asset(doc_id: Long, payload: Array[Byte], format: String)

  /** Decoded media metadata read back from a real container parse
    * (see [[decodeImageMeta]]). `n_bytes` is the ENCODED container size
    * (codec-dependent for lossy formats); the rest is deterministic.
    */
  case class Decoded(doc_id: Long, width: Int, height: Int, channels: Int,
      n_bytes: Int, ok: Boolean)

  /** Resized payload summary (see [[resizeNearest]]). */
  case class Resized(doc_id: Long, n_bytes_in: Int, n_bytes_out: Int,
      checksum: Long)

  /** Build the asset table: documents' text bytes play the role of opaque
    * media payloads (binary column + format tag + size metadata).
    */
  def assets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text").cast("binary").as("payload"),
      lit("fake/txt").as("format"))

  /** Catalog query over binary columns — byte length + magic-bytes prefix
    * (the "what's in this blob" scan a media lake runs first).
    */
  def catalog(docs: DataFrame): DataFrame =
    assets(docs).select(
      col("doc_id"), col("format"),
      length(col("payload")).as("n_bytes"),
      hex(substring(col("payload"), 1, 4)).as("magic_hex"))

  /** ENCODE — payload bytes → a real JPEG: the same fixed-width 8-bit
    * grayscale raster contract as [[encodePng]] (pixel (x,y) =
    * payload[y·width+x], zero-padded), written by the JDK's ImageIO JPEG
    * encoder — a genuine lossy codec call (DCT, quantization, Huffman).
    * Container METADATA (dimensions, bands) survives exactly; pixels
    * come back approximated, which is precisely what the lossy leg of a
    * media pipeline must tolerate (MultimodalSpec gates the round-trip
    * fidelity; the oracle checks the deterministic metadata).
    */
  def encodeJpeg(assets: Dataset[Asset],
      width: Int = PngWidth): Dataset[Asset] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { a =>
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(grayImage(a.payload, width), "jpg", bos)
        Asset(a.doc_id, bos.toByteArray, "image/jpeg")
      }
    }
  }

  /** DECODE — REAL ImageIO parse of ANY supported image payload (PNG,
    * JPEG, …), reporting container metadata: dimensions, raster band
    * count, encoded size, and whether a decoder accepted the bytes. For
    * the JPEG path the metadata is fully deterministic even though the
    * pixels are lossy — `mm_decode` oracle-checks it end to end —
    * while `n_bytes` (the encoded container size) is codec-dependent
    * and stays out of the registered projection.
    */
  def decodeImageMeta(imgs: Dataset[Asset]): Dataset[Decoded] = {
    import imgs.sparkSession.implicits._
    imgs.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { a =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(a.payload))
        if (img == null) Decoded(a.doc_id, 0, 0, 0, a.payload.length, ok = false)
        else Decoded(a.doc_id, img.getWidth, img.getHeight,
          img.getRaster.getNumBands, a.payload.length, ok = true)
      }
    }
  }

  /** Real-codec decode output: dimensions and pixel checksum read back by
    * `javax.imageio` from actual PNG bytes.
    */
  case class DecodedImage(doc_id: Long, width: Int, height: Int,
      px_checksum: Long, png_bytes: Int)

  /** ENCODE — payload bytes → a real PNG: a fixed-width 8-bit grayscale
    * image whose pixel stream IS the payload (row-major, zero-padded to
    * the last row), written by the JDK's ImageIO PNG encoder. This is a
    * genuine codec call (headers, filters, zlib), not a stub — the JDK
    * ships the PNG plugin, so it works in this container. Same
    * `mapPartitions` batch shape as every other media transform; encoder
    * state is per-partition.
    */
  val PngWidth = 32

  /** The shared raster contract of [[encodePng]]/[[encodeJpeg]]: a
    * `width`-wide 8-bit grayscale image whose row-major pixel stream IS
    * the payload, zero-padded to the last row.
    */
  private def grayImage(payload: Array[Byte],
      width: Int): java.awt.image.BufferedImage = {
    val n = payload.length
    val h = math.max(1, (n + width - 1) / width)
    val img = new java.awt.image.BufferedImage(
      width, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var i = 0
    while (i < width * h) {
      raster.setSample(i % width, i / width, 0,
        if (i < n) java.lang.Byte.toUnsignedInt(payload(i)) else 0)
      i += 1
    }
    img
  }

  def encodePng(assets: Dataset[Asset], width: Int = PngWidth): Dataset[Asset] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false) // no disk-backed streams
      it.map { a =>
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(grayImage(a.payload, width), "png", bos)
        Asset(a.doc_id, bos.toByteArray, "image/png")
      }
    }
  }

  /** DECODE — REAL `javax.imageio` decode of the PNG payload: parses the
    * container, inflates the pixel stream, and reports dimensions plus
    * the sum of all pixel samples. Nothing here knows how the PNG was
    * made — any 8-bit grayscale PNG decodes identically — so with
    * [[encodePng]] upstream the round trip is oracle-checkable: width is
    * the encode constant, height = ceil(n/width), and the pixel checksum
    * equals the payload byte sum (padding is zero). The lossless twin
    * of the [[encodeJpeg]]/[[decodeImageMeta]] JPEG leg.
    */
  def decodePng(imgs: Dataset[Asset]): Dataset[DecodedImage] = {
    import imgs.sparkSession.implicits._
    imgs.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { a =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(a.payload))
        require(img != null, s"doc ${a.doc_id}: payload is not a decodable image")
        val raster = img.getRaster
        var sum = 0L
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            sum += raster.getSample(x, y, 0)
            x += 1
          }
          y += 1
        }
        DecodedImage(a.doc_id, img.getWidth, img.getHeight, sum,
          a.payload.length)
      }
    }
  }

  /** Average-hash output: the 64-bit perceptual fingerprint split into
    * two 32-bit halves (a single BIGINT would need bit 63 — signed
    * overflow territory on both engines).
    */
  case class AHash(doc_id: Long, width: Int, height: Int,
      ahash_hi: Long, ahash_lo: Long)

  /** Visual dedup groups keyed by the perceptual average hash — the
    * image-side [[graft.ext.Dedup.exactGroups]]: assets whose 64-bit
    * aHash matches collapse to one keeper (lowest doc_id). A byte-exact
    * group-by would miss re-encoded copies; the perceptual key groups by
    * CONTENT. One keyed agg over the (narrow, mapPartitions-decoded)
    * hash stream — decode cost is the scan, the shuffle carries 3 longs
    * per asset.
    */
  def ahashDedupGroups(imgs: Dataset[Asset]): DataFrame = {
    import org.apache.spark.sql.functions._
    averageHash(imgs).toDF()
      .groupBy("ahash_hi", "ahash_lo")
      .agg(min("doc_id").as("keeper_doc_id"),
        count(lit(1)).as("n_copies"))
  }

  /** Perceptual AVERAGE HASH (aHash) over REAL decoded PNG pixels: the
    * image nearest-neighbor-samples to an 8×8 grid (block (bx,by) reads
    * pixel `(bx·4, by·h div 8)` — well-defined for any height, matching
    * the resize-to-8×8 step of the classic aHash), the 64 samples'
    * floor-mean is the threshold, and bit `by·8+bx` is set iff its
    * sample ≥ mean. Every step is integer arithmetic on decoded
    * samples, so the hash is exactly reproducible — the oracle predicts
    * it from the payload bytes without any codec (the encode contract
    * pins pixel (x,y) = payload[y·32+x], zero-padded), while the Spark
    * side goes through the genuine ImageIO decode like
    * [[mm_decode_png]]. Near-dup IMAGE detection then reduces to
    * Hamming distance on these— the visual twin of
    * [[graft.ext.Dedup.simhashNearDupPairs]].
    */
  def averageHash(imgs: Dataset[Asset]): Dataset[AHash] = {
    import imgs.sparkSession.implicits._
    imgs.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { a =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(a.payload))
        require(img != null, s"doc ${a.doc_id}: payload is not a decodable image")
        val (w, h) = (img.getWidth, img.getHeight)
        val raster = img.getRaster
        val px = new Array[Long](64)
        var b = 0
        while (b < 64) {
          val x = (b % 8) * (w / 8)
          val y = ((b / 8) * h) / 8
          px(b) = raster.getSample(x, y, 0).toLong
          b += 1
        }
        val mean = px.sum / 64
        var hi = 0L; var lo = 0L
        b = 0
        while (b < 64) {
          if (px(b) >= mean) {
            if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
          }
          b += 1
        }
        AHash(a.doc_id, w, h, hi, lo)
      }
    }
  }

  /** Difference-hash output: 64 horizontal-gradient bits in two 32-bit
    * halves (same signed-overflow dodge as [[AHash]]).
    */
  case class DHash(doc_id: Long, width: Int, height: Int,
      dhash_hi: Long, dhash_lo: Long)

  /** Perceptual DIFFERENCE HASH (dHash) over REAL decoded PNG pixels —
    * the gradient companion to [[averageHash]] (aHash thresholds on
    * brightness, dHash on horizontal direction-of-change; production
    * image dedup runs both and requires agreement). The image
    * nearest-neighbor-samples to a 9×8 grid (column stride `w div 9`,
    * row `by·h div 8`), and bit `by·8+bx` is set iff the sample right of
    * it is strictly brighter. All-integer on decoded samples ⇒ the
    * oracle predicts the hash from the payload byte contract with no
    * codec, while the Spark side performs the genuine ImageIO decode.
    */
  def differenceHash(imgs: Dataset[Asset]): Dataset[DHash] = {
    import imgs.sparkSession.implicits._
    imgs.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { a =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(a.payload))
        require(img != null, s"doc ${a.doc_id}: payload is not a decodable image")
        val (w, h) = (img.getWidth, img.getHeight)
        val raster = img.getRaster
        val px = new Array[Long](72)
        var q = 0
        while (q < 72) {
          val x = (q % 9) * (w / 9)
          val y = ((q / 9) * h) / 8
          px(q) = raster.getSample(x, y, 0).toLong
          q += 1
        }
        var hi = 0L; var lo = 0L
        var b = 0
        while (b < 64) {
          if (px((b / 8) * 9 + (b % 8) + 1) > px((b / 8) * 9 + (b % 8))) {
            if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
          }
          b += 1
        }
        DHash(a.doc_id, w, h, hi, lo)
      }
    }
  }

  /** Perceptual-hash output: 63 DCT-sign bits (bit 0 — the DC slot —
    * unused), split into two halves like [[AHash]]. */
  case class PHash(doc_id: Long, width: Int, height: Int,
      phash_hi: Long, phash_lo: Long)

  /** Fixed-point DCT basis for [[perceptualHash]]:
    * `floor(cos((2x+1)·u·π/64) · 2¹⁴)` for u ∈ 0..7, x ∈ 0..31.
    * Computed ONCE here and interpolated into the DuckDB twin as
    * integer literals, so both engines share the exact same basis and
    * no libm call happens at query time on either side (the SRP
    * weight-list precedent).
    */
  val PhashCos: Array[Array[Long]] = Array.tabulate(8, 32) { (u, x) =>
    math.floor(math.cos((2 * x + 1) * u * math.Pi / 64.0) * 16384.0).toLong
  }

  /** Perceptual DCT HASH (pHash) over REAL decoded PNG pixels — the
    * frequency-domain member of the perceptual-dedup trio ([[averageHash]]
    * thresholds brightness, [[differenceHash]] gradients; pHash is the
    * one robust to global brightness/contrast shifts because it signs
    * LOW-FREQUENCY DCT structure against the AC median). The image
    * nearest-neighbor-samples to a 32×32 grid, a 2-D DCT-II restricted
    * to the 8×8 low-frequency block runs in EXACT fixed-point integer
    * arithmetic over the [[PhashCos]] basis (separable two-pass on the
    * Spark side; the straight double sum in the twin — integer addition
    * is associative, so any order agrees bit-for-bit), and bit
    * `v·8+u` (b = 1..63, DC excluded) is set iff its coefficient
    * exceeds the exact integer MEDIAN of the 63 AC coefficients —
    * median, not mean, so no signed floor-division semantics can
    * diverge cross-engine. Magnitudes: |F| ≤ 32²·255·2¹⁴·2¹⁴ ≈ 7e13,
    * exact in a long. Near-dup detection is Hamming distance on the
    * 63 bits, same serving shape as the other two hashes.
    */
  def perceptualHash(imgs: Dataset[Asset]): Dataset[PHash] = {
    import imgs.sparkSession.implicits._
    imgs.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { a =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(a.payload))
        require(img != null, s"doc ${a.doc_id}: payload is not a decodable image")
        val (w, h) = (img.getWidth, img.getHeight)
        val raster = img.getRaster
        val p = Array.ofDim[Long](32, 32) // p(y)(x)
        var j = 0
        while (j < 32) {
          var i = 0
          while (i < 32) {
            p(j)(i) = raster.getSample(i * (w / 32), (j * h) / 32, 0).toLong
            i += 1
          }
          j += 1
        }
        // separable DCT: t(v)(x) = Σ_y C(v,y)·p(y)(x), then
        // F(u,v) = Σ_x C(u,x)·t(v)(x)
        val t = Array.ofDim[Long](8, 32)
        var v = 0
        while (v < 8) {
          var x = 0
          while (x < 32) {
            var s = 0L
            var y = 0
            while (y < 32) { s += PhashCos(v)(y) * p(y)(x); y += 1 }
            t(v)(x) = s
            x += 1
          }
          v += 1
        }
        val f = new Array[Long](64) // b = v·8 + u
        v = 0
        while (v < 8) {
          var u = 0
          while (u < 8) {
            var s = 0L
            var x = 0
            while (x < 32) { s += PhashCos(u)(x) * t(v)(x); x += 1 }
            f(v * 8 + u) = s
            u += 1
          }
          v += 1
        }
        val med = f.drop(1).sorted.apply(31) // exact median of 63 AC terms
        var hi = 0L; var lo = 0L
        var b = 1
        while (b < 64) {
          if (f(b) > med) {
            if (b < 32) lo |= 1L << b else hi |= 1L << (b - 32)
          }
          b += 1
        }
        PHash(a.doc_id, w, h, hi, lo)
      }
    }
  }

  /** NEAR-DUP IMAGE PAIRS by banded pHash Hamming distance — the
    * image-side LSH: the 64 fingerprint bits split into 8 one-byte
    * bands, candidates collide on ANY band, survivors verify
    * `hamming ≤ maxHamming`. With 8 bands the pigeonhole guarantee is
    * EXHAUSTIVE for `maxHamming ≤ 7` (a pair differing in ≤ 7 bits
    * leaves at least one byte equal), so unlike probabilistic LSH this
    * banding loses zero recall at the default threshold — the
    * [[graft.ext.Dedup.simhashNearDupPairs]] shape on the DCT hash.
    *
    * Scale shape: fingerprints are 3 longs per asset (decode cost is
    * the scan); the self-join is keyed by (band, value) with candidate
    * fan-out bounded per bucket, then the verify is a narrow bit_count.
    */
  def phashNearDupPairs(imgs: Dataset[Asset],
      maxHamming: Int = 6): DataFrame = {
    require(maxHamming <= 7,
      "8-byte banding is only exhaustive for maxHamming <= 7")
    // materialize fingerprints once: the banded self-join consumes the
    // decode subplan twice (the simhashNearDupPairs lesson)
    val fp = perceptualHash(imgs).toDF().localCheckpoint()
    val banded = fp.select(col("doc_id"), col("phash_hi"), col("phash_lo"),
      posexplode(array(
        (0 until 4).map(b =>
          shiftright(col("phash_lo"), b * 8).bitwiseAND(0xFF)) ++
        (0 until 4).map(b =>
          shiftright(col("phash_hi"), b * 8).bitwiseAND(0xFF)): _*))
        .as(Seq("band_idx", "band_val")))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_val") === col("b.band_val") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.phash_hi").as("ha"), col("a.phash_lo").as("la"),
        col("b.phash_hi").as("hb"), col("b.phash_lo").as("lb"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("ha").bitwiseXOR(col("hb"))) +
          bit_count(col("la").bitwiseXOR(col("lb"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Near-dup IMAGE CLUSTERS: connected components over the banded
    * pHash pair graph — the image-side [[Components.nearDupClusters]].
    * Every asset in a near-dup cluster, labeled by the minimum doc_id
    * reachable; assets with no near-dup partner don't appear (the same
    * pair-graph domain convention as the text clusters). Rides
    * [[Components.connectedComponents]]'s threshold-gated union-find:
    * pair graphs are corpus-sparse, so the driver pass wins under the
    * gate and the distributed label propagation remains the unbounded
    * fallback.
    */
  def phashClusters(imgs: Dataset[Asset]): DataFrame =
    Components.connectedComponents(phashNearDupPairs(imgs))
      .select(col("node").as("doc_id"), col("comp").as("cluster_id"))

  /** Real-codec audio decode output: stream parameters and sample checksum
    * read back by `javax.sound.sampled` from actual WAV bytes.
    */
  case class DecodedAudio(doc_id: Long, sample_rate: Int, channels: Int,
      n_samples: Long, sample_checksum: Long)

  /** ENCODE — payload bytes → a real WAV container: 8-bit unsigned PCM
    * mono at 8 kHz whose sample stream IS the payload, written by the
    * JDK's `javax.sound.sampled` WAV writer (RIFF header, fmt chunk, data
    * chunk). Like [[encodePng]], a genuine codec call that works in this
    * container because the WAV file writer ships with the JDK. Same
    * `mapPartitions` batch shape; format object built once per partition.
    */
  val WavSampleRate = 8000f

  def encodeWav(assets: Dataset[Asset]): Dataset[Asset] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      val fmt = new javax.sound.sampled.AudioFormat(
        javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED,
        WavSampleRate, 8, 1, 1, WavSampleRate, false)
      it.map { a =>
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(a.payload), fmt, a.payload.length.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
        Asset(a.doc_id, bos.toByteArray, "audio/wav")
      }
    }
  }

  /** DECODE — REAL `javax.sound.sampled` parse of the WAV payload: reads
    * the RIFF container, validates the fmt chunk, and streams the PCM
    * frames, reporting stream parameters plus the sum of all unsigned
    * samples. Nothing here knows how the WAV was made — any 8-bit mono
    * PCM WAV decodes identically — so with [[encodeWav]] upstream the
    * round trip is oracle-checkable: rate/channels are the encode
    * constants, n_samples = payload length, checksum = payload byte sum.
    * Compressed audio codecs (MP3/AAC) and video have no JDK decoder;
    * their pipelines reuse this exact batch shape with the codec
    * swapped in.
    */
  def decodeWav(wavs: Dataset[Asset]): Dataset[DecodedAudio] = {
    import wavs.sparkSession.implicits._
    wavs.mapPartitions { it =>
      it.map { a =>
        val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(a.payload))
        val fmt = ais.getFormat
        var sum = 0L
        var n = 0L
        val buf = new Array[Byte](8192)
        var read = ais.read(buf)
        while (read > 0) {
          var i = 0
          while (i < read) {
            sum += java.lang.Byte.toUnsignedInt(buf(i)); i += 1
          }
          n += read
          read = ais.read(buf)
        }
        DecodedAudio(a.doc_id, fmt.getSampleRate.toInt, fmt.getChannels,
          n / math.max(1, fmt.getFrameSize), sum)
      }
    }
  }

  case class AudioFrame(doc_id: Long, frame_id: Long, n_samples: Long,
    sum_amp: Long, sum_sq: Long, rms: Double)

  /** Per-frame energy over the REAL decoded PCM stream: [[decodeWav]]'s
    * RIFF parse, but instead of one checksum the sample stream is cut
    * into fixed `frameLen`-sample frames (160 = 20 ms at the 8 kHz
    * encode rate) and each frame reports exact integer amplitude sums
    * plus RMS — the frame-level feature extraction (VAD energy gates,
    * silence trimming) an audio pipeline runs after decode. Exact
    * contract: samples are unsigned 8-bit, so `sum_sq` is an exact
    * int64 and rms = `sqrt(sum_sq / n)` is a 2-op correctly-rounded
    * IEEE DAG the oracle mirrors.
    *
    * Scale shape: mapPartitions decode (one pass, no sample
    * materialization beyond the running frame), output rows =
    * samples/frameLen — the batch shape a Pandas-UDF decode would have.
    */
  def audioFrameEnergy(wavs: Dataset[Asset],
      frameLen: Int = 160): Dataset[AudioFrame] = {
    import wavs.sparkSession.implicits._
    wavs.flatMap { a =>
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(a.payload))
      val out = scala.collection.mutable.ArrayBuffer.empty[AudioFrame]
      var frameId = 0L
      var n = 0L
      var sum = 0L
      var sumSq = 0L
      def flush(): Unit = if (n > 0) {
        out += AudioFrame(a.doc_id, frameId, n, sum, sumSq,
          math.sqrt(sumSq.toDouble / n))
        frameId += 1; n = 0; sum = 0; sumSq = 0
      }
      val buf = new Array[Byte](8192)
      var read = ais.read(buf)
      while (read > 0) {
        var i = 0
        while (i < read) {
          val s = java.lang.Byte.toUnsignedInt(buf(i))
          sum += s; sumSq += s.toLong * s; n += 1
          if (n == frameLen) flush()
          i += 1
        }
        read = ais.read(buf)
      }
      flush()
      out
    }
  }

  /** AUDIO FINGERPRINT (Haitsma–Kalker 2002, single-band form) over the
    * real decoded PCM stream: the sign of the frame-to-frame ENERGY
    * DELTA is robust to gain/offset changes, so packing 32 consecutive
    * delta bits gives the compact sub-fingerprint words an audio-dedup
    * index bands on (the audio analog of [[perceptualHash]]'s DCT
    * bits). Bit f (f ≥ 1) is 1 when mean energy rose:
    * `sum_sq_f · n_{f−1} > sum_sq_{f−1} · n_f` — the cross-multiplied
    * exact-integer comparison, so no division ever runs; word w packs
    * bits 32w+1..32w+32 as `Σ bit << ((f−1) mod 32)`.
    *
    * Scale shape: one narrow decode pass ([[audioFrameEnergy]]), one
    * per-asset window over the ~50-frame stream (keyed by doc_id — a
    * bounded partition by construction), one partial-merging pack
    * aggregate. The twin extends the `mm_audio_energy` byte-contract
    * CTEs with the identical lag/pack arithmetic.
    */
  case class AudioFp(doc_id: Long, word_id: Long, n_bits: Long, fp: Long)

  def audioFingerprint(wavs: Dataset[Asset],
      frameLen: Int = 160): Dataset[AudioFp] = {
    import wavs.sparkSession.implicits._
    val fr = audioFrameEnergy(wavs, frameLen).toDF()
    val w = Window.partitionBy("doc_id").orderBy("frame_id")
    fr.select(col("doc_id"), col("frame_id"), col("n_samples"), col("sum_sq"))
      .withColumn("prev_sq", lag("sum_sq", 1).over(w))
      .withColumn("prev_n", lag("n_samples", 1).over(w))
      .filter(col("prev_sq").isNotNull)
      .select(col("doc_id"),
        expr("(frame_id - 1) div 32").as("word_id"),
        when(col("sum_sq") * col("prev_n") > col("prev_sq") * col("n_samples"),
          lit(1L)).otherwise(lit(0L)).as("bit"),
        expr("cast((frame_id - 1) % 32 as int)").as("pos"))
      .groupBy("doc_id", "word_id")
      .agg(count(lit(1)).as("n_bits"),
        sum(expr("shiftleft(bit, pos)")).as("fp"))
      .as[AudioFp]
  }

  /** DECIMATE-BY-2 RESAMPLE → FRAME ENERGY — the sample-rate conversion
    * step of a speech pipeline (8 kHz → 4 kHz here), run as a REAL
    * decode: the RIFF stream is parsed by `javax.sound`, consecutive
    * sample pairs average to one output sample (`(s₀+s₁) div 2` —
    * exact integer floor, the box anti-alias filter), an unpaired tail
    * sample is dropped, and the resampled stream cuts into the same
    * fixed frames as [[audioFrameEnergy]]. Emits the identical
    * [[AudioFrame]] shape, so the whole downstream chain (VAD,
    * fingerprints, near-dup) runs unchanged on the lower rate.
    *
    * Scale shape: one narrow decode pass per asset, no shuffle — the
    * [[audioFrameEnergy]] kernel with a two-sample accumulator in
    * front.
    */
  def audioResampleEnergy(wavs: Dataset[Asset],
      frameLen: Int = 160): Dataset[AudioFrame] = {
    import wavs.sparkSession.implicits._
    wavs.flatMap { a =>
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(a.payload))
      val out = scala.collection.mutable.ArrayBuffer.empty[AudioFrame]
      var frameId = 0L
      var n = 0L
      var sum = 0L
      var sumSq = 0L
      def flush(): Unit = if (n > 0) {
        out += AudioFrame(a.doc_id, frameId, n, sum, sumSq,
          math.sqrt(sumSq.toDouble / n))
        frameId += 1; n = 0; sum = 0; sumSq = 0
      }
      var pending = -1
      val buf = new Array[Byte](8192)
      var read = ais.read(buf)
      while (read > 0) {
        var i = 0
        while (i < read) {
          val s = java.lang.Byte.toUnsignedInt(buf(i))
          if (pending < 0) pending = s
          else {
            val r = (pending + s) / 2
            pending = -1
            sum += r; sumSq += r.toLong * r; n += 1
            if (n == frameLen) flush()
          }
          i += 1
        }
        read = ais.read(buf)
      }
      flush()
      out
    }
  }

  /** Mean-square frame energy above which a frame counts as ACTIVE in
    * [[audioVadSegments]] — the corpus median at the test SFs, so real
    * frames split both ways; a production deployment calibrates it on
    * labeled silence.
    */
  val VadMsqThreshold = 9830L

  /** ENERGY-GATE VAD SEGMENTS (silence trimming) over the real decoded
    * PCM stream — the preprocessing every speech pipeline runs between
    * decode and feature extraction: a frame is ACTIVE when its mean
    * square energy clears the gate (`sum_sq > θ·n` — the
    * cross-multiplied exact-integer compare, no division), and maximal
    * runs of consecutive active frames become segments via
    * gaps-and-islands (`frame_id − row_number` grouping). Per segment:
    * frame span, frame count, and exact integer sample/energy totals.
    *
    * Scale shape: one decode pass ([[audioFrameEnergy]]), one
    * row_number window over the per-asset frame stream (bounded
    * partitions by construction), one partial-merging segment
    * aggregate.
    */
  def audioVadSegments(wavs: Dataset[Asset], frameLen: Int = 160,
      msqThreshold: Long = VadMsqThreshold): DataFrame = {
    val fr = audioFrameEnergy(wavs, frameLen).toDF()
    val w = Window.partitionBy("doc_id").orderBy("frame_id")
    fr.filter(col("sum_sq") > lit(msqThreshold) * col("n_samples"))
      .withColumn("rn", row_number().over(w))
      .groupBy(col("doc_id"), (col("frame_id") - col("rn")).as("grp"))
      .agg(min("frame_id").as("seg_start"), max("frame_id").as("seg_end"),
        count(lit(1)).as("n_frames"), sum("n_samples").as("n_samples"),
        sum("sum_sq").as("sum_sq"))
      .select("doc_id", "seg_start", "seg_end", "n_frames", "n_samples",
        "sum_sq")
  }

  /** SPEECH-TO-NOISE ENERGY RATIO per asset — the recording-quality
    * gate a speech pipeline runs right after [[audioVadSegments]]: mean
    * per-sample energy inside VAD-active frames over mean energy in the
    * silence frames. The RATIO is emitted, not decibels — `10·log₁₀`
    * is strictly monotone, so every threshold a dB gate would apply
    * maps 1:1 onto the ratio (the `text_pmi` no-libm device; libm logs
    * differ across engines in the last bit). Numerators/denominators
    * are exact integer energy sums; the output is a fixed tree of three
    * divisions. Assets that are all speech or all silence carry NULLs
    * via the same CASE on both sides.
    *
    * Scale shape: one narrow decode pass (shared [[AudioFrame]] shape),
    * one partial-merging per-asset aggregate — no windows, no joins.
    */
  def audioSnr(wavs: Dataset[Asset], frameLen: Int = 160,
      msqThreshold: Long = VadMsqThreshold): DataFrame = {
    val d = (c: Column) => c.cast("double")
    audioFrameEnergy(wavs, frameLen).toDF()
      .withColumn("speech",
        (col("sum_sq") > lit(msqThreshold) * col("n_samples"))
          .cast("long"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_frames"), sum("speech").as("n_speech"),
        sum(when(col("speech") === 1L, col("sum_sq")).otherwise(0L))
          .as("sp_sq"),
        sum(when(col("speech") === 1L, col("n_samples")).otherwise(0L))
          .as("sp_n"),
        sum(when(col("speech") === 0L, col("sum_sq")).otherwise(0L))
          .as("sil_sq"),
        sum(when(col("speech") === 0L, col("n_samples")).otherwise(0L))
          .as("sil_n"))
      .select(col("doc_id"), col("n_frames"), col("n_speech"),
        when(col("sp_n") === 0L, lit(null).cast("double"))
          .otherwise(d(col("sp_sq")) / d(col("sp_n"))).as("speech_msq"),
        when(col("sil_n") === 0L, lit(null).cast("double"))
          .otherwise(d(col("sil_sq")) / d(col("sil_n")))
          .as("silence_msq"),
        when(col("sp_n") === 0L || col("sil_n") === 0L ||
          col("sil_sq") === 0L, lit(null).cast("double"))
          .otherwise((d(col("sp_sq")) / d(col("sp_n"))) /
            (d(col("sil_sq")) / d(col("sil_n")))).as("snr_ratio"))
  }

  /** NEAR-DUP AUDIO PAIRS by sub-fingerprint word collisions — the audio
    * analog of [[phashNearDupPairs]], completing the Haitsma–Kalker
    * serving path: candidates collide on an EXACT (word_id, fp) match
    * (the classic sub-fingerprint hash-table probe), survivors verify
    * total Hamming distance over the aligned word streams.
    *
    * Two deliberate contracts:
    *   - Over-common sub-fingerprints (silence, flat energy — the
    *     stop-words of audio) are dropped from CANDIDATE GENERATION when
    *     more than `maxBucket` assets share a word: the df-cap pattern
    *     of [[Dedup]]'s inverted index, which bounds per-bucket fan-out
    *     so no skewed key can go quadratic at scale. The verify metric
    *     is unaffected — only recall through that bucket is traded, and
    *     a capped bucket means the word carried ~no information anyway.
    *   - Pairs must align EXACTLY: the word join carries `n_bits`, and
    *     the matched-word count must equal BOTH assets' word counts, so
    *     streams of different lengths never pair (a prefix match is not
    *     a near-dup under a fixed-alignment fingerprint).
    *
    * Scale shape: fingerprints are ≤ n_frames/32 longs per asset and
    * are checkpointed once (the banded join consumes the decode subplan
    * twice — the [[phashNearDupPairs]] lesson); the self-join is keyed
    * by (word_id, fp) with the over-cap anti-join keeping buckets
    * bounded; verify is one partial-merging sum over matched words.
    */
  def audioNearDupPairs(wavs: Dataset[Asset], frameLen: Int = 160,
      maxHamming: Int = 6, maxBucket: Int = 64): DataFrame = {
    val fp = audioFingerprint(wavs, frameLen).toDF().localCheckpoint()
    val hot = fp.groupBy("word_id", "fp")
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxBucket)
      .select("word_id", "fp")
    // DATA-DEPENDENT broadcast (r17 verdict #4): the hot-bucket head is
    // bounded only by rows/maxBucket; advisor-gated — the planning scan
    // re-aggregates the checkpointed fp, not the decode pipeline
    val cand = fp.join(
      graft.plans.Layout.advisedBroadcast(hot, fixed = 16L),
      Seq("word_id", "fp"), "left_anti")
    val pairs = cand.as("a")
      .join(cand.as("b"),
        col("a.word_id") === col("b.word_id") &&
          col("a.fp") === col("b.fp") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val nWords = fp.groupBy("doc_id").agg(count(lit(1)).as("n_words"))
    pairs
      .join(fp.as("fa"), col("doc_a") === col("fa.doc_id"))
      .join(fp.as("fb"),
        col("doc_b") === col("fb.doc_id") &&
          col("fa.word_id") === col("fb.word_id") &&
          col("fa.n_bits") === col("fb.n_bits"))
      .groupBy("doc_a", "doc_b")
      .agg(sum(bit_count(col("fa.fp").bitwiseXOR(col("fb.fp"))))
          .as("hamming"),
        count(lit(1)).as("matched"))
      .join(nWords.as("na"), col("doc_a") === col("na.doc_id"))
      .join(nWords.as("nb"), col("doc_b") === col("nb.doc_id"))
      .filter(col("matched") === col("na.n_words") &&
        col("matched") === col("nb.n_words") &&
        col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Near-dup AUDIO CLUSTERS: connected components over the word-collision
    * pair graph — the audio-side [[phashClusters]]. Same domain
    * convention: only assets with at least one near-dup partner appear,
    * labeled by the minimum reachable doc_id.
    */
  def audioClusters(wavs: Dataset[Asset], frameLen: Int = 160,
      maxHamming: Int = 6, maxBucket: Int = 64): DataFrame =
    Components.connectedComponents(
        audioNearDupPairs(wavs, frameLen, maxHamming, maxBucket))
      .select(col("node").as("doc_id"), col("comp").as("cluster_id"))

  /** Image features over REAL decoded pixels: 16-bin intensity histogram
    * (bin = pixel >> 4) plus mean intensity, computed from the raster
    * [[decodePng]] inflates — the decode→feature pipeline of a media
    * lake running its actual codec. Oracle-checkable because
    * the decoded pixel stream is the payload plus zero-padding to the last
    * row: bin 0 absorbs `width·height − n` pad pixels and the mean divides
    * the exact byte sum by the exact pixel count (identical IEEE division
    * on the DuckDB side).
    */
  case class ImageFeatures(doc_id: Long, hist: Array[Long], mean_px: Double)

  def imageFeatures(imgs: Dataset[Asset]): Dataset[ImageFeatures] = {
    import imgs.sparkSession.implicits._
    imgs.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { a =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(a.payload))
        require(img != null, s"doc ${a.doc_id}: payload is not a decodable image")
        val raster = img.getRaster
        val hist = new Array[Long](16)
        var sum = 0L
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val px = raster.getSample(x, y, 0)
            hist(px >> 4) += 1L
            sum += px
            x += 1
          }
          y += 1
        }
        ImageFeatures(a.doc_id, hist,
          sum.toDouble / (img.getWidth.toLong * img.getHeight))
      }
    }
  }

  /** Pixel variance below which a decoded image counts as BLANK in
    * [[imageMoments]] — near-constant rasters (solid fills, dead
    * camera frames, empty renders) sit orders of magnitude under any
    * real content; a production deployment calibrates it on labeled
    * blanks.
    */
  val BlankVarThreshold = 100.0

  case class ImageMoments(doc_id: Long, n_px: Long, sum_px: Long,
    sum_sq_px: Long, mean_px: Double, var_px: Double, is_blank: Boolean)

  /** BLANK / LOW-INFORMATION IMAGE FILTER over REAL decoded pixels —
    * the screen a media lake runs right after decode (drop solid
    * fills and dead frames before paying for feature extraction):
    * exact integer pixel moments (n, Σp, Σp²) off the raster, then
    * `mean = Σp/n`, `var = Σp²/n − mean²` (the fixed IEEE tree both
    * engines evaluate identically), flagged blank under
    * `varThreshold`. Oracle-checkable because the decoded pixel
    * stream is the payload plus zero-padding to the last row
    * (the [[imageFeatures]] contract).
    *
    * Scale shape: one mapPartitions decode pass, three integers per
    * image on the wire, no shuffle at all.
    */
  def imageMoments(imgs: Dataset[Asset],
      varThreshold: Double = BlankVarThreshold): Dataset[ImageMoments] = {
    import imgs.sparkSession.implicits._
    imgs.mapPartitions { it =>
      javax.imageio.ImageIO.setUseCache(false)
      it.map { a =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(a.payload))
        require(img != null, s"doc ${a.doc_id}: payload is not a decodable image")
        val raster = img.getRaster
        val n = img.getWidth.toLong * img.getHeight
        var sum = 0L
        var sumSq = 0L
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val px = raster.getSample(x, y, 0).toLong
            sum += px
            sumSq += px * px
            x += 1
          }
          y += 1
        }
        val mean = sum.toDouble / n
        val varr = sumSq.toDouble / n - mean * mean
        ImageMoments(a.doc_id, n, sum, sumSq, mean, varr,
          varr < varThreshold)
      }
    }
  }

  /** RESIZE — 1-D nearest-neighbor downsample of the payload byte stream
    * to at most `outLen` bytes: output position i reads input byte
    * `floor(i·n/m)`, exactly the access pattern of a nearest-neighbor
    * image scaler applied to the byte domain (a 2-D variant samples the
    * decoded raster instead; the per-partition batch shape, the stride
    * arithmetic, and the summary schema are identical). Emits the
    * resampled length and byte checksum rather than the blob so the
    * result is scalar-only for the verify harness — and, because
    * sampling positions are pure integer arithmetic over ASCII payloads,
    * it is DuckDB-oracle-checkable end to end.
    */
  def resizeNearest(assets: Dataset[Asset],
      outLen: Int = 256): Dataset[Resized] = {
    import assets.sparkSession.implicits._
    assets.mapPartitions { it =>
      it.map { a =>
        val n = a.payload.length
        val m = math.min(n, outLen)
        var sum = 0L
        var i = 0
        while (i < m) {
          sum += java.lang.Byte.toUnsignedInt(
            a.payload((i.toLong * n / m).toInt))
          i += 1
        }
        Resized(a.doc_id, n, m, sum)
      }
    }
  }

  /** Frame sampling — every `stride`-th fixed-width byte slice of the
    * payload (the video-keyframe access pattern), as (doc_id, frame_idx,
    * frame bytes).
    */
  def sampleFrames(docs: DataFrame, frameBytes: Int = 16,
      stride: Int = 4): DataFrame =
    assets(docs)
      .select(col("doc_id"), col("payload"),
        expr(s"sequence(0, greatest(cast((length(payload) - $frameBytes) / ($frameBytes * $stride) as int), 0))")
          .as("idxs"))
      .select(col("doc_id"), explode(col("idxs")).as("frame_idx"),
        expr(s"substring(payload, frame_idx * $frameBytes * $stride + 1, $frameBytes)")
          .as("frame"))
      .filter(length(col("frame")) === frameBytes)

  /** Frame-sum delta above which [[videoShots]] declares a shot
    * boundary — the corpus p75 at the test SFs, so real streams split
    * into multiple shots; a production deployment calibrates it on
    * labeled cuts.
    */
  val ShotDeltaThreshold = 90L

  /** SHOT-BOUNDARY DETECTION over the sampled frame stream — the video
    * analog of [[audioVadSegments]]: a cut is declared when the
    * frame-feature delta (here the exact byte sum of the sampled frame
    * — a real pipeline plugs a decoded-histogram distance into the same
    * plan) exceeds the threshold, and frames between cuts group into
    * SHOTS via a running boundary count. Per shot: frame span, frame
    * count, exact byte total. The first frame of every stream opens
    * shot 1.
    *
    * Scale shape: one narrow frame scan ([[sampleFrames]]), one lag +
    * one running-sum window over the per-asset frame stream (bounded
    * partitions), one partial-merging shot aggregate.
    */
  def videoShots(docs: DataFrame, frameBytes: Int = 16, stride: Int = 4,
      deltaThreshold: Long = ShotDeltaThreshold): DataFrame = {
    val fr = sampleFrames(docs, frameBytes, stride)
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        // exact byte sum of the (ASCII-contract) frame payload
        expr("aggregate(sequence(1, length(frame)), 0L, " +
          "(a, i) -> a + ascii(substring(cast(frame as string), i, 1)))")
          .as("fsum"))
    val w = Window.partitionBy("doc_id").orderBy("frame_idx")
    fr.withColumn("prev", lag("fsum", 1).over(w))
      .withColumn("boundary",
        when(col("prev").isNull ||
          abs(col("fsum") - col("prev")) > deltaThreshold, 1L)
          .otherwise(0L))
      .withColumn("shot_id", sum("boundary").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "shot_id")
      .agg(min("frame_idx").as("start_frame"),
        max("frame_idx").as("end_frame"),
        count(lit(1)).as("n_frames"), sum("fsum").as("sum_bytes"))
  }

  /** NEAR-DUP VIDEO PAIRS by shot-signature collisions — the video analog
    * of [[audioNearDupPairs]], completing the copy-detection chain for
    * the third modality: a video's ordered shot table
    * (`shot_id → (n_frames, sum_bytes)` from [[videoShots]]) IS its
    * signature, candidates collide on one EXACT shot word, and survivors
    * verify the number of mismatched shots over the aligned shot
    * streams.
    *
    * Same two contracts as the audio side:
    *   - over-common shot words (test patterns, black frames) are df-capped
    *     out of CANDIDATE GENERATION at `maxBucket` — bucket fan-out stays
    *     bounded under any skew; verify is unaffected;
    *   - pairs align EXACTLY: matched-shot count must equal BOTH videos'
    *     shot counts, so different shot structures never pair.
    *
    * The pigeonhole makes banding exhaustive: two aligned videos with
    * ≤ `maxMismatch` differing shots and more than `maxMismatch` shots
    * total share at least one identical shot word, so recall through
    * uncapped buckets is lossless — the [[phashNearDupPairs]] argument
    * with shots in place of hash bytes.
    *
    * Scale shape: signatures are n_shots rows/video and checkpointed once
    * (consumed by cap, self-join, and verify); the self-join is keyed by
    * the (shot_id, n_frames, sum_bytes) word with the over-cap anti-join
    * bounding buckets; verify is one partial-merging aggregate over
    * matched shots.
    */
  def videoNearDupPairs(docs: DataFrame, frameBytes: Int = 16,
      stride: Int = 4, deltaThreshold: Long = ShotDeltaThreshold,
      maxMismatch: Int = 1, maxBucket: Int = 64): DataFrame = {
    val sig = videoShots(docs, frameBytes, stride, deltaThreshold)
      .select("doc_id", "shot_id", "n_frames", "sum_bytes")
      .localCheckpoint()
    val word = Seq("shot_id", "n_frames", "sum_bytes")
    val hot = sig.groupBy(word.map(col): _*)
      .agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > maxBucket)
      .select(word.map(col): _*)
    // advisor-gated like audioNearDupPairs' hot head (r17 verdict #4);
    // the planning scan re-aggregates the checkpointed sig
    val cand = sig.join(
      graft.plans.Layout.advisedBroadcast(hot, fixed = 24L),
      word, "left_anti")
    val pairs = cand.as("a")
      .join(cand.as("b"),
        col("a.shot_id") === col("b.shot_id") &&
          col("a.n_frames") === col("b.n_frames") &&
          col("a.sum_bytes") === col("b.sum_bytes") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val nShots = sig.groupBy("doc_id").agg(count(lit(1)).as("n_shots"))
    pairs
      .join(sig.as("fa"), col("doc_a") === col("fa.doc_id"))
      .join(sig.as("fb"),
        col("doc_b") === col("fb.doc_id") &&
          col("fa.shot_id") === col("fb.shot_id"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("matched"),
        sum(when(col("fa.n_frames") === col("fb.n_frames") &&
          col("fa.sum_bytes") === col("fb.sum_bytes"), 1L).otherwise(0L))
          .as("equal_shots"))
      .join(nShots.as("na"), col("doc_a") === col("na.doc_id"))
      .join(nShots.as("nb"), col("doc_b") === col("nb.doc_id"))
      .filter(col("matched") === col("na.n_shots") &&
        col("matched") === col("nb.n_shots") &&
        col("matched") - col("equal_shots") <= maxMismatch)
      .select(col("doc_a"), col("doc_b"), col("na.n_shots").as("n_shots"),
        (col("matched") - col("equal_shots")).as("mismatched"))
  }

  /** Near-dup VIDEO CLUSTERS: connected components over the shot-collision
    * pair graph — the video-side [[phashClusters]]/[[audioClusters]].
    * Same domain convention: only videos with at least one near-dup
    * partner appear, labeled by the minimum reachable doc_id.
    */
  def videoClusters(docs: DataFrame, frameBytes: Int = 16, stride: Int = 4,
      deltaThreshold: Long = ShotDeltaThreshold, maxMismatch: Int = 1,
      maxBucket: Int = 64): DataFrame =
    Components.connectedComponents(
        videoNearDupPairs(docs, frameBytes, stride, deltaThreshold,
          maxMismatch, maxBucket))
      .select(col("node").as("doc_id"), col("comp").as("cluster_id"))

  /** Typed entry points over the testdata documents table. */
  private def assetDs(s: SparkSession, d: String): Dataset[Asset] = {
    import s.implicits._
    assets(Tables.documents(s, d)).as[Asset]
  }

  /** Driver-contract registration (SparkEntry aggregates these). */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_catalog"  -> ((s, d) => catalog(Tables.documents(s, d))),
    // real JPEG round trip: encode payload -> actual ImageIO parse; the
    // emitted columns are container metadata (deterministic even for a
    // lossy codec), so this is oracle-compared; the encoded size
    // (n_bytes) is codec-dependent and stays out of the projection
    "mm_decode"   -> ((s, d) =>
      decodeImageMeta(encodeJpeg(assetDs(s, d))).toDF()
        .select("doc_id", "width", "height", "channels", "ok")),
    // real JPEG decode -> feature pipeline: histogram/mean over LOSSY
    // decoded pixels — rows-only (libjpeg output is impl-defined);
    // MultimodalSpec gates fidelity against the raster contract. The
    // hist rides as a scalar CSV string (verify outputs are scalar-only:
    // the driver's pandas compare cannot hash arrays)
    "mm_features" -> ((s, d) =>
      imageFeatures(encodeJpeg(assetDs(s, d))).toDF()
        .select(col("doc_id"),
          concat_ws(",", transform(col("hist"), x => x.cast("string")))
            .as("hist_csv"),
          col("mean_px"))),
    "mm_resize"   -> ((s, d) => resizeNearest(assetDs(s, d)).toDF()),
    // real PNG round trip: encode payload -> actual ImageIO decode;
    // png_bytes (container size) is encoder-dependent, so the query
    // emits only the decode-derived columns the oracle can predict
    "mm_decode_png" -> ((s, d) =>
      decodePng(encodePng(assetDs(s, d))).toDF()
        .select("doc_id", "width", "height", "px_checksum")),
    "mm_frames"   -> ((s, d) =>
      sampleFrames(Tables.documents(s, d))
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          hex(col("frame")).as("frame_hex"))),
    // real WAV round trip: encode payload -> actual javax.sound parse;
    // all emitted columns are decode-derived and oracle-predictable
    "mm_decode_wav" -> ((s, d) =>
      decodeWav(encodeWav(assetDs(s, d))).toDF()),
    "mm_audio_energy" -> ((s, d) =>
      audioFrameEnergy(encodeWav(assetDs(s, d))).toDF()),
    "mm_audio_resample" -> ((s, d) =>
      audioResampleEnergy(encodeWav(assetDs(s, d))).toDF()),
    "mm_audio_fingerprint" -> ((s, d) =>
      audioFingerprint(encodeWav(assetDs(s, d))).toDF()),
    "mm_dedup_audio" -> ((s, d) =>
      audioNearDupPairs(encodeWav(assetDs(s, d)))),
    "mm_audio_clusters" -> ((s, d) =>
      audioClusters(encodeWav(assetDs(s, d)))),
    "mm_audio_vad" -> ((s, d) =>
      audioVadSegments(encodeWav(assetDs(s, d)))),
    "mm_audio_snr" -> ((s, d) => audioSnr(encodeWav(assetDs(s, d)))),
    "mm_video_shots" -> ((s, d) => videoShots(Tables.documents(s, d))),
    "mm_dedup_video" -> ((s, d) =>
      videoNearDupPairs(Tables.documents(s, d))),
    "mm_video_clusters" -> ((s, d) =>
      videoClusters(Tables.documents(s, d))),
    "mm_blank_filter" -> ((s, d) =>
      imageMoments(encodePng(assetDs(s, d))).toDF()),
    // real decode -> perceptual fingerprint (aHash), oracle-predicted
    // from the payload byte contract
    "mm_ahash" -> ((s, d) => averageHash(encodePng(assetDs(s, d))).toDF()),
    "mm_dedup_ahash" -> ((s, d) =>
      ahashDedupGroups(encodePng(assetDs(s, d)))),
    "mm_dhash" -> ((s, d) =>
      differenceHash(encodePng(assetDs(s, d))).toDF()),
    "mm_phash" -> ((s, d) =>
      perceptualHash(encodePng(assetDs(s, d))).toDF()),
    "mm_dedup_phash" -> ((s, d) =>
      phashNearDupPairs(encodePng(assetDs(s, d)))),
    "mm_phash_clusters" -> ((s, d) =>
      phashClusters(encodePng(assetDs(s, d)))),
    // real decode -> feature pipeline: histogram/mean over decoded pixels
    // (hist emitted as a scalar CSV string — verify outputs are scalar-only)
    "mm_features_png" -> ((s, d) =>
      imageFeatures(encodePng(assetDs(s, d))).toDF()
        .select(col("doc_id"),
          concat_ws(",", transform(col("hist"), x => x.cast("string")))
            .as("hist_csv"),
          col("mean_px"))),
  )

  /** DuckDB twins. Everything with a deterministic contract is
    * oracle-checked — including `mm_decode`'s JPEG container metadata;
    * only `mm_features`' lossy decoded-pixel values stay rows-only
    * (spec-gated instead). DuckDB 1.0 cannot slice BLOBs, so the
    * oracles read the source string — `ascii`/`substring` over this
    * ASCII corpus address the identical bytes.
    */
  /** aHash twin, shared by `mm_ahash` and the group-by wrapper of
    * `mm_dedup_ahash`: predicts the decoded-pixel hash from the payload
    * byte contract (no codec in SQL).
    */
  private val duckAhashSql: String =
    """WITH t AS (
      |  SELECT doc_id, octet_length(encode(text)) AS n, text
      |  FROM documents),
      |hh AS (SELECT doc_id, n, text,
      |              greatest(1, CAST(ceil(n / 32.0) AS BIGINT)) AS h
      |       FROM t),
      |px AS (
      |  SELECT doc_id, h,
      |         [CASE WHEN (b // 8) * h // 8 * 32 + (b % 8) * 4 < n
      |               THEN ascii(substring(text,
      |                 CAST((b // 8) * h // 8 * 32 + (b % 8) * 4 + 1
      |                      AS INT), 1))
      |               ELSE 0 END for b in range(0, 64)] AS p
      |  FROM hh),
      |m AS (SELECT doc_id, h, p,
      |             CAST(list_sum(p) AS BIGINT) // 64 AS mean FROM px)
      |SELECT doc_id, 32 AS width, CAST(h AS INT) AS height,
      |       CAST(list_sum([CASE WHEN p[b + 33] >= mean
      |                      THEN (CAST(1 AS BIGINT) << b) ELSE 0 END
      |                      for b in range(0, 32)]) AS BIGINT) AS ahash_hi,
      |       CAST(list_sum([CASE WHEN p[b + 1] >= mean
      |                      THEN (CAST(1 AS BIGINT) << b) ELSE 0 END
      |                      for b in range(0, 32)]) AS BIGINT) AS ahash_lo
      |FROM m""".stripMargin

  /** pHash twin: predicts the decoded-pixel DCT hash from the payload
    * byte contract. The fixed-point cosine basis [[PhashCos]] is
    * interpolated as integer literals (single source of truth — no
    * trig in SQL); the DCT here is the straight nested sum (integer
    * addition is associative, so it agrees exactly with the Spark
    * side's separable two-pass). Samples are CAST to BIGINT before the
    * products so no intermediate rides 32-bit arithmetic.
    */
  private def duckPhashSql: String =
    s"""WITH $duckPhashCtes
       |SELECT doc_id, 32 AS width, CAST(h AS INT) AS height,
       |       phash_hi, phash_lo
       |FROM ph""".stripMargin

  /** Shared pHash CTE chain, ending in `ph(doc_id, h, phash_hi,
    * phash_lo)` — the fingerprint table both `mm_phash` and the banded
    * near-dup twin build on. MATERIALIZED: the near-dup twin's
    * self-join would otherwise inline the whole DCT per side.
    */
  private def duckPhashCtes: String = {
    val ct = PhashCos.map(_.mkString("[", ", ", "]"))
      .mkString("[", ",\n      |  ", "]")
    s"""t0 AS (
       |  SELECT doc_id, octet_length(encode(text)) AS n, text
       |  FROM documents),
       |hh AS (SELECT doc_id, n, text,
       |              greatest(1, CAST(ceil(n / 32.0) AS BIGINT)) AS h
       |       FROM t0),
       |px AS (
       |  SELECT doc_id, h,
       |         [CASE WHEN (q // 32) * h // 32 * 32 + (q % 32) < n
       |               THEN CAST(ascii(substring(text,
       |                 CAST((q // 32) * h // 32 * 32 + (q % 32) + 1
       |                      AS INT), 1)) AS BIGINT)
       |               ELSE 0 END for q in range(0, 1024)] AS p
       |  FROM hh),
       |cb AS (SELECT $ct AS ct),
       |tv AS (
       |  SELECT doc_id, h, ct,
       |         [[list_sum([ct[v + 1][y + 1] * p[y * 32 + x + 1]
       |                     for y in range(0, 32)])
       |           for x in range(0, 32)] for v in range(0, 8)] AS t
       |  FROM px, cb),
       |fm AS (
       |  SELECT doc_id, h,
       |         flatten([[list_sum([ct[u + 1][x + 1] * t[v + 1][x + 1]
       |                     for x in range(0, 32)])
       |           for u in range(0, 8)] for v in range(0, 8)]) AS f
       |  FROM tv),
       |md AS (SELECT doc_id, h, f,
       |              list_sort(f[2:64])[32] AS med FROM fm),
       |ph AS MATERIALIZED (
       |  SELECT doc_id, h,
       |       CAST(list_sum([CASE WHEN f[b + 33] > med
       |                      THEN (CAST(1 AS BIGINT) << b) ELSE 0 END
       |                      for b in range(0, 32)]) AS BIGINT) AS phash_hi,
       |       CAST(list_sum([CASE WHEN b >= 1 AND f[b + 1] > med
       |                      THEN (CAST(1 AS BIGINT) << b) ELSE 0 END
       |                      for b in range(0, 32)]) AS BIGINT) AS phash_lo
       |  FROM md)""".stripMargin
  }

  /** Shared audio frame-energy CTE chain — the `mm_audio_energy` byte
    * contract, ending in `en(doc_id, frame_id, n_samples, sum_sq)` —
    * the base both the fingerprint and VAD twins extend.
    */
  private def duckAudioEnergyCtes: String =
    """s AS (
      |  SELECT doc_id,
      |         [ascii(substring(text, i, 1))
      |          for i in range(1, octet_length(encode(text)) + 1)] AS samp
      |  FROM documents),
      |f AS (
      |  SELECT doc_id, samp,
      |         unnest(range((len(samp) + 159) // 160)) AS frame_id
      |  FROM s),
      |e AS (
      |  SELECT doc_id, CAST(frame_id AS BIGINT) AS frame_id,
      |         samp[frame_id * 160 + 1 :
      |              least((frame_id + 1) * 160, len(samp))] AS fr
      |  FROM f),
      |en AS (
      |  SELECT doc_id, frame_id, CAST(len(fr) AS BIGINT) AS n_samples,
      |         CAST(list_sum([x * x for x in fr]) AS BIGINT) AS sum_sq
      |  FROM e)""".stripMargin

  /** Shared audio-fingerprint CTE chain — [[duckAudioEnergyCtes]]
    * extended with the Haitsma–Kalker lag/pack arithmetic, ending in
    * `fpt(doc_id, word_id, n_bits, fp)`. MATERIALIZED: the near-dup
    * twin consumes it five times.
    */
  private def duckAudioFpCtes: String =
    s"""$duckAudioEnergyCtes,
      |d AS (
      |  SELECT doc_id, frame_id, n_samples, sum_sq,
      |         lag(sum_sq) OVER (PARTITION BY doc_id ORDER BY frame_id)
      |           AS prev_sq,
      |         lag(n_samples) OVER (PARTITION BY doc_id ORDER BY frame_id)
      |           AS prev_n
      |  FROM en),
      |b AS (
      |  SELECT doc_id, (frame_id - 1) // 32 AS word_id,
      |         CAST((frame_id - 1) % 32 AS INT) AS pos,
      |         CASE WHEN sum_sq * prev_n > prev_sq * n_samples
      |              THEN 1 ELSE 0 END AS bit
      |  FROM d WHERE prev_sq IS NOT NULL),
      |fpt AS MATERIALIZED (
      |  SELECT doc_id, CAST(word_id AS BIGINT) AS word_id,
      |         count(*) AS n_bits,
      |         CAST(sum(CASE WHEN bit = 1
      |                       THEN (CAST(1 AS BIGINT) << pos)
      |                       ELSE 0 END) AS BIGINT) AS fp
      |  FROM b GROUP BY 1, 2)""".stripMargin

  /** Shared audio near-dup pair CTEs over `fpt`: the df-capped
    * word-collision candidates plus the aligned-stream Hamming verify,
    * ending in `verified(doc_a, doc_b, hamming)` — the constants mirror
    * [[audioNearDupPairs]]'s defaults (maxBucket 64, maxHamming 6).
    */
  private def duckAudioPairCtes: String =
    """cnt AS (
      |  SELECT word_id, fp, count(*) AS n_docs FROM fpt GROUP BY 1, 2),
      |cand AS MATERIALIZED (
      |  SELECT f.doc_id, f.word_id, f.fp
      |  FROM fpt f JOIN cnt c ON f.word_id = c.word_id AND f.fp = c.fp
      |  WHERE c.n_docs <= 64),
      |prs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM cand a JOIN cand b
      |    ON a.word_id = b.word_id AND a.fp = b.fp AND a.doc_id < b.doc_id),
      |nw AS (SELECT doc_id, count(*) AS n_words FROM fpt GROUP BY 1),
      |hm AS (
      |  SELECT p.doc_a, p.doc_b,
      |         CAST(sum(bit_count(xor(fa.fp, fb.fp))) AS BIGINT) AS hamming,
      |         count(*) AS matched
      |  FROM prs p
      |  JOIN fpt fa ON fa.doc_id = p.doc_a
      |  JOIN fpt fb ON fb.doc_id = p.doc_b
      |   AND fb.word_id = fa.word_id AND fb.n_bits = fa.n_bits
      |  GROUP BY 1, 2),
      |verified AS MATERIALIZED (
      |  SELECT h.doc_a, h.doc_b, h.hamming
      |  FROM hm h JOIN nw na ON na.doc_id = h.doc_a
      |            JOIN nw nb ON nb.doc_id = h.doc_b
      |  WHERE h.matched = na.n_words AND h.matched = nb.n_words
      |    AND h.hamming <= 6)""".stripMargin

  /** Shared shot-table CTE chain for the video twins — ends in `vshots`
    * (one row per (doc_id, shot_id) with frame span and exact totals),
    * mirroring [[videoShots]] step for step.
    */
  private def duckVideoShotCtes: String =
    s"""idx AS (
       |  SELECT doc_id, text,
       |         unnest(range(0, greatest(
       |           CAST(trunc((octet_length(encode(text)) - 16) / 64.0)
       |                AS BIGINT), 0) + 1)) AS frame_idx
       |  FROM documents),
       |fr AS (
       |  SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
       |         CAST(list_sum([ascii(substring(text,
       |                CAST(frame_idx * 64 + i AS INT), 1))
       |              for i in range(1, 17)]) AS BIGINT) AS fsum
       |  FROM idx
       |  WHERE octet_length(encode(substring(text,
       |          CAST(frame_idx * 64 + 1 AS INT), 16))) = 16),
       |d AS (
       |  SELECT *, lag(fsum) OVER (PARTITION BY doc_id
       |                            ORDER BY frame_idx) AS prev
       |  FROM fr),
       |bnd AS (
       |  SELECT doc_id, frame_idx, fsum,
       |         CASE WHEN prev IS NULL
       |                   OR abs(fsum - prev) > $ShotDeltaThreshold
       |              THEN 1 ELSE 0 END AS boundary
       |  FROM d),
       |sh AS (
       |  SELECT doc_id, frame_idx, fsum,
       |         CAST(sum(boundary) OVER (PARTITION BY doc_id
       |              ORDER BY frame_idx ROWS UNBOUNDED PRECEDING)
       |           AS BIGINT) AS shot_id
       |  FROM bnd),
       |vshots AS MATERIALIZED (
       |  SELECT doc_id, shot_id, min(frame_idx) AS start_frame,
       |         max(frame_idx) AS end_frame, count(*) AS n_frames,
       |         CAST(sum(fsum) AS BIGINT) AS sum_bytes
       |  FROM sh GROUP BY 1, 2)""".stripMargin

  /** Shared video near-dup pair CTEs over [[duckVideoShotCtes]]'s
    * `vshots` — ends in `vverified`, mirroring [[videoNearDupPairs]]
    * (df cap 64, aligned verify, mismatch ≤ 1).
    */
  private def duckVideoPairCtes: String =
    """vcnt AS (
      |  SELECT shot_id, n_frames, sum_bytes, count(*) AS n_docs
      |  FROM vshots GROUP BY 1, 2, 3),
      |vcand AS MATERIALIZED (
      |  SELECT v.doc_id, v.shot_id, v.n_frames, v.sum_bytes
      |  FROM vshots v JOIN vcnt c ON v.shot_id = c.shot_id
      |   AND v.n_frames = c.n_frames AND v.sum_bytes = c.sum_bytes
      |  WHERE c.n_docs <= 64),
      |vprs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM vcand a JOIN vcand b ON a.shot_id = b.shot_id
      |   AND a.n_frames = b.n_frames AND a.sum_bytes = b.sum_bytes
      |   AND a.doc_id < b.doc_id),
      |vns AS (SELECT doc_id, count(*) AS n_shots FROM vshots GROUP BY 1),
      |vm AS (
      |  SELECT p.doc_a, p.doc_b, count(*) AS matched,
      |         CAST(sum(CASE WHEN fa.n_frames = fb.n_frames
      |                        AND fa.sum_bytes = fb.sum_bytes
      |                   THEN 1 ELSE 0 END) AS BIGINT) AS equal_shots
      |  FROM vprs p
      |  JOIN vshots fa ON fa.doc_id = p.doc_a
      |  JOIN vshots fb ON fb.doc_id = p.doc_b AND fb.shot_id = fa.shot_id
      |  GROUP BY 1, 2),
      |vverified AS MATERIALIZED (
      |  SELECT m.doc_a, m.doc_b, na.n_shots AS n_shots,
      |         m.matched - m.equal_shots AS mismatched
      |  FROM vm m JOIN vns na ON na.doc_id = m.doc_a
      |            JOIN vns nb ON nb.doc_id = m.doc_b
      |  WHERE m.matched = na.n_shots AND m.matched = nb.n_shots
      |    AND m.matched - m.equal_shots <= 1)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "mm_phash" -> duckPhashSql,
    "mm_dedup_phash" ->
      s"""WITH $duckPhashCtes,
         |bands AS MATERIALIZED (
         |  SELECT doc_id, phash_hi, phash_lo, t.b AS band_idx,
         |         CASE WHEN t.b < 4 THEN (phash_lo >> (t.b * 8)) & 255
         |              ELSE (phash_hi >> ((t.b - 4) * 8)) & 255
         |         END AS band_val
         |  FROM ph CROSS JOIN range(0, 8) t(b))
         |SELECT DISTINCT doc_a, doc_b, hamming FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |         CAST(bit_count(xor(a.phash_hi, b.phash_hi)) +
         |              bit_count(xor(a.phash_lo, b.phash_lo))
         |           AS INTEGER) AS hamming
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |   AND a.doc_id < b.doc_id)
         |WHERE hamming <= 6""".stripMargin,
    // the clusters twin: same fingerprints + banding, then the
    // min-reachable-id fixpoint as a recursive CTE (the ClustersSql
    // pattern on the image pair graph)
    "mm_phash_clusters" ->
      s"""WITH RECURSIVE $duckPhashCtes,
         |bands AS MATERIALIZED (
         |  SELECT doc_id, phash_hi, phash_lo, t.b AS band_idx,
         |         CASE WHEN t.b < 4 THEN (phash_lo >> (t.b * 8)) & 255
         |              ELSE (phash_hi >> ((t.b - 4) * 8)) & 255
         |         END AS band_val
         |  FROM ph CROSS JOIN range(0, 8) t(b)),
         |prs AS MATERIALIZED (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bands a JOIN bands b
         |    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         |   AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.phash_hi, b.phash_hi)) +
         |        bit_count(xor(a.phash_lo, b.phash_lo)) <= 6),
         |und AS (
         |  SELECT doc_a AS u, doc_b AS v FROM prs
         |  UNION SELECT doc_b, doc_a FROM prs),
         |reach AS (
         |  SELECT u AS node, u AS r FROM und
         |  UNION
         |  SELECT und.u AS node, reach.r
         |  FROM und JOIN reach ON und.v = reach.node)
         |SELECT node AS doc_id, min(r) AS cluster_id
         |FROM reach GROUP BY 1""".stripMargin,
    // the lossy JPEG leg's deterministic surface: dimensions follow the
    // grayImage raster contract, grayscale decodes to one band, and the
    // codec must accept every payload
    "mm_decode" ->
      """SELECT doc_id, 32 AS width,
        |       greatest(1, CAST(ceil(octet_length(encode(text)) / 32.0)
        |                        AS INT)) AS height,
        |       1 AS channels, TRUE AS ok
        |FROM documents""".stripMargin,
    "mm_catalog" ->
      """SELECT doc_id, 'fake/txt' AS format,
        |       octet_length(encode(text)) AS n_bytes,
        |       hex(encode(substring(text, 1, 4))) AS magic_hex
        |FROM documents""".stripMargin,
    "mm_resize" ->
      """WITH t AS (
        |  SELECT doc_id, text, octet_length(encode(text)) AS n
        |  FROM documents),
        |p AS (SELECT doc_id, text, n, least(n, 256) AS m FROM t)
        |SELECT doc_id, n AS n_bytes_in, m AS n_bytes_out,
        |       CAST(coalesce(list_sum([ascii(substring(text,
        |                              CAST((i * n) // m AS INT) + 1, 1))
        |                      for i in range(0, m)]), 0) AS BIGINT)
        |         AS checksum
        |FROM p""".stripMargin,
    "mm_decode_png" ->
      """SELECT doc_id, 32 AS width,
        |       greatest(1, CAST(ceil(octet_length(encode(text)) / 32.0)
        |                        AS INT)) AS height,
        |       CAST(coalesce(list_sum([ascii(substring(text, i, 1))
        |                      for i in range(1,
        |                        octet_length(encode(text)) + 1)]), 0)
        |            AS BIGINT) AS px_checksum
        |FROM documents""".stripMargin,
    // same byte↔sample mapping as mm_decode_wav: the synthetic payload
    // is the ASCII text, so frame f covers character positions
    // f·160+1 .. min((f+1)·160, len)
    "mm_audio_energy" ->
      """WITH s AS (
        |  SELECT doc_id,
        |         [ascii(substring(text, i, 1))
        |          for i in range(1, octet_length(encode(text)) + 1)] AS samp
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, samp,
        |         unnest(range((len(samp) + 159) // 160)) AS frame_id
        |  FROM s),
        |e AS (
        |  SELECT doc_id, CAST(frame_id AS BIGINT) AS frame_id,
        |         samp[frame_id * 160 + 1 :
        |              least((frame_id + 1) * 160, len(samp))] AS fr
        |  FROM f)
        |SELECT doc_id, frame_id,
        |       CAST(len(fr) AS BIGINT) AS n_samples,
        |       CAST(list_sum(fr) AS BIGINT) AS sum_amp,
        |       CAST(list_sum([x * x for x in fr]) AS BIGINT) AS sum_sq,
        |       sqrt(CAST(CAST(list_sum([x * x for x in fr]) AS BIGINT)
        |                 AS DOUBLE) / len(fr)) AS rms
        |FROM e""".stripMargin,
    "mm_audio_resample" ->
      """WITH s AS (
        |  SELECT doc_id,
        |         [ascii(substring(text, i, 1))
        |          for i in range(1, octet_length(encode(text)) + 1)] AS samp
        |  FROM documents),
        |rs AS (
        |  SELECT doc_id,
        |         [(samp[2 * i - 1] + samp[2 * i]) // 2
        |          for i in range(1, len(samp) // 2 + 1)] AS rsam
        |  FROM s),
        |f AS (
        |  SELECT doc_id, rsam,
        |         unnest(range((len(rsam) + 159) // 160)) AS frame_id
        |  FROM rs
        |  WHERE len(rsam) > 0),
        |e AS (
        |  SELECT doc_id, CAST(frame_id AS BIGINT) AS frame_id,
        |         rsam[frame_id * 160 + 1 :
        |              least((frame_id + 1) * 160, len(rsam))] AS fr
        |  FROM f)
        |SELECT doc_id, frame_id,
        |       CAST(len(fr) AS BIGINT) AS n_samples,
        |       CAST(list_sum(fr) AS BIGINT) AS sum_amp,
        |       CAST(list_sum([x * x for x in fr]) AS BIGINT) AS sum_sq,
        |       sqrt(CAST(CAST(list_sum([x * x for x in fr]) AS BIGINT)
        |                 AS DOUBLE) / len(fr)) AS rms
        |FROM e""".stripMargin,
    "mm_audio_fingerprint" ->
      s"""WITH $duckAudioFpCtes
         |SELECT doc_id, word_id, n_bits, fp FROM fpt""".stripMargin,
    "mm_dedup_audio" ->
      s"""WITH $duckAudioFpCtes,
         |$duckAudioPairCtes
         |SELECT doc_a, doc_b, hamming FROM verified""".stripMargin,
    "mm_audio_clusters" ->
      s"""WITH RECURSIVE $duckAudioFpCtes,
         |$duckAudioPairCtes,
         |und AS (
         |  SELECT doc_a AS u, doc_b AS v FROM verified
         |  UNION SELECT doc_b, doc_a FROM verified),
         |reach AS (
         |  SELECT u AS node, u AS r FROM und
         |  UNION
         |  SELECT und.u AS node, reach.r
         |  FROM und JOIN reach ON und.v = reach.node)
         |SELECT node AS doc_id, min(r) AS cluster_id
         |FROM reach GROUP BY 1""".stripMargin,
    "mm_audio_vad" ->
      s"""WITH $duckAudioEnergyCtes,
         |act AS (
         |  SELECT doc_id, frame_id, n_samples, sum_sq,
         |         row_number() OVER (PARTITION BY doc_id
         |                            ORDER BY frame_id) AS rn
         |  FROM en WHERE sum_sq > $VadMsqThreshold * n_samples)
         |SELECT doc_id, min(frame_id) AS seg_start,
         |       max(frame_id) AS seg_end, count(*) AS n_frames,
         |       CAST(sum(n_samples) AS BIGINT) AS n_samples,
         |       CAST(sum(sum_sq) AS BIGINT) AS sum_sq
         |FROM act GROUP BY doc_id, frame_id - rn""".stripMargin,
    "mm_audio_snr" ->
      s"""WITH $duckAudioEnergyCtes,
         |tg AS (
         |  SELECT doc_id, n_samples, sum_sq,
         |         CASE WHEN sum_sq > $VadMsqThreshold * n_samples
         |              THEN 1 ELSE 0 END AS speech
         |  FROM en),
         |a AS (
         |  SELECT doc_id, count(*) AS n_frames,
         |         CAST(sum(speech) AS BIGINT) AS n_speech,
         |         CAST(sum(CASE WHEN speech = 1 THEN sum_sq ELSE 0 END)
         |              AS BIGINT) AS sp_sq,
         |         CAST(sum(CASE WHEN speech = 1 THEN n_samples ELSE 0 END)
         |              AS BIGINT) AS sp_n,
         |         CAST(sum(CASE WHEN speech = 0 THEN sum_sq ELSE 0 END)
         |              AS BIGINT) AS sil_sq,
         |         CAST(sum(CASE WHEN speech = 0 THEN n_samples ELSE 0 END)
         |              AS BIGINT) AS sil_n
         |  FROM tg GROUP BY 1)
         |SELECT doc_id, n_frames, n_speech,
         |       CASE WHEN sp_n = 0 THEN NULL
         |            ELSE CAST(sp_sq AS DOUBLE) / CAST(sp_n AS DOUBLE)
         |       END AS speech_msq,
         |       CASE WHEN sil_n = 0 THEN NULL
         |            ELSE CAST(sil_sq AS DOUBLE) / CAST(sil_n AS DOUBLE)
         |       END AS silence_msq,
         |       CASE WHEN sp_n = 0 OR sil_n = 0 OR sil_sq = 0 THEN NULL
         |            ELSE (CAST(sp_sq AS DOUBLE) / CAST(sp_n AS DOUBLE))
         |               / (CAST(sil_sq AS DOUBLE) / CAST(sil_n AS DOUBLE))
         |       END AS snr_ratio
         |FROM a""".stripMargin,
    "mm_blank_filter" ->
      s"""WITH t AS (
         |  SELECT doc_id, octet_length(encode(text)) AS n,
         |         [ascii(substring(text, i, 1))
         |          for i in range(1, octet_length(encode(text)) + 1)]
         |           AS bytes
         |  FROM documents),
         |m AS (
         |  SELECT doc_id,
         |         greatest(1, CAST(ceil(n / 32.0) AS BIGINT)) * 32 AS n_px,
         |         CAST(coalesce(list_sum(bytes), 0) AS BIGINT) AS sum_px,
         |         CAST(coalesce(list_sum([x * x for x in bytes]), 0)
         |              AS BIGINT) AS sum_sq_px
         |  FROM t),
         |v AS (
         |  SELECT *, CAST(sum_px AS DOUBLE) / n_px AS mean_px,
         |         CAST(sum_sq_px AS DOUBLE) / n_px -
         |           (CAST(sum_px AS DOUBLE) / n_px) *
         |           (CAST(sum_px AS DOUBLE) / n_px) AS var_px
         |  FROM m)
         |SELECT doc_id, n_px, sum_px, sum_sq_px, mean_px, var_px,
         |       var_px < $BlankVarThreshold AS is_blank
         |FROM v""".stripMargin,
    "mm_video_shots" ->
      s"""WITH $duckVideoShotCtes
         |SELECT doc_id, shot_id, start_frame, end_frame, n_frames,
         |       sum_bytes
         |FROM vshots""".stripMargin,
    "mm_dedup_video" ->
      s"""WITH $duckVideoShotCtes,
         |$duckVideoPairCtes
         |SELECT doc_a, doc_b, n_shots, mismatched
         |FROM vverified""".stripMargin,
    "mm_video_clusters" ->
      s"""WITH RECURSIVE $duckVideoShotCtes,
         |$duckVideoPairCtes,
         |vund AS (
         |  SELECT doc_a AS u, doc_b AS v FROM vverified
         |  UNION SELECT doc_b, doc_a FROM vverified),
         |vreach AS (
         |  SELECT u AS node, u AS r FROM vund
         |  UNION
         |  SELECT vund.u AS node, vreach.r
         |  FROM vund JOIN vreach ON vund.v = vreach.node)
         |SELECT node AS doc_id, min(r) AS cluster_id
         |FROM vreach GROUP BY 1""".stripMargin,
    "mm_ahash" -> duckAhashSql,
    "mm_dedup_ahash" ->
      s"""WITH ah AS (
         |$duckAhashSql)
         |SELECT ahash_hi, ahash_lo,
         |       min(doc_id) AS keeper_doc_id, count(*) AS n_copies
         |FROM ah GROUP BY 1, 2""".stripMargin,
    "mm_dhash" ->
      """WITH t AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n, text
        |  FROM documents),
        |hh AS (SELECT doc_id, n, text,
        |              greatest(1, CAST(ceil(n / 32.0) AS BIGINT)) AS h
        |       FROM t),
        |px AS (
        |  SELECT doc_id, h,
        |         [CASE WHEN (q // 9) * h // 8 * 32 + (q % 9) * 3 < n
        |               THEN ascii(substring(text,
        |                 CAST((q // 9) * h // 8 * 32 + (q % 9) * 3 + 1
        |                      AS INT), 1))
        |               ELSE 0 END for q in range(0, 72)] AS p
        |  FROM hh)
        |SELECT doc_id, 32 AS width, CAST(h AS INT) AS height,
        |       CAST(list_sum([CASE WHEN
        |              p[((b + 32) // 8) * 9 + ((b + 32) % 8) + 2] >
        |              p[((b + 32) // 8) * 9 + ((b + 32) % 8) + 1]
        |              THEN (CAST(1 AS BIGINT) << b) ELSE 0 END
        |              for b in range(0, 32)]) AS BIGINT) AS dhash_hi,
        |       CAST(list_sum([CASE WHEN
        |              p[(b // 8) * 9 + (b % 8) + 2] >
        |              p[(b // 8) * 9 + (b % 8) + 1]
        |              THEN (CAST(1 AS BIGINT) << b) ELSE 0 END
        |              for b in range(0, 32)]) AS BIGINT) AS dhash_lo
        |FROM px""".stripMargin,
    "mm_decode_wav" ->
      """SELECT doc_id, 8000 AS sample_rate, 1 AS channels,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_samples,
        |       CAST(coalesce(list_sum([ascii(substring(text, i, 1))
        |                      for i in range(1,
        |                        octet_length(encode(text)) + 1)]), 0)
        |            AS BIGINT) AS sample_checksum
        |FROM documents""".stripMargin,
    "mm_features_png" ->
      """WITH t AS (
        |  SELECT doc_id, octet_length(encode(text)) AS n,
        |         [ascii(substring(text, i, 1))
        |          for i in range(1, octet_length(encode(text)) + 1)] AS bytes
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, n, bytes,
        |         greatest(1, CAST(ceil(n / 32.0) AS BIGINT)) * 32 AS npx
        |  FROM t)
        |SELECT doc_id,
        |       array_to_string(
        |         [CAST(len(list_filter(bytes, x -> x // 16 = b))
        |               + CASE WHEN b = 0 THEN npx - n ELSE 0 END AS VARCHAR)
        |          for b in range(0, 16)], ',') AS hist_csv,
        |       CAST(coalesce(list_sum(bytes), 0) AS DOUBLE) / npx AS mean_px
        |FROM d""".stripMargin,
    "mm_frames" ->
      """WITH idx AS (
        |  SELECT doc_id, text,
        |         unnest(range(0, greatest(
        |           CAST(trunc((octet_length(encode(text)) - 16) / 64.0)
        |                AS BIGINT), 0) + 1)) AS frame_idx
        |  FROM documents)
        |SELECT doc_id, frame_idx,
        |       hex(encode(substring(text, CAST(frame_idx * 64 + 1 AS INT),
        |                            16))) AS frame_hex
        |FROM idx
        |WHERE octet_length(encode(substring(text,
        |        CAST(frame_idx * 64 + 1 AS INT), 16))) = 16""".stripMargin,
  )
}
