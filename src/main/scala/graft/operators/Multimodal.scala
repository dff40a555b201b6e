package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (north-star extension; SURVEY.md §2.5).
  *
  * Media payloads are opaque `binary` columns with typed metadata riding
  * alongside — the at-rest model a 100 TB training-data pipeline uses for
  * image/audio/video shards in parquet. The Spark-side plumbing (schema,
  * partition-batched decode, feature schema) is real and tested, and the
  * IMAGE path runs a real codec end-to-end: payloads are genuine PNGs
  * (encoded per-row with `javax.imageio`, the one media codec this
  * container ships) and features come from DECODING them — resolution and
  * a pixel checksum, verifiable against the DuckDB oracle because PNG is
  * lossless and the synthetic pixel content is a closed-form function of
  * the id. Audio decodes real PCM WAV via `javax.sound.sampled`, and
  * video decodes real MULTI-FRAME animated GIF via the `javax.imageio`
  * sequence reader — GIF's 256-entry palette holds every gray level, so
  * an 8-bit grayscale raster roundtrips losslessly and per-frame pixel
  * checksums are oracle-checkable in closed form, exactly like PNG.
  *
  * Scale notes: payload decode runs as `mapPartitions` over the binary
  * column — a pure map stage, no shuffle, batch-amortized per partition
  * (the Scala analogue of Python's `mapInPandas` batch shape). Feature
  * extraction that needs no codec (sizes, checksums) stays in built-in
  * expressions/codegen.
  */
object Multimodal {

  // ImageIO's stream factory spools every InputStream-fed read/write
  // through a DISK-backed cache by default (`FileCacheImageInputStream`:
  // a temp file created, written, and deleted PER DECODE — and the
  // analogous output cache per encode). Every payload here is an
  // in-memory byte array, so that is pure per-row filesystem churn on
  // the hot decode path — and fs-latency-sensitive in exactly the way
  // the media class's bench variance (calib_media) showed. Memory-cached
  // streams are the documented alternative for in-memory sources
  // (`ImageIO.setUseCache(false)` — public javax.imageio API). JVM-wide,
  // set when this object first loads on a JVM; every decode closure
  // below lives in this object, so executors initialize it with the
  // object itself (r16 — r15 VERDICT #5, guide §4 per-task work).
  javax.imageio.ImageIO.setUseCache(false)

  /** One media row: opaque payload + typed metadata. */
  case class MediaRow(media_id: Long, kind: String, content: Array[Byte],
      declared_bytes: Long)

  /** Decoded features — every kind now runs a REAL codec. The content
    * features are what the codec yields: width/height/pixel-sum for
    * images (1 frame) and video (summed across decoded GIF frames),
    * sample-rate/sample-count/amplitude-sum for audio. Byte-level
    * columns (n_bytes, checksum_md5) are null for decoded kinds — an
    * encoded container's size/digest is a storage attribute, not a
    * content feature, and no SQL oracle can recompute PNG/GIF/WAV
    * container bytes; the fields stay in the schema as the ingest
    * contract for kinds a deployment cannot decode. `frame_estimate` is
    * the REAL decoded frame count for video, the sample count for audio,
    * and 1 for still images.
    */
  case class MediaFeatures(media_id: Long, kind: String,
      n_bytes: Option[Long], checksum_md5: Option[String],
      frame_estimate: Long, width: Option[Long], height: Option[Long],
      pixel_sum: Option[Long], sample_rate: Option[Long],
      n_samples: Option[Long], amplitude_sum: Option[Long])

  /** Deterministic media table derived from `documents`: kind cycles by
    * id; every row carries a REAL encoded payload — PNG ([[encodePng]]),
    * PCM WAV ([[encodeWav]]), or multi-frame animated GIF
    * ([[encodeGif]]). Stands in for `spark.read.format("binaryFile")` or
    * parquet shards of real media.
    */
  def fromDocuments(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3).cast("int") + 1).as("kind"),
      encode(col("text"), "UTF-8").as("content"),
      col("n_chars").cast("long").as("declared_bytes"))
      .as[MediaRow]
      // payload synthesis is itself partition-batched map work — the
      // encoders are the same libraries whose decoders the feature pass
      // uses (javax.imageio for PNG/GIF, javax.sound.sampled for WAV)
      .mapPartitions(_.map { r =>
        if (r.kind == "image") r.copy(content = encodePng(r.media_id))
        else if (r.kind == "audio") r.copy(content = encodeWav(r.media_id))
        else r.copy(content = encodeGif(r.media_id))
      })
  }

  /** Deterministic synthetic PNG: width 8 + id%16, height 8 + id%8,
    * grayscale-in-RGB pixel p(x,y) = (id·31 + 7x + 13y) mod 256. The
    * DuckDB oracle recomputes width/height/pixel-sum from this definition;
    * the Spark side must RECOVER them from the encoded bytes — which PNG's
    * losslessness guarantees.
    */
  private[graft] def encodePng(id: Long): Array[Byte] = {
    val w = (8 + id % 16).toInt
    val h = (8 + id % 8).toInt
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = ((id * 31 + 7 * x + 13 * y) % 256).toInt
        img.setRGB(x, y, (p << 16) | (p << 8) | p)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** Deterministic synthetic WAV: 16-bit signed PCM mono, little-endian;
    * sample rate 8000 + (id mod 4)·4000 Hz, n = 40 + id mod 50 samples,
    * sample s(i) = ((id·17 + 11·i) mod 4096) − 2048 (12-bit swing well
    * inside the 16-bit range). The DuckDB oracle recomputes rate, count,
    * and amplitude sum from this definition; the Spark side must RECOVER
    * them from the encoded container — which PCM WAV's losslessness
    * guarantees. `javax.sound.sampled` ships in the JDK (no native
    * codecs needed for PCM), the same reason the image path uses
    * `javax.imageio`.
    */
  private[graft] def encodeWav(id: Long): Array[Byte] = {
    val rate = (8000 + (id % 4) * 4000).toInt
    val n = (40 + id % 50).toInt
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = (((id * 17 + 11 * i) % 4096) - 2048).toInt
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      rate.toFloat, 16, 1, 2, rate.toFloat, /*bigEndian=*/ false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val out = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  /** Deterministic synthetic "video": a multi-frame ANIMATED GIF with
    * nf = 2 + id mod 4 frames of the [[renderImage]] geometry (width
    * 8 + id%16, height 8 + id%8) and per-frame gray
    * p(x,y,f) = (id·31 + 7x + 13y + 97f) mod 256. Written through the
    * JDK's GIF `ImageWriter` sequence API over an 8-bit IDENTITY
    * grayscale palette — GIF's local color table holds all 256 grays, so
    * the raster roundtrips losslessly (probed: encode→decode pixel sums
    * match bit-exact) and the DuckDB oracle can recompute every frame's
    * checksum from the closed form, the same contract as PNG (q29).
    */
  private[graft] def encodeGif(id: Long): Array[Byte] = {
    val nf = (2 + id % 4).toInt
    val w = (8 + id % 16).toInt
    val h = (8 + id % 8).toInt
    val grays = Array.tabulate[Byte](256)(i => i.toByte)
    val cm = new java.awt.image.IndexColorModel(8, 256, grays, grays, grays)
    val out = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(out)
    val writer =
      javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var f = 0
    while (f < nf) {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          raster.setSample(x, y, 0,
            ((id * 31 + 7 * x + 13 * y + 97 * f) % 256).toInt)
          x += 1
        }
        y += 1
      }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null),
        null)
      f += 1
    }
    writer.endWriteSequence()
    writer.dispose()
    ios.close()
    out.toByteArray
  }

  /** One decoded GIF frame: full-raster dimensions + exact gray pixel
    * sum. Read through `getRGB & 0xff` (a palette LOOKUP, not the raw
    * index) so the checksum is exact even if a writer reorders the
    * color table.
    */
  private[graft] case class GifFrame(frame_idx: Long, width: Long,
      height: Long, frame_sum: Long)

  /** Multi-frame GIF decode via the `javax.imageio` sequence reader:
    * `getNumImages(true)` walks the container's image blocks, `read(i)`
    * decodes each frame's raster.
    */
  private[graft] def decodeGifFrames(bytes: Array[Byte]): Seq[GifFrame] = {
    val reader =
      javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      reader.setInput(iis)
      val n = reader.getNumImages(true)
      (0 until n).map { i =>
        val img = reader.read(i)
        var sum = 0L
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            sum += img.getRGB(x, y) & 0xff
            x += 1
          }
          y += 1
        }
        GifFrame(i.toLong, img.getWidth.toLong, img.getHeight.toLong, sum)
      }
    } finally reader.dispose()
  }

  /** Partition-batched decode. Every kind goes through a real codec:
    * `ImageIO.read` for PNG stills, `AudioSystem.getAudioInputStream`
    * for PCM WAV, and the GIF sequence reader ([[decodeGifFrames]]) for
    * multi-frame video. Per-partition amortization of the codec context
    * is the entire point of the mapPartitions shape.
    */
  def decodePartition(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        if (r.kind == "image") {
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(r.content))
          // raw raster samples, not getRGB: no colorspace conversion can
          // perturb the roundtrip (all three bands are equal; band 0 read)
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
          MediaFeatures(r.media_id, r.kind, None, None, 1L,
            Some(img.getWidth.toLong), Some(img.getHeight.toLong), Some(sum),
            None, None, None)
        } else if (r.kind == "audio") {
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(r.content))
          val fmt = ais.getFormat
          val n = ais.getFrameLength.toInt
          val buf = ais.readAllBytes()
          // reconstruct signed 16-bit little-endian samples: high byte is
          // sign-extended, low byte masked
          var sum = 0L
          var i = 0
          while (i < n) {
            sum += (buf(2 * i + 1).toInt << 8) | (buf(2 * i) & 0xff)
            i += 1
          }
          MediaFeatures(r.media_id, r.kind, None, None,
            frame_estimate = n.toLong, width = None, height = None,
            pixel_sum = None, sample_rate = Some(fmt.getSampleRate.toLong),
            n_samples = Some(n.toLong), amplitude_sum = Some(sum))
        } else {
          // video: real multi-frame GIF decode — frame count from the
          // container, dimensions from frame 0, pixel sum across ALL
          // frames (the oracle recomputes all three in closed form)
          val frames = decodeGifFrames(r.content)
          MediaFeatures(r.media_id, r.kind, n_bytes = None,
            checksum_md5 = None, frame_estimate = frames.size.toLong,
            width = frames.headOption.map(_.width),
            height = frames.headOption.map(_.height),
            pixel_sum = Some(frames.map(_.frame_sum).sum),
            sample_rate = None, n_samples = None, amplitude_sum = None)
        }
      }
    }
  }

  // ------------------------------------------------ image format breadth

  /** One image row: payload only; the FORMAT is deliberately not carried —
    * a real shard's rows are sniffed, not trusted.
    */
  case class ImageRow(media_id: Long, content: Array[Byte])

  /** Sniffed + decoded image features. `pixel_sum` is None for lossy
    * containers (JPEG decode is approximate by design; resolution is
    * still exact) — the honest feature split, mirrored by the oracle.
    * All three features are None when the payload is undecodable
    * (`ImageIO.read` returns null): an unknown-magic shard must surface
    * as a classified row, not crash the scan.
    */
  case class ImageFeatures(media_id: Long, format: String,
      width: Option[Long], height: Option[Long], pixel_sum: Option[Long])

  /** The shared deterministic raster behind every image container:
    * width 8 + id%16, height 8 + id%8, gray p(x,y) = (id·31+7x+13y) mod
    * 256 — the same closed form the q29 PNG oracle recomputes.
    */
  private def renderImage(id: Long): java.awt.image.BufferedImage = {
    val w = (8 + id % 16).toInt
    val h = (8 + id % 8).toInt
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = ((id * 31 + 7 * x + 13 * y) % 256).toInt
        img.setRGB(x, y, (p << 16) | (p << 8) | p)
        x += 1
      }
      y += 1
    }
    img
  }

  /** Image shard cycling through the three container formats the JDK
    * codecs cover (id mod 3: png, bmp, jpeg) — each row a REAL encoded
    * payload of the [[renderImage]] raster.
    */
  def imageTable(docs: DataFrame): Dataset[ImageRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id").as("media_id"))
      .as[Long]
      .mapPartitions(_.map { id =>
        val fmt = (id % 3) match {
          case 0 => "png"
          case 1 => "bmp"
          case _ => "jpg"
        }
        val out = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(renderImage(id), fmt, out)
        ImageRow(id, out.toByteArray)
      })
  }

  /** Container sniff from MAGIC BYTES (a shard's self-description is
    * never trusted at ingest) + real decode via `javax.imageio`, which
    * dispatches to the per-format reader behind one call. Lossless
    * containers (PNG, BMP) yield an exact pixel checksum the oracle
    * recomputes; JPEG — lossy by design — yields exact RESOLUTION only
    * and a null pixel_sum (emitting approximate pixel content as a
    * checkable feature would be a lie; the split is the honest contract,
    * and the oracle mirrors it). Same partition-batched mapPartitions
    * shape as [[decodePartition]].
    */
  def sniffDecodeImages(images: Dataset[ImageRow])
      : Dataset[ImageFeatures] = {
    val spark = images.sparkSession
    import spark.implicits._
    images.mapPartitions(_.map { r =>
      val c = r.content
      val fmt =
        if (c.length >= 4 && (c(0) & 0xff) == 0x89 && c(1) == 'P' &&
          c(2) == 'N' && c(3) == 'G') "png"
        else if (c.length >= 2 && c(0) == 'B' && c(1) == 'M') "bmp"
        else if (c.length >= 2 && (c(0) & 0xff) == 0xff &&
          (c(1) & 0xff) == 0xd8) "jpeg"
        else "unknown"
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(c))
      // ImageIO.read returns NULL (no exception) for undecodable bytes —
      // precisely the payload class the sniff exists to classify, so it
      // must yield a row with null features, never an NPE on the scan
      if (img == null) ImageFeatures(r.media_id, fmt, None, None, None)
      else {
        val sum =
          if (fmt == "png" || fmt == "bmp") {
            // raw raster samples, band 0: the synthetic content is gray
            // (all bands equal), so band order differences between the
            // PNG and BMP readers cannot perturb the checksum
            val raster = img.getRaster
            var s = 0L
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) {
                s += raster.getSample(x, y, 0)
                x += 1
              }
              y += 1
            }
            Some(s)
          } else None
        ImageFeatures(r.media_id, fmt, Some(img.getWidth.toLong),
          Some(img.getHeight.toLong), sum)
      }
    })
  }

  /** Gate shape for the image-format path: sniff + decode + relational
    * ordering.
    */
  def imageFormatFeatures(docs: DataFrame): DataFrame =
    sniffDecodeImages(imageTable(docs)).toDF()

  /** One decoded image's 64-bit difference hash, split into two 32-bit
    * halves (a single BIGINT would need bit 63; DuckDB's `<<` refuses
    * the signed overflow, so the split IS the portable encoding).
    */
  private[graft] case class DHashRow(media_id: Long, dhash_hi: Long,
      dhash_lo: Long)

  /** Perceptual image dedup by DIFFERENCE HASH (dHash): decode each
    * lossless payload, sample an 8×9 brightness grid, and emit one bit
    * per horizontal gradient — near-identical images (recompressions,
    * metadata-stripped copies) collide on the 64-bit hash where byte
    * checksums never would. This is the image-side counterpart of the
    * text near-dup family: group-by-hash replaces group-by-md5 (q19)
    * exactly, and the hash is metric (Hamming distance) so a banded
    * near-match join like q26's is the documented scale-up.
    *
    * Grid convention (pinned, shared with the oracle): row j ∈ 0..7
    * samples y = j·(h−1) DIV 7; columns x_i = i·(w−1) DIV 8 for
    * i ∈ 0..8; bit (j,i) = [p(x_{i+1},y) > p(x_i,y)], packed
    * little-endian as bits 8j+i, halves split at bit 32. Production
    * dHash averages blocks instead of point-sampling; point samples keep
    * the oracle in closed form while exercising the identical
    * decode→grid→pack pipeline.
    *
    * Output: (media_id, dhash_hi, dhash_lo, group_size) over the
    * LOSSLESS image rows (kind = image ⇒ PNG payloads; a lossy codec's
    * pixels aren't exact, which is q99's honest-null lesson). The decode
    * is partition-batched mapPartitions (real javax.imageio work); the
    * only shuffle is the group-size window on the hash — at corpus scale
    * exactly the dedup shuffle q19 runs on md5.
    */
  def imageDHash(docs: DataFrame): DataFrame =
    dHashes(docs).toDF()
      .withColumn("group_size", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("dhash_hi"), col("dhash_lo"))))

  /** The shared decode→grid→pack stage behind [[imageDHash]] (exact
    * groups) and [[imageDHashNear]] (Hamming-banded near matches): one
    * 64-bit dHash row per lossless image payload.
    */
  private[graft] def dHashes(docs: DataFrame)
      : org.apache.spark.sql.Dataset[DHashRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    fromDocuments(docs)
      .filter(col("kind") === "image").as[MediaRow]
      .mapPartitions(_.map { r =>
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(r.content))
        // ImageIO.read returns null (not an exception) on an
        // undecodable payload — refuse loudly like the sibling
        // sniffDecodeImages path instead of NPE'ing on getRaster
        require(img != null,
          s"imageDHash: media_id ${r.media_id} payload did not decode")
        val raster = img.getRaster
        val w = img.getWidth
        val h = img.getHeight
        var hi = 0L
        var lo = 0L
        var j = 0
        while (j < 8) {
          val y = (j * (h - 1)) / 7
          var i = 0
          while (i < 8) {
            val x0 = (i * (w - 1)) / 8
            val x1 = ((i + 1) * (w - 1)) / 8
            if (raster.getSample(x1, y, 0) > raster.getSample(x0, y, 0)) {
              if (j >= 4) hi |= 1L << (8 * (j - 4) + i)
              else lo |= 1L << (8 * j + i)
            }
            i += 1
          }
          j += 1
        }
        DHashRow(r.media_id, hi, lo)
      })
  }

  /** Hamming-banded NEAR-duplicate image matching — the scale-up the
    * [[imageDHash]] scaladoc documents (r7 VERDICT #1), now built: the
    * q26/q97 candidates-then-confirm shape in image space. Exact-hash
    * groups collapse to one representative first (min media_id — the
    * q19-style dedup, so a large duplicate group costs ONE row here,
    * never group² pairs); the 64-bit hash then splits into FOUR 16-bit
    * sub-keys, and by pigeonhole two hashes within Hamming distance 3
    * (< 4 bands) must agree EXACTLY on at least one sub-key — so a
    * per-band equi-join generates every true candidate and the exact
    * bit_count verify keeps pairs with 1 ≤ Hamming ≤ `maxHamming`.
    * Lossless by construction (`maxHamming` < band count, enforced).
    *
    * Output: (media_a, media_b, hamming) over group representatives,
    * media_a < media_b. Scale: the only shuffles are the exact-group
    * aggregation and the 4-way banded self-join on 16-bit sub-keys —
    * candidates are band collisions, never the all-pairs product; a
    * pair colliding in several bands is deduped AFTER the cheap verify
    * (hamming rides the candidate row — no re-join). The 2^16 bucket
    * space per band bounds selectivity: beyond ~10⁸ DISTINCT hashes,
    * in-bucket candidate volume grows quadratically in reps/2^16 (hot
    * buckets shuffle-split fine under AQE, but the verify volume is
    * real work) — the d ≤ 3 pigeonhole pins 4×16 for 64 bits, so past
    * that scale the move is sharding the verify by a second band, not
    * wider sub-keys.
    */
  def imageDHashNear(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    val nBands = 4
    require(maxHamming >= 1 && maxHamming < nBands,
      s"imageDHashNear: maxHamming = $maxHamming breaks the pigeonhole " +
        s"premise — $nBands bands of 16 bits catch Hamming <= ${nBands - 1}")
    nearPairsFromHashes(dHashes(docs).toDF(), maxHamming)
  }

  /** Banding + verify over an (media_id, dhash_hi, dhash_lo) frame —
    * split out so the spec can pin the pigeonhole edge cases (Hamming
    * exactly `maxHamming` kept; a band-colliding pair past the bound
    * dropped by the verify) on crafted hashes without codec work.
    */
  private[graft] def nearPairsFromHashes(hashes: DataFrame,
      maxHamming: Int): DataFrame = {
    val reps = graft.CacheScope.scoped(hashes
      .groupBy(col("dhash_hi"), col("dhash_lo"))
      .agg(min(col("media_id")).as("rep")))
    def bandKey(band: Int): Column =
      struct(lit(band).as("band"),
        dHashBandKey(band, col("dhash_hi"), col("dhash_lo")).as("key"))
    val banded = reps.select(col("rep"), col("dhash_hi"), col("dhash_lo"),
      explode(array((0 until 4).map(bandKey): _*)).as("bk"))
      .select(col("rep"), col("dhash_hi"), col("dhash_lo"),
        col("bk.band").as("band"), col("bk.key").as("key"))
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.rep") < col("b.rep"))
      .select(col("a.rep").as("media_a"), col("b.rep").as("media_b"),
        (bit_count(col("a.dhash_hi").bitwiseXOR(col("b.dhash_hi"))) +
          bit_count(col("a.dhash_lo").bitwiseXOR(col("b.dhash_lo"))))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming) // >= 1: reps' hashes differ
      .distinct()
  }

  // ------------------------------------------- binaryFile source breadth

  /** Media-shard ingestion through Spark's `binaryFile` SOURCE: scatter
    * one encoded PNG per doc onto the filesystem (executor-side NIO —
    * one file per row is the binary-shard layout binaryFile exists for;
    * no sink format covers it, so the imperative write is the honest
    * shape, like the codec mapPartitions), then scan the directory back
    * as (path, content) rows, recover the id FROM THE PATH (a shard's
    * only trustworthy self-description), and run the real decode.
    *
    * Scale: the scan parallelizes over files with
    * `spark.sql.files.maxPartitionBytes` packing, the same pruned-scan
    * machinery as parquet (pathGlobFilter prunes non-media droppings);
    * decode stays a map stage. Small-file pressure is the known cost of
    * the layout — the compaction answer is q71's, applied to shards.
    */
  /** The scatter half: executor-side write of one encoded PNG per doc id
    * into a fresh `dir`.
    */
  def scatterPngShards(docs: DataFrame, dir: String): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.streaming.EventStreams.deleteStagingForTest(
      java.nio.file.Paths.get(dir))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val dirStr = dir // capture the STRING: nio Path is not serializable
    docs.select(col("doc_id")).as[Long]
      .mapPartitions { it =>
        val base = java.nio.file.Paths.get(dirStr)
        it.map { id =>
          val out = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(renderImage(id), "png", out)
          java.nio.file.Files.write(
            base.resolve(f"img_$id%08d.png"), out.toByteArray)
          id
        }
      }.count() // materialize the scatter before any scan plans
    ()
  }

  /** The scan half: binaryFile source over the shard dir (glob prunes
    * non-media droppings — manifests, checksums), id recovered from the
    * path, real decode.
    */
  def scanShardFeatures(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    // try_cast + null-drop, not cast: the glob only excludes non-*.png
    // files, so a foreign `preview.png` would make regexp_extract
    // return "" and an ANSI cast would crash the whole scan — foreign
    // files must be INVISIBLE, not fatal (spec plants one)
    val scanned = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.png").load(dir)
      .select(
        expr("try_cast(regexp_extract(path, 'img_(\\\\d+)\\\\.png$', 1)" +
          " AS LONG)").as("media_id"),
        col("content"))
      .filter(col("media_id").isNotNull)
      .as[ImageRow]
    sniffDecodeImages(scanned).toDF()
      .select(col("media_id"), col("format"), col("width"), col("height"),
        col("pixel_sum"))
  }

  def binaryRoundtripFeatures(docs: DataFrame, dir: String): DataFrame = {
    scatterPngShards(docs, dir)
    scanShardFeatures(docs.sparkSession, dir)
  }

  /** Feature table: decode + per-kind rollup stays fully relational after
    * the map stage.
    */
  def features(docs: DataFrame): DataFrame =
    decodePartition(fromDocuments(docs)).toDF()

  // ------------------------------------------------ video frame breadth

  /** PER-FRAME video gate (q117): the video subset of the media table,
    * each animated-GIF payload sniffed from MAGIC BYTES ("GIF8" — a
    * shard's self-description is never trusted, same discipline as q99)
    * and decoded frame-by-frame through the sequence reader. One output
    * row per (media_id, frame_idx) with the frame's dimensions and
    * exact gray-pixel checksum — the granularity at which a training
    * pipeline samples/filters frames, and a strictly stronger gate than
    * a whole-file aggregate: a frame-order or frame-content bug that
    * cancels in a total sum cannot cancel per-row. Non-GIF payloads
    * yield zero rows (classified out, never a crash). Same
    * partition-batched flatMap shape as [[decodePartition]].
    */
  def videoFrameFeatures(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.filter(col("doc_id") % 3 === 2)
      .select(col("doc_id").as("media_id")).as[Long]
      .mapPartitions(_.flatMap { id =>
        val c = encodeGif(id)
        val isGif = c.length >= 4 && c(0) == 'G' && c(1) == 'I' &&
          c(2) == 'F' && c(3) == '8'
        if (!isGif) Iterator.empty
        else decodeGifFrames(c).iterator.map(fr =>
          (id, fr.frame_idx, fr.width, fr.height, fr.frame_sum))
      })
      .toDF("media_id", "frame_idx", "width", "height", "frame_sum")
  }

  // ---------------------------------------- the dHash ARRIVAL index
  // (r12 — the FIFTH granularity of the stored-index story, and the
  // strongest arrival asymmetry of them all: the corpus half of image
  // near-dup detection is DECODE + hash, and at 100 TB the decode is
  // orders more expensive than any re-hash the text/embedding families
  // amortize away. The corpus's dHashes and banded sub-keys persist
  // once on graft.sources.EpochStore; arriving shards decode ONLY
  // themselves.)

  /** The dHash image family on the shared lifecycle. The id is bumped
    * if the grid convention (8×9 point samples), the packing, or the
    * 4×16 banding ever change. Changes report `media_id` only — the
    * delta a takedown-audit consumer re-checks without a single
    * re-decode (hashes and raster bytes never read).
    */
  val index: graft.sources.IndexFamily = graft.sources.IndexFamily(
    "dhash-8x9-b4x16-v1", "writeDHashIndex",
    "probing across hash versions silently loses recall",
    Seq(graft.sources.EpochStore.CompactTable("hashes", Some("media_id")),
      graft.sources.EpochStore.CompactTable("bands", Some("media_id"))),
    "hashes", "media_id", deleteKey = "media_id",
    countCol = "corpus_count",
    shard = graft.sources.IndexFamily.Shard("appendDHashIndex",
      Seq("family", "bands", "corpus_count", "epoch"),
      dHashes(_).toDF(),
      (h, _) => Seq("hashes" -> h.select("media_id", "dhash_hi", "dhash_lo"),
        "bands" -> dHashBandRows(h)),
      dup = "; a shared id silently drops its real pair through the " +
        "self-pair filter. Re-key upstream.",
      clash = dir => s"appended media_id(s) already indexed at $dir — " +
        "one id space is the contract (an id stored twice silently " +
        "drops its future probe pairs); re-key or dedup the shard " +
        "first."))

  /** Broadcast cap for an incoming shard's band rows: (long, int, long)
    * ≈ the cp band-row width the 8M-row ≈ ~800 MB heap argument was
    * sized for (Ann.MaxBroadcastBandRows); named separately so an ANN
    * retune cannot silently invalidate this path (the r11-ADVICE
    * discipline). Past the cap the probe joins as a shuffle, which
    * completes.
    */
  private[graft] val MaxBroadcastDHashRows: Long = 8L * 1000 * 1000

  /** THE 4×16-bit band-key construction — band 0/1 from the lo half,
    * 2/3 from the hi half — shared by [[nearPairsFromHashes]] (the
    * live q141 path) and [[dHashBandRows]] (what the artifact stores
    * and probes join on), so the two paths cannot drift (r12 review:
    * they were two hand-synchronized copies).
    */
  private def dHashBandKey(band: Int, hi: Column, lo: Column): Column =
    shiftright(if (band >= 2) hi else lo, 16 * (band % 2))
      .bitwiseAND(lit(0xFFFFL))

  /** (media_id, band_id, band_key) under the FROZEN 4×16-bit banding.
    */
  private def dHashBandRows(hashes: DataFrame): DataFrame =
    hashes.select(col("media_id"), col("dhash_hi"), col("dhash_lo"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band_id"),
            dHashBandKey(b, col("dhash_hi"), col("dhash_lo"))
              .as("band_key"))): _*))
          .as("bk"))
      .select(col("media_id"), col("bk.band_id").as("band_id"),
        col("bk.band_key").as("band_key"))

  /** Persist the corpus half of image near-dup detection as epoch 0 of
    * an [[graft.sources.EpochStore]] artifact: the DECODED corpus's
    * dHashes (`hashes/`: media_id, dhash_hi, dhash_lo) and their 4×16
    * band sub-keys (`bands/`), meta LAST. The decode — the expensive
    * half at any scale — runs exactly once per corpus image, ever:
    * arriving shards ([[imageDHashNearIndexed]]) decode only
    * themselves. Deletes any previous artifact at `dir` first (the
    * EpochStore base-build contract). Stance on exact-duplicate
    * groups: a corpus stored RAW pays pair volume ∝ group size per
    * matching arrival — run exact dedup (q130/q159) first and index
    * survivors, the same documented stance as the text family's
    * hot-bucket note.
    */
  def writeDHashIndex(docs: DataFrame, dir: String,
      commitTs: Option[Long] = None): Unit =
    index.write(docs, dir, _ => Seq("bands" -> 4), commitTs)

  /** FOLD an arriving shard's survivors into the artifact as epoch
    * N+1 under the FROZEN 4×16 banding — no parameter-currency premise
    * exists (the banding is count-independent, like MinHash); one id
    * space refuses (shard-internal and shard∩stored). Deliberately NO
    * stored-hash-clash refusal: a near-dup index legitimately stores
    * images within Hamming 3 of each other — which docs to keep is the
    * CALLER's survivor policy, decided from the probe's pairs. Single
    * writer; meta last; torn appends invisible and retried.
    */
  def appendDHashIndex(indexDir: String, more: DataFrame,
      commitTs: Option[Long] = None): Unit =
    index.append(indexDir, more, commitTs)

  /** Probe the stored artifact with an arriving shard: every pair at
    * Hamming ≤ `maxHamming` with at least one incoming side — raw
    * media ids, canonical (media_a < media_b), INCLUDING Hamming 0 (an
    * arrival identical to a stored image is the most important hit;
    * unlike [[imageDHashNear]]'s rep-collapsed contract there is no
    * group collapse to make 0 impossible). Only the SHARD decodes;
    * the corpus side is columnar scans of the stored hash/band tables.
    * Candidates come from the 4×16 pigeonhole banding (lossless for
    * maxHamming < 4, enforced) with the shard's band rows broadcast
    * under [[MaxBroadcastDHashRows]]; the exact bit_count verify keeps
    * true pairs only. The trailing `orderBy` exists ONLY for
    * deterministic gating — throughput consumers should drop it.
    */
  def imageDHashNearIndexed(indexDir: String, incoming: DataFrame,
      maxHamming: Int = 3, asOf: Option[Int] = None): DataFrame = {
    val spark = incoming.sparkSession
    require(maxHamming >= 0 && maxHamming < 4,
      s"imageDHashNearIndexed: maxHamming = $maxHamming breaks the " +
        "pigeonhole premise — 4 stored bands of 16 bits catch " +
        "Hamming <= 3")
    // asOf (r13): verdict against the corpus exactly as that epoch's
    // commit served it — the banding is parameter-free, so every
    // horizon is probe-valid; same plan, pure partition pruning
    val lv = index.live(spark, indexDir, "imageDHashNearIndexed", asOf)
    val inc = graft.CacheScope.scoped(dHashes(incoming).toDF())
    val storedHashes = lv.table("hashes")
    // dup + id-clash premises fused into ONE action (r15 — Checks);
    // the shard decodes once either way (inc is cache-scoped)
    val (nInc, ndInc, clash) = Checks.dupAndClash(inc, "media_id",
      storedHashes)
    require(nInc == ndInc,
      s"imageDHashNearIndexed: media_id is not one id space — " +
        s"${nInc - ndInc} duplicate id(s) within the incoming shard; " +
        "a shared id silently drops its real pair through the " +
        "self-pair filter. Re-key upstream.")
    require(clash == 0,
      "imageDHashNearIndexed: incoming media_id(s) already exist in " +
        s"the indexed corpus at $indexDir — one id space is the " +
        "contract (a shared id silently drops its real pair); re-key " +
        "the shard.")
    val incBands = graft.CacheScope.scoped(dHashBandRows(inc))
    val allBands = lv.table("bands")
      .select("media_id", "band_id", "band_key")
      .unionByName(incBands)
    val hinted =
      if (nInc * 4 <= MaxBroadcastDHashRows) broadcast(incBands)
      else incBands
    val cand = hinted.as("x")
      .join(allBands.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.band_key") === col("y.band_key") &&
          col("x.media_id") =!= col("y.media_id"))
      .select(least(col("x.media_id"), col("y.media_id")).as("media_a"),
        greatest(col("x.media_id"), col("y.media_id")).as("media_b"))
      .distinct()
    val h = storedHashes.unionByName(inc)
    cand
      .join(h.select(col("media_id").as("media_a"),
        col("dhash_hi").as("ha"), col("dhash_lo").as("la")), Seq("media_a"))
      .join(h.select(col("media_id").as("media_b"),
        col("dhash_hi").as("hb"), col("dhash_lo").as("lb")), Seq("media_b"))
      .withColumn("hamming",
        (bit_count(col("ha").bitwiseXOR(col("hb"))) +
          bit_count(col("la").bitwiseXOR(col("lb")))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("media_a"), col("media_b"), col("hamming"))
      .orderBy(col("media_a"), col("media_b"))
  }
}
