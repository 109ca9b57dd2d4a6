package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/**
 * Multimodal (image/audio/video) column plumbing.
 *
 * Media payloads are opaque `binary` columns with typed metadata alongside
 * — the columnar layout a 100 TB multimodal corpus needs (parquet stores
 * the bytes inline per row group; column pruning skips them entirely when
 * a query only touches metadata).
 *
 * Metadata extraction is pure Catalyst expressions. Decode / resize are
 * batched per-partition stages: payloads carrying a JDK-decodable image
 * format (PNG/JPEG/GIF/BMP via `javax.imageio`) get REAL pixel work —
 * actual decode → per-band luminance features ([[decodeFeatures]]) and
 * actual nearest-neighbor rescale → PNG re-encode ([[resize]]) — with
 * per-partition [[ImageDecoder]] reader reuse amortizing codec setup.
 * Undecodable payloads (non-image bytes, truncated images) fall back to a
 * deterministic MD5-derived stub, which doubles as the DuckDB-oracle
 * branch for the text fixtures. [[sampleFrames]] does REAL multi-frame
 * decode for animated GIF via [[GifFrames]] (the one animated format the
 * JDK's image stack reads). Audio is REAL too: the JDK ships a working
 * audio codec (`javax.sound.sampled` reads WAV/AIFF/AU, including
 * μ-law/A-law transcode to PCM), so [[decodeAudioFeatures]] extracts
 * actual sample rate / channels / per-window RMS energy and [[WavFrames]]
 * samples actual PCM windows re-encoded as standalone WAVs. Video gets
 * real frames for the AVI container via [[AviFrames]] (a hand-rolled
 * RIFF demux: bit-exact raw BI_RGB DIB decode, MJPEG via the JDK JPEG
 * reader); only compressed video codecs (H.264, VP9, …) have no JDK
 * decoder and keep the stub content under the real 1→N shape behind
 * the [[FrameDecoder]] seam.
 */
object Multimodal {

  /** A media row: opaque payload plus its id. */
  final case class MediaRecord(doc_id: Long, payload: Array[Byte])

  /** Decoded (stub) features: fixed-width embedding + fake dimensions. */
  final case class DecodedMedia(
    doc_id: Long,
    width: Int,
    height: Int,
    features: Array[Float]
  )

  /** Decoded audio: real stream properties + per-window energy features
    * ([[decodeAudioFeatures]]); `n_samples` counts sample FRAMES (one
    * per instant across channels). */
  final case class DecodedAudio(
    doc_id: Long,
    sample_rate: Int,
    channels: Int,
    n_samples: Long,
    features: Array[Float]
  )

  /** Hex magic numbers of common containers, for expression-level sniffing. */
  val MagicPrefixes: Map[String, String] = Map(
    "FFD8FF" -> "jpeg",
    "89504E47" -> "png",
    "47494638" -> "gif",
    "25504446" -> "pdf",
    "494433" -> "mp3",
    "52494646" -> "riff" // wav/avi
  )

  /** First 8 hex chars of a payload: hex only the first 4 BYTES — hexing
    * the whole blob would materialize a 2×-payload string per row (ruinous
    * for multi-MB media payloads) just to keep 8 chars. */
  private def magicHex(bin: Column): Column =
    upper(hex(substring(bin, 1, 4)))

  /** First-bytes container sniff over a binary column (hex-prefix match). */
  def sniffFormat(bin: Column): Column = {
    val hexHead = magicHex(bin)
    MagicPrefixes.foldLeft(lit("unknown")) { case (acc, (prefix, name)) =>
      when(hexHead.startsWith(prefix), lit(name)).otherwise(acc)
    }
  }

  /**
   * Expression-level metadata for a binary payload column: byte length,
   * leading magic bytes (hex), MD5 content hash, sniffed format. Pure
   * projection — runs inside the scan, no shuffle, payload column is
   * never moved beyond the executor that read it.
   */
  def withMetadata(df: DataFrame, binCol: String): DataFrame =
    df.withColumns(Map(
      "byte_len" -> length(col(binCol)).cast("long"),
      "magic_hex" -> magicHex(col(binCol)),
      "payload_md5" -> md5(col(binCol)),
      "format" -> sniffFormat(col(binCol))
    ))

  /** One sampled frame of a media payload. */
  final case class FrameRecord(doc_id: Long, frame_idx: Int, frame: Array[Byte])

  // ---------------------------------------------------- real pixel work

  /** Leading-bytes sniff for the JDK-decodable image formats. Byte-level
    * (no hex string materialized) because it runs per row in the decode
    * hot path; a payload that matches but fails to decode (truncated,
    * magic-colliding text) still falls back to the stub. */
  private def imageFormat(payload: Array[Byte]): Option[String] = {
    def at(i: Int, b: Int): Boolean = payload(i) == b.toByte
    if (payload.length < 4) None
    else if (at(0, 0x89) && at(1, 'P') && at(2, 'N') && at(3, 'G')) Some("png")
    else if (at(0, 0xff) && at(1, 0xd8) && at(2, 0xff)) Some("jpeg")
    else if (at(0, 'G') && at(1, 'I') && at(2, 'F') && at(3, '8')) Some("gif")
    else if (at(0, 'B') && at(1, 'M')) Some("bmp")
    else None
  }

  /**
   * Per-partition image decoder: one `javax.imageio.ImageReader` per
   * format, reused across every row the partition decodes — reader
   * construction (registry scan + plugin init) is the fixed cost
   * `ImageIO.read` would otherwise pay per row. Instantiated inside
   * `mapPartitions`, never serialized (readers aren't Serializable).
   */
  private final class ImageDecoder {
    javax.imageio.ImageIO.setUseCache(false) // in-memory streams; no temp-file churn
    private val readers =
      scala.collection.mutable.Map.empty[String, javax.imageio.ImageReader]

    private def readerFor(fmt: String): Option[javax.imageio.ImageReader] =
      readers.get(fmt).orElse {
        val it = javax.imageio.ImageIO.getImageReadersByFormatName(fmt)
        if (!it.hasNext) None
        else {
          val r = it.next()
          readers(fmt) = r
          Some(r)
        }
      }

    /** Decode a payload, or None if it isn't a (valid) JDK-readable image. */
    def decode(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
      for {
        fmt <- imageFormat(payload)
        reader <- readerFor(fmt)
        img <- try {
          val iis = javax.imageio.ImageIO.createImageInputStream(
            new java.io.ByteArrayInputStream(payload))
          try {
            reader.setInput(iis, true, true)
            Option(reader.read(0))
          } finally iis.close()
        } catch { case scala.util.control.NonFatal(_) => None }
      } yield img

    /** Release reader-held native/buffer resources. Idempotent — safe to
      * call from an exhaustion hook that may fire more than once. */
    def dispose(): Unit = {
      readers.valuesIterator.foreach(_.dispose())
      readers.clear()
    }
  }

  /** Run `cleanup` when `it` reports exhaustion — how per-partition
    * decoder state is released without relying on GC (ImageReaders hold
    * codec buffers; thousands of short partitions would otherwise
    * accumulate them until a collection happens to run). Rows that never
    * drain the iterator (task kill) still fall back to GC, which is the
    * JVM's own backstop for abandoned readers. */
  private def onExhaustion[T](it: Iterator[T])(cleanup: () => Unit): Iterator[T] =
    new Iterator[T] {
      override def hasNext: Boolean = {
        val h = it.hasNext
        if (!h) cleanup()
        h
      }
      override def next(): T = it.next()
    }

  /**
   * Pixel features of a decoded image: `dim` horizontal bands, each the
   * mean luminance (r+g+b over 3·255, in [0,1]) of its rows. Integer
   * pixel sums + one double division per band, so the POST-DECODE math is
   * bit-deterministic across partitionings and JVMs; end-to-end
   * determinism additionally requires the codec to be (PNG/BMP/GIF are
   * lossless everywhere; JPEG output can differ across JDK vendors'
   * decoders). Alpha is IGNORED — translucent pixels contribute their
   * raw RGB, not a composited value. Bands past the image height
   * (height < dim) are 0.
   */
  private def bandLuminance(img: java.awt.image.BufferedImage, dim: Int): Array[Float] = {
    val w = img.getWidth
    val h = img.getHeight
    Array.tabulate(dim) { i =>
      val r0 = (i.toLong * h / dim).toInt
      val r1 = ((i + 1).toLong * h / dim).toInt
      if (r1 <= r0 || w == 0) 0.0f
      else {
        var sum = 0L
        var y = r0
        while (y < r1) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            sum += ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)
            x += 1
          }
          y += 1
        }
        (sum.toDouble / (3.0 * 255.0 * w * (r1 - r0))).toFloat
      }
    }
  }

  /** Nearest-neighbor rescale: target pixel (x, y) copies source pixel
    * (x·sw/w, y·sh/h). Pure integer sampling — chosen over Graphics2D
    * interpolation because it is exactly reproducible everywhere. The
    * output is TYPE_INT_RGB: alpha is DROPPED, with translucent source
    * pixels keeping their raw (un-composited) RGB — a deliberate
    * semantic choice that keeps resize a pure pixel copy. */
  private def nearestResize(
    img: java.awt.image.BufferedImage,
    w: Int,
    h: Int
  ): java.awt.image.BufferedImage = {
    val out = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val sw = img.getWidth.toLong
    val sh = img.getHeight.toLong
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        out.setRGB(x, y, img.getRGB((x * sw / w).toInt, (y * sh / h).toInt))
        x += 1
      }
      y += 1
    }
    out
  }

  private def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** Lowercase md5 hex of a payload — the stub content derivation shared
    * by resize and sampleFrames; the DuckDB oracle formulas in LlmGates
    * mirror this exact encoding. */
  private def md5Hex(digest: java.security.MessageDigest, payload: Array[Byte]): String =
    digest.digest(payload).map(b => f"$b%02x").mkString

  /**
   * Batched resize over media payloads.
   *
   * Image payloads (PNG/JPEG/GIF/BMP) get a REAL rescale: decode via the
   * partition's reused [[ImageDecoder]], nearest-neighbor sample to
   * `width`×`height`, re-encode as PNG. Undecodable payloads keep the
   * deterministic stub — UTF-8 of "md5hex(payload):<w>x<h>" — which the
   * DuckDB oracle re-derives for the text fixtures. Typed Dataset in/out,
   * per-partition codec init, payload never leaves its executor.
   */
  def resize(
    media: Dataset[MediaRecord],
    width: Int,
    height: Int
  ): Dataset[MediaRecord] = {
    require(width > 0 && height > 0, s"resize dims must be positive: ${width}x$height")
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      val decoder = new ImageDecoder
      val digest = java.security.MessageDigest.getInstance("MD5")
      onExhaustion(rows.map { rec =>
        decoder.decode(rec.payload) match {
          case Some(img) =>
            MediaRecord(rec.doc_id, encodePng(nearestResize(img, width, height)))
          case None =>
            val hex = md5Hex(digest, rec.payload)
            MediaRecord(rec.doc_id, s"$hex:${width}x$height".getBytes("UTF-8"))
        }
      })(() => decoder.dispose())
    }
  }

  // ------------------------------------------------- perceptual hashing

  /**
   * 64-bit difference hash (dHash) of an image payload — the perceptual
   * near-dup key for IMAGE deduplication (the row-27/28 story for the
   * multimodal columns: re-encoded, resized, or lightly edited copies
   * of one image share most dHash bits, so Hamming banding finds them
   * without any pairwise pixel work). Public technique (difference
   * hash: compare adjacent pixels of a fixed tiny downsample).
   *
   * Derivation, chosen so every step is already bit-deterministic in
   * this file: decode (the reused per-partition [[ImageDecoder]]) →
   * [[nearestResize]] to a 9×8 grid (pure integer sampling; alpha
   * dropped — the resize semantics) → per-pixel INTEGER luminance sum
   * r+g+b (no float anywhere) → bit y·8+x set iff the right neighbor's
   * sum is strictly greater: `sum(x+1, y) > sum(x, y)`. A 9-wide row
   * yields 8 comparisons × 8 rows = 64 bits. Undecodable payloads →
   * NULL (callers keep or drop; the near-dup join drops — a text row
   * can't be an image near-dup).
   *
   * Scale shape: pure per-row projection (decode + 72 samples), no
   * shuffle; the pairing is [[Dedup.hammingNearDups]]' pigeonhole
   * banding, never all-pairs.
   */
  def imageDHash(media: Dataset[MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      val decoder = new ImageDecoder
      onExhaustion(rows.map { rec =>
        (rec.doc_id, decoder.decode(rec.payload).map(dhash64))
      })(() => decoder.dispose())
    }.toDF("doc_id", "dhash")
  }

  /** The 64-bit dHash of a decoded image ([[imageDHash]]'s kernel,
    * shared with the per-frame video arm): integer nearest-resize to
    * 9×8, bit y·8+x set iff the right neighbor's r+g+b sum is
    * strictly greater. */
  private def dhash64(img: java.awt.image.BufferedImage): Long = {
    val g = nearestResize(img, 9, 8)
    var h = 0L
    var y = 0
    while (y < 8) {
      var x = 0
      var prev = lumSum(g.getRGB(0, y))
      while (x < 8) {
        val cur = lumSum(g.getRGB(x + 1, y))
        if (cur > prev) h |= 1L << (y * 8 + x)
        prev = cur
        x += 1
      }
      y += 1
    }
    h
  }

  /** Integer luminance proxy: r+g+b of a packed RGB pixel (0..765).
    * Sums compare identically to means — no division, no float. */
  private def lumSum(rgb: Int): Int =
    ((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)

  /**
   * Image near-duplicate pairs: [[imageDHash]] each payload, drop
   * undecodables, then [[Dedup.hammingNearDups]] over the 64-bit
   * hashes (pigeonhole banding + exact bit_count verify — candidates
   * from chunk buckets only, never all pairs). Returns
   * (id_a, id_b, hamming) with id_a < id_b.
   */
  def imageNearDups(
    media: Dataset[MediaRecord],
    maxHamming: Int = 3,
    bands: Int = 4,
    maxBucket: Option[Int] = Dedup.DefaultMaxBucket
  ): DataFrame =
    Dedup.hammingNearDups(
      imageDHash(media).filter(col("dhash").isNotNull),
      "doc_id", "dhash", 64, maxHamming, bands, maxBucket)

  /**
   * Cross-corpus image near-dup — the incremental arm every text
   * similarity family here already has, for the MULTIMODAL columns: a
   * new media drop probed against the PERSISTED [[imageDHash]] table
   * (`(doc_id, dhash)` parquet — the prior corpus is never re-decoded,
   * its payload bytes never re-read) via the generalized
   * [[Dedup.hammingNearDupsAgainstIndex]] banding. Returns
   * (batch_id, index_id, hamming ≤ maxHamming); undecodable batch
   * payloads and NULL index rows never match. Forget the index with
   * [[Forget.removeIds]] (per-doc rows only — anti-join ≡ rebuild).
   */
  def imageNearDupsAgainst(
    batch: Dataset[MediaRecord],
    index: DataFrame,
    maxHamming: Int = 3,
    bands: Int = 4,
    maxBucket: Option[Int] = Dedup.DefaultMaxBucket
  ): DataFrame =
    Dedup.hammingNearDupsAgainstIndex(
      imageDHash(batch).filter(col("dhash").isNotNull),
      index.filter(col("dhash").isNotNull),
      "doc_id", "dhash", 64, maxHamming, bands, maxBucket,
      metricPrefix = "incr_dhash")

  /**
   * PRE-BANDED persisted media-hash index over an existing
   * `(id, 64-bit hash)` table — [[Dedup.hammingBandedIndex]] with the
   * media family's conventions (64 bits, NULL = undecodable, never
   * banded). One builder serves the image dHash, video vHash, and
   * audio fingerprint tables alike: flat
   * `(band, band_key, index_id, index_hash)` rows, bucket cap applied
   * AT BUILD, so every probe ([[imageNearDupsAgainstBanded]] et al.,
   * or a streaming micro-batch in [[imageDedupStreamSink]]) is a pure
   * equi-join with zero index-side aggregation — the text family's
   * [[Dedup.nearDupStreamIndex]] doctrine applied to perceptual
   * hashes. `bands` is the artifact's contract: probes must use the
   * same value. Forget via [[graft.operators.Forget.removeIds]] on
   * `index_id` (per-doc rows, anti-join ≡ rebuild).
   */
  def bandedMediaIndex(
    hashes: DataFrame,
    idCol: String,
    hashCol: String,
    bands: Int = 4,
    maxBucket: Option[Int] = Dedup.DefaultMaxBucket,
    metricPrefix: String = "banded_dhash"
  ): DataFrame =
    Dedup.hammingBandedIndex(hashes, idCol, hashCol, 64, bands, maxBucket,
      metricPrefix)

  /** [[bandedMediaIndex]] persisted with its self-describing
    * `_hamming_bands` sidecar ([[Dedup.hammingBandedIndexWrite]]) —
    * the sanctioned artifact writer; probe the directory with
    * [[imageNearDupsAgainstBandedDir]] (or the Dedup Dir probe for
    * video/audio hash tables) so banding params can never drift
    * between build and probe. */
  def bandedMediaIndexWrite(
    hashes: DataFrame,
    idCol: String,
    hashCol: String,
    path: String,
    bands: Int = 4,
    maxBucket: Option[Int] = Dedup.DefaultMaxBucket,
    metricPrefix: String = "banded_dhash",
    mode: String = "overwrite"
  ): Unit =
    Dedup.hammingBandedIndexWrite(
      bandedMediaIndex(hashes, idCol, hashCol, bands, maxBucket, metricPrefix),
      path, 64, bands, mode)

  /** [[imageNearDupsAgainstBanded]] against a [[bandedMediaIndexWrite]]
    * DIRECTORY — bands come from the artifact's sidecar, never a
    * caller guess. */
  def imageNearDupsAgainstBandedDir(
    batch: Dataset[MediaRecord],
    path: String,
    maxHamming: Int = 3,
    maxBucket: Option[Int] = Dedup.DefaultMaxBucket
  ): DataFrame =
    Dedup.hammingMatchesAgainstBandedDir(batch.sparkSession, path,
      imageDHash(batch).filter(col("dhash").isNotNull),
      "doc_id", "dhash", maxHamming, maxBucket, metricPrefix = "banded_dhash")

  /** [[imageNearDupsAgainst]] over a PRE-BANDED [[bandedMediaIndex]]
    * artifact: per-probe work is batch-sized only — the index is
    * scanned and equi-joined, never re-banded or re-grouped. `bands`
    * must match the artifact's build value. */
  def imageNearDupsAgainstBanded(
    batch: Dataset[MediaRecord],
    bandedIndex: DataFrame,
    maxHamming: Int = 3,
    bands: Int = 4,
    maxBucket: Option[Int] = Dedup.DefaultMaxBucket
  ): DataFrame =
    Dedup.hammingMatchesAgainstBanded(
      imageDHash(batch).filter(col("dhash").isNotNull),
      bandedIndex, "doc_id", "dhash", 64, maxHamming, bands, maxBucket,
      metricPrefix = "banded_dhash")

  /**
   * STREAMING image dedup as a `foreachBatch` sink — row 154's
   * corpus-growth loop running continuously, the media twin of
   * [[graft.plans.CurationPipeline.streamingSink]]: each micro-batch
   * of media records is hashed ONCE ([[imageDHash]] — the only decode
   * pass), probed against the PRE-BANDED index under `indexDir` (a
   * [[bandedMediaIndex]] parquet — prior corpus NEVER re-decoded, its
   * payload bytes never re-read, and its hash rows never re-banded or
   * re-grouped: the probe is a pure equi-join on the artifact), cross-
   * batch matches and within-batch higher-id copies drop, the
   * SURVIVORS' band rows append to the artifact, and `sink` receives
   * the surviving records. Undecodable payloads (NULL dhash) never
   * match and always survive — the batch-mode contract. `bands` is
   * the artifact's contract, pinned by its `_hamming_bands` sidecar:
   * a restart with different bands FAILS LOUD, and a pre-banded-era
   * flat (doc_id, dhash) directory fails with a message naming the
   * rebuild ([[bandedMediaIndexWrite]]).
   *
   * Equivalence to one batch [[imageNearDups]]-dedup over the union of
   * all batches (spec-pinned on a MemoryStream): identical given ids
   * ascend across batches, with the same documented margin as the
   * text sink — a transitive chain spanning 3+ batches can retain
   * more, because only survivors are indexed. RETRY-safe, exactly
   * idempotent: before probing, the index is ANTI-JOINED on the
   * batch's own id set — under the globally-unique-id contract any
   * index row keyed by a current-batch id can only be a prior
   * attempt's append (a checkpoint commit that failed after the index
   * write), so a replay sees EXACTLY the first attempt's index state
   * and recomputes the SAME survivors (including within-batch
   * transitive chains, which a bare same-id exclusion got wrong — a
   * survivor's appended row could eat its chain-mate before within-
   * batch pairing). The replay's re-append duplicates band rows —
   * harmless, the probe is match-finding; `sink` idempotence is the
   * caller's contract as with any foreachBatch.
   *
   * Scale shape: per batch one decode pass, one batch-sized banding +
   * bucket cap, one broadcast equi-join against the artifact scan —
   * ZERO index-side aggregation per micro-batch (the
   * [[Dedup.nearDupStreamIndex]] economics); index growth appends
   * ~24 bytes × bands a survivor, not payloads. The per-append bucket
   * cap bounds each drop; a bucket can only exceed the cap across
   * appends (rebuild with [[bandedMediaIndex]] to re-cap).
   */
  def imageDedupStreamSink(
    indexDir: String,
    maxHamming: Int = 3,
    bands: Int = 4,
    maxBucket: Option[Int] = Dedup.DefaultMaxBucket
  )(sink: (Dataset[MediaRecord], Long) => Unit): (Dataset[MediaRecord], Long) => Unit =
    mediaDedupStreamSink(indexDir, b => imageDHash(b),
      "imageDedupStreamSink", "banded_dhash", maxHamming, bands, maxBucket)(sink)

  /** STREAMING video dedup — [[imageDedupStreamSink]]'s twin over the
    * [[videoDHash]] folded signatures (same banded artifact, same
    * replay-idempotence anti-join, same sidecar verification). `n` is
    * part of the artifact's identity like `bands`: a restart with a
    * different frame count folds different rotations and silently
    * loses every match, so keep one (n, bands) per artifact dir. */
  def videoDedupStreamSink(
    indexDir: String,
    n: Int = 4,
    decoder: () => FrameDecoder = SniffFrames,
    maxHamming: Int = 3,
    bands: Int = 4,
    maxBucket: Option[Int] = Dedup.DefaultMaxBucket
  )(sink: (Dataset[MediaRecord], Long) => Unit): (Dataset[MediaRecord], Long) => Unit =
    mediaDedupStreamSink(indexDir, b => videoDHash(b, n, decoder),
      "videoDedupStreamSink", "banded_vhash", maxHamming, bands, maxBucket)(sink)

  /** STREAMING audio dedup — [[imageDedupStreamSink]]'s twin over the
    * [[audioFingerprint]] energy contours (same banded artifact, same
    * replay-idempotence anti-join, same sidecar verification). */
  def audioDedupStreamSink(
    indexDir: String,
    maxHamming: Int = 3,
    bands: Int = 4,
    maxBucket: Option[Int] = Dedup.DefaultMaxBucket
  )(sink: (Dataset[MediaRecord], Long) => Unit): (Dataset[MediaRecord], Long) => Unit =
    mediaDedupStreamSink(indexDir, b => audioFingerprint(b),
      "audioDedupStreamSink", "banded_afp", maxHamming, bands, maxBucket)(sink)

  /** The shared machinery of the three media stream sinks: `hashOf`
    * is the ONLY per-family difference (one decode pass producing a
    * (doc_id, 64-bit-hash) frame with NULL for undecodables); the
    * artifact handling, the replay anti-join, the within-batch
    * dedup and the grow are identical by construction, so the
    * image-arm guarantees (scaladoc above) hold verbatim for video
    * and audio. */
  private def mediaDedupStreamSink(
    indexDir: String,
    hashOf: Dataset[MediaRecord] => DataFrame,
    what: String,
    metricPrefix: String,
    maxHamming: Int,
    bands: Int,
    maxBucket: Option[Int]
  )(sink: (Dataset[MediaRecord], Long) => Unit): (Dataset[MediaRecord], Long) => Unit =
    (batch: Dataset[MediaRecord], batchId: Long) => {
      val spark = batch.sparkSession
      import spark.implicits._
      val hashes = hashOf(batch).toDF("doc_id", "__mh")
        .filter(col("__mh").isNotNull).persist()
      try {
        // replay idempotency: the prior drops ALL index rows keyed by
        // this batch's ids — prior-attempt appends, never real dups
        // (see the retry contract above)
        val crossMatched = Dedup.bandedStreamPrior(spark, indexDir, bands,
            hashes.select(col("doc_id").as("__bid")), what)
          .map(idx => Dedup.hammingMatchesAgainstBanded(
              hashes, idx, "doc_id", "__mh", 64, maxHamming, bands,
              maxBucket, metricPrefix = metricPrefix)
            .select(col("batch_id").as("doc_id")).distinct())
          .getOrElse(spark.range(0).select(col("id").as("doc_id")))
        val fresh = hashes.join(crossMatched, Seq("doc_id"), "left_anti")
        val losers = Dedup.hammingNearDups(fresh, "doc_id", "__mh", 64,
            maxHamming, bands, maxBucket)
          .select(col("id_b").as("doc_id")).distinct()
        val dropped = crossMatched.unionByName(losers).persist()
        try {
          val survivors = batch.join(broadcast(dropped), Seq("doc_id"), "left_anti")
            .as[MediaRecord].persist()
          try {
            sink(survivors, batchId)
            // grow the artifact from THIS batch's surviving decodables
            // (band rows, capped within the drop — batch-sized work);
            // the sidecar-verifying append keeps the banding contract
            bandedMediaIndexWrite(
              hashes.join(broadcast(dropped), Seq("doc_id"), "left_anti"),
              "doc_id", "__mh", indexDir, bands, maxBucket,
              metricPrefix, mode = "append")
          } finally survivors.unpersist()
        } finally dropped.unpersist()
      } finally hashes.unpersist()
    }

  // ------------------------------------------- video/audio near-dup

  /** [[FrameDecoder]] that routes by container magic: GIF payloads →
    * [[GifFrames]], everything else → [[AviFrames]] (which itself
    * stubs non-AVI) — the mixed-corpus entry for [[videoDHash]], so a
    * re-encoded copy in a DIFFERENT container still hashes. */
  val SniffFrames: () => FrameDecoder = () =>
    new FrameDecoder {
      private val gif = GifFrames()
      private val avi = AviFrames()
      def decodeFrame(payload: Array[Byte], frameIdx: Int, nFrames: Int): Array[Byte] =
        if (imageFormat(payload).contains("gif")) gif.decodeFrame(payload, frameIdx, nFrames)
        else avi.decodeFrame(payload, frameIdx, nFrames)
      override def dispose(): Unit = { gif.dispose(); avi.dispose() }
    }

  /** Rotation step of the video fold: odd, so successive frames land
    * on distinct rotations (any odd step generates all 64 under
    * repeated addition mod 64). */
  private val VideoRotStep = 21

  /**
   * 64-bit perceptual VIDEO signature: `n` evenly-sampled frames
   * (the [[sampleFrames]] ⌊i·m/n⌋ policy via the same [[FrameDecoder]]
   * seam), each frame's [[dhash64]], XOR-folded with a per-frame-index
   * bit ROTATION: `vhash = ⊕ᵢ rotl(dhash(frameᵢ), i·21 mod 64)`.
   *
   * Why this fold: XOR is LINEAR over GF(2), so for two videos sampled
   * at the same `n`, `vhash_a ⊕ vhash_b = ⊕ᵢ rot(dᵢ_a ⊕ dᵢ_b, i·21)`
   * and `hamming(vhash) ≤ Σᵢ hamming(frameᵢ)` — a re-encoded copy
   * whose frames each differ by a few dHash bits stays within a small
   * fold Hamming (cross-frame bit collisions can only CANCEL, never
   * add, so the bound is one-sided: no qualifying copy is pushed OUT
   * of range; a cancellation pulling an unrelated pair IN is caught
   * nowhere — the signature Hamming IS the operator's similarity
   * contract, like SimHash). The rotation decorrelates frame ORDER:
   * [A,B] and [B,A] fold differently, identical-everywhere frames
   * (test cards, black leaders) don't collapse every video onto one
   * signature. Same-pixels-different-container copies (GIF vs raw
   * AVI) hash IDENTICALLY because every step after the demux is the
   * bit-deterministic integer path of [[imageDHash]].
   *
   * Frames whose bytes don't decode as an image (stub fallbacks,
   * codec gaps) contribute nothing (XOR identity); a payload with
   * ZERO decodable frames → NULL. Pure per-row projection — decode +
   * 72·n integer samples, no shuffle.
   */
  def videoDHash(
    media: Dataset[MediaRecord],
    n: Int = 4,
    decoder: () => FrameDecoder = SniffFrames
  ): DataFrame = {
    require(n >= 1, s"n must be >= 1: $n")
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      val frameDec = decoder()
      val imgDec = new ImageDecoder
      onExhaustion(rows.map { rec =>
        var fold = 0L
        var decoded = 0
        var i = 0
        while (i < n) {
          val fb = frameDec.decodeFrame(rec.payload, i, n)
          imgDec.decode(fb) match {
            case Some(img) =>
              fold ^= java.lang.Long.rotateLeft(dhash64(img), (i * VideoRotStep) % 64)
              decoded += 1
            case None => ()
          }
          i += 1
        }
        (rec.doc_id, if (decoded == 0) None else Some(fold))
      })(() => { frameDec.dispose(); imgDec.dispose() })
    }.toDF("doc_id", "vhash")
  }

  /** Video near-duplicate pairs: [[videoDHash]] + the generalized
    * [[Dedup.hammingNearDups]] banding over the folded 64-bit
    * signatures — re-encoded copies of the same clip (same frames,
    * any container the demux seam reads) land at Hamming 0, lightly
    * edited ones within a few bits. (id_a, id_b, hamming), id_a <
    * id_b; undecodable payloads never pair. */
  def videoNearDups(
    media: Dataset[MediaRecord],
    n: Int = 4,
    decoder: () => FrameDecoder = SniffFrames,
    maxHamming: Int = 3,
    bands: Int = 4,
    maxBucket: Option[Int] = Dedup.DefaultMaxBucket
  ): DataFrame =
    Dedup.hammingNearDups(
      videoDHash(media, n, decoder).filter(col("vhash").isNotNull),
      "doc_id", "vhash", 64, maxHamming, bands, maxBucket)

  /** Cross-corpus video near-dup: a new clip drop probed against the
    * persisted [[videoDHash]] table (`(doc_id, vhash)` parquet) — the
    * [[imageNearDupsAgainst]] contract over the folded signatures.
    * The index MUST have been built with the same `n` (a different
    * frame count folds different rotations — disjoint signatures). */
  def videoNearDupsAgainst(
    batch: Dataset[MediaRecord],
    index: DataFrame,
    n: Int = 4,
    decoder: () => FrameDecoder = SniffFrames,
    maxHamming: Int = 3,
    bands: Int = 4,
    maxBucket: Option[Int] = Dedup.DefaultMaxBucket
  ): DataFrame =
    Dedup.hammingNearDupsAgainstIndex(
      videoDHash(batch, n, decoder).filter(col("vhash").isNotNull),
      index.filter(col("vhash").isNotNull),
      "doc_id", "vhash", 64, maxHamming, bands, maxBucket,
      metricPrefix = "incr_vhash")

  /** [[videoNearDupsAgainst]] over a PRE-BANDED [[bandedMediaIndex]]
    * artifact built from the [[videoDHash]] table (same `n` AND same
    * `bands` as the build — both are the artifact's contract). */
  def videoNearDupsAgainstBanded(
    batch: Dataset[MediaRecord],
    bandedIndex: DataFrame,
    n: Int = 4,
    decoder: () => FrameDecoder = SniffFrames,
    maxHamming: Int = 3,
    bands: Int = 4,
    maxBucket: Option[Int] = Dedup.DefaultMaxBucket
  ): DataFrame =
    Dedup.hammingMatchesAgainstBanded(
      videoDHash(batch, n, decoder).filter(col("vhash").isNotNull),
      bandedIndex, "doc_id", "vhash", 64, maxHamming, bands, maxBucket,
      metricPrefix = "banded_vhash")

  /**
   * 64-bit perceptual AUDIO fingerprint — the energy-contour dHash:
   * decode ([[AudioDecoder]]: WAV/AIFF/AU, any stored encoding the
   * JDK converts), split into 65 time windows ([[windowRms]] — integer
   * square-sums, bit-deterministic), bit i set iff window i+1's RMS is
   * STRICTLY greater than window i's. Comparing adjacent energies
   * (not thresholding absolute ones) makes the fingerprint
   * AMPLITUDE-INVARIANT — a volume-scaled or container-re-encoded
   * copy of the same clip keeps the same up/down contour, the exact
   * analogue of dHash's brightness invariance (public technique:
   * energy-envelope fingerprinting, the shape under Shazam-class
   * systems; spectral bands need an FFT, deliberately out of scope —
   * the time-domain contour is what integer math derives exactly).
   * Non-audio/undecodable payloads → NULL. Pure per-row projection.
   */
  def audioFingerprint(media: Dataset[MediaRecord]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      val decoder = new AudioDecoder
      rows.map { rec =>
        (rec.doc_id, decoder.decode(rec.payload).map { case (_, ch, samples) =>
          val rms = windowRms(samples, ch, 65)
          var h = 0L
          var i = 0
          while (i < 64) {
            if (rms(i + 1) > rms(i)) h |= 1L << i
            i += 1
          }
          h
        })
      }
    }.toDF("doc_id", "afp")
  }

  /** Audio near-duplicate pairs: [[audioFingerprint]] + Hamming
    * banding — re-encoded (WAV↔AIFF↔AU) and volume-scaled copies of
    * the same clip land at Hamming 0. (id_a, id_b, hamming). */
  def audioNearDups(
    media: Dataset[MediaRecord],
    maxHamming: Int = 3,
    bands: Int = 4,
    maxBucket: Option[Int] = Dedup.DefaultMaxBucket
  ): DataFrame =
    Dedup.hammingNearDups(
      audioFingerprint(media).filter(col("afp").isNotNull),
      "doc_id", "afp", 64, maxHamming, bands, maxBucket)

  /** Cross-corpus audio near-dup: a new clip drop probed against the
    * persisted [[audioFingerprint]] table (`(doc_id, afp)` parquet) —
    * the [[imageNearDupsAgainst]] contract over energy contours. */
  def audioNearDupsAgainst(
    batch: Dataset[MediaRecord],
    index: DataFrame,
    maxHamming: Int = 3,
    bands: Int = 4,
    maxBucket: Option[Int] = Dedup.DefaultMaxBucket
  ): DataFrame =
    Dedup.hammingNearDupsAgainstIndex(
      audioFingerprint(batch).filter(col("afp").isNotNull),
      index.filter(col("afp").isNotNull),
      "doc_id", "afp", 64, maxHamming, bands, maxBucket,
      metricPrefix = "incr_afp")

  /** [[audioNearDupsAgainst]] over a PRE-BANDED [[bandedMediaIndex]]
    * artifact built from the [[audioFingerprint]] table (`bands` must
    * match the build). */
  def audioNearDupsAgainstBanded(
    batch: Dataset[MediaRecord],
    bandedIndex: DataFrame,
    maxHamming: Int = 3,
    bands: Int = 4,
    maxBucket: Option[Int] = Dedup.DefaultMaxBucket
  ): DataFrame =
    Dedup.hammingMatchesAgainstBanded(
      audioFingerprint(batch).filter(col("afp").isNotNull),
      bandedIndex, "doc_id", "afp", 64, maxHamming, bands, maxBucket,
      metricPrefix = "banded_afp")

  // ----------------------------------------------------- real audio work

  /** Leading-bytes sniff for the JDK-decodable audio containers — WAV
    * (RIFF/WAVE, distinguished from RIFF/AVI video by the form type at
    * offset 8), AIFF/AIFC (IFF FORM/AIF), and AU (.snd). Byte-level, no
    * hex string, because it guards the decode hot path: a text payload
    * must cost four byte compares, not an `UnsupportedAudioFileException`
    * throw per row. */
  private def isAudioContainer(payload: Array[Byte]): Boolean = {
    def at(i: Int, c: Char): Boolean = payload(i) == c.toByte
    payload.length >= 12 && (
      (at(0, 'R') && at(1, 'I') && at(2, 'F') && at(3, 'F') &&
        at(8, 'W') && at(9, 'A') && at(10, 'V') && at(11, 'E')) ||
      (at(0, 'F') && at(1, 'O') && at(2, 'R') && at(3, 'M') &&
        at(8, 'A') && at(9, 'I') && at(10, 'F')) ||
      (at(0, '.') && at(1, 's') && at(2, 'n') && at(3, 'd')))
  }

  /** 16-bit signed little-endian PCM at the SOURCE rate/channel-count —
    * the one normalized form every downstream consumer here reads, so
    * container differences (WAV's LE vs AIFF/AU's BE, μ-law/A-law/8-bit
    * encodings) are erased exactly once, by the JDK's own converters. */
  private def pcm16Format(rate: Float, channels: Int): javax.sound.sampled.AudioFormat =
    new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      rate, 16, channels, channels * 2, rate, false)

  /**
   * Per-partition audio decoder: any JDK-readable payload (WAV/AIFF/AU;
   * PCM of either endianness, μ-law, A-law, 8-bit) decodes to
   * `(sampleRate, channels, interleaved 16-bit samples)` via
   * `javax.sound.sampled` with a conversion to canonical little-endian
   * 16-bit PCM when the stored encoding differs. Non-audio and corrupt
   * payloads → None (caller stubs — the operator-wide fallback
   * convention). Decoded size is bounded by the payload's own (already
   * in-memory) size ×2 — these containers carry no deep compression the
   * JDK would inflate.
   */
  private[operators] final class AudioDecoder {
    def decode(payload: Array[Byte]): Option[(Int, Int, Array[Short])] = {
      if (!isAudioContainer(payload)) return None
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          val src = in.getFormat
          // a malformed header claiming 0 channels would divide-by-zero
          // every frame computation downstream — treat as undecodable
          if (src.getChannels <= 0 || src.getSampleRate <= 0) return None
          val target = pcm16Format(src.getSampleRate, src.getChannels)
          val pcm =
            if (src.matches(target)) in
            else javax.sound.sampled.AudioSystem.getAudioInputStream(target, in)
          val bytes = pcm.readAllBytes()
          val n = bytes.length / 2
          val samples = new Array[Short](n)
          var i = 0
          while (i < n) {
            samples(i) = ((bytes(2 * i) & 0xff) | (bytes(2 * i + 1) << 8)).toShort
            i += 1
          }
          Some((math.round(src.getSampleRate), src.getChannels, samples))
        } finally in.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    }
  }

  /** Per-window RMS amplitude in [0,1]: `dim` even windows over the
    * sample FRAMES (all channels of a frame pool into its window), each
    * `sqrt(mean(sample²))/32768`. Long integer square-sums + one IEEE
    * sqrt/divide per window — bit-deterministic across partitionings and
    * JVMs. Windows past the stream end (fewer frames than `dim`) are 0. */
  private def windowRms(samples: Array[Short], channels: Int, dim: Int): Array[Float] = {
    val frames = if (channels <= 0) 0 else samples.length / channels
    Array.tabulate(dim) { j =>
      val lo = (j.toLong * frames / dim).toInt
      val hi = ((j + 1).toLong * frames / dim).toInt
      if (hi <= lo) 0f
      else {
        var sum = 0L
        var i = lo * channels
        val end = hi * channels
        while (i < end) { val s = samples(i).toLong; sum += s * s; i += 1 }
        (math.sqrt(sum.toDouble / (end - lo * channels)) / 32768.0).toFloat
      }
    }
  }

  /**
   * Per-partition frame decoder — the injection seam for [[sampleFrames]].
   * The JDK ships no VIDEO codec, so graft cannot decode real video
   * frames here; a deployment that has one on the executor classpath
   * (jcodec, a JNI ffmpeg binding, …) implements this trait and the
   * operator's distribution shape — 1→N partition-local explode, payload
   * never shuffled, per-partition codec init — is unchanged. (Animated
   * images and audio need no external codec: [[GifFrames]] and
   * [[WavFrames]] are real implementations riding this same seam.)
   *
   * Instances are constructed per PARTITION via the factory passed to
   * [[sampleFrames]] (never serialized, may hold non-serializable codec
   * state, single-threaded within a task); `dispose` runs on partition
   * exhaustion for native-resource cleanup.
   */
  trait FrameDecoder {
    /** Decode/sample frame `frameIdx` of `nFrames` from `payload`. */
    def decodeFrame(payload: Array[Byte], frameIdx: Int, nFrames: Int): Array[Byte]
    def dispose(): Unit = ()
  }

  /** The default [[FrameDecoder]] factory: the documented deterministic
    * STUB — frame i of a payload is UTF-8 "md5hex(payload):<i>" (the
    * DuckDB oracle in LlmGates re-derives this exact encoding). */
  val Md5StubFrames: () => FrameDecoder = () =>
    new FrameDecoder {
      private val digest = java.security.MessageDigest.getInstance("MD5")
      private var lastPayload: Array[Byte] = _
      private var lastHex: String = _
      def decodeFrame(payload: Array[Byte], frameIdx: Int, nFrames: Int): Array[Byte] = {
        // frames of one payload share the hash — compute it once per row
        // (eq, not equals: the same row's array reference, not a scan)
        if (lastHex == null || (payload ne lastPayload)) {
          lastPayload = payload
          lastHex = md5Hex(digest, payload)
        }
        s"$lastHex:$frameIdx".getBytes("UTF-8")
      }
    }

  /**
   * REAL multi-frame decoding for the one animated format the JDK can
   * read: animated GIF. Frame `i` of `nFrames` requested maps to stored
   * frame `⌊i·m/n⌋` of the GIF's `m` image descriptors (even temporal
   * sampling — the frame-sample policy a video pipeline uses), decoded
   * via the partition's reused GIF `ImageReader` and re-encoded as PNG
   * (lossless, so downstream [[decodeFeatures]] sees exact pixels).
   * Stored frames are returned AS STORED: GIF inter-frame disposal /
   * patch compositing is NOT applied — frame k of an optimized GIF may
   * be a partial patch raster, not the composited screen. Non-GIF and
   * undecodable payloads fall back to the [[Md5StubFrames]] stub bytes
   * (the operator-wide fallback convention). The open input stream and
   * frame count are cached per payload, so the n frames of one row pay
   * one header parse.
   */
  val GifFrames: () => FrameDecoder = () =>
    new FrameDecoder {
      private val stub = Md5StubFrames()
      private var reader: javax.imageio.ImageReader = _
      private var iis: javax.imageio.stream.ImageInputStream = _
      private var lastPayload: Array[Byte] = _
      private var lastCount: Int = 0

      private def closeInput(): Unit = {
        if (iis != null) {
          try iis.close() catch { case scala.util.control.NonFatal(_) => () }
          iis = null
        }
        lastPayload = null
        lastCount = 0
      }

      /** (Re)open the reader on a new payload; returns the frame count
        * (0 = unreadable → caller stubs). */
      private def open(payload: Array[Byte]): Int = {
        if (payload eq lastPayload) lastCount
        else {
          closeInput()
          try {
            if (reader == null) {
              val it = javax.imageio.ImageIO.getImageReadersByFormatName("gif")
              if (!it.hasNext) return 0
              reader = it.next()
            }
            iis = javax.imageio.ImageIO.createImageInputStream(
              new java.io.ByteArrayInputStream(payload))
            // seekForwardOnly = false: frame sampling random-accesses
            // stored frames
            reader.setInput(iis, false, true)
            lastPayload = payload
            lastCount = reader.getNumImages(true)
            lastCount
          } catch {
            case scala.util.control.NonFatal(_) => closeInput(); 0
          }
        }
      }

      def decodeFrame(payload: Array[Byte], frameIdx: Int, nFrames: Int): Array[Byte] = {
        val isGif = imageFormat(payload).contains("gif")
        val m = if (isGif) open(payload) else 0
        if (m <= 0) stub.decodeFrame(payload, frameIdx, nFrames)
        else try {
          encodePng(reader.read((frameIdx.toLong * m / nFrames).toInt))
        } catch {
          case scala.util.control.NonFatal(_) =>
            stub.decodeFrame(payload, frameIdx, nFrames)
        }
      }

      override def dispose(): Unit = {
        closeInput()
        if (reader != null) { reader.dispose(); reader = null }
      }
    }

  /**
   * Minimal RIFF/AVI demuxer for the two codecs the container can carry
   * WITHOUT an external library: BI_RGB raw DIB frames (uncompressed
   * bottom-up BGR — bit-deterministic) and MJPEG (every frame a
   * standalone JPEG, decoded by `javax.imageio`). Format per the public
   * AVI RIFF File Reference (Microsoft): a RIFF('AVI ') tree holding
   * LIST('hdrl') stream headers and LIST('movi') frame chunks named
   * `##db`/`##dc` by two-digit stream number. Anything else (H.264,
   * VP9, …) needs a real codec on the classpath via the [[FrameDecoder]]
   * seam; this demuxer returns None and the caller stubs.
   */
  private[operators] object AviDemux {
    /** The video stream of one AVI payload: dimensions, codec id, and
      * each stored frame's (offset, length) into the payload — frames
      * stay IN PLACE, no copies until a frame is actually decoded. */
    final case class Video(
      width: Int,
      height: Int,
      topDown: Boolean,
      bitCount: Int,
      mjpeg: Boolean,
      frames: IndexedSeq[(Int, Int)]
    )

    private def u16(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    private def i32(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
        ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
    private def fourcc(b: Array[Byte], o: Int): String =
      new String(b, o, 4, "ISO-8859-1")

    private val MjpgFourcc = i32("MJPG".getBytes("ISO-8859-1"), 0)

    def parse(payload: Array[Byte]): Option[Video] = {
      if (payload.length < 12 || fourcc(payload, 0) != "RIFF" ||
          fourcc(payload, 8) != "AVI ") return None
      try {
        var nStreams = 0 // strh chunks seen, in declaration order
        var vidsStream = -1 // two-digit number of the FIRST video stream
        var vidsHandlerMjpg = false
        var expectStrf = false // next strf belongs to the vids stream
        var w, h, bits = 0
        var topDown = false
        var comprMjpg = false
        val frames = IndexedSeq.newBuilder[(Int, Int)]

        def walk(start: Int, end: Int, depth: Int): Unit = {
          if (depth > 32) return // crafted deep LIST nesting: stop, stub
          var o = start
          while (o + 8 <= end) {
            val id = fourcc(payload, o)
            val size = i32(payload, o + 4)
            val body = o + 8
            // Long arithmetic: a crafted size near Int.MaxValue would
            // int-overflow `body + size` and slip past this guard
            if (size < 0 || body.toLong + size.toLong > end.toLong) return
            if (id == "LIST") walk(body + 4, body + size, depth + 1)
            else if (id == "strh" && size >= 8) {
              val isVids = fourcc(payload, body) == "vids"
              if (isVids && vidsStream < 0) {
                vidsStream = nStreams
                vidsHandlerMjpg = fourcc(payload, body + 4) == "MJPG"
                expectStrf = true
              } else expectStrf = false
              nStreams += 1
            } else if (id == "strf" && expectStrf && size >= 20) {
              // BITMAPINFOHEADER: biWidth@4, biHeight@8 (negative =
              // top-down), biBitCount@14, biCompression@16
              w = i32(payload, body + 4)
              val rawH = i32(payload, body + 8)
              topDown = rawH < 0
              h = math.abs(rawH)
              bits = u16(payload, body + 14)
              comprMjpg = i32(payload, body + 16) == MjpgFourcc
              expectStrf = false
            } else if (id.length == 4 && vidsStream >= 0 &&
                (id.endsWith("db") || id.endsWith("dc")) &&
                id.take(2).forall(_.isDigit) &&
                id.take(2).toInt == vidsStream) {
              frames += ((body, size))
            }
            o = body + size + (size & 1) // chunks pad to even offsets
          }
        }

        walk(12, payload.length, 0)
        val fs = frames.result()
        // dimension sanity: a crafted header claiming huge biWidth/Height
        // would overflow the stride·height arithmetic and allocate wild
        // rasters; nothing legitimate in-container exceeds 1<<15
        if (vidsStream < 0 || w <= 0 || h <= 0 || w > (1 << 15) || h > (1 << 15) ||
          fs.isEmpty) None
        else Some(Video(w, h, topDown, bits, vidsHandlerMjpg || comprMjpg, fs))
      } catch { case scala.util.control.NonFatal(_) => None }
    }

    /** Decode one stored frame to pixels: raw 24-bit BI_RGB DIB
      * (bottom-up BGR rows, 4-byte-aligned stride) decoded directly —
      * bit-exact; MJPEG frames handed to the JDK's JPEG reader. */
    def decodeStoredFrame(
      payload: Array[Byte], v: Video, idx: Int
    ): Option[java.awt.image.BufferedImage] = {
      val (off, len) = v.frames(idx)
      if (v.mjpeg) {
        try Option(javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payload, off, len)))
        catch { case scala.util.control.NonFatal(_) => None }
      } else if (v.bitCount == 24) {
        // own bounds check (not just walk()'s) + the same NonFatal
        // fallback as the MJPEG branch: a frame entry escaping a
        // refactored walk() must degrade to None, not throw per-row
        if (off < 0 || len < 0 || off.toLong + len.toLong > payload.length) None
        else try {
          val stride = ((v.width * 3 + 3) / 4) * 4
          if (len.toLong < stride.toLong * v.height) None
          else {
            val img = new java.awt.image.BufferedImage(
              v.width, v.height, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < v.height) {
              val srcRow = if (v.topDown) y else v.height - 1 - y
              var x = 0
              val rowOff = off + srcRow * stride
              while (x < v.width) {
                val p = rowOff + x * 3
                img.setRGB(x, y,
                  ((payload(p + 2) & 0xff) << 16) |
                    ((payload(p + 1) & 0xff) << 8) | (payload(p) & 0xff))
                x += 1
              }
              y += 1
            }
            Some(img)
          }
        } catch { case scala.util.control.NonFatal(_) => None }
      } else None
    }
  }

  /** One PCM window re-encoded as a standalone WAV via the JDK's WAVE
    * writer — the audio analogue of [[GifFrames]]' PNG re-encode
    * (lossless: 16-bit samples round-trip bit-exactly). */
  private def encodeWavWindow(
    rate: Int, channels: Int, samples: Array[Short], lo: Int, hi: Int
  ): Array[Byte] = {
    val nBytes = (hi - lo) * channels * 2
    val bytes = new Array[Byte](nBytes)
    var i = lo * channels
    var o = 0
    while (o < nBytes) {
      val s = samples(i)
      bytes(o) = (s & 0xff).toByte
      bytes(o + 1) = ((s >> 8) & 0xff).toByte
      i += 1; o += 2
    }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(bytes),
      pcm16Format(rate.toFloat, channels), (hi - lo).toLong)
    val baos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  /**
   * REAL frame sampling for JDK-readable AUDIO (WAV/AIFF/AU): frame `i`
   * of `nFrames` is the even temporal window of sample frames
   * `[⌊i·S/n⌋, ⌊(i+1)·S/n⌋)` of the payload's `S` frames, decoded via
   * the partition's reused [[AudioDecoder]] (endianness/μ-law/A-law
   * normalized to 16-bit PCM) and re-encoded as a standalone WAV —
   * lossless, so downstream [[decodeAudioFeatures]] sees exact samples.
   * A stream with fewer frames than `nFrames` yields empty-but-valid
   * WAV windows for the unpopulated tail (the window math, not a stub —
   * the payload IS audio, it just has nothing in that interval).
   * Non-audio and undecodable payloads fall back to the
   * [[Md5StubFrames]] stub bytes (the operator-wide convention). The
   * decoded PCM is cached per payload, so the n windows of one row pay
   * one decode.
   */
  val WavFrames: () => FrameDecoder = () =>
    new FrameDecoder {
      private val stub = Md5StubFrames()
      private val decoder = new AudioDecoder
      private var lastPayload: Array[Byte] = _
      private var lastPcm: Option[(Int, Int, Array[Short])] = None

      def decodeFrame(payload: Array[Byte], frameIdx: Int, nFrames: Int): Array[Byte] = {
        if (payload ne lastPayload) {
          lastPayload = payload
          lastPcm = decoder.decode(payload)
        }
        lastPcm match {
          case Some((rate, ch, samples)) =>
            val frames = samples.length / ch
            val lo = (frameIdx.toLong * frames / nFrames).toInt
            val hi = ((frameIdx + 1).toLong * frames / nFrames).toInt
            encodeWavWindow(rate, ch, samples, lo, math.max(lo, hi))
          case None => stub.decodeFrame(payload, frameIdx, nFrames)
        }
      }
    }

  /**
   * REAL frame sampling for VIDEO in the AVI container, for the two
   * codecs decodable with zero external dependencies: uncompressed
   * BI_RGB DIB frames (decoded directly from the demuxed chunk —
   * bit-deterministic) and MJPEG (each stored frame is a JPEG the JDK's
   * image reader decodes; determinism is the JPEG decoder's, which can
   * vary across JDK vendors — fine for pipelines, excluded from the
   * exact-literal oracle). Frame `i` of `nFrames` maps to stored frame
   * `⌊i·m/n⌋` (the [[GifFrames]] temporal-sampling policy), re-encoded
   * as PNG so downstream [[decodeFeatures]] sees exact pixels. The
   * demux (a single chunk-tree walk recording frame offsets, no frame
   * copies) is cached per payload. Compressed codecs (H.264, VP9, …)
   * and non-AVI containers fall back to the [[Md5StubFrames]] stub —
   * a deployment supplies a real codec through this same seam.
   */
  val AviFrames: () => FrameDecoder = () =>
    new FrameDecoder {
      private val stub = Md5StubFrames()
      private var lastPayload: Array[Byte] = _
      private var lastVideo: Option[AviDemux.Video] = None

      def decodeFrame(payload: Array[Byte], frameIdx: Int, nFrames: Int): Array[Byte] = {
        if (payload ne lastPayload) {
          lastPayload = payload
          lastVideo = AviDemux.parse(payload)
        }
        (lastVideo match {
          case Some(v) =>
            AviDemux.decodeStoredFrame(
              payload, v, (frameIdx.toLong * v.frames.size / nFrames).toInt)
              .map(encodePng)
          case None => None
        }).getOrElse(stub.decodeFrame(payload, frameIdx, nFrames))
      }
    }

  /**
   * Frame sampling: one media row explodes into `n` frame rows — the
   * 1→N row shape (and its shuffle-free, partition-local execution) is
   * the real contract. Frame CONTENT comes from the injected
   * [[FrameDecoder]] factory: [[GifFrames]] does REAL multi-frame
   * decode for animated GIF (the one JDK-readable animated format); the
   * default [[Md5StubFrames]] is the deterministic stub for formats
   * whose codecs the JDK lacks (MultimodalSpec shows an external codec
   * riding the same seam).
   */
  def sampleFrames(
    media: Dataset[MediaRecord],
    n: Int,
    decoder: () => FrameDecoder = Md5StubFrames
  ): Dataset[FrameRecord] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      val dec = decoder()
      onExhaustion(rows.flatMap { rec =>
        (0 until n).iterator.map(i =>
          FrameRecord(rec.doc_id, i, dec.decodeFrame(rec.payload, i, n)))
      })(() => dec.dispose())
    }
  }

  /**
   * Batched decode + feature extraction over media payloads.
   *
   * Image payloads get REAL pixel work: `javax.imageio` decode (reader
   * reused across the partition), actual width/height, and per-band mean
   * luminance features ([[bandLuminance]] — integer pixel sums, so the
   * floats are bit-deterministic). Undecodable payloads fall back to the
   * deterministic MD5-derived stub the DuckDB oracle re-derives for text
   * fixtures. The scale shape is the same either way: typed Dataset
   * in/out, per-partition batching amortizing codec init, no driver
   * involvement, payload never shuffled.
   */
  def decodeFeatures(
    media: Dataset[MediaRecord],
    featureDim: Int = 8,
    batchSize: Int = 64
  ): Dataset[DecodedMedia] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition init — codec readers + stub digest, built once
      val decoder = new ImageDecoder
      val digest = java.security.MessageDigest.getInstance("MD5")
      onExhaustion(rows.grouped(batchSize).flatMap { batch =>
        batch.map { rec =>
          decoder.decode(rec.payload) match {
            case Some(img) =>
              DecodedMedia(
                rec.doc_id, img.getWidth, img.getHeight,
                bandLuminance(img, featureDim))
            case None =>
              // deterministic stub for non-image payloads
              val h = digest.digest(rec.payload)
              val feats = Array.tabulate(featureDim)(i => (h(i % h.length) & 0xff) / 255.0f)
              DecodedMedia(
                rec.doc_id,
                width = ((h(0) & 0xff) % 64) + 1,
                height = ((h(1) & 0xff) % 64) + 1,
                features = feats
              )
          }
        }
      })(() => decoder.dispose())
    }
  }

  /**
   * Batched decode + feature extraction over AUDIO payloads — the audio
   * arm of [[decodeFeatures]], and like the image arm the content work
   * is REAL: `javax.sound.sampled` decode (WAV/AIFF/AU, any stored
   * encoding the JDK converts) yields the actual sample rate, channel
   * count, sample-frame count, and `featureDim` per-window RMS energy
   * features ([[windowRms]] — integer square-sums, bit-deterministic).
   * Non-audio payloads fall back to the deterministic MD5-derived stub
   * the DuckDB oracle re-derives for text fixtures (`n_samples` = the
   * payload byte length — real metadata even on the stub branch). Scale
   * shape: typed Dataset in/out, per-partition batching, no driver
   * involvement, payload never shuffled.
   */
  def decodeAudioFeatures(
    media: Dataset[MediaRecord],
    featureDim: Int = 8,
    batchSize: Int = 64
  ): Dataset[DecodedAudio] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      val decoder = new AudioDecoder
      val digest = java.security.MessageDigest.getInstance("MD5")
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { rec =>
          decoder.decode(rec.payload) match {
            case Some((rate, ch, samples)) =>
              DecodedAudio(
                rec.doc_id, rate, ch, (samples.length / ch).toLong,
                windowRms(samples, ch, featureDim))
            case None =>
              // deterministic stub for non-audio payloads — the same
              // hash-byte derivation as decodeFeatures' stub branch
              val h = digest.digest(rec.payload)
              val feats = Array.tabulate(featureDim)(i => (h(i % h.length) & 0xff) / 255.0f)
              DecodedAudio(
                rec.doc_id,
                sample_rate = ((h(0) & 0xff) % 64) + 1,
                channels = ((h(1) & 0xff) % 64) + 1,
                n_samples = rec.payload.length.toLong,
                features = feats
              )
          }
        }
      }
    }
  }
}
