package graft.ops.ext

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.io.ByteArrayInputStream
import scala.util.Try

/** Multimodal (image/audio/video) columns as opaque binary + typed
  * metadata (SURVEY §2.12 X4).
  *
  * Real end-to-end: the binary-file source, media-format sniffing from
  * magic bytes (pure expressions over the binary column), REAL image
  * decode (PNG/JPEG/GIF via `javax.imageio` — on every JVM, offline-safe)
  * emitting true width/height + per-channel pixel means, and REAL audio
  * decode (WAV via `javax.sound.sampled`) emitting frame count + sample
  * statistics. Only video (and any codec the JVM lacks) falls back to
  * [[byteStats]] — a clearly-marked deterministic stand-in with the same
  * batched `mapPartitions` shape a real video decoder would use.
  *
  * At scale: `binaryFile` reads parallelize per file;
  * `spark.sql.files.maxPartitionBytes` + `pathGlobFilter` control batch
  * shape; features land in a flat struct so downstream filters prune
  * columns without touching payload bytes. The decode is the one place a
  * Catalyst expression genuinely cannot go (stateful codec objects), so
  * it is an `rdd.mapPartitions` — one iterator pass per partition, no
  * driver collect.
  */
object Multimodal {

  /** Read a directory of media files: (path, modificationTime, length,
    * content binary) — Spark's binaryFile source.
    */
  def readBinary(spark: SparkSession, dir: String, glob: String = "*")
      : DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .option("recursiveFileLookup", "true")
      .load(dir)

  /** Sniff media container from magic bytes — pure expressions on the
    * first payload bytes; no decode.
    */
  def withFormat(df: DataFrame, contentCol: String = "content"): DataFrame = {
    val head8 = hex(substring(col(contentCol), 1, 8))
    val head4 = hex(substring(col(contentCol), 1, 4))
    val riffType = hex(substring(col(contentCol), 9, 4))
    df.withColumn("format",
      when(head8.startsWith("89504E470D0A1A0A"), "png")
        .when(head4.startsWith("FFD8FF"), "jpeg")
        .when(head4 === "47494638", "gif")
        .when(head4 === "52494646" && riffType === "57415645", "wav")
        .when(head4 === "52494646" && riffType === "41564920", "avi")
        .when(head4 === "1A45DFA3", "mkv/webm")
        .when(hex(substring(col(contentCol), 5, 4)) === "66747970", "mp4")
        .otherwise("unknown"))
  }

  /** Feature record emitted per media object. For images the feature
    * vector is the per-channel pixel means [r, g, b]; for WAV audio it is
    * [mean, min, max] of the unsigned sample values; for undecodable
    * payloads it is the [[byteStats]] fallback.
    */
  val FeatureSchema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("format", StringType, nullable = true),
    StructField("n_bytes", LongType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("n_frames", IntegerType, nullable = true),
    StructField("feature", ArrayType(DoubleType), nullable = true)))

  /** Deterministic byte-bucket means — the documented STAND-IN feature
    * for formats with no JVM codec (video; or corrupt payloads). Real
    * statistics of the raw bytes, fake as a *decode*.
    */
  private def byteStats(bytes: Array[Byte], dim: Int): Seq[Double] = {
    if (bytes.isEmpty) return Seq.fill(dim)(0.0)
    val sums = new Array[Long](dim); val cnts = new Array[Long](dim)
    var i = 0
    while (i < bytes.length) {
      val b = i % dim; sums(b) += bytes(i) & 0xff; cnts(b) += 1; i += 1
    }
    (0 until dim).map(d =>
      if (cnts(d) > 0) sums(d).toDouble / cnts(d) else 0.0)
  }

  /** REAL image decode: width/height + exact per-channel means. Integer
    * pixel sums (exact, < 2^53) divided once — deterministic doubles.
    */
  private def decodeImage(bytes: Array[Byte])
      : Option[(Int, Int, Seq[Double])] =
    Try {
      val img = javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes))
      if (img == null) None
      else {
        val (w, h) = (img.getWidth, img.getHeight)
        var (sr, sg, sb) = (0L, 0L, 0L)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val p = img.getRGB(x, y)
            sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
            x += 1
          }
          y += 1
        }
        val n = w.toLong * h
        Some((w, h, Seq(sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)))
      }
    }.toOption.flatten

  /** REAL audio decode (WAV/PCM via javax.sound): frame count + unsigned
    * sample statistics over the raw sample bytes.
    */
  private def decodeWav(bytes: Array[Byte])
      : Option[(Int, Seq[Double])] =
    Try {
      val ais = javax.sound.sampled.AudioSystem
        .getAudioInputStream(new ByteArrayInputStream(bytes))
      try {
        val frames = ais.getFrameLength.toInt
        val buf = ais.readAllBytes()
        if (buf.isEmpty) Some((frames, Seq(0.0, 0.0, 0.0)))
        else {
          var sum = 0L; var mn = 255; var mx = 0
          var i = 0
          while (i < buf.length) {
            val v = buf(i) & 0xff
            sum += v; if (v < mn) mn = v; if (v > mx) mx = v; i += 1
          }
          Some((frames, Seq(sum.toDouble / buf.length, mn.toDouble,
            mx.toDouble)))
        }
      } finally ais.close()
    }.toOption.flatten

  /** Decode a binary-source frame into [[FeatureSchema]] records:
    * real image + WAV decode, byte-stat fallback for the rest. Batched
    * per partition; payload bytes never leave the executor.
    */
  def decodeFeatures(df: DataFrame, dim: Int = 8): DataFrame = {
    val spark = df.sparkSession
    val withFmt = withFormat(df)
    val rdd = withFmt.select("path", "format", "length", "content").rdd
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false) // memory-backed streams
        it.map { r =>
          val path = r.getString(0)
          val fmt = r.getString(1)
          val nBytes = r.getLong(2)
          val bytes = Option(r.get(3))
            .map(_.asInstanceOf[Array[Byte]]).getOrElse(Array.empty[Byte])
          val (w, h, nf, feat) = fmt match {
            case "png" | "jpeg" | "gif" =>
              decodeImage(bytes) match {
                case Some((iw, ih, f)) =>
                  (Integer.valueOf(iw), Integer.valueOf(ih),
                    null: Integer, f)
                case None =>
                  (null: Integer, null: Integer, null: Integer,
                    byteStats(bytes, dim))
              }
            case "wav" =>
              decodeWav(bytes) match {
                case Some((frames, f)) =>
                  (null: Integer, null: Integer, Integer.valueOf(frames), f)
                case None =>
                  (null: Integer, null: Integer, null: Integer,
                    byteStats(bytes, dim))
              }
            case _ =>
              (null: Integer, null: Integer, null: Integer,
                byteStats(bytes, dim))
          }
          Row(path, fmt, nBytes, w, h, nf, feat)
        }
      }
    spark.createDataFrame(rdd, FeatureSchema)
  }

  /** 64-bit difference hash (dHash) of a decoded image: box-average
    * the gray channel onto a 9×8 grid, set bit (row·8+col) when the
    * left cell's mean exceeds its right neighbour's. All-integer:
    * cell sums are exact Longs and the mean comparison cross-multiplies
    * (sumL·nR > sumR·nL) — no float ever enters, so the hash is
    * bit-reproducible on any JVM. Insensitive to uniform brightness
    * shift (both means move together) and to re-encoding through any
    * lossless codec — the properties that make it a NEAR-dup key where
    * an exact byte hash only catches identical files.
    */
  private[graft] def dHashFromImage(img: java.awt.image.BufferedImage)
      : Option[Long] = {
    val (w, h) = (img.getWidth, img.getHeight)
    if (w < 9 || h < 8) return None
    // sums(cy)(cx) = Σ (r+g+b) over the cell's pixels; counts alongside
    val sums = Array.ofDim[Long](8, 9)
    val cnts = Array.ofDim[Long](8, 9)
    var y = 0
    while (y < h) {
      val cy = (y.toLong * 8 / h).toInt
      var x = 0
      while (x < w) {
        val cx = (x.toLong * 9 / w).toInt
        val p = img.getRGB(x, y)
        sums(cy)(cx) += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
        cnts(cy)(cx) += 1
        x += 1
      }
      y += 1
    }
    var hash = 0L
    var cy = 0
    while (cy < 8) {
      var cx = 0
      while (cx < 8) {
        // meanL > meanR without division: sumL·nR > sumR·nL
        if (sums(cy)(cx) * cnts(cy)(cx + 1) >
            sums(cy)(cx + 1) * cnts(cy)(cx))
          hash |= 1L << (cy * 8 + cx)
        cx += 1
      }
      cy += 1
    }
    Some(hash)
  }

  /** Difference hash of an audio file's energy envelope — the WAV
    * counterpart of [[dHashFromImage]]: slice the unsigned 8-bit PCM
    * samples into `windows` equal spans, take each span's integer
    * absolute-deviation-from-midpoint sum, and set bit w when span w
    * is louder than span w+1 (cross-multiplied — no float). Invariant
    * to re-encoding and to uniform gain (both sides scale together),
    * the properties that make it a near-dup key for audio.
    */
  private[graft] def envelopeHashFromSamples(buf: Array[Byte],
      windows: Int): Option[Long] = {
    require(windows >= 2 && windows <= 64)
    if (buf.length < windows) return None
    val sums = new Array[Long](windows)
    val cnts = new Array[Long](windows)
    var i = 0
    while (i < buf.length) {
      val w = (i.toLong * windows / buf.length).toInt
      sums(w) += math.abs((buf(i) & 0xff) - 128)
      cnts(w) += 1
      i += 1
    }
    var hash = 0L
    var w = 0
    while (w < windows - 1) {
      if (sums(w) * cnts(w + 1) > sums(w + 1) * cnts(w))
        hash |= 1L << w
      w += 1
    }
    Some(hash)
  }

  /** Audio envelope fingerprint per file: (path, format, afp) with afp
    * null for non-WAV or undecodable payloads. Feeds
    * [[Dedup.hammingNearDups]] like the image dHash.
    */
  def audioEnvelopeHash(df: DataFrame, windows: Int = 16): DataFrame = {
    val spark = df.sparkSession
    val rdd = withFormat(df).select("path", "format", "content").rdd
      .mapPartitions { it =>
        it.map { r =>
          val path = r.getString(0)
          val fmt = r.getString(1)
          val bytes = Option(r.get(2))
            .map(_.asInstanceOf[Array[Byte]]).getOrElse(Array.empty[Byte])
          val hash: java.lang.Long =
            if (fmt != "wav") null
            else Try {
              val ais = javax.sound.sampled.AudioSystem
                .getAudioInputStream(new ByteArrayInputStream(bytes))
              try ais.readAllBytes() finally ais.close()
            }.toOption.flatMap(envelopeHashFromSamples(_, windows))
              .map(java.lang.Long.valueOf).orNull
          Row(path, fmt, hash)
        }
      }
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("format", StringType, nullable = true),
      StructField("afp", LongType, nullable = true))))
  }

  /** Perceptual hash per image file: (path, format, dhash) with dhash
    * null for non-images, undecodable payloads, or images smaller than
    * the 9×8 grid. Feeds [[Dedup.hammingNearDups]] for corpus-scale
    * image near-dup pairs (band-bucketed, never all-pairs).
    */
  def dHash(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val rdd = withFormat(df).select("path", "format", "content").rdd
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { r =>
          val path = r.getString(0)
          val fmt = r.getString(1)
          val bytes = Option(r.get(2))
            .map(_.asInstanceOf[Array[Byte]]).getOrElse(Array.empty[Byte])
          val hash: java.lang.Long = fmt match {
            case "png" | "jpeg" | "gif" =>
              Try(javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes)))
                .toOption.flatMap(Option(_)).flatMap(dHashFromImage)
                .map(java.lang.Long.valueOf).orNull
            case _ => null
          }
          Row(path, fmt, hash)
        }
      }
    spark.createDataFrame(rdd, StructType(Seq(
      StructField("path", StringType, nullable = false),
      StructField("format", StringType, nullable = true),
      StructField("dhash", LongType, nullable = true))))
  }

  /** Frame sampling over the GVID raw-video container ("GVID" magic +
    * 4 ASCII-digit frame count + n × 64-byte frames): every `stride`-th
    * frame sliced out by pure binary `substring` expressions — header
    * parse, frame addressing and digesting all stay inside whole-stage
    * codegen, no decoder library and no RDD hop. This is the
    * frame-sample plumbing of a video pipeline with the codec decode
    * stubbed by a deterministic container (the image/audio decoders in
    * this file are real; video codecs aren't in the container, per the
    * brief). At scale: binaryFile splits per file, a frame slice never
    * copies the whole payload, and the output carries digests, not
    * frame bytes.
    */
  def frameSample(df: DataFrame, stride: Int): DataFrame =
    df.select(substring_index(col("path"), "/", -1).as("file"),
        col("content"))
      .filter(expr("CAST(substring(content, 1, 4) AS STRING)") === "GVID")
      .withColumn("n_frames",
        expr("CAST(CAST(substring(content, 5, 4) AS STRING) AS BIGINT)"))
      .select(col("file"), col("n_frames"), col("content"),
        explode(sequence(lit(0L), col("n_frames") - 1, lit(stride.toLong)))
          .as("frame_idx"))
      .select(col("file"), col("n_frames"), col("frame_idx"),
        md5(expr("substring(content, CAST(9 + frame_idx * 64 AS INT), 64)"))
          .as("digest"))
}
