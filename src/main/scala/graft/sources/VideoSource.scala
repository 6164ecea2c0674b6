package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.documents

/** REAL video multimodal path — MJPEG-in-AVI, decoded with nothing but
  * the JDK: the AVI container is a RIFF tree (hand-walked ByteBuffer,
  * the same move as the WAV path in MediaSource), and every frame
  * payload is a JPEG that `javax.imageio` decodes. Containers/codecs
  * the JDK cannot read (e.g. H.264/VP9) would swap their decoder inside
  * the same mapPartitions boundary, with schemas and shuffles
  * unchanged.
  *
  * Generalizes the reference's A3 media-decode surface
  * (voice_classifier.py:80 loads media row-at-a-time on the driver) the
  * same way the audio/image paths do: decode runs inside mapPartitions
  * on executors, codecs initialize once per partition, one corrupt file
  * yields a verdict row instead of failing a 10k-file scan.
  *
  * Scale shape: embarrassingly parallel narrow pass — the only data
  * movement is the binary scan itself; frame explosion multiplies rows
  * by the sampling rate but never shuffles.
  */
object VideoSource {

  // ------------------------------------------------------------ writer
  private def le16(b: java.io.ByteArrayOutputStream, v: Int): Unit = {
    b.write(v & 0xff); b.write((v >> 8) & 0xff)
  }
  private def le32(b: java.io.ByteArrayOutputStream, v: Long): Unit = {
    b.write((v & 0xff).toInt); b.write(((v >> 8) & 0xff).toInt)
    b.write(((v >> 16) & 0xff).toInt); b.write(((v >> 24) & 0xff).toInt)
  }
  private def cc(b: java.io.ByteArrayOutputStream, s: String): Unit =
    b.write(s.getBytes("US-ASCII"))

  /** Minimal standards-shaped MJPEG-in-AVI container: RIFF('AVI ') →
    * LIST(hdrl){avih, LIST(strl){strh('vids'/'MJPG'), strf(BITMAPINFO)}}
    * → LIST(movi){'00dc' JPEG per frame, even-padded} → idx1. The frame
    * rate rides in strh as dwRate/dwScale — container-carried metadata,
    * like the WAV header's sample rate (the property a container buys).
    */
  private[graft] def aviBytes(frames: Seq[Array[Byte]], fps: Int,
      w: Int, h: Int): Array[Byte] = {
    require(fps > 0, s"aviBytes: fps must be positive, got $fps")
    val maxFrame = if (frames.isEmpty) 0 else frames.map(_.length).max

    val strl = new java.io.ByteArrayOutputStream()
    cc(strl, "strh"); le32(strl, 56)
    cc(strl, "vids"); cc(strl, "MJPG")
    le32(strl, 0); le16(strl, 0); le16(strl, 0) // flags, priority, language
    le32(strl, 0)                               // initial frames
    le32(strl, 1); le32(strl, fps)              // dwScale / dwRate
    le32(strl, 0); le32(strl, frames.length)    // start, length (frames)
    le32(strl, maxFrame)                        // suggested buffer
    le32(strl, 0xffffffffL); le32(strl, 0)      // quality, sample size
    le16(strl, 0); le16(strl, 0); le16(strl, w); le16(strl, h) // rcFrame
    cc(strl, "strf"); le32(strl, 40)
    le32(strl, 40); le32(strl, w); le32(strl, h)
    le16(strl, 1); le16(strl, 24)               // planes, bit count
    cc(strl, "MJPG"); le32(strl, w.toLong * h * 3)
    le32(strl, 0); le32(strl, 0); le32(strl, 0); le32(strl, 0)

    val hdrl = new java.io.ByteArrayOutputStream()
    cc(hdrl, "avih"); le32(hdrl, 56)
    le32(hdrl, 1000000L / fps)                  // usec per frame
    le32(hdrl, maxFrame.toLong * fps)           // max bytes/sec
    le32(hdrl, 0)                               // padding granularity
    le32(hdrl, 0x10)                            // AVIF_HASINDEX
    le32(hdrl, frames.length); le32(hdrl, 0)    // total frames, initial
    le32(hdrl, 1)                               // streams
    le32(hdrl, maxFrame)                        // suggested buffer
    le32(hdrl, w); le32(hdrl, h)
    (0 until 4).foreach(_ => le32(hdrl, 0))     // reserved
    cc(hdrl, "LIST"); le32(hdrl, 4 + strl.size()); cc(hdrl, "strl")
    strl.writeTo(hdrl)

    val movi = new java.io.ByteArrayOutputStream()
    cc(movi, "movi")
    val offsets = frames.map { p =>
      val off = movi.size() // offset of the '00dc' fourcc from 'movi'
      cc(movi, "00dc"); le32(movi, p.length); movi.write(p)
      if ((p.length & 1) == 1) movi.write(0)
      off
    }

    val idx = new java.io.ByteArrayOutputStream()
    cc(idx, "idx1"); le32(idx, 16L * frames.length)
    frames.zip(offsets).foreach { case (p, off) =>
      cc(idx, "00dc"); le32(idx, 0x10) // AVIIF_KEYFRAME
      le32(idx, off); le32(idx, p.length)
    }

    val out = new java.io.ByteArrayOutputStream()
    cc(out, "RIFF")
    le32(out, 4L + (8 + 4 + hdrl.size()) + (8 + movi.size()) + idx.size())
    cc(out, "AVI ")
    cc(out, "LIST"); le32(out, 4 + hdrl.size()); cc(out, "hdrl")
    hdrl.writeTo(out)
    cc(out, "LIST"); le32(out, movi.size())
    movi.writeTo(out)
    idx.writeTo(out)
    out.toByteArray
  }

  // ------------------------------------------------------------ reader
  /** RIFF walk (same discipline as the WAV container read): returns
    * (scale, rate, JPEG payloads) from the first 'vids' stream, or None
    * for anything malformed. Tolerates unknown chunks/lists — skips by
    * declared size — so files from other muxers still parse: frames are
    * matched by the VIDS STREAM'S OWN chunk prefix (##dc/##db where ##
    * is its strl position), so a second stream's chunks don't
    * double-count, and LIST('rec ') groupings inside movi (interleaved
    * muxer output) are descended into like the spec allows.
    */
  private[graft] def parseAvi(bytes: Array[Byte]): Option[(Int, Int, Vector[Array[Byte]])] = {
    try {
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def four(): String = {
        val a = new Array[Byte](4); bb.get(a); new String(a, "US-ASCII")
      }
      if (four() != "RIFF") return None
      bb.getInt // riff size — trust actual buffer bounds instead
      if (four() != "AVI ") return None
      var scale = 0; var rate = 0
      // AVI stream numbers are strl positions within hdrl (stream 0 is
      // the first strh, etc.) — hdrl precedes movi, so the prefix is
      // known before any frame chunk appears
      var strhSeen = 0; var vidsPrefix: String = null
      val frames = Vector.newBuilder[Array[Byte]]
      // depth cap: a crafted file of nothing but nested LIST headers
      // would otherwise recurse ~bytes/12 deep and StackOverflowError —
      // an Error, which escapes the Exception catch below and kills the
      // task instead of yielding a verdict row. Real AVI nests 2-3 deep.
      def walkList(end: Int, inMovi: Boolean, depth: Int): Unit = {
        if (depth > 64)
          throw new IllegalArgumentException("LIST nesting too deep")
        while (bb.position() + 8 <= end) {
          val id = four()
          val sz = bb.getInt
          // LONG arithmetic: position + sz overflows Int for sz near
          // Int.MaxValue, which would bypass this check and send a ~2 GB
          // allocation (OutOfMemoryError, uncatchable below) at the
          // frame read for a 40-byte crafted file
          if (sz < 0 || bb.position().toLong + sz > end)
            throw new IllegalArgumentException(s"chunk $id overruns list")
          val next = math.min(bb.position().toLong + sz + (sz & 1),
            end.toLong).toInt
          if (id == "LIST") {
            val lt = four()
            // 'rec ' groups interleaved chunks INSIDE movi — its members
            // are movi members; anything else resets the movi context
            walkList(next, lt == "movi" || (inMovi && lt == "rec "),
              depth + 1)
          } else if (id == "strh" && sz >= 28) {
            val fccType = four()
            if (fccType == "vids" && vidsPrefix == null) {
              vidsPrefix = f"$strhSeen%02d"
              // skip fccHandler, dwFlags, wPriority+wLanguage,
              // dwInitialFrames to reach dwScale/dwRate
              bb.position(bb.position() + 16)
              scale = bb.getInt; rate = bb.getInt
            }
            strhSeen += 1
          } else if (inMovi && vidsPrefix != null &&
              (id == vidsPrefix + "dc" || id == vidsPrefix + "db")) {
            val p = new Array[Byte](sz); bb.get(p); frames += p
          }
          bb.position(next)
        }
      }
      walkList(bytes.length, inMovi = false, 0)
      if (scale <= 0 || rate <= 0) None else Some((scale, rate, frames.result()))
    } catch { case _: Exception => None }
  }

  // ------------------------------------------------- fixture generation
  /** Deterministic JPEG test frame: the seeded-gradient pattern of
    * ImageSource.renderPng, phase-shifted per frame index so consecutive
    * frames differ (motion), through the real JDK JPEG encoder.
    */
  private[graft] def jpegFrame(seed: Long, w: Int, h: Int, f: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rnd = new java.util.Random(seed)
    val (br, bg, bb) = (rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256))
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = (br + (x + 4 * f) * 255 / math.max(1, w - 1)) % 256
        val g = (bg + y * 255 / math.max(1, h - 1)) % 256
        img.setRGB(x, y, (r << 16) | (g << 8) | bb)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** (video_id, content: real MJPEG-AVI bytes) derived deterministically
    * from the documents table — frame counts vary with the doc (same
    * recipe the stub used), executor-side generation.
    */
  def generateVideos(s: SparkSession, d: String, fps: Int = 4): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false) // in-memory streams only
        it.map { case (id, nChars) =>
          val nFrames = (nChars % 8 + 1).toInt
          val w = (32 + (nChars % 32)).toInt
          val h = (24 + (id % 16)).toInt
          val frames = (0 until nFrames)
            .map(f => jpegFrame(id * 0x9e3779b97f4a7c15L, w, h, f))
          (id, aviBytes(frames, fps, w, h))
        }
      }
      .toDF("video_id", "content")
  }

  // ------------------------------------------------------- sinks/scans
  /** AVI sink: one <id>.avi per row (executor-side Hadoop-FS writes,
    * shared with the PCM/WAV sinks).
    */
  def writeAviFiles(df: DataFrame, idCol: String, aviCol: String,
      dir: String): Unit =
    MediaSource.writeBinaryFiles(
      df.select(col(idCol).cast("long"), col(aviCol)), "avi", dir)(
      _.getAs[Array[Byte]](1))

  /** AVI scan: binaryFile + container parse per partition; fps comes
    * from each file's OWN stream header. Non-numeric basenames are
    * skipped, undecodable content yields decoded=false (verdict, not
    * failure — same discipline as readWavFiles/ImageSource).
    */
  def readAviFiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.avi")
      .load(dir)
      .select(
        regexp_extract(col("path"), "(?:^|/)(\\d+)\\.avi$", 1).as("id_str"),
        col("content"))
      .filter(col("id_str") =!= "")
      // try_cast, not cast: under ANSI mode (Spark 4 default) a 20+
      // digit numeric basename would make cast THROW and fail the whole
      // scan — the same hostile-directory-entry the regexp filter
      // exists to skip
      .select(expr("try_cast(id_str AS BIGINT)").as("video_id"),
        col("content"))
      .filter(col("video_id").isNotNull)
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          parseAvi(bytes) match {
            case Some((scale, rate, frames)) =>
              (id, true, Some(frames.length),
                Some(math.rint(rate.toDouble / scale * 1e6) / 1e6))
            case None => (id, false, None: Option[Int], None: Option[Double])
          }
        }
      }
      .toDF("video_id", "decoded", "n_frames", "fps")
  }

  // ------------------------------------------------------ frame decode
  /** Decode + per-frame features in one mapPartitions pass: every
    * `every`-th frame → (frame_idx, container timestamp, dimensions,
    * Rec.601 mean luma). A video whose container or frame JPEG fails to
    * parse yields ONE decoded=false row with null frame columns.
    */
  def sampleFrameFeatures(videos: DataFrame, every: Int = 1): DataFrame = {
    require(every >= 1, s"sampleFrameFeatures: every must be ≥ 1, got $every")
    val spark = videos.sparkSession
    import spark.implicits._
    videos.select(col("video_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap { case (id, bytes) =>
          val bad = Iterator((id, false, None: Option[Long],
            None: Option[Double], None: Option[Int], None: Option[Int],
            None: Option[Double]))
          parseAvi(bytes) match {
            case Some((scale, rate, frames)) =>
              // features are computed INSIDE the decode loop so only one
              // uncompressed BufferedImage is live at a time — an eager
              // decode-all-then-score pass would hold every bitmap of a
              // long/high-res video simultaneously (~10-50× the JPEG
              // bytes each) and OOM on inputs whose compressed size is
              // harmless
              // integer milli-luma accumulation (299·r + 587·g + 114·b):
              // the sum is exact under any pixel order, and the only
              // float step is the final mean division — HALF_UP-rounded
              // like SQL round, so the DuckDB oracle re-aggregates the
              // dumped pixels to the same bits
              val feats = Vector.newBuilder[(Int, Int, Int, Long)]
              var corrupt = false
              frames.zipWithIndex.foreach { case (jpeg, f) =>
                if (!corrupt && f % every == 0) {
                  val img =
                    try javax.imageio.ImageIO.read(
                      new java.io.ByteArrayInputStream(jpeg))
                    catch { case _: Exception => null }
                  if (img == null) corrupt = true
                  else {
                    val (w, h) = (img.getWidth, img.getHeight)
                    var luma = 0L
                    var y = 0
                    while (y < h) {
                      var x = 0
                      while (x < w) {
                        val p = img.getRGB(x, y)
                        luma += 299 * ((p >> 16) & 0xff) +
                          587 * ((p >> 8) & 0xff) + 114 * (p & 0xff)
                        x += 1
                      }
                      y += 1
                    }
                    feats += ((f, w, h, luma))
                  }
                }
              }
              val sampled = feats.result()
              if (corrupt) bad
              // a VALID zero-frame AVI must not vanish from the output:
              // one decoded=true row with null frame columns keeps the
              // every-video-gets-a-row property (readAviFiles reports
              // the same file as n_frames=0)
              else if (sampled.isEmpty)
                Iterator((id, true, None: Option[Long],
                  None: Option[Double], None: Option[Int],
                  None: Option[Int], None: Option[Double]))
              else sampled.iterator.map { case (f, w, h, luma) =>
                def r6(v: Double) = BigDecimal(v)
                  .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
                (id, true, Some(f.toLong),
                  Some(r6(f.toDouble * scale / rate)), Some(w), Some(h),
                  Some(r6(luma.toDouble / 1000.0 / (w.toLong * h) / 255.0)))
              }
            case None => bad
          }
        }
      }
      .toDF("video_id", "decoded", "frame_idx", "frame_ts_sec",
        "width", "height", "mean_luma")
  }

  private[graft] val OracleDumpDir = "/tmp/graft_video_oracle"

  /** Oracle-input dumps: per-video container meta (decode verdict +
    * the stream-header scale/rate the timestamps derive from) and every
    * decoded frame's pixels as rows — DuckDB re-runs the per-frame mean
    * aggregation and the timestamp arithmetic from these. */
  private def dumpFramePixels(s: SparkSession, videos: DataFrame): Unit =
    if (graft.OracleDump.enabled) {
      import s.implicits._
      val src = videos.select(col("video_id").cast("long"), col("content"))
        .as[(Long, Array[Byte])]
      graft.OracleDump.dump(
        src.mapPartitions { it =>
          // no temp-file-per-frame (r18 review): the meta pass is the
          // FIRST decode action on a fresh executor, so without this
          // JVM-global flag every ImageIO.read spools through a
          // FileCacheImageInputStream (the ImageSource comment's cost)
          javax.imageio.ImageIO.setUseCache(false)
          it.map { case (id, bytes) =>
            parseAvi(bytes) match {
              case Some((scale, rate, frames)) =>
                // decoded flips to corrupt if ANY frame JPEG fails —
                // mirror sampleFrameFeatures' verdict
                val corrupt = frames.exists { jpeg =>
                  (try javax.imageio.ImageIO.read(
                    new java.io.ByteArrayInputStream(jpeg))
                  catch { case _: Exception => null }) == null
                }
                (id, !corrupt, Some(scale), Some(rate))
              case None => (id, false, None: Option[Int], None: Option[Int])
            }
          }
        }.toDF("video_id", "decoded", "scale", "rate"),
        s"$OracleDumpDir/video_meta.parquet")
      graft.OracleDump.dump(
        src.mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.flatMap { case (id, bytes) =>
            parseAvi(bytes).iterator.flatMap { case (_, _, frames) =>
              frames.zipWithIndex.iterator.flatMap { case (jpeg, f) =>
                val img =
                  try javax.imageio.ImageIO.read(
                    new java.io.ByteArrayInputStream(jpeg))
                  catch { case _: Exception => null }
                if (img == null) Iterator.empty
                else {
                  val (w, h) = (img.getWidth, img.getHeight)
                  for {
                    y <- (0 until h).iterator
                    x <- (0 until w).iterator
                  } yield {
                    val p = img.getRGB(x, y)
                    (id, f, w, h,
                      (p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)
                  }
                }
              }
            }
          }
        }.toDF("video_id", "frame_idx", "w", "h", "r", "g", "b"),
        s"$OracleDumpDir/video_px.parquet")
    }

  /** Driver-contract entry (hard-oracled): real AVI generation → real
    * container walk → real JPEG decode → per-frame luma/size features,
    * end to end inside Verify/Bench. The codec half dumps as per-pixel
    * rows + container meta; DuckDB re-derives every output row
    * (see [[dumpFramePixels]]).
    */
  def videoFramesQuery(s: SparkSession, d: String): DataFrame = {
    dumpFramePixels(s, generateVideos(s, d))
    sampleFrameFeatures(generateVideos(s, d))
      .orderBy("video_id", "frame_idx")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nq_video_frames" -> (videoFramesQuery _))

  // Per-frame mean: exact integer milli-luma sum (any order) → the same
  // double division chain as the Scala side → round 6. Timestamps:
  // frame_idx·scale/rate in doubles, identical operand order. The LEFT
  // JOIN keeps corrupt (decoded=false) and valid-but-empty videos as
  // single null-frame rows, mirroring sampleFrameFeatures.
  val oracle: Map[String, String] = Map(
    "nq_video_frames" ->
      s"""WITH m AS (SELECT * FROM
         |  read_parquet('$OracleDumpDir/video_meta.parquet/*.parquet')),
         |px AS (
         |  SELECT video_id, frame_idx, max(w) AS width, max(h) AS height,
         |    count(*) AS n, sum(299 * r + 587 * g + 114 * b) AS li
         |  FROM read_parquet('$OracleDumpDir/video_px.parquet/*.parquet')
         |  GROUP BY 1, 2)
         |SELECT m.video_id, m.decoded,
         |  CASE WHEN m.decoded THEN px.frame_idx::BIGINT END AS frame_idx,
         |  CASE WHEN m.decoded THEN
         |    round(px.frame_idx::DOUBLE * m.scale / m.rate, 6)
         |  END AS frame_ts_sec,
         |  CASE WHEN m.decoded THEN px.width END AS width,
         |  CASE WHEN m.decoded THEN px.height END AS height,
         |  CASE WHEN m.decoded THEN
         |    round(li::DOUBLE / 1000.0 / (px.width::BIGINT * px.height)
         |          / 255.0, 6)
         |  END AS mean_luma
         |FROM m LEFT JOIN px
         |  ON m.video_id = px.video_id AND m.decoded
         |ORDER BY m.video_id, frame_idx""".stripMargin)
}
