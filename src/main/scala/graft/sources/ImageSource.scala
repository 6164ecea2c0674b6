package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.documents

/** REAL image multimodal path — decode, resize, and feature-extract via
  * the JDK's own codecs (`javax.imageio` ships PNG/JPEG/BMP/GIF/TIFF
  * readers in java.desktop; zero external dependencies, headless-safe).
  * Video decodes in `VideoSource` (MJPEG-in-AVI); formats no JDK codec
  * reads (e.g. WebP/AVIF) would swap their codec inside the same
  * mapPartitions boundary, with schemas and shuffles unchanged.
  *
  * Contract (same as the audio path in MediaSource):
  *   image row = (image_id, content: binary)
  *   decode    = mapPartitions over opaque bytes, codec per executor
  *   features  = fixed-width numeric columns + a histogram array
  *
  * Undecodable content yields a row with decoded=false and null
  * features — unknown, not silently dropped (same verdict discipline as
  * contamination and q62).
  *
  * Scale shape: embarrassingly parallel narrow pass; the only data
  * movement is the scan itself. At 100 TB the binary column rides
  * parquet/ORC like any other, and decode cost scales with bytes, not
  * rows — exactly the shape `spark.read.format("binaryFile")` feeds.
  */
object ImageSource {

  /** Deterministic PNG test-pattern generator (seeded gradient +
    * blocks), executor-side: real bytes through the real encoder.
    */
  private[graft] def renderPng(seed: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val rnd = new java.util.Random(seed)
    val (br, bg, bb) = (rnd.nextInt(256), rnd.nextInt(256), rnd.nextInt(256))
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = (br + x * 255 / math.max(1, w - 1)) % 256
        val g = (bg + y * 255 / math.max(1, h - 1)) % 256
        img.setRGB(x, y, (r << 16) | (g << 8) | bb)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** (image_id, content: real PNG bytes) derived deterministically from
    * the documents table — sizes vary with the doc so resize is
    * exercised on non-square inputs.
    */
  def generateImages(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    documents(s, d).select(col("doc_id"), col("n_chars"))
      .as[(Long, Long)]
      .mapPartitions { it =>
        // the bytes are already in memory: without this, ImageIO wraps
        // every stream in a FileCacheImageInputStream — a temp-file
        // create/write/delete per row under java.io.tmpdir
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, nChars) =>
          val w = (16 + (nChars % 48)).toInt
          val h = (16 + (id % 32)).toInt
          (id, renderPng(id * 0x9e3779b97f4a7c15L, w, h))
        }
      }
      .toDF("image_id", "content")
  }

  /** Decode + bilinear resize, shared by the feature pass and the
    * oracle pixel dump: (original w, original h, row-major RGB ints of
    * the resizeTo×resizeTo bitmap), None when undecodable. */
  private[sources] def resizedRgb(bytes: Array[Byte],
      resizeTo: Int): Option[(Int, Int, Array[Int])] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case _: Exception => null }
    if (img == null) None
    else {
      val dst = new java.awt.image.BufferedImage(resizeTo, resizeTo,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g2 = dst.createGraphics()
      g2.setRenderingHint(
        java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g2.drawImage(img, 0, 0, resizeTo, resizeTo, null)
      g2.dispose()
      val px = new Array[Int](resizeTo * resizeTo)
      var i = 0
      var y = 0
      while (y < resizeTo) {
        var x = 0
        while (x < resizeTo) { px(i) = dst.getRGB(x, y); i += 1; x += 1 }
        y += 1
      }
      Some((img.getWidth, img.getHeight, px))
    }
  }

  /** Decode → bilinear resize to resizeTo×resizeTo → channel means and
    * a 16-bin luminance histogram (Rec.601 luma).
    *
    * The per-pixel luma is accumulated and binned in INTEGER form
    * (299·r + 587·g + 114·b, milli-luma), so sums are exact under any
    * pixel order / partitioning, and the only float step is the final
    * mean division — rounded with the same HALF_UP convention as SQL
    * `round`, which is what lets the DuckDB oracle re-run this
    * aggregation over the dumped pixels and hash-match exactly.
    */
  def decodeImageFeatures(images: DataFrame, resizeTo: Int = 32): DataFrame = {
    val spark = images.sparkSession
    import spark.implicits._
    images.select(col("image_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        // in-memory stream cache — see generateImages
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, bytes) =>
          resizedRgb(bytes, resizeTo) match {
            case None =>
              (id, false, None: Option[Int], None: Option[Int],
                None: Option[Double], None: Option[Double],
                None: Option[Double], None: Option[Seq[Long]])
            case Some((w, h, px)) =>
              var (sr, sg, sb) = (0L, 0L, 0L)
              val hist = new Array[Long](16)
              var i = 0
              while (i < px.length) {
                val p = px(i)
                val r = (p >> 16) & 0xff
                val g = (p >> 8) & 0xff
                val b = p & 0xff
                sr += r; sg += g; sb += b
                // 16 luma bins of width 16 = 16000 milli-luma each
                hist(math.min(15, (299 * r + 587 * g + 114 * b) / 16000)) += 1
                i += 1
              }
              val n = resizeTo.toDouble * resizeTo
              def norm(v: Long) = BigDecimal(v.toDouble / n / 255.0)
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
              (id, true, Some(w), Some(h), Some(norm(sr)), Some(norm(sg)),
                Some(norm(sb)), Some(hist.toSeq))
          }
        }
      }
      .toDF("image_id", "decoded", "width", "height",
        "mean_r", "mean_g", "mean_b", "luma_hist")
  }

  /** Oracle-input dumps for one resize tier: per-image meta
    * (decode verdict + original dims — the engine-specific codec half)
    * and the resized bitmap as per-pixel rows (image_id, px, r, g, b).
    * DuckDB re-runs the whole feature aggregation — channel means,
    * integer-luma histogram binning — from these. */
  private[sources] def dumpPixels(s: SparkSession, images: DataFrame,
      resizeTo: Int,
      tag: String): Unit = if (graft.OracleDump.enabled) {
    import s.implicits._
    val src = images.select(col("image_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
    graft.OracleDump.dump(
      src.mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { case (id, bytes) =>
          resizedRgb(bytes, resizeTo) match {
            case None => (id, false, None: Option[Int], None: Option[Int])
            case Some((w, h, _)) => (id, true, Some(w), Some(h))
          }
        }
      }.toDF("image_id", "decoded", "width", "height"),
      s"$OracleDumpDir/image_meta_$tag.parquet")
    graft.OracleDump.dump(
      src.mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap { case (id, bytes) =>
          resizedRgb(bytes, resizeTo) match {
            case None => Iterator.empty
            case Some((_, _, px)) => px.iterator.zipWithIndex.map {
              case (p, i) =>
                (id, i, (p >> 16) & 0xff, (p >> 8) & 0xff, p & 0xff)
            }
          }
        }
      }.toDF("image_id", "px", "r", "g", "b"),
      s"$OracleDumpDir/image_px_$tag.parquet")
  }

  private[graft] val OracleDumpDir = "/tmp/graft_image_oracle"

  /** Driver-contract entry (hard-oracled): real PNG generation → real
    * decode/resize/features, end to end inside Verify/Bench. The
    * histogram array is emitted as a comma-joined string: the driver's
    * check sorts the dumped parquet in pandas, which cannot sort (hash)
    * ndarray cells — library callers use `decodeImageFeatures` and get
    * the typed array column. The codec half (JDK decode + bilinear
    * resize) dumps as per-pixel rows; DuckDB re-runs the whole feature
    * aggregation from them (see [[dumpPixels]]).
    */
  def imageDecodeQuery(s: SparkSession, d: String): DataFrame = {
    // ONE generation (r18 review): two generateImages calls plus
    // dumpPixels' own two actions re-encoded the PNG corpus three
    // times per Verify run; under dump mode pin one materialization
    // (a no-op cost without the flag — single action, lazy plan)
    val imgs = if (graft.OracleDump.enabled)
      graft.Checkpointing.truncate(generateImages(s, d))
    else generateImages(s, d)
    dumpPixels(s, imgs, resizeTo = 32, tag = "32")
    decodeImageFeatures(imgs)
      .withColumn("luma_hist",
        array_join(transform(col("luma_hist"), _.cast("string")), ","))
      .orderBy("image_id")
  }

  /** Driver-contract entry (hard-oracled like [[imageDecodeQuery]]):
    * the production feature-extract job — real PNGs decoded, resized to
    * 64×64, channel means emitted in the compact (id, dims, means)
    * feature schema a training pipeline joins on. Distinct from
    * `nq_image_decode`, the full decode dump (verdict flag + histogram
    * at 32): this is the narrow projection a 100 TB feature pass
    * actually ships downstream. Backed by the REAL JDK decoder.
    */
  def imageFeaturesQuery(s: SparkSession, d: String): DataFrame = {
    // one generation — see imageDecodeQuery (r18)
    val imgs = if (graft.OracleDump.enabled)
      graft.Checkpointing.truncate(generateImages(s, d))
    else generateImages(s, d)
    dumpPixels(s, imgs, resizeTo = 64, tag = "64")
    decodeImageFeatures(imgs, resizeTo = 64)
      .select(col("image_id"), col("width"), col("height"),
        col("mean_r"), col("mean_g"), col("mean_b"))
      .orderBy("image_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nq_image_decode" -> (imageDecodeQuery _),
    "nq_image_features" -> (imageFeaturesQuery _))

  // Channel means: exact integer sums (any order) → one double division
  // chain identical to the Scala side's → round 6. Histogram: the same
  // integer milli-luma binning — no float ever enters the bin decision.
  private def meansSql(tag: String, n: Int): String =
    s"""px AS (
       |  SELECT image_id, count(*) AS n,
       |    sum(r) AS sr, sum(g) AS sg, sum(b) AS sb
       |  FROM read_parquet('$OracleDumpDir/image_px_$tag.parquet/*.parquet')
       |  GROUP BY 1),
       |m AS (SELECT * FROM
       |  read_parquet('$OracleDumpDir/image_meta_$tag.parquet/*.parquet')),
       |means AS (
       |  SELECT image_id,
       |    round(sr::DOUBLE / $n.0 / 255.0, 6) AS mean_r,
       |    round(sg::DOUBLE / $n.0 / 255.0, 6) AS mean_g,
       |    round(sb::DOUBLE / $n.0 / 255.0, 6) AS mean_b
       |  FROM px)""".stripMargin

  val oracle: Map[String, String] = Map(
    "nq_image_decode" ->
      s"""WITH ${meansSql("32", 1024)},
         |bins AS (
         |  SELECT image_id,
         |    least(15, (299 * r + 587 * g + 114 * b) // 16000) AS bin,
         |    count(*) AS c
         |  FROM read_parquet('$OracleDumpDir/image_px_32.parquet/*.parquet')
         |  GROUP BY 1, 2),
         |allbins AS (
         |  SELECT m.image_id, gs.bin
         |  FROM m, (SELECT unnest(range(16)) AS bin) gs
         |  WHERE m.decoded),
         |hists AS (
         |  SELECT a.image_id,
         |    string_agg(coalesce(c.c, 0)::VARCHAR, ',' ORDER BY a.bin)
         |      AS luma_hist
         |  FROM allbins a LEFT JOIN bins c
         |    ON c.image_id = a.image_id AND c.bin = a.bin
         |  GROUP BY a.image_id)
         |SELECT m.image_id, m.decoded, m.width, m.height,
         |  e.mean_r, e.mean_g, e.mean_b, h.luma_hist
         |FROM m LEFT JOIN means e USING (image_id)
         |LEFT JOIN hists h USING (image_id)
         |ORDER BY image_id""".stripMargin,
    "nq_image_features" ->
      s"""WITH ${meansSql("64", 4096)}
         |SELECT m.image_id, m.width, m.height,
         |  e.mean_r, e.mean_g, e.mean_b
         |FROM m LEFT JOIN means e USING (image_id)
         |ORDER BY image_id""".stripMargin)
}
