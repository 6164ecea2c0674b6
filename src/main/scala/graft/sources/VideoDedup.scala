package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-video FRAME-REUSE detection — the video member of the
  * multimodal dedup family (text / image / audio already have one):
  * real MJPEG-AVI containers are parsed ([[VideoSource.parseAvi]] —
  * the JDK-only demuxer), every frame dHashes through the image
  * pipeline ([[ImageDedup.dhash]] works on any ImageIO-decodable
  * bytes, JPEG included), and cross-video frame pairs surface through
  * the SHARED banded-hamming join. The curation shape: a crawl full
  * of re-containered / re-muxed copies duplicates FRAMES while no two
  * video FILES share a byte — frame-level perceptual hashing is the
  * standard gate (the image dHash lifted over the time axis).
  *
  * Identity packing: a frame is `video_id · 100 + frame_idx` (frame
  * counts ≪ 100 here; a production table keys (video, frame)
  * directly) so the banded join machinery applies unchanged; the
  * output unpacks both sides and keeps CROSS-video pairs only —
  * within-video self-similarity is static-scene detection, a
  * different operator.
  *
  * Oracle: the image oracle verbatim over per-frame 9×9 luma grids
  * (dumped through [[ImageSource.dumpPixels]] with the packed id),
  * plus the cross-video filter and unpacking.
  */
object VideoDedup {

  private val FramesPerVideo = 6
  private val Dim = 32

  /** `video_id · 100 + frame_idx` — the packing both dedup entries and
    * their oracles unpack with `DIV 100` / `% 100`. The bound is a HARD
    * guard, not a comment: a 100+-frame video would silently alias into
    * a neighboring video's id space and corrupt every downstream pair.
    * Long-video corpora key (video, frame) as a struct instead — see
    * the identity-packing scaladoc above. */
  private[sources] def packFrameId(videoId: Long, frameIdx: Int): Long = {
    require(frameIdx >= 0 && frameIdx < 100,
      s"frame_idx $frameIdx of video $videoId overflows the ·100 " +
        "packing — sample/keyframe the video first or key (video, " +
        "frame) directly")
    videoId * 100L + frameIdx
  }

  /** Block-noise JPEG frame (the [[ImageDedup.renderBlockPng]]
    * construction, JPEG-encoded): frames need STRUCTURE for a
    * perceptual hash — [[VideoSource.jpegFrame]]'s gradient ramps all
    * share one luma order and would collide corpus-wide. JPEG loss is
    * irrelevant here: dHash reads the DECODED pixels, and the planted
    * reuse copies frame BYTES, so its hashes match exactly. */
  private[sources] def blockJpegFrame(seed: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      Dim, Dim, java.awt.image.BufferedImage.TYPE_INT_RGB)
    def mix(a: Long, b: Long, c: Long): Int = {
      var x = a * 0x9e3779b97f4a7c15L + b * 0xc2b2ae3d27d4eb4fL + c
      x ^= (x >>> 33); x *= 0xff51afd7ed558ccdL; x ^= (x >>> 29)
      (x & 0x7fffffff).toInt
    }
    var y = 0
    while (y < Dim) {
      var x = 0
      while (x < Dim) {
        val (bx, by) = (x / 4, y / 4)
        val r = mix(seed, bx, by) % 256
        val g = mix(seed, bx, by + 1000) % 256
        val b = mix(seed, bx, by + 2000) % 256
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    bos.toByteArray
  }

  /** (video_id, content): one 6-frame block-noise AVI per documents
    * row with doc_id ≡ 0 (mod 5); doc_id ≡ 0 (mod 10) additionally
    * plants a re-containered PARTIAL COPY (id + 10⁶): its first 3
    * frames are byte-identical to the base video's LAST 3, followed by
    * 3 fresh frames — no two FILES share bytes, the reused frames do. */
  def generateDedupVideos(s: SparkSession, d: String): DataFrame =
    // fixture memo: the round-13 sf1f probe's 250 s was ~90% MJPEG
    // ENCODE of this corpus, re-paid per run
    graft.FixtureMemo.parquet(s, "videodedup", d)(buildDedupVideos(s, d))

  private def buildDedupVideos(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // variant-id headroom: the MediaDedupStore max(id) convention (r18)
    ImageDedup.requireVariantHeadroom(s, d, 1000000L, "video")
    graft.Tables.documents(s, d).select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(5)) === 0)
      .as[Long]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap { id =>
          def frame(vid: Long, f: Int) = blockJpegFrame(
            vid * 0x9e3779b97f4a7c15L + f.toLong * 0xc2b2ae3d27d4eb4fL)
          val baseFrames = (0 until FramesPerVideo).map(frame(id, _))
          val base = Iterator(
            (id, VideoSource.aviBytes(baseFrames, 4, Dim, Dim)))
          val variant = if (id % 10 == 0) {
            val reused = baseFrames.takeRight(3) ++
              (0 until 3).map(frame(id + 1000000L, _))
            Iterator((id + 1000000L,
              VideoSource.aviBytes(reused, 4, Dim, Dim)))
          } else Iterator.empty
          base ++ variant
        }
      }
      .toDF("video_id", "content")
  }

  /** (packed frame id, jpeg bytes) for every demuxable frame. */
  private[sources] def frames(videos: DataFrame): DataFrame = {
    val s = videos.sparkSession
    import s.implicits._
    videos.select(col("video_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap { case (id, avi) =>
          VideoSource.parseAvi(avi).iterator.flatMap { case (_, _, fs) =>
            fs.iterator.zipWithIndex.map { case (jpeg, f) =>
              (packFrameId(id, f), jpeg)
            }
          }
        }
      }
      .toDF("image_id", "content")
  }

  // --------------------------------------------------- keyframe sampling
  /** 9×9 integer milli-luma grid of one encoded frame — the SAME grid
    * the dHash reads ([[ImageDedup.lumaGrid9]], one derivation),
    * reused for keyframe selection so the oracle can re-derive the
    * selection from the dumped grids. */
  private[sources] def lumaGrid(bytes: Array[Byte]): Option[Array[Long]] =
    ImageDedup.lumaGrid9(bytes)

  /** Scene-change KEYFRAMES of each video: frame 0, plus every frame
    * whose grid-luma L1 distance from its predecessor exceeds
    * `deltaThreshold` (integer milli-luma over the 9×9 grid — exact on
    * both engines). This is the production gate [[nqVideoNeardup]]
    * deliberately skips: hashing EVERY frame of an hour of 30 fps video
    * is 108k hashes of mostly-static scenes, while scene starts are the
    * content-bearing sample — and unlike stride sampling (every k-th
    * frame), selection is CONTENT-based, so a segment reused at any
    * frame offset, even re-timed (scenes lengthened or shortened),
    * selects the SAME keyframes in both videos.
    *
    * Recall contract (documented, spec-pinned): a reused segment is
    * detected iff it contains a scene START in both copies — i.e.
    * reuse is reported at scene granularity, independent of frame
    * alignment; sub-scene partial reuse (a tail of a scene without its
    * first frame) is below the sampling resolution, by design. An
    * undecodable frame resets the chain (the next decodable frame is a
    * keyframe — conservative: recall over dedup precision). */
  def keyframes(videos: DataFrame, deltaThreshold: Long = 0L)
      : DataFrame = {
    val s = videos.sparkSession
    import s.implicits._
    videos.select(col("video_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap(selectKeyframes(_, deltaThreshold,
          (id, f, jpeg, _) => (packFrameId(id, f), jpeg)))
      }
      .toDF("image_id", "content")
  }

  /** The shared per-video keyframe scan: demux, decode each frame's
    * 9×9 milli-luma grid ONCE, keep frame 0 / post-reset / L1-delta >
    * threshold frames, and emit whatever `emit` derives from (video,
    * frame, jpeg, grid). Sequential per video — the demux already is. */
  private def selectKeyframes[T](v: (Long, Array[Byte]),
      deltaThreshold: Long,
      emit: (Long, Int, Array[Byte], Array[Long]) => T): Iterator[T] = {
    val (id, avi) = v
    VideoSource.parseAvi(avi).iterator.flatMap { case (_, _, fs) =>
      var prev: Array[Long] = null
      fs.iterator.zipWithIndex.flatMap { case (jpeg, f) =>
        lumaGrid(jpeg) match {
          case None => prev = null; Iterator.empty
          case Some(g) =>
            val keep = f == 0 || prev == null || {
              var d = 0L; var i = 0
              while (i < g.length) {
                d += math.abs(g(i) - prev(i)); i += 1
              }
              d > deltaThreshold
            }
            prev = g
            if (keep) Iterator(emit(id, f, jpeg, g)) else Iterator.empty
        }
      }
    }
  }

  /** Fused selection + hash: (packed keyframe id, dHash) in ONE decode
    * pass — the dHash's gradient bits read the SAME 9×9 milli-luma grid
    * the selection delta does ([[ImageDedup.dhashFromGrid]]), so
    * hashing the keyframes costs nothing beyond the selection scan.
    * Spec-pinned ≡ `dhashes(keyframes(videos))`. */
  def keyframeHashes(videos: DataFrame, deltaThreshold: Long = 0L)
      : DataFrame = {
    val s = videos.sparkSession
    import s.implicits._
    videos.select(col("video_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap(selectKeyframes(_, deltaThreshold,
          (id, f, _, g) => (packFrameId(id, f),
            ImageDedup.dhashFromGrid(g))))
      }
      .toDF("image_id", "h")
  }

  /** Scene-structured corpus for the keyframe entry: each video with
    * doc_id ≡ 0 (mod 5) is 4 scenes × 3 byte-identical frames; doc_id
    * ≡ 0 (mod 10) plants a RE-TIMED partial copy (id + 10⁶) reusing the
    * base's last two scenes at 4 frames each (different repeat counts →
    * every frame offset misaligned — exactly what stride sampling
    * cannot survive) followed by two fresh 3-frame scenes. */
  def generateSceneVideos(s: SparkSession, d: String): DataFrame =
    graft.FixtureMemo.parquet(s, "videokf", d)(buildSceneVideos(s, d))

  private def buildSceneVideos(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // variant-id headroom: the MediaDedupStore max(id) convention (r18)
    ImageDedup.requireVariantHeadroom(s, d, 1000000L, "video")
    graft.Tables.documents(s, d).select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(5)) === 0)
      .as[Long]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap { id =>
          def scene(vid: Long, sc: Int) = blockJpegFrame(
            vid * 0x9e3779b97f4a7c15L + sc.toLong * 0x94d049bb133111ebL)
          val baseScenes = (0 until 4).map(scene(id, _))
          val base = Iterator((id, VideoSource.aviBytes(
            baseScenes.flatMap(f => Seq.fill(3)(f)), 4, Dim, Dim)))
          val variant = if (id % 10 == 0) {
            val cid = id + 1000000L
            val reused = baseScenes.takeRight(2).flatMap(f => Seq.fill(4)(f))
            val fresh = (0 until 2).map(scene(cid, _))
              .flatMap(f => Seq.fill(3)(f))
            Iterator((cid, VideoSource.aviBytes(reused ++ fresh, 4,
              Dim, Dim)))
          } else Iterator.empty
          base ++ variant
        }
      }
      .toDF("video_id", "content")
  }

  // ---------------------------------------------------- nq_video_neardup
  private val Dump = ImageSource.OracleDumpDir

  /** Driver entry: demux, dHash every frame, surface CROSS-video frame
    * pairs within hamming ≤ 6 — (vid_a, frame_a, vid_b, frame_b,
    * hamming). The oracle re-derives the bits from the dumped per-frame
    * grids and applies the same unpack + cross-video filter. */
  def nqVideoNeardup(s: SparkSession, d: String): DataFrame = {
    val fr = frames(generateDedupVideos(s, d))
    ImageSource.dumpPixels(s, fr, resizeTo = 9, tag = "vdedup9")
    ImageDedup.nearDupPairs(ImageDedup.dhashes(fr))
      .filter(expr("img_a DIV 100") =!= expr("img_b DIV 100"))
      .select(
        expr("img_a DIV 100").as("vid_a"),
        pmod(col("img_a"), lit(100L)).as("frame_a"),
        expr("img_b DIV 100").as("vid_b"),
        pmod(col("img_b"), lit(100L)).as("frame_b"),
        col("hamming"))
      .orderBy("vid_a", "frame_a", "vid_b", "frame_b")
  }

  private[sources] val nqVideoNeardupSql: String =
    s"""WITH lum AS (
       |  SELECT image_id, px,
       |    299 * r + 587 * g + 114 * b AS l
       |  FROM read_parquet('$Dump/image_px_vdedup9.parquet/*.parquet')),
       |bits AS (
       |  SELECT a.image_id,
       |    (a.px // 9) * 8 + (a.px % 9) AS bit,
       |    CASE WHEN a.l < b.l THEN 1 ELSE 0 END AS v
       |  FROM lum a JOIN lum b
       |    ON b.image_id = a.image_id AND b.px = a.px + 1
       |  WHERE a.px % 9 < 8 AND a.px // 9 < 8),
       |pairs AS (
       |  SELECT x.image_id AS img_a, y.image_id AS img_b,
       |    CAST(count(CASE WHEN x.v <> y.v THEN 1 END) AS BIGINT)
       |      AS hamming
       |  FROM bits x JOIN bits y
       |    ON x.bit = y.bit AND x.image_id < y.image_id
       |  GROUP BY 1, 2)
       |SELECT img_a // 100 AS vid_a, img_a % 100 AS frame_a,
       |  img_b // 100 AS vid_b, img_b % 100 AS frame_b, hamming
       |FROM pairs
       |WHERE hamming <= 6 AND img_a // 100 <> img_b // 100
       |ORDER BY vid_a, frame_a, vid_b, frame_b""".stripMargin

  // -------------------------------------------------- nq_video_keyframes
  /** Driver entry: keyframe the scene corpus, dHash ONLY the keyframes,
    * surface cross-video keyframe pairs — scene-granularity reuse
    * detection at a fraction of [[nqVideoNeardup]]'s hash volume. The
    * oracle re-derives the SELECTION (frame 0 or grid-L1 delta > 0 vs
    * the previous frame — all integer milli-luma) from the dumped
    * all-frame grids, then the bits and pairs over keyframes only, so a
    * selection drift, a hash bug, or a recall hole all hash-fail. The
    * planted copies are RE-TIMED (scene repeat counts differ), pinning
    * the alignment-invariance stride sampling lacks. */
  def nqVideoKeyframes(s: SparkSession, d: String): DataFrame = {
    val vids = generateSceneVideos(s, d)
    ImageSource.dumpPixels(s, frames(vids), resizeTo = 9, tag = "vkf9")
    ImageDedup.nearDupPairs(keyframeHashes(vids))
      .filter(expr("img_a DIV 100") =!= expr("img_b DIV 100"))
      .select(
        expr("img_a DIV 100").as("vid_a"),
        pmod(col("img_a"), lit(100L)).as("frame_a"),
        expr("img_b DIV 100").as("vid_b"),
        pmod(col("img_b"), lit(100L)).as("frame_b"),
        col("hamming"))
      .orderBy("vid_a", "frame_a", "vid_b", "frame_b")
  }

  /** Keyframe fingerprints of the scene corpus as store rows
    * (media_id, 'video', h) — a pure derivation of the memoized corpus,
    * itself memoized per immutable dir (the flipFingerprints policy:
    * probes measure judging/merging, not a re-decode). Shared by the
    * keyframe-store entry ([[MediaDedupStore.nqVideoKeyframesStore]])
    * and the video cluster entry ([[MediaClusterStore]]). */
  private[sources] def keyframeFingerprints(s: SparkSession, d: String)
      : DataFrame = {
    graft.FixtureMemo.parquet(s, "kffp", d)(
      keyframeHashes(generateSceneVideos(s, d))
        .select(col("image_id").as("media_id"),
          lit("video").as("modality"), col("h")))
  }

  /** The selection + pair CTE chain over the dumped all-frame grids
    * (lum → delta → keyframes → bits → pairs), ending after `pairs` —
    * shared VERBATIM by the one-shot keyframe oracle below and the
    * video cluster-store oracle ([[MediaClusterStore]]), the q81
    * shared-SQL discipline. */
  private[graft] val keyframePairCtes: String =
    s"""lum AS (
       |  SELECT image_id, px,
       |    299 * r + 587 * g + 114 * b AS l
       |  FROM read_parquet('$Dump/image_px_vkf9.parquet/*.parquet')),
       |dl AS (
       |  SELECT a.image_id, sum(abs(a.l - b.l)) AS d
       |  FROM lum a JOIN lum b
       |    ON b.image_id = a.image_id - 1 AND b.px = a.px
       |  WHERE a.image_id % 100 <> 0
       |  GROUP BY a.image_id),
       |kf AS (
       |  -- frame 0, OR grid-delta > 0, OR NO predecessor grid in the
       |  -- dump (an undecodable frame is absent from lum, and the
       |  -- engine resets: the next decodable frame is a keyframe)
       |  SELECT f.image_id
       |  FROM (SELECT DISTINCT image_id FROM lum) f
       |  LEFT JOIN dl ON dl.image_id = f.image_id
       |  WHERE f.image_id % 100 = 0 OR dl.d > 0 OR dl.image_id IS NULL),
       |bits AS (
       |  SELECT a.image_id,
       |    (a.px // 9) * 8 + (a.px % 9) AS bit,
       |    CASE WHEN a.l < b.l THEN 1 ELSE 0 END AS v
       |  FROM lum a JOIN lum b
       |    ON b.image_id = a.image_id AND b.px = a.px + 1
       |  JOIN kf k ON k.image_id = a.image_id
       |  WHERE a.px % 9 < 8 AND a.px // 9 < 8),
       |pairs AS (
       |  SELECT x.image_id AS img_a, y.image_id AS img_b,
       |    CAST(count(CASE WHEN x.v <> y.v THEN 1 END) AS BIGINT)
       |      AS hamming
       |  FROM bits x JOIN bits y
       |    ON x.bit = y.bit AND x.image_id < y.image_id
       |  GROUP BY 1, 2)""".stripMargin

  private[sources] val nqVideoKeyframesSql: String =
    s"""WITH $keyframePairCtes
       |SELECT img_a // 100 AS vid_a, img_a % 100 AS frame_a,
       |  img_b // 100 AS vid_b, img_b % 100 AS frame_b, hamming
       |FROM pairs
       |WHERE hamming <= 6 AND img_a // 100 <> img_b // 100
       |ORDER BY vid_a, frame_a, vid_b, frame_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nq_video_neardup" -> (nqVideoNeardup _),
    "nq_video_keyframes" -> (nqVideoKeyframes _))

  val oracle: Map[String, String] = Map(
    "nq_video_neardup" -> nqVideoNeardupSql,
    "nq_video_keyframes" -> nqVideoKeyframesSql)
}
