package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Perceptual image near-duplicate detection — the multimodal member
  * of the dedup family (documents have exact/MinHash/SimHash/substring
  * dedup; a multimodal corpus needs the same gate for re-encoded,
  * brightness-shifted, or lightly-edited image copies that byte-level
  * hashing can never catch):
  *
  *   - dHash (difference hash — the gradient variant of Krawetz's
  *     average hash, the standard cheap perceptual fingerprint): decode
  *     → bilinear resize to a 9×9 luma grid → 64 bits, bit (r, c) =
  *     [luma(r, c) < luma(r, c+1)] over the first 8 rows/cols. Small
  *     photometric edits preserve luma ORDER almost everywhere, so
  *     copies land within a few bits.
  *   - candidate pairs via the block-pair hamming join (Manku et al.
  *     2007, see [[nearDupPairs]]): two hashes within hamming ≤ 6
  *     leave at least two of the 8 8-bit blocks clean, so an
  *     equi-join on the C(8,2) concatenated 16-bit block-pair keys
  *     has PERFECT recall at the threshold — never corpus² work;
  *     candidates then verify exact `bit_count(xor)`.
  *
  * Everything after the JDK decode is integer (milli-luma 299r + 587g
  * + 114b — the ImageSource convention), so the oracle re-derives the
  * bits, the pairs, and the hamming distances from the dumped 9×9
  * grids with no float anywhere.
  *
  * Scale shape: one decode+hash map pass (no shuffle), a 28-way
  * explode of 16-bit block-pair keys, and an equi-join whose output
  * is collision-sized (~28·n²/2¹⁶ random collisions — measured and
  * fixed in BASELINE.md after the 8-bit single-block first cut went
  * quadratic at 60k items). The exact-verify is per-candidate O(1).
  */
object ImageDedup {

  /** Deterministic blocky-noise PNG: 4×4-pixel blocks colored by a
    * seeded mix (channels bounded ≤ 191 so the +brightness variant
    * never clamps — a pure luma shift preserves every gradient sign),
    * with one optional "edited" block. Block structure survives the
    * 9×9 resize, which pixelwise noise would not — the perceptual-hash
    * premise needs IMAGES with structure, unlike the gradient ramps of
    * [[ImageSource.generateImages]] (whose dHashes would all collide:
    * every ramp has the same luma order). */
  private[sources] def renderBlockPng(seed: Long, dim: Int,
      brightness: Int, editBlock: Boolean): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      dim, dim, java.awt.image.BufferedImage.TYPE_INT_RGB)
    def mix(a: Long, b: Long, c: Long): Int = {
      var x = a * 0x9e3779b97f4a7c15L + b * 0xc2b2ae3d27d4eb4fL + c
      x ^= (x >>> 33); x *= 0xff51afd7ed558ccdL; x ^= (x >>> 29)
      (x & 0x7fffffff).toInt
    }
    var y = 0
    while (y < dim) {
      var x = 0
      while (x < dim) {
        val (bx, by) = (x / 4, y / 4)
        val edited = editBlock && bx == 2 && by == 2
        val s2 = if (edited) seed ^ 0x5555aaaa5555aaaaL else seed
        // base range [0, 187]: +brightness (≤ 4) can never clamp, so a
        // brightness variant shifts every luma by EXACTLY 4000 milli —
        // gradient signs provably identical, hamming provably 0
        val r = mix(s2, bx, by) % 188 + brightness
        val g = mix(s2, bx, by + 1000) % 188 + brightness
        val b = mix(s2, bx, by + 2000) % 188 + brightness
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private val Dim = 32
  private val Grid = 9 // 9×9 luma grid → 8×8 = 64 gradient bits
  private val Threshold = 6 // pigeonhole bound of the block-PAIR keys

  /** (image_id, content): one 32×32 block-noise PNG per doc, plus
    * planted perceptual duplicates — doc_id ≡ 0 (mod 10) gets a
    * brightness-shifted copy (id + 10⁶; hamming 0 by the no-clamp
    * construction, bytes entirely different) and doc_id ≡ 5 (mod 10)
    * a one-block edit (id + 2·10⁶; a few flipped bits). */
  def generateDedupImages(s: SparkSession, d: String): DataFrame =
    // fixture memo: probes must measure the dedup operator, not the
    // per-run PNG encode of its test corpus
    graft.FixtureMemo.parquet(s, "imagededup", d)(buildDedupImages(s, d))

  /** Planted-variant ids live at base + 1000000/2000000: guard
    * max(doc_id), not count (sparse id spaces hit the boundary early —
    * the MediaDedupStore convention, r18 review). A collision would
    * silently alias a real doc's media with another doc's variant and
    * corrupt both the pair relation and the oracle's pixel dump. */
  private[graft] def requireVariantHeadroom(s: SparkSession, d: String,
      offset: Long, what: String): Unit = {
    val row = graft.Tables.documents(s, d)
      .agg(max(col("doc_id"))).head
    val maxId = if (row.isNullAt(0)) -1L else row.getLong(0)
    require(maxId < offset,
      s"$what dedup fixture: max(doc_id) $maxId collides with the " +
        s"planted-variant id offset $offset — raise the offset before " +
        "running at this scale")
  }

  private def buildDedupImages(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    requireVariantHeadroom(s, d, 1000000L, "image")
    graft.Tables.documents(s, d).select(col("doc_id"))
      .as[Long]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap { id =>
          val seed = id * 0x9e3779b97f4a7c15L + 17
          val base = Iterator((id, renderBlockPng(seed, Dim, 0, false)))
          val variant =
            if (id % 10 == 0)
              Iterator((id + 1000000L,
                renderBlockPng(seed, Dim, 4, false)))
            else if (id % 10 == 5)
              Iterator((id + 2000000L,
                renderBlockPng(seed, Dim, 0, true)))
            else Iterator.empty
          base ++ variant
        }
      }
      .toDF("image_id", "content")
  }

  /** Lossless pixel permutation of an encoded PNG: mirror (left-right)
    * or rot180 — the planted "re-posted copy" transforms. */
  private def permutePng(png: Array[Byte], mirror: Boolean): Array[Byte] = {
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(png))
    val (w, h) = (img.getWidth, img.getHeight)
    val out = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        out.setRGB(x, y,
          if (mirror) img.getRGB(w - 1 - x, y)
          else img.getRGB(w - 1 - x, h - 1 - y))
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(out, "png", bos)
    bos.toByteArray
  }

  /** (image_id, content): one base block PNG per doc, plus planted
    * REORIENTED copies — doc_id ≡ 0 (mod 10) gets an exactly mirrored
    * copy (id + 10⁶, left-right pixel permutation, lossless PNG) and
    * ≡ 5 (mod 10) a rot180 copy (id + 2·10⁶). Plain dHash misses both
    * (a mirror flips ~half the gradient signs of a block-noise image);
    * the canonical hash must recover them. */
  def generateFlipImages(s: SparkSession, d: String): DataFrame =
    graft.FixtureMemo.parquet(s, "imageflip", d)(buildFlipImages(s, d))

  private def buildFlipImages(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    requireVariantHeadroom(s, d, 1000000L, "image")
    graft.Tables.documents(s, d).select(col("doc_id"))
      .as[Long]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap { id =>
          val seed = id * 0xc2b2ae3d27d4eb4fL + 29
          val base = renderBlockPng(seed, Dim, 0, false)
          val variant =
            if (id % 10 == 0)
              Iterator((id + 1000000L, permutePng(base, mirror = true)))
            else if (id % 10 == 5)
              Iterator((id + 2000000L, permutePng(base, mirror = false)))
            else Iterator.empty
          Iterator((id, base)) ++ variant
        }
      }
      .toDF("image_id", "content")
  }

  /** 64-bit dHash of one encoded image; None when undecodable. One
    * derivation: the 9×9 milli-luma grid ([[lumaGrid9]]) feeds the
    * identity-transform gradient bits ([[dhashFromGrid]]) — the same
    * two pieces every dihedral/keyframe variant composes, so the grid
    * math can never drift between them. */
  private[sources] def dhash(bytes: Array[Byte]): Option[Long] =
    lumaGrid9(bytes).map(dhashFromGrid)

  // ------------------------------------------- dihedral-invariant hash
  /** Source grid index feeding target cell (r, c) under dihedral
    * transform `t` of the 9×9 grid: 0 identity, 1 rot90, 2 rot180,
    * 3 rot270, 4 mirror (left-right), 5 flip (top-bottom),
    * 6 transpose, 7 anti-transpose. */
  private[sources] def srcIdx(t: Int, r: Int, c: Int): Int = t match {
    case 0 => r * 9 + c
    case 1 => (8 - c) * 9 + r
    case 2 => (8 - r) * 9 + (8 - c)
    case 3 => c * 9 + (8 - r)
    case 4 => r * 9 + (8 - c)
    case 5 => (8 - r) * 9 + c
    case 6 => c * 9 + r
    case 7 => (8 - c) * 9 + (8 - r)
  }

  /** FLIP/ROTATION-INVARIANT canonical dHash: the signed-Long MINIMUM
    * of the dHashes of all 8 dihedral transforms of the luma grid. The
    * orbit {transforms of g} is the same SET for g and for any
    * transform of g, so the min is a class invariant: a mirrored or
    * rotated copy whose grid is an exact transform hashes IDENTICALLY
    * (plain dHash differs in ~half its bits on a mirror — crawls are
    * full of mirrored re-posts, the gap this closes). Caveat,
    * documented: for an EDITED mirror the min can jump transforms, so
    * the small-edit → small-hamming property is kept only while the
    * canonical transform is stable — exact-transform copies are the
    * contract, edited ones best-effort (the usual canonicalization
    * trade; per-transform multi-probing is the recall-complete
    * alternative at 8× the index size). */
  /** The dHash of dihedral transform `t` of grid `g` — the ONE inner
    * loop every tier shares (identity = [[dhashFromGrid]], canonical
    * min, multi-probe). */
  private def dhashOfTransform(g: Array[Long], t: Int): Long = {
    var h = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (g(srcIdx(t, r, c)) < g(srcIdx(t, r, c + 1)))
          h |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    h
  }

  private[sources] def dihedralMin(g: Array[Long]): Long = {
    var min = Long.MaxValue
    var t = 0
    while (t < 8) {
      val h = dhashOfTransform(g, t)
      if (h < min) min = h
      t += 1
    }
    min
  }

  /** The 9×9 milli-luma grid of one encoded image (the dHash's own
    * input — integer, so oracles re-derive everything). */
  private[sources] def lumaGrid9(bytes: Array[Byte]): Option[Array[Long]] =
    ImageSource.resizedRgb(bytes, Grid).map { case (_, _, px) =>
      px.map { p =>
        299L * ((p >> 16) & 0xff) + 587L * ((p >> 8) & 0xff) +
          114L * (p & 0xff)
      }
    }

  /** (image_id, h) canonical dihedral-min hashes — one map pass, 1×
    * index size (the cheap tier; see [[dihedralHashes]] for the
    * recall-complete one). */
  def canonicalHashes(images: DataFrame): DataFrame = {
    val s = images.sparkSession
    import s.implicits._
    images.select(col("image_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap { case (id, bytes) =>
          lumaGrid9(bytes).map(g => (id, dihedralMin(g)))
        }
      }
      .toDF("image_id", "h")
  }

  /** (image_id, h) × 8 — EVERY dihedral transform's dHash per image,
    * the recall-COMPLETE multi-probe tier: a reoriented copy whose
    * grid is only NEAR a transform of the original (real resamplers
    * aren't exactly flip-symmetric — measured: 1 of 100 planted
    * mirrors missed by the canonical min when its argmin transform
    * flipped) still pairs, because some transform of B re-aligns with
    * A's identity hash at the grids' true distance. Price: 8× index
    * rows (collisions ×64 — still linear in n against the 2¹⁶ key
    * space); pairs then collapse to the MIN aligned hamming. */
  def dihedralHashes(images: DataFrame): DataFrame = {
    val s = images.sparkSession
    import s.implicits._
    images.select(col("image_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap { case (id, bytes) =>
          lumaGrid9(bytes).iterator.flatMap { g =>
            (0 until 8).iterator.map(t => (id, dhashOfTransform(g, t)))
          }
        }
      }
      .toDF("image_id", "h")
  }

  /** dHash straight from an already-computed 9×9 milli-luma grid —
    * the identity transform of [[dhashOfTransform]]; lets a caller
    * that already decoded the grid (keyframe selection) derive the
    * hash without a second decode. */
  private[sources] def dhashFromGrid(g: Array[Long]): Long =
    dhashOfTransform(g, 0)

  /** (image_id, dhash) for every decodable image — one map pass. */
  def dhashes(images: DataFrame): DataFrame = {
    val s = images.sparkSession
    import s.implicits._
    images.select(col("image_id").cast("long"), col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.flatMap { case (id, bytes) => dhash(bytes).map(h => (id, h)) }
      }
      .toDF("image_id", "h")
  }

  /** All pairs within hamming ≤ `threshold` (≤ 6) —
    * (img_a, img_b, hamming), a < b.
    *
    * Candidate keys are BLOCK PAIRS (Manku, Jain & Das Sarma 2007,
    * "Detecting Near-Duplicates for Web Crawling" — the permuted-table
    * construction specialized to 8 blocks): with ≤ 6 errors over 8
    * 8-bit blocks, at least TWO blocks are clean (pigeonhole), so any
    * qualifying pair shares one of the C(8,2) = 28 concatenated
    * 16-bit block-pair keys — perfect recall at the threshold. The
    * first round-13 cut used single 8-bit blocks, which collide
    * quadratically once the corpus outgrows the 256-value key space
    * (measured ×33 runtime for ×10 images at 60k items — n²/256 per
    * band); 16-bit keys cut random collisions ×256 at the price of 28
    * vs 8 exploded rows and one hamming level (7 → 6) of guaranteed
    * reach. */
  /** Append the C(8,2) = 28 concatenated 16-bit block-pair candidate
    * keys to a fingerprint relation (columns preserved, plus `bp` — the
    * packed b1·8 + b2 pair index — and `bv`, the 16-bit key value).
    * Shared by the one-shot self-join below and the media store's
    * batch-vs-store judge ([[MediaDedupStore]]). */
  private[graft] def blockPairKeys(fps: DataFrame): DataFrame = {
    // the 28 (b1 < b2) block pairs, packed as b1·8 + b2 literals
    val pairsLit = array((for {
      b1 <- 0 until 8; b2 <- (b1 + 1) until 8
    } yield lit(b1 * 8 + b2)): _*)
    fps.withColumn("bp", explode(pairsLit))
      .withColumn("bv", expr(
        "(shiftright(h, (bp DIV 8) * 8) & 255L) * 256L + " +
          "(shiftright(h, (bp % 8) * 8) & 255L)"))
  }

  /** Guaranteed reach of the 28 block-pair keys: two hashes within this
    * hamming distance leave ≥ 2 of the 8 blocks clean (pigeonhole). */
  private[graft] val MaxThreshold = 6

  def nearDupPairs(hashes: DataFrame, threshold: Int = Threshold,
      keyCols: Seq[String] = Nil): DataFrame = {
    require(threshold >= 0 && threshold <= MaxThreshold,
      s"28 block-pair keys over 8 blocks guarantee recall only to " +
        s"hamming $MaxThreshold, got $threshold")
    val banded = blockPairKeys(
      hashes.select((keyCols :+ "image_id" :+ "h").map(col): _*))
    // optional keyCols (e.g. a modality column) join along so hashes
    // from different key groups never pair
    val joinKeys = keyCols ++ Seq("bp", "bv")
    val cand = banded.select((joinKeys.map(col) :+
        col("image_id").as("img_a") :+ col("h").as("ha")): _*)
      .join(banded.select((joinKeys.map(col) :+
        col("image_id").as("img_b") :+ col("h").as("hb")): _*),
        joinKeys)
      .filter(col("img_a") < col("img_b"))
      .select((keyCols ++ Seq("img_a", "img_b", "ha", "hb")).map(col): _*)
      .distinct()
    cand
      .withColumn("hamming",
        expr("bit_count(ha ^ hb)").cast("long"))
      .filter(col("hamming") <= threshold)
      .select((keyCols ++ Seq("img_a", "img_b", "hamming")).map(col): _*)
  }

  // ---------------------------------------------------- nq_image_neardup
  /** Driver entry: hash the planted corpus, find all pairs within
    * hamming ≤ 6. The oracle re-derives the BITS (integer luma
    * comparisons over the dumped 9×9 grids), every pair's hamming, and
    * the threshold — so a hash-bit bug, a banding recall miss, or a
    * verify drift all hash-fail. */
  def nqImageNeardup(s: SparkSession, d: String): DataFrame = {
    val images = generateDedupImages(s, d)
    ImageSource.dumpPixels(s, images, resizeTo = Grid, tag = "dedup9")
    nearDupPairs(dhashes(images))
      .orderBy("img_a", "img_b")
  }

  // ------------------------------------------------ nq_image_neardup_flip
  /** Driver entry: the multi-probe dihedral hashes over the reoriented
    * corpus through the same banded join, pairs collapsed to their MIN
    * aligned hamming (≤ 6). The oracle re-derives ALL EIGHT transform
    * hashes from the dumped grids (integer luma, exact bit packing
    * through a recursive powers-of-two CTE, signed-BIGINT conversion)
    * and re-runs the min-aligned pair distance via xor + bit_count —
    * a transform indexing bug, a packing sign error, or a recall hole
    * all hash-fail. */
  def nqImageNeardupFlip(s: SparkSession, d: String): DataFrame = {
    val images = generateFlipImages(s, d)
    ImageSource.dumpPixels(s, images, resizeTo = Grid, tag = "flip9")
    nearDupPairs(dihedralHashes(images))
      .groupBy("img_a", "img_b")
      .agg(min(col("hamming")).as("hamming"))
      .orderBy("img_a", "img_b")
  }

  private[sources] lazy val nqImageNeardupFlipSql: String =
    s"""WITH RECURSIVE lum AS (
       |  SELECT image_id, px,
       |    299 * r + 587 * g + 114 * b AS l
       |  FROM read_parquet('${ImageSource.OracleDumpDir}/image_px_flip9.parquet/*.parquet')),
       |pw(bit, w) AS (
       |  SELECT 0, 1::HUGEINT
       |  UNION ALL SELECT bit + 1, w * 2 FROM pw WHERE bit < 63),
       |tmap AS (
       |  SELECT t.t, tr.r * 9 + tc.c AS tpx,
       |    CASE t.t
       |      WHEN 0 THEN tr.r * 9 + tc.c
       |      WHEN 1 THEN (8 - tc.c) * 9 + tr.r
       |      WHEN 2 THEN (8 - tr.r) * 9 + (8 - tc.c)
       |      WHEN 3 THEN tc.c * 9 + (8 - tr.r)
       |      WHEN 4 THEN tr.r * 9 + (8 - tc.c)
       |      WHEN 5 THEN (8 - tr.r) * 9 + tc.c
       |      WHEN 6 THEN tc.c * 9 + tr.r
       |      ELSE (8 - tc.c) * 9 + (8 - tr.r)
       |    END AS spx
       |  FROM (SELECT unnest(generate_series(0, 7)) AS t) t,
       |       (SELECT unnest(generate_series(0, 8)) AS r) tr,
       |       (SELECT unnest(generate_series(0, 8)) AS c) tc),
       |tlum AS (
       |  SELECT l.image_id, m.t, m.tpx AS px, l.l
       |  FROM lum l JOIN tmap m ON m.spx = l.px),
       |tbits AS (
       |  SELECT a.image_id, a.t,
       |    (a.px // 9) * 8 + (a.px % 9) AS bit,
       |    CASE WHEN a.l < b.l THEN 1 ELSE 0 END AS v
       |  FROM tlum a JOIN tlum b
       |    ON b.image_id = a.image_id AND b.t = a.t AND b.px = a.px + 1
       |  WHERE a.px % 9 < 8 AND a.px // 9 < 8),
       |hv AS (
       |  SELECT image_id, t,
       |    CAST(CASE WHEN su >= 9223372036854775808
       |      THEN su - 18446744073709551616 ELSE su END AS BIGINT)
       |      AS hval
       |  FROM (SELECT image_id, t,
       |          sum(CASE WHEN v = 1 THEN w ELSE 0::HUGEINT END) AS su
       |        FROM tbits JOIN pw USING (bit)
       |        GROUP BY image_id, t)),
       |pairs AS (
       |  SELECT a.image_id AS img_a, b.image_id AS img_b,
       |    CAST(min(bit_count(xor(a.hval, b.hval))) AS BIGINT)
       |      AS hamming
       |  FROM hv a JOIN hv b ON a.image_id < b.image_id
       |  GROUP BY 1, 2)
       |SELECT img_a, img_b, hamming FROM pairs
       |WHERE hamming <= 6
       |ORDER BY img_a, img_b""".stripMargin

  // ---------------------------------------------- nq_image_dedup_clusters
  /** Pairs are not dedup VERDICTS — the text family resolves pairs into
    * clusters + keepers ([[graft.text.DedupClusters]], q63/q78); this
    * gives the image member the same resolution: the banded pairs feed
    * the size-adaptive connected components, cluster_id = min image_id
    * of the component, keeper = the minimum (q23's deterministic
    * policy — a priority recipe slots in via
    * [[graft.text.DedupClusters.priorityKeepers]] unchanged). Output is
    * every hashed image: (image_id, cluster_id, is_keeper); downstream
    * dedup = `filter(is_keeper)`.
    *
    * Oracle: the q63 recursive-CTE shape — reach over the SAME pair
    * relation the image oracle re-derives from the dumped grids, min
    * label per node. A CC bug, a keeper-policy drift, or a pair-recall
    * hole all hash-fail through the full assignment. */
  def nqImageDedupClusters(s: SparkSession, d: String): DataFrame = {
    val images = generateDedupImages(s, d)
    ImageSource.dumpPixels(s, images, resizeTo = Grid, tag = "dedup9")
    // materialized once: the hash relation feeds the pair join, the CC
    // edge-count gate, and the node seed — without this each consumer
    // re-decodes the whole corpus (measured 3× at the sf1f probe)
    val hashes = graft.Checkpointing.truncate(dhashes(images))
    val pairs = nearDupPairs(hashes)
      .select(col("img_a").as("d1"), col("img_b").as("d2"))
    graft.text.DedupClusters.connectedComponents(
        hashes.select(col("image_id").as("doc_id")), pairs)
      .select(col("doc_id").as("image_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("is_keeper"))
      .orderBy("image_id")
  }

  private val Dump = ImageSource.OracleDumpDir

  /** The clustering PAIR prefix over the dedup9 grid dump — lum →
    * bits → exact pair distances → thresholded (d1, d2) pairs. Shared
    * by [[clusterReachCtes]] below and the STRICT-tier recluster
    * oracle ([[MediaClusterStore]] — which filters these pairs before
    * building its own reach), so the pair derivation can never drift.
    * Ends after `pairs`. */
  private[sources] val clusterPairCtes: String =
    s"""WITH RECURSIVE lum AS (
       |  SELECT image_id, px,
       |    299 * r + 587 * g + 114 * b AS l
       |  FROM read_parquet('$Dump/image_px_dedup9.parquet/*.parquet')),
       |bits AS (
       |  SELECT a.image_id,
       |    (a.px // 9) * 8 + (a.px % 9) AS bit,
       |    CASE WHEN a.l < b.l THEN 1 ELSE 0 END AS v
       |  FROM lum a JOIN lum b
       |    ON b.image_id = a.image_id AND b.px = a.px + 1
       |  WHERE a.px % 9 < 8 AND a.px // 9 < 8),
       |pairs0 AS (
       |  SELECT x.image_id AS img_a, y.image_id AS img_b,
       |    count(CASE WHEN x.v <> y.v THEN 1 END) AS hamming
       |  FROM bits x JOIN bits y
       |    ON x.bit = y.bit AND x.image_id < y.image_id
       |  GROUP BY 1, 2),
       |pairs AS (
       |  SELECT img_a AS d1, img_b AS d2 FROM pairs0 WHERE hamming <= 6)""".stripMargin

  /** The q63-shape clustering CTE prefix over the dedup9 grid dump —
    * bits → pairs → bidirectional edges → recursive reach. Shared by
    * the one-shot cluster oracle below and the cluster-store erasure
    * oracle ([[MediaClusterStore]]), so the reach derivation can never
    * drift between them. Ends after `reach`; callers append their own
    * tail CTEs/SELECT. */
  private[sources] val clusterReachCtes: String =
    s"""$clusterPairCtes,
       |edges AS (
       |  SELECT d1 AS u, d2 AS v FROM pairs
       |  UNION SELECT d2, d1 FROM pairs),
       |nodes AS (SELECT DISTINCT image_id FROM lum),
       |reach(doc_id, label) AS (
       |  SELECT image_id, image_id FROM nodes
       |  UNION
       |  SELECT e.u, r.label FROM reach r JOIN edges e ON e.v = r.doc_id)""".stripMargin

  private[sources] val nqImageDedupClustersSql: String =
    s"""$clusterReachCtes
       |SELECT doc_id AS image_id, min(label) AS cluster_id,
       |  (doc_id = min(label)) AS is_keeper
       |FROM reach GROUP BY doc_id ORDER BY image_id""".stripMargin

  private[sources] val nqImageNeardupSql: String =
    s"""WITH lum AS (
       |  SELECT image_id, px,
       |    299 * r + 587 * g + 114 * b AS l
       |  FROM read_parquet('$Dump/image_px_dedup9.parquet/*.parquet')),
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
       |SELECT img_a, img_b, hamming FROM pairs
       |WHERE hamming <= 6
       |ORDER BY img_a, img_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nq_image_neardup" -> (nqImageNeardup _),
    "nq_image_neardup_flip" -> (nqImageNeardupFlip _),
    "nq_image_dedup_clusters" -> (nqImageDedupClusters _))

  val oracle: Map[String, String] = Map(
    "nq_image_neardup" -> nqImageNeardupSql,
    "nq_image_neardup_flip" -> nqImageNeardupFlipSql,
    "nq_image_dedup_clusters" -> nqImageDedupClustersSql)
}
