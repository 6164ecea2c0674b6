package graft.audio

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Perceptual AUDIO near-duplicate detection — the audio member of the
  * dedup family, completing the text / image / audio span (exact +
  * MinHash + SimHash + substring dedup for documents, dHash for
  * images, this for clips): a spectral binary fingerprint in the
  * Haitsma & Kalker 2002 tradition ("A Highly Robust Audio
  * Fingerprint Based on Hash Codes" — energy-difference sign bits),
  * shaped like the image dHash so the two multimodal dedup members
  * share the banded-hamming machinery:
  *
  *   - STFT power folded onto a fixed 9×8 (time × band) energy grid
  *     (per-clip sequential accumulation — deterministic doubles);
  *   - 64 bits: bit (t, b) = [E(t, b) < E(t+1, b)] — the sign of the
  *     TIME gradient within a band. A gain change scales every grid
  *     cell by the same factor, so within-band time ORDER — and
  *     therefore every bit — is preserved: re-leveled copies land at
  *     hamming ~0, which no byte- or sample-hash can do;
  *   - candidates via the shared block-pair pigeonhole join
  *     ([[graft.sources.ImageDedup.nearDupPairs]] — perfect recall to
  *     hamming 6 through C(8,2) 16-bit keys, collision-sized work,
  *     never corpus²), exact `bit_count` verify.
  *
  * The oracle re-derives bits, pairs, and distances from the DUMPED
  * energy grids (doubles round-trip parquet bit-exactly, so the
  * comparisons agree with the engine's sign for sign).
  */
object AudioDedup {

  private val NFft = 512
  private val Hop = 256
  private val TGrid = 9 // 9 time buckets → 8 time-gradient rows
  private val BGrid = 8 // 8 spectral bands

  /** Fixed 9×8 energy grid of one clip: E(t, b) = Σ power over the
    * bucket's frames × the band's bins, accumulated sequentially. */
  private[audio] def energyGrid(pcm: Array[Byte]): Array[Double] = {
    val x = Dsp.pcm16ToDoubles(pcm)
    val (mag, _) = GriffinLim.stft(x, NFft, Hop)
    val nFrames = mag.length
    val nb = NFft / 2 + 1
    val grid = new Array[Double](TGrid * BGrid)
    var f = 0
    while (f < nFrames) {
      val t = math.min(TGrid - 1, f * TGrid / nFrames)
      val m = mag(f)
      var k = 0
      while (k < nb) {
        val b = math.min(BGrid - 1, k * BGrid / nb)
        grid(t * BGrid + b) += m(k) * m(k)
        k += 1
      }
      f += 1
    }
    grid
  }

  /** 64-bit spectral fingerprint: time-gradient signs per band. */
  private[audio] def fingerprint(grid: Array[Double]): Long = {
    var h = 0L
    var t = 0
    while (t < TGrid - 1) {
      var b = 0
      while (b < BGrid) {
        if (grid(t * BGrid + b) < grid((t + 1) * BGrid + b))
          h |= 1L << (t * 8 + b)
        b += 1
      }
      t += 1
    }
    h
  }

  /** Planted corpus: 40 deterministic synth clips; phrase_id ≡ 0
    * (mod 5) gets a half-gain copy (id + 10⁶ — every sample halved:
    * perceptually identical, bytes entirely different) and ≡ 3 a
    * 0.1 s-muted copy at t = 0.5 s (id + 2·10⁶ — a small edit; the
    * doc previously claimed 0.05 s at 0.25 s, doubling the byte-vs-
    * sample factor twice — r18 review fixed the DOC to the fixture
    * the oracles already pin, not the fixture). */
  def generateDedupClips(s: SparkSession, nClips: Int = 40): DataFrame =
    // pure function of nClips (no source dir) → always memoizable:
    // probes must measure the fingerprint join, not the synth
    graft.FixtureMemo.parquet(s, s"audiodedup$nClips")(
      buildDedupClips(s, nClips))

  /** Corpus-keyed clip count: one clip per ~12 documents rows (floor
    * 40 — the r13 constant), so the audio fixture SCALES with the
    * source dir like the image/video fixtures do and store probes
    * stress all three modalities at every sf (a constant-size audio
    * third made sf1f probes exercise audio least). Deterministic in
    * `d`; the count is parquet-metadata work. */
  def generateDedupClips(s: SparkSession, d: String): DataFrame =
    generateDedupClips(s,
      math.max(40L, graft.Tables.documents(s, d).count() / 12L).toInt)

  private def buildDedupClips(s: SparkSession, nClips: Int): DataFrame = {
    import s.implicits._
    // variant-id headroom (clip ids are dense 0..nClips-1)
    require(nClips <= 1000000,
      s"audio dedup fixture: $nClips clips collide with the " +
        "planted-variant id offset 1000000")
    graft.gen.VoiceDataGen.generate(s, nClips)
      .select(col("phrase_id").cast("long"), col("pcm"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, pcm) =>
          val base = Iterator((id, pcm))
          val variant =
            if (id % 5 == 0) {
              val out = new Array[Byte](pcm.length)
              var i = 0
              while (i < pcm.length / 2) {
                val v = (((pcm(2 * i + 1).toInt << 8) |
                  (pcm(2 * i) & 0xff)).toShort / 2).toShort
                out(2 * i) = (v & 0xff).toByte
                out(2 * i + 1) = ((v >> 8) & 0xff).toByte
                i += 1
              }
              Iterator((id + 1000000L, out))
            } else if (id % 5 == 3) {
              val out = pcm.clone()
              val sr = graft.gen.VoiceDataGen.SampleRate
              // BYTE offsets (2 bytes/sample): from = sample sr/2 =
              // t 0.5 s; length sr/10 samples = 0.1 s
              val from = sr / 2 * 2
              val until = math.min(out.length, from + sr / 10 * 2)
              java.util.Arrays.fill(out, from, until, 0: Byte)
              Iterator((id + 2000000L, out))
            } else Iterator.empty
          base ++ variant
        }
      }
      .toDF("clip_id", "pcm")
  }

  /** (clip_id, h) fingerprints — one map pass, no shuffle. */
  def fingerprints(clips: DataFrame): DataFrame = {
    val s = clips.sparkSession
    import s.implicits._
    clips.select(col("clip_id").cast("long"), col("pcm"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, pcm) =>
        (id, fingerprint(energyGrid(pcm)))
      })
      .toDF("clip_id", "h")
  }

  // ---------------------------------------------------- nq_audio_neardup
  private val DumpDir = "/tmp/graft_audiodedup_oracle"

  /** The dumped energy-grid relation's path — shared with the media
    * store's combined oracle ([[graft.sources.MediaDedupStore]]). */
  private[graft] val GridDumpPath = s"$DumpDir/audio_grid.parquet"

  /** Dump the per-clip 9×8 energy grids for the oracle (idempotent
    * overwrite; no-op unless Verify enabled dumps). Shared by the
    * one-shot entry and the media-store entries. */
  private[graft] def dumpGrids(s: SparkSession, clips: DataFrame): Unit = {
    import s.implicits._
    if (graft.OracleDump.enabled)
      graft.OracleDump.dump(
        clips.select(col("clip_id").cast("long"), col("pcm"))
          .as[(Long, Array[Byte])]
          .mapPartitions(_.flatMap { case (id, pcm) =>
            energyGrid(pcm).iterator.zipWithIndex.map {
              case (e, i) => (id, i / BGrid, i % BGrid, e)
            }
          })
          .toDF("clip_id", "t", "b", "e"),
        GridDumpPath)
  }

  /** Driver entry: fingerprint the planted clip corpus, find all pairs
    * within hamming ≤ 6 via the shared banded join. The dumped energy
    * grids let DuckDB re-derive every bit and every distance. */
  def nqAudioNeardup(s: SparkSession, d: String): DataFrame = {
    val clips = generateDedupClips(s, d)
    dumpGrids(s, clips)
    graft.sources.ImageDedup.nearDupPairs(
        fingerprints(clips).withColumnRenamed("clip_id", "image_id"))
      .select(col("img_a").as("clip_a"), col("img_b").as("clip_b"),
        col("hamming"))
      .orderBy("clip_a", "clip_b")
  }

  /** The grid → bits → pairs CTE chain over the dumped energy grids,
    * ending after `pairs` — shared VERBATIM by the one-shot oracle
    * below and the audio cluster-store oracle
    * ([[graft.sources.MediaClusterStore]]), the q81 shared-SQL
    * discipline: the pair derivation can never drift between them. */
  private[graft] val pairCtes: String =
    s"""grid AS (
       |  SELECT clip_id, t, b, e
       |  FROM read_parquet('$GridDumpPath/*.parquet')),
       |bits AS (
       |  SELECT x.clip_id, x.t * 8 + x.b AS bit,
       |    CASE WHEN x.e < y.e THEN 1 ELSE 0 END AS v
       |  FROM grid x JOIN grid y
       |    ON y.clip_id = x.clip_id AND y.b = x.b AND y.t = x.t + 1
       |  WHERE x.t < 8),
       |pairs AS (
       |  SELECT x.clip_id AS clip_a, y.clip_id AS clip_b,
       |    CAST(count(CASE WHEN x.v <> y.v THEN 1 END) AS BIGINT)
       |      AS hamming
       |  FROM bits x JOIN bits y
       |    ON x.bit = y.bit AND x.clip_id < y.clip_id
       |  GROUP BY 1, 2)""".stripMargin

  private[audio] val nqAudioNeardupSql: String =
    s"""WITH $pairCtes
       |SELECT clip_a, clip_b, hamming FROM pairs
       |WHERE hamming <= 6
       |ORDER BY clip_a, clip_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nq_audio_neardup" -> (nqAudioNeardup _))

  val oracle: Map[String, String] = Map(
    "nq_audio_neardup" -> nqAudioNeardupSql)
}
