package graft.audio

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Sample-rate conversion — the implicit half of the reference's audio
  * ingest: `librosa.load(mp3)` (/root/reference/src/voice_classifier.py:80)
  * silently resamples EVERY input to 22.05 kHz mono before any feature
  * runs (SURVEY §2.A A3 names the step); a real corpus arrives at
  * 44.1k/48k/16k and must be regularized the same way before the mel
  * pipeline, exactly like `rel.Resample` regularizes event series
  * before windowed features.
  *
  * Implementation: polyphase windowed-sinc interpolation (the
  * soxr/resampy family librosa delegates to; Smith's classic
  * bandlimited-interpolation formulation) —
  *
  *   y[n] = Σ_m x[m] · h(t_n − m),  t_n = n · srIn/srOut (exact rational)
  *   h(u) = scale · sinc(scale·u) · kaiser(u / L, β)
  *
  * with scale = min(1, srOut/srIn) so DOWNSAMPLING low-passes at the
  * output Nyquist (the anti-aliasing a naive linear resampler skips —
  * aliased energy is unrecoverable, which is why this is the
  * production shape), L sinc zero-crossings per side and a Kaiser-β
  * window. Each output sample is normalized by its own Σ h (per-phase
  * gain correction), which makes a constant signal resample EXACTLY to
  * the same constant — the spec-pinned invariant.
  *
  * Scale shape: per-utterance work, embarrassingly parallel — rides
  * the same per-row `mapPartitions`/UDF discipline as the PCM decode
  * (`sources.MediaSource`); no shuffle, no state. t_n is tracked as an
  * exact Long rational (n·srIn over srOut), so hour-long signals don't
  * accumulate float phase drift.
  */
object Src {

  /** Modified Bessel I0 by its power series (standard public formula;
    * converges in < 25 terms for the β range used here). */
  private[audio] def besselI0(x: Double): Double = {
    var sum = 1.0
    var term = 1.0
    var k = 1
    while (k < 64 && term > 1e-16 * sum) {
      val t = x / (2.0 * k)
      term *= t * t
      sum += term
      k += 1
    }
    sum
  }

  private def kaiser(u: Double, beta: Double): Double =
    if (u <= -1.0 || u >= 1.0) 0.0
    else besselI0(beta * math.sqrt(1.0 - u * u)) / besselI0(beta)

  private def sinc(x: Double): Double =
    if (x == 0.0) 1.0 else math.sin(math.Pi * x) / (math.Pi * x)

  /** Resample `x` from `srIn` to `srOut`. `zeros` = sinc zero-crossings
    * per side at the SLOWER rate (16 ≈ resampy's kaiser_fast tier);
    * `beta` = Kaiser shape (8.555 ≈ 80 dB stopband). Output length is
    * ceil(n · srOut / srIn) — librosa's convention. */
  def resample(x: Array[Double], srIn: Int, srOut: Int,
      zeros: Int = 16, beta: Double = 8.555): Array[Double] = {
    require(srIn > 0 && srOut > 0, s"bad rates: $srIn -> $srOut")
    if (srIn == srOut || x.isEmpty) return x.clone()
    val scale = math.min(1.0, srOut.toDouble / srIn)
    // filter half-width in INPUT samples: zeros/scale (downsampling
    // stretches the sinc by 1/scale)
    val halfWidth = zeros / scale
    // Precomputed filter table (the resampy/soxr trick): f(u) =
    // scale·sinc(u)·kaiser(u/zeros) sampled at TableRes points per
    // sinc zero-crossing, linearly interpolated per tap. The Bessel
    // series runs 8k times up front instead of once per tap — the
    // inner loop is two array reads and an FMA. Deterministic: the
    // table is a pure function of (srIn, srOut, zeros, beta).
    val table = new Array[Double](zeros * TableRes + 2)
    var ti = 0
    while (ti < zeros * TableRes + 1) {
      val u = ti.toDouble / TableRes
      table(ti) = scale * sinc(u) * kaiser(u / zeros, beta)
      ti += 1
    }
    val nOutL = (x.length.toLong * srOut + srIn - 1) / srIn
    require(nOutL <= Int.MaxValue - 8,
      s"resample: output length $nOutL exceeds array bounds " +
        s"(${x.length} samples $srIn -> $srOut) — chunk the signal")
    val nOut = nOutL.toInt
    val y = new Array[Double](nOut)
    var n = 0
    while (n < nOut) {
      // exact rational center: t = n*srIn/srOut input samples
      val num = n.toLong * srIn
      val t = num.toDouble / srOut
      val mLo = math.max(0, math.ceil(t - halfWidth).toInt)
      val mHi = math.min(x.length - 1, math.floor(t + halfWidth).toInt)
      var acc = 0.0
      var wSum = 0.0
      var m = mLo
      while (m <= mHi) {
        val u = math.abs(t - m) * scale // f is even in u
        val pos = u * TableRes
        val i0 = pos.toInt
        val frac = pos - i0
        val w = table(i0) * (1.0 - frac) + table(i0 + 1) * frac
        acc += x(m) * w
        wSum += w
        m += 1
      }
      // per-phase gain normalization: constants resample to themselves
      // exactly, and edge windows (truncated taps) keep unit DC gain
      y(n) = if (wSum != 0.0) acc / wSum else 0.0
      n += 1
    }
    y
  }

  /** Table samples per sinc zero-crossing (512 ≈ resampy's precision
    * tier: linear-interp error ~(1/512)²/8 ≈ 5e-7, far under the
    * window's own 80 dB stopband). */
  private val TableRes = 512

  private val DumpDir = "/tmp/graft_audio_oracle"

  /** Driver entry: the seeded voice corpus (PCM16 @ 22.05 kHz) resampled
    * per utterance to 16 kHz (the ASR-standard rate), reported as
    * integer-exact per-utterance aggregates over micro-quantized
    * samples. Hard-oracled on the image-decode pattern: the DSP half
    * (windowed-sinc interpolation) ships as dumped inputs — every
    * output sample as a micro-unit BIGINT — and DuckDB re-runs the
    * aggregation tail (count / DC sum / energy sum, all integer
    * arithmetic) over identical values; the resampler itself is
    * spec-pinned (tone preservation, anti-aliasing, exact-DC, length
    * convention) in SrcSpec.
    */
  def nqAudioResample(s: SparkSession, d: String,
      srOut: Int = 16000): DataFrame = {
    import org.apache.spark.sql.functions._
    val srIn = graft.gen.VoiceDataGen.SampleRate
    val clips = graft.gen.VoiceDataGen.generate(s,
      graft.ml.VoicePipeline.NPhrases, graft.ml.VoicePipeline.Seed)
    val res = udf((pcm: Array[Byte]) => {
      val y = resample(Dsp.pcm16ToDoubles(pcm), srIn, srOut)
      y.map(v => math.rint(v * 1e6).toLong)
    })
    val ys0 = clips.select(col("phrase_id"), col("n_samples").as("n_in"),
      res(col("pcm")).as("y6"))
    // dump mode runs TWO actions over the windowed-sinc UDF (dump +
    // the returned aggregate) — pin ONE materialization (r18 review);
    // without the flag the single action keeps the lazy plan
    val ys =
      if (graft.OracleDump.enabled) graft.Checkpointing.truncate(ys0)
      else ys0
    if (graft.OracleDump.enabled) {
      graft.OracleDump.dump(
        ys.select(col("phrase_id"), explode(col("y6")).as("y6")),
        s"$DumpDir/resampled.parquet")
      graft.OracleDump.dump(ys.select("phrase_id", "n_in"),
        s"$DumpDir/resample_meta.parquet")
    }
    ys.select(col("phrase_id"), col("n_in"), explode(col("y6")).as("y6"))
      .groupBy("phrase_id", "n_in")
      .agg(count(lit(1)).as("n_out"), sum("y6").as("dc6"),
        sum(col("y6") * col("y6")).as("energy6"))
      .orderBy("phrase_id")
  }

  val nqAudioResampleSql: String =
    s"""WITH y AS (
       |  SELECT phrase_id, y6
       |  FROM read_parquet('$DumpDir/resampled.parquet/*.parquet')
       |), meta AS (
       |  SELECT phrase_id, n_in
       |  FROM read_parquet('$DumpDir/resample_meta.parquet/*.parquet')
       |)
       |SELECT m.phrase_id, m.n_in, count(*) AS n_out,
       |  CAST(sum(y.y6) AS BIGINT) AS dc6,
       |  CAST(sum(y.y6 * y.y6) AS BIGINT) AS energy6
       |FROM y JOIN meta m ON y.phrase_id = m.phrase_id
       |GROUP BY m.phrase_id, m.n_in
       |ORDER BY m.phrase_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nq_audio_resample" -> ((s: SparkSession, d: String) =>
      nqAudioResample(s, d)))

  val oracle: Map[String, String] = Map(
    "nq_audio_resample" -> nqAudioResampleSql)

  /** PCM16LE → resample → PCM16LE (the byte-level form the media
    * sources traffic in). */
  def resamplePcm16(pcm: Array[Byte], srIn: Int, srOut: Int): Array[Byte] = {
    val x = Dsp.pcm16ToDoubles(pcm)
    val y = resample(x, srIn, srOut)
    val out = new Array[Byte](y.length * 2)
    var i = 0
    while (i < y.length) {
      val s = math.max(-32768.0, math.min(32767.0,
        math.rint(y(i) * 32767.0))).toInt
      out(2 * i) = (s & 0xff).toByte
      out(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    out
  }
}
