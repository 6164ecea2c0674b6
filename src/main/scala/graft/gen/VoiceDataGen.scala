package graft.gen

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Seeded synthetic labeled-audio dataset generator — the Spark-native
  * rebuild of the reference's generation pipeline
  * (`/root/reference/src/data_generator.py:5-33`, `src/tts.py:4-16`,
  * `src/lorem_generator.py:3-4`):
  *
  *  - B1 lorem text: N sentences per phrase, N ~ U[5,15], seeded per row
  *    (reference: unseeded `random.randint` — quirk Q6, made deterministic).
  *  - B2 TTS: replaced by a deterministic per-speaker waveform synth
  *    (no OS speech engine on executors): each speaker has a distinct
  *    fundamental + harmonic comb, text-modulated, so the downstream
  *    mel→PCA projection class-separates (SURVEY §7.4 risk 4).
  *  - B4 alternating labels: Male iff phrase_id % 2 == 0
  *    (`data_generator.py:18`).
  *  - B5 whole-second truncation: duration floored to whole seconds
  *    (`data_generator.py:20`).
  *  - B6/B7 concatenation + running cumulative end-seconds: kept as
  *    per-phrase rows + a window cumsum — the scale-friendly form of the
  *    reference's serial `mp3_data += segment; len(mp3_data)/1000`
  *    accumulator (`data_generator.py:14-21`).
  *
  * Audio is carried as a **multimodal binary column** (16-bit PCM bytes)
  * plus typed metadata (sample_rate, n_samples) — the engine's generic
  * opaque-media representation (SURVEY §2.K multimodal columns).
  */
object VoiceDataGen {

  val SampleRate = 22050

  /** Phrases synthesized by [[generate]]'s UDF in this JVM — executors
    * included only in local mode. A cheap hook that pins how often a
    * pipeline pays for synthesis (VoicePipelineSpec). */
  private[graft] val synthCalls = new java.util.concurrent.atomic.AtomicLong()

  private val loremWords: Array[String] =
    ("lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod " +
      "tempor incididunt ut labore et dolore magna aliqua enim ad minim " +
      "veniam quis nostrud exercitation ullamco laboris nisi aliquip ex ea " +
      "commodo consequat duis aute irure in reprehenderit voluptate velit " +
      "esse cillum eu fugiat nulla pariatur excepteur sint occaecat " +
      "cupidatat non proident sunt culpa qui officia deserunt mollit anim " +
      "id est laborum").split(" ")

  /** Deterministic lorem text for one phrase: N ~ U[5,15] sentences of
    * 4–9 words (mirrors `lorem_generator.py:3-4` semantics, seeded).
    */
  def loremText(seed: Long, phraseId: Long): String = {
    val rnd = new java.util.Random(seed * 1000003L + phraseId)
    val nSentences = 5 + rnd.nextInt(11)
    (0 until nSentences).map { _ =>
      val nWords = 4 + rnd.nextInt(6)
      val ws = (0 until nWords).map(_ => loremWords(rnd.nextInt(loremWords.length)))
      ws.head.capitalize + ws.tail.mkString(" ", " ", "") + "."
    }.mkString(" ")
  }

  /** Deterministic waveform synth (the TTS stand-in, B2): harmonic comb
    * at the speaker's fundamental, per-character formant modulation.
    * Returns 16-bit little-endian PCM covering exactly
    * floor(nChars * secPerChar) seconds (B5 whole-second truncation).
    */
  def synthPcm(text: String, male: Boolean, secPerChar: Double = 0.07): Array[Byte] = {
    val f0 = if (male) 120.0 else 225.0
    // distinct harmonic amplitude profiles per class
    val harmonics = if (male) Array(1.0, 0.7, 0.5, 0.35, 0.25)
                    else Array(1.0, 0.4, 0.8, 0.2, 0.45)
    val durSec = math.floor(text.length * secPerChar).toInt
    val n = durSec * SampleRate
    val out = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val t = i.toDouble / SampleRate
      // formant-ish modulation driven by the character under the cursor
      val charIdx = math.min(text.length - 1, (t / secPerChar).toInt)
      val c = text.charAt(charIdx)
      val mod = 1.0 + 0.02 * ((c % 17) - 8) // ±16% pitch wobble by char
      var acc = 0.0
      var h = 0
      while (h < harmonics.length) {
        acc += harmonics(h) * math.sin(2.0 * math.Pi * f0 * (h + 1) * mod * t)
        h += 1
      }
      val env = 0.35 + 0.15 * math.sin(2.0 * math.Pi * 3.0 * t) // syllable envelope
      val v = (acc / harmonics.length) * env
      val s16 = math.max(-32767, math.min(32767, (v * 32767.0).toInt)).toShort
      out(2 * i) = (s16 & 0xff).toByte
      out(2 * i + 1) = ((s16 >> 8) & 0xff).toByte
      i += 1
    }
    out
  }

  /** The generated dataset: one row per phrase with text, speaker,
    * interval [start_sec, end_sec), cumulative end `seconds` (the
    * reference transcript's column), and the PCM binary + metadata.
    */
  def generate(spark: SparkSession, nPhrases: Int, seed: Long = 42L): DataFrame = {
    import spark.implicits._
    val base = spark.range(nPhrases.toLong).toDF("phrase_id")
      .withColumn("speaker",
        when(col("phrase_id") % 2 === 0, "Male").otherwise("Female"))
    val synth = udf { (phraseId: Long, speaker: String) =>
      synthCalls.incrementAndGet()
      val text = loremText(seed, phraseId)
      val pcm = synthPcm(text, speaker == "Male")
      (text, pcm, pcm.length / 2)
    }
    val w = Window.orderBy("phrase_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("gen", synth(col("phrase_id"), col("speaker")))
      .select(col("phrase_id"), col("speaker"),
        col("gen._1").as("text"), col("gen._2").as("pcm"),
        col("gen._3").as("n_samples"),
        lit(SampleRate).as("sample_rate"))
      .withColumn("dur_sec",
        col("n_samples").cast("double") / col("sample_rate"))
      // B7: running cumulative end time == the transcript's `seconds`.
      // start_sec is the PREVIOUS row's cumsum (lag), not seconds −
      // dur_sec: fl(fl(S+d)−d) == S is not guaranteed in IEEE-754, and
      // an ulp of overlap would let the half-open interval join label a
      // boundary frame twice (with the wrong speaker). lag makes
      // start_i ≡ end_{i−1} exactly, so segments tile the timeline.
      .withColumn("seconds", sum("dur_sec").over(w))
      .withColumn("start_sec", coalesce(
        lag("seconds", 1).over(Window.orderBy("phrase_id")), lit(0.0)))
      .withColumn("end_sec", col("seconds"))
  }

  /** The transcript view matching the reference CSV schema
    * (`speaker,seconds,text`, seconds = cumulative end time).
    */
  def transcript(spark: SparkSession, nPhrases: Int, seed: Long = 42L): DataFrame =
    generate(spark, nPhrases, seed).select("speaker", "seconds", "text")
}
