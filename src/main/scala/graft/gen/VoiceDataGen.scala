package graft.gen

import org.apache.spark.sql.{DataFrame, SparkSession}
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
  *    per-phrase rows whose interval comes from [[segments]], a driver
  *    table built with the reference's serial `mp3_data += segment;
  *    len(mp3_data)/1000` accumulator (`data_generator.py:14-21`) —
  *    durations follow from the text alone, so no PCM is needed to place
  *    a phrase, and the synthesis runs in parallel.
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

  private val SecPerChar = 0.07

  /** A phrase's whole-second duration: floor(nChars × 0.07) (B5
    * whole-second truncation). */
  def durationSec(text: String): Int = math.floor(text.length * SecPerChar).toInt

  /** Deterministic waveform synth (the TTS stand-in, B2): harmonic comb
    * at the speaker's fundamental, per-character formant modulation.
    * Returns 16-bit little-endian PCM covering exactly
    * [[durationSec]]`(text)` seconds.
    */
  def synthPcm(text: String, male: Boolean): Array[Byte] = {
    val f0 = if (male) 120.0 else 225.0
    // distinct harmonic amplitude profiles per class
    val harmonics = if (male) Array(1.0, 0.7, 0.5, 0.35, 0.25)
                    else Array(1.0, 0.4, 0.8, 0.2, 0.45)
    val n = durationSec(text) * SampleRate
    val out = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val t = i.toDouble / SampleRate
      // formant-ish modulation driven by the character under the cursor
      val charIdx = math.min(text.length - 1, (t / SecPerChar).toInt)
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

  /** One phrase of the corpus, without its audio. */
  case class Segment(phrase_id: Long, speaker: String, text: String,
    n_samples: Int, dur_sec: Double, seconds: Double, start_sec: Double,
    end_sec: Double)

  /** The corpus metadata, on the driver: one [[Segment]] per phrase in
    * `phrase_id` order. `seconds` is the running end (B7, the reference
    * transcript's column), summed left to right from 0.0 like a ROWS
    * window's running sum; each interval [start_sec, end_sec) starts at
    * the previous phrase's end, so the segments tile the timeline and the
    * half-open interval join labels every frame once.
    */
  def segments(nPhrases: Int, seed: Long): Seq[Segment] = {
    var end = 0.0
    (0 until nPhrases).map { i =>
      val text = loremText(seed, i.toLong)
      val dur = durationSec(text)
      val start = end
      end += dur
      Segment(i.toLong, if (i % 2 == 0) "Male" else "Female", text,
        dur * SampleRate, dur, end, start, end)
    }
  }

  /** The generated dataset: the [[segments]] table plus the PCM binary
    * and its sample rate. The synthesis UDF is the only per-row work;
    * the table is an RDD (a local relation would let Catalyst fold the
    * UDF on the driver at optimization time).
    */
  def generate(spark: SparkSession, nPhrases: Int, seed: Long = 42L): DataFrame = {
    import spark.implicits._
    val synth = udf { (text: String, speaker: String) =>
      synthCalls.incrementAndGet()
      synthPcm(text, speaker == "Male")
    }
    spark.sparkContext.parallelize(segments(nPhrases, seed)).toDF()
      .select(col("phrase_id"), col("speaker"), col("text"),
        synth(col("text"), col("speaker")).as("pcm"), col("n_samples"),
        lit(SampleRate).as("sample_rate"), col("dur_sec"), col("seconds"),
        col("start_sec"), col("end_sec"))
  }

  /** The transcript view matching the reference CSV schema
    * (`speaker,seconds,text`, seconds = cumulative end time).
    */
  def transcript(spark: SparkSession, nPhrases: Int, seed: Long = 42L): DataFrame =
    generate(spark, nPhrases, seed).select("speaker", "seconds", "text")
}
