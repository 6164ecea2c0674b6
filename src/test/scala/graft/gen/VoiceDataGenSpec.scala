package graft.gen

import graft.SparkSpec
import org.apache.spark.sql.functions._

class VoiceDataGenSpec extends SparkSpec {
  import spark.implicits._

  private lazy val gen = VoiceDataGen.generate(spark, 6, seed = 42L).cache()

  test("deterministic: same seed → identical dataset") {
    val again = VoiceDataGen.generate(spark, 6, seed = 42L)
    val a = gen.select("phrase_id", "text", "n_samples")
      .orderBy("phrase_id").collect()
    val b = again.select("phrase_id", "text", "n_samples")
      .orderBy("phrase_id").collect()
    assert(a.sameElements(b))
  }

  test("speakers alternate Male/Female starting Male (reference B4)") {
    val sp = gen.orderBy("phrase_id").select("speaker").as[String].collect()
    sp.zipWithIndex.foreach { case (s, i) =>
      assert(s == (if (i % 2 == 0) "Male" else "Female"))
    }
  }

  test("durations are whole seconds (reference B5) and cumsum is end_sec (B7)") {
    val rows = gen.orderBy("phrase_id")
      .select("dur_sec", "end_sec", "start_sec", "n_samples", "pcm").collect()
    var prevEnd = 0.0
    rows.foreach { r =>
      val (dur, end, start) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
      assert(dur == math.floor(dur) && dur >= 1.0, s"dur $dur not whole-second")
      assert(r.getInt(3) == dur * VoiceDataGen.SampleRate &&
        r.getAs[Array[Byte]](4).length == 2 * r.getInt(3),
        "the synthesized PCM must last dur_sec")
      // bitwise: an ulp of overlap or gap would let the half-open
      // interval join label a boundary frame twice or not at all
      assert(java.lang.Double.doubleToRawLongBits(start) ==
        java.lang.Double.doubleToRawLongBits(prevEnd), s"start $start != $prevEnd")
      prevEnd += dur
      assert(java.lang.Double.doubleToRawLongBits(end) ==
        java.lang.Double.doubleToRawLongBits(prevEnd), s"end $end != $prevEnd")
    }
  }

  test("seconds is bitwise the ROWS running sum of dur_sec by phrase_id (B7)") {
    val rows = gen.select(col("seconds"), col("end_sec"), expr(
        "sum(dur_sec) OVER (ORDER BY phrase_id ROWS UNBOUNDED PRECEDING)"))
      .as[(Double, Double, Double)].collect()
    assert(rows.length == 6)
    rows.foreach { case (seconds, end, ref) =>
      assert(java.lang.Double.doubleToRawLongBits(seconds) ==
        java.lang.Double.doubleToRawLongBits(ref), s"$seconds != $ref")
      assert(seconds == end)
    }
  }

  test("pcm is non-silent and bounded") {
    val stats = gen.limit(2).select("pcm").as[Array[Byte]].collect().map { pcm =>
      val xs = graft.audio.Dsp.pcm16ToDoubles(pcm)
      (xs.map(math.abs).max, xs.map(math.abs).sum / xs.length)
    }
    stats.foreach { case (mx, meanAbs) =>
      assert(mx <= 1.0 && mx > 0.1, s"max amplitude $mx")
      assert(meanAbs > 0.01, "waveform is near-silent")
    }
  }
}
