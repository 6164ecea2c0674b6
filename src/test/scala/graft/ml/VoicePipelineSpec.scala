package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** End-to-end pipeline acceptance (SURVEY §5.2/§6): seeded generation →
  * features → train → ≥0.80 held-out accuracy (reference: 0.8731).
  * Runs on a reduced 7-phrase dataset to keep the suite fast.
  */
class VoicePipelineSpec extends SparkSpec {
  import spark.implicits._

  test("labeled frames: classes present, time strictly within segments") {
    val lf = VoicePipeline.labeledFrames(spark, nPhrases = 4).cache()
    val speakers = lf.select("speaker").distinct().as[String].collect().toSet
    assert(speakers == Set("Male", "Female"))
    // every frame labeled exactly once: count equals distinct Time count
    assert(lf.count() == lf.select("Time").distinct().count())
  }

  test("MLP on (Time, X) reaches reference-band accuracy") {
    val r = VoicePipeline.trainAndEvaluate(spark, nPhrases = 7)
    assert(r.accuracy >= 0.80,
      s"accuracy ${r.accuracy} below the 0.80 acceptance bar")
    // confusion matrix covers both classes
    assert(r.confusion.count() == 2)
  }

  test("voice training set is one partition and its fit launches at most 5 jobs") {
    // split coalesces to the one partition the in-task MLP fit needs, and
    // the frames before it are spread over several; a split that stops
    // doing so brings back one L-BFGS job per cost evaluation (~100 per
    // fit) and fails here instead of silently costing seconds
    val ts = VoicePipeline.timeSeries(spark, nPhrases = 7)
    assert(ts.rdd.getNumPartitions > 1)
    val (train, _) = VoicePipeline.split(ts)
    assert(train.rdd.getNumPartitions == 1)
    val (_, jobs) = countJobs(VoicePipeline.fit(train))
    assert(jobs <= 5, s"voice pipeline fit launched $jobs jobs")
  }

  test("the holdout split gives the same rows under any upstream layout") {
    val ts = VoicePipeline.timeSeries(spark, nPhrases = 7)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("Time").collect().toSeq
    val (train, test) = VoicePipeline.split(ts)
    val (train3, test3) = VoicePipeline.split(ts.repartition(3))
    assert(rows(train).nonEmpty && rows(test).nonEmpty)
    assert(rows(train3) === rows(train))
    assert(rows(test3) === rows(test))
  }

  test("the voice corpus is synthesized once per pipeline") {
    // a seed no other test uses, so no cache from another test answers
    val before = graft.gen.VoiceDataGen.synthCalls.get()
    VoicePipeline.labeledFrames(spark, nPhrases = 3, seed = 9001L).count()
    assert(graft.gen.VoiceDataGen.synthCalls.get() - before == 3)
  }

  test("classificationReport: never-predicted class gets 0.0 precision, not NaN") {
    // degenerate predictions: the model only ever says Male — sklearn's
    // classification_report (the E5 reference) reports precision 0.0 for
    // Female, and the nq_voice_eval contract must match, not emit NaN
    val preds = Seq(
      ("Male", "Male"), ("Male", "Male"),
      ("Female", "Male"), ("Female", "Male"))
      .toDF("speaker", "speaker_pred")
    val rep = VoicePipeline.classificationReport(preds)
      .orderBy("speaker").collect()
    val female = rep(0)
    assert(female.getString(0) == "Female")
    assert(female.getDouble(1) == 0.0, "precision must be 0.0, not NaN")
    assert(female.getDouble(2) == 0.0) // recall: 0 tp / 2 support
    assert(!female.getDouble(3).isNaN) // f1 well-defined (denominator > 0)
    val male = rep(1)
    assert(male.getDouble(1) == 0.5 && male.getDouble(2) == 1.0)
  }
}
