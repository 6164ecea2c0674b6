package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.feature.{IndexToString, PCA, StandardScaler, StringIndexer, VectorAssembler}
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.audio.MelSpectrogram
import graft.gen.VoiceDataGen

/** The reference's whole train/predict/report pipeline
  * (`/root/reference/src/voice_classifier.py:45-347`) as one lazy Spark
  * DAG (SURVEY §3.2): generation → mel frames → dB → PCA(4) → interval
  * join against segment boundaries → MI selection → StringIndexer →
  * assemble → MLP → evaluate/confusion.
  *
  * Deliberate rebuild choices (SURVEY §2.J):
  *  - Q1: interval join is half-open [start, end) — exactly one label per
  *    frame (reference double-matched boundary frames then truncated).
  *  - Q2: ONE label mapping end-to-end: StringIndexer(alphabetAsc) —
  *    Female→0, Male→1 — drives both class indices and decoded names
  *    (reference mixed appearance order with alphabetical encoding).
  *  - Q5: the fitted PipelineModel is self-contained; no hidden
  *    train-time state is needed for inference.
  *  - Q6: everything seeded (generation 42, split 42, MLP 42).
  *  - I6: no Conv1D in MLlib — MLP [2, 50, 50, 2] over the same (Time, X)
  *    features (+ standardization standing in for BatchNorm); acceptance
  *    is held-out accuracy ≥ 0.80 (reference: 0.8731), per SURVEY §6.
  *    The MLP is [[InTaskMlpClassifier]]: [[split]] coalesces the
  *    frames to one partition, so the whole L-BFGS loop runs inside that
  *    partition's task — one job per fit instead of one per cost
  *    evaluation, with weights bitwise equal to the stock fit. A layout
  *    that splits the training set falls back to the stock per-evaluation
  *    `treeAggregate` (VoicePipelineSpec pins the one-partition layout).
  */
object VoicePipeline {

  val NPhrases = 11
  val Seed = 42L

  /** Stage 1-3a: generated clips → unlabeled PCA frames (Time, c0..c3)
    * plus the segment-boundary table — the two relations the D1
    * interval join consumes (exposed separately so the voice oracle can
    * dump them and have DuckDB re-run the SAME join; see [[queries]]).
    */
  private[graft] def pcaFramesAndSegments(spark: SparkSession,
      nPhrases: Int = NPhrases, seed: Long = Seed): (DataFrame, DataFrame) = {
    import spark.implicits._
    val segments = VoiceDataGen.segments(nPhrases, seed)
      .map(g => (g.speaker, g.start_sec, g.end_sec))
      .toDF("seg_speaker", "start_sec", "end_sec")
    val clips = VoiceDataGen.generate(spark, nPhrases, seed)
    // cache the synth+FFT+mel output: toDb's ref-max aggregate, PCA.fit,
    // MiSelector's two passes and the final materialization would each
    // re-run the waveform synthesis and FFT otherwise
    val frames = MelSpectrogram.toDb(
      new MelSpectrogram().transform(clips.drop("speaker")).cache())
    val pca = new PCA().setK(4).setInputCol("mel_vec").setOutputCol("pca")
    val withVec = frames
      .withColumn("mel_vec", array_to_vector(col("mel_db")))
    val pcaModel = pca.fit(withVec)
    val pcaFrames = pcaModel.transform(withVec)
      .withColumn("c", vector_to_array(col("pca")))
      .select(col("frame_time").as("Time"),
        col("c").getItem(0).as("c0"), col("c").getItem(1).as("c1"),
        col("c").getItem(2).as("c2"), col("c").getItem(3).as("c3"))
    (pcaFrames, segments)
  }

  /** Stage 1-3: generated clips → labeled PCA frames
    * (Time, c0..c3, speaker).
    */
  def labeledFrames(spark: SparkSession, nPhrases: Int = NPhrases,
      seed: Long = Seed): DataFrame = {
    val (pcaFrames, segments) = pcaFramesAndSegments(spark, nPhrases, seed)
    // D1 interval join, half-open, broadcast segment boundaries
    pcaFrames.join(broadcast(segments),
        col("Time") >= col("start_sec") && col("Time") < col("end_sec"))
      .select(col("Time"), col("c0"), col("c1"), col("c2"), col("c3"),
        col("seg_speaker").as("speaker"))
  }

  // memoized per (session, nPhrases, seed): Verify runs three voice
  // queries in one session — the expensive generation→mel→PCA prefix is
  // shared instead of recomputed per query
  private val tsCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, Int, Long),
      (DataFrame, String)]

  /** Stage 4-5: MI-select the winning component → (Time, X, speaker). */
  def timeSeries(spark: SparkSession, nPhrases: Int = NPhrases,
      seed: Long = Seed): DataFrame =
    timeSeriesWithSelection(spark, nPhrases, seed)._1

  /** [[timeSeries]] plus WHICH c-column MI selection picked — the voice
    * oracle needs the name to re-select it in SQL. */
  private[graft] def timeSeriesWithSelection(spark: SparkSession,
      nPhrases: Int = NPhrases, seed: Long = Seed): (DataFrame, String) = {
    // evict entries of stopped sessions: a long-lived driver that cycles
    // SparkSessions (the test suite shape) must not pin dead sessions
    // and their cached plans forever through this memo
    tsCache.filterInPlace { case ((s, _, _), _) =>
      !s.sparkContext.isStopped
    }
    tsCache.getOrElseUpdate((spark, nPhrases, seed), {
      val lf = labeledFrames(spark, nPhrases, seed)
      val selector = new MiSelector()
        .setFeatureCols(Array("c0", "c1", "c2", "c3"))
        .setLabelCol("speaker").setOutputCol("X")
      val model = selector.fit(lf)
      (model.transform(lf).select("Time", "X", "speaker").cache(),
        model.getSelectedCol)
    })
  }

  case class Result(predictions: DataFrame, confusion: DataFrame,
    accuracy: Double, logLoss: Double)

  /** Stage 6: the seeded 80/20 holdout split, over one partition:
    * randomSplit seeds each partition by its index, so one partition
    * makes the split the same under any upstream layout, and it is the
    * layout [[InTaskMlpClassifier]] fits in one task. */
  private[graft] def split(ts: DataFrame): (DataFrame, DataFrame) = {
    val Array(train, test) = ts.coalesce(1).randomSplit(Array(0.8, 0.2), seed = 42)
    (train, test)
  }

  /** Stage 7: index labels, assemble and standardize (Time, X), fit the
    * MLP. */
  private[graft] def fit(train: DataFrame): PipelineModel = {
    val indexer = new StringIndexer().setInputCol("speaker")
      .setOutputCol("label").setStringOrderType("alphabetAsc")
    val assembler = new VectorAssembler()
      .setInputCols(Array("Time", "X")).setOutputCol("rawFeatures")
    val scaler = new StandardScaler().setInputCol("rawFeatures")
      .setOutputCol("features").setWithMean(true).setWithStd(true)
    val mlp = new InTaskMlpClassifier()
      .setLayers(Array(2, 50, 50, 2)).setSeed(42).setMaxIter(100)
      .setFeaturesCol("features").setLabelCol("label")
    new Pipeline().setStages(Array(indexer, assembler, scaler, mlp)).fit(train)
  }

  /** Stage 6-8: split, fit, predict, evaluate. */
  def trainAndEvaluate(spark: SparkSession, nPhrases: Int = NPhrases,
      seed: Long = Seed): Result = {
    val ts = timeSeries(spark, nPhrases, seed) // already cached by tsCache
    val (train, test) = split(ts)
    val model = fit(train)
    val labels = model.stages(0)
      .asInstanceOf[org.apache.spark.ml.feature.StringIndexerModel].labelsArray(0)
    val decoded = new IndexToString().setInputCol("prediction")
      .setOutputCol("speaker_pred").setLabels(labels)
    // one inference pass, cached: predictions feed the report, confusion
    // matrix, and both evaluators
    val scored = decoded.transform(model.transform(test)).cache()
    val preds = scored
      .withColumn("p", vector_to_array(col("probability")))
      .select(col("Time"), col("X"), col("speaker"), col("label"),
        col("prediction"), col("speaker_pred"),
        col("p").getItem(0).as(s"p_${labels(0)}"),
        col("p").getItem(1).as(s"p_${labels(1)}"))
      .orderBy("Time")
    val confusion = preds.groupBy("speaker").pivot("speaker_pred", labels)
      .count().na.fill(0L).orderBy("speaker")
    val acc = new MulticlassClassificationEvaluator().setLabelCol("label")
      .setPredictionCol("prediction").setMetricName("accuracy")
      .evaluate(scored)
    val ll = new MulticlassClassificationEvaluator().setLabelCol("label")
      .setProbabilityCol("probability").setMetricName("logLoss")
      .evaluate(scored)
    Result(preds, confusion, acc, ll)
  }

  /** Per-class precision/recall/F1 report (reference E5), derived from
    * the confusion counts with the indexer's label set (never hardcoded —
    * SURVEY quirk Q3).
    */
  def classificationReport(preds: DataFrame): DataFrame = {
    val byPair = preds.groupBy("speaker", "speaker_pred").count()
    val tp = byPair.filter(col("speaker") === col("speaker_pred"))
      .select(col("speaker").as("cls"), col("count").as("tp"))
    val actual = byPair.groupBy("speaker").agg(sum("count").as("support"))
      .withColumnRenamed("speaker", "cls")
    val predicted = byPair.groupBy("speaker_pred").agg(sum("count").as("n_pred"))
      .withColumnRenamed("speaker_pred", "cls")
    actual.join(predicted, Seq("cls"), "left").join(tp, Seq("cls"), "left")
      .na.fill(0L, Seq("tp", "n_pred"))
      .select(col("cls").as("speaker"),
        // a class the model never predicts has 0/0 precision — IEEE NaN
        // through Spark's double divide; sklearn's classification_report
        // (the E5 reference) defines that case as 0.0
        round(when(col("n_pred") === 0, lit(0.0))
          .otherwise(col("tp") / col("n_pred")), 4).as("precision"),
        round(col("tp") / col("support"), 4).as("recall"),
        round(lit(2.0) * col("tp") / (col("n_pred") + col("support")), 4)
          .as("f1"),
        col("support"))
      .orderBy("speaker")
  }

  /** Fixed absolute dir where the voice queries dump their seeded
    * generated inputs for the DuckDB oracle. The voice corpus is
    * GENERATED (B1/B2), not part of the driver's sfDir tables, so the
    * SQL-expressible stages (B7 cumsum transcript; D1 half-open
    * interval labeling) are oracle-checked by writing the exact input
    * relations to parquet and having the oracle SQL `read_parquet` them
    * by absolute path — the same join/window then runs in both engines
    * (SURVEY §7.2 step 1 notes D1/B7 are oracle-expressible). */
  private[graft] val OracleDumpDir = "/tmp/graft_voice_oracle"

  // --- driver-contract queries, all hard-oracled via OracleDumpDir:
  // the engine-specific halves (MLP training, PCA, mel/DCT framing)
  // stay spec-pinned, and the SQL-expressible tails re-run in DuckDB
  // over the dumped inputs.
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "nq_voice_transcript" -> ((s: SparkSession, _: String) => {
      // dump the PRE-cumsum rows; the oracle recomputes the running
      // total with the same ROWS-ordered window over the same doubles
      graft.OracleDump.dump(
        VoiceDataGen.generate(s, NPhrases, Seed)
          .select("phrase_id", "speaker", "dur_sec", "text"),
        s"$OracleDumpDir/transcript_src.parquet")
      VoiceDataGen.transcript(s, NPhrases, Seed)
        .withColumn("seconds", round(col("seconds"), 2))
    }),
    "nq_voice_timeseries" -> ((s: SparkSession, _: String) => {
      // dump the UNLABELED frames, the segment table, and which c-column
      // MI picked — DuckDB re-runs the half-open interval labeling from
      // the pre-join inputs (a dropped or double-matched boundary frame
      // would hash-mismatch)
      val (ts, selected) = timeSeriesWithSelection(s)
      // dump work gated like nq_mfcc (r18 review): without the flag
      // the dumps are no-ops, and the second synthesis + FFT + PCA.fit
      // pass (pcaFramesAndSegments is eager) would bill every timed
      // Bench run for discarded work — the OracleDump contract
      if (graft.OracleDump.enabled) {
        val (pcaFrames, segments) = pcaFramesAndSegments(s)
        graft.OracleDump.dump(pcaFrames,
          s"$OracleDumpDir/ts_frames.parquet")
        graft.OracleDump.dump(segments,
          s"$OracleDumpDir/ts_segments.parquet")
        import s.implicits._
        graft.OracleDump.dump(Seq(selected).toDF("sel_col"),
          s"$OracleDumpDir/ts_selected.parquet")
      }
      ts.withColumn("Time", round(col("Time"), 6))
        .withColumn("X", round(col("X"), 6)).orderBy("Time")
    }),
    "nq_voice_eval" -> ((s: SparkSession, _: String) => {
      val r = trainAndEvaluate(s)
      // dump the holdout's (actual, predicted) pairs: the MLP that
      // produced them is engine-specific (spec-pinned at acc ≥ 0.80),
      // but the E5/E7 tail — per-class precision/recall/F1/support and
      // overall accuracy — is plain SQL over the pairs, so DuckDB
      // re-derives the whole report from identical inputs
      graft.OracleDump.dump(
        r.predictions.select("speaker", "speaker_pred"),
        s"$OracleDumpDir/eval_preds.parquet")
      val report = classificationReport(r.predictions)
      report.withColumn("accuracy", round(lit(r.accuracy), 4))
    }),
    // MFCC over the seeded voice corpus — the I1 feature path's standard
    // extension tier, one row per (frame, coefficient). Hard-oracled:
    // the engine half (mel framing + JVM transcendentals) dumps as
    // inputs — the log-mel vectors with the UDF's exact arithmetic and
    // the DCT basis as data — and DuckDB re-runs the multiply-accumulate
    // tail via list_dot_product over identical doubles.
    "nq_mfcc" -> ((s: SparkSession, _: String) => {
      val clips = VoiceDataGen.generate(s, NPhrases, Seed)
      val frames = new MelSpectrogram().transform(clips.drop("speaker"))
      if (graft.OracleDump.enabled) {
        import s.implicits._
        graft.OracleDump.dump(
          frames.select(col("phrase_id"), col("frame_id"),
            col("frame_time"),
            graft.audio.Mfcc.logMelUdf()(col("mel")).as("v")),
          s"$OracleDumpDir/mfcc_logmel.parquet")
        graft.OracleDump.dump(
          graft.audio.Mfcc.dctBasis(n = 20, nMfcc = 13)
            .toDF("k", "basis", "scale"),
          s"$OracleDumpDir/mfcc_basis.parquet")
      }
      graft.audio.Mfcc.withMfcc(frames)
        .select(col("phrase_id"), col("frame_id"),
          round(col("frame_time"), 6).as("frame_time"),
          posexplode(col("mfcc")).as(Seq("k", "mfcc")))
        .withColumn("mfcc", round(col("mfcc"), 6))
        .orderBy("phrase_id", "frame_id", "k")
    }))

  /** DuckDB oracles over the dumped generated inputs (see
    * [[OracleDumpDir]]): the transcript's B7 running cumsum and the
    * timeseries' D1 half-open interval labeling re-run in SQL against
    * the exact parquet inputs the Spark side consumed. */
  val oracle: Map[String, String] = Map(
    "nq_voice_transcript" ->
      s"""SELECT speaker, round(seconds, 2) AS seconds, text FROM (
         |  SELECT speaker,
         |    sum(dur_sec) OVER (ORDER BY phrase_id
         |                       ROWS UNBOUNDED PRECEDING) AS seconds,
         |    text
         |  FROM read_parquet('$OracleDumpDir/transcript_src.parquet/*.parquet'))
         |ORDER BY seconds""".stripMargin,
    "nq_voice_timeseries" ->
      s"""SELECT round(f.Time, 6) AS Time,
         |  -- "+ 0.0" normalizes IEEE -0.0 (a signed PCA component in
         |  -- (-5e-7, 0) rounds to -0.0 here but +0.0 in Spark's
         |  -- BigDecimal round — the r11 nq_mfcc_delta hash flake)
         |  round(CASE s.sel_col WHEN 'c0' THEN f.c0 WHEN 'c1' THEN f.c1
         |        WHEN 'c2' THEN f.c2 ELSE f.c3 END, 6) + 0.0 AS X,
         |  g.seg_speaker AS speaker
         |FROM read_parquet('$OracleDumpDir/ts_frames.parquet/*.parquet') f
         |CROSS JOIN read_parquet('$OracleDumpDir/ts_selected.parquet/*.parquet') s
         |JOIN read_parquet('$OracleDumpDir/ts_segments.parquet/*.parquet') g
         |  ON f.Time >= g.start_sec AND f.Time < g.end_sec
         |ORDER BY Time""".stripMargin,
    // E5/E7 report tail re-derived from the dumped holdout pairs: the
    // MLP is engine-specific (spec-pinned acc ≥ 0.80), the report is
    // plain SQL — per-class precision (0 when never predicted, the
    // sklearn convention), recall, F1, support, overall accuracy.
    "nq_voice_eval" ->
      s"""WITH p AS (SELECT speaker, speaker_pred
         |  FROM read_parquet('$OracleDumpDir/eval_preds.parquet/*.parquet')),
         |a AS (SELECT speaker AS cls, count(*) AS support FROM p GROUP BY 1),
         |pr AS (SELECT speaker_pred AS cls, count(*) AS n_pred
         |       FROM p GROUP BY 1),
         |t AS (SELECT speaker AS cls, count(*) AS tp FROM p
         |      WHERE speaker = speaker_pred GROUP BY 1),
         |acc AS (SELECT round(
         |    sum(CASE WHEN speaker = speaker_pred THEN 1.0 ELSE 0.0 END)
         |      / count(*), 4) AS accuracy FROM p)
         |SELECT a.cls AS speaker,
         |  round(CASE WHEN coalesce(pr.n_pred, 0) = 0 THEN 0.0
         |        ELSE coalesce(t.tp, 0) / pr.n_pred END, 4) AS precision,
         |  round(coalesce(t.tp, 0) / a.support, 4) AS recall,
         |  round(2.0 * coalesce(t.tp, 0)
         |        / (coalesce(pr.n_pred, 0) + a.support), 4) AS f1,
         |  a.support, acc.accuracy
         |FROM a LEFT JOIN pr USING (cls) LEFT JOIN t USING (cls)
         |CROSS JOIN acc
         |ORDER BY speaker""".stripMargin,
    // DCT multiply-accumulate tail over the dumped log-mel vectors and
    // basis rows — list_dot_product is the same sequential sum as
    // dct2's loop, over bitwise-identical doubles (the transcendental
    // halves ship as inputs), so round-6 compares exactly.
    "nq_mfcc" ->
      s"""SELECT f.phrase_id, f.frame_id,
         |  round(f.frame_time, 6) AS frame_time, b.k,
         |  -- "+ 0.0": signed coefficient, same -0.0 normalization as
         |  -- nq_mfcc_delta (FeatureQueries) and the X column above
         |  round(list_dot_product(f.v, b.basis) * b.scale, 6) + 0.0 AS mfcc
         |FROM read_parquet('$OracleDumpDir/mfcc_logmel.parquet/*.parquet') f
         |CROSS JOIN read_parquet('$OracleDumpDir/mfcc_basis.parquet/*.parquet') b
         |ORDER BY phrase_id, frame_id, k""".stripMargin)
}
