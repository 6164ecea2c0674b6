package graft.ml

import graft.SparkSpec
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.{MultilayerPerceptronClassificationModel, MultilayerPerceptronClassifier}
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.DataFrame

/** The in-task L-BFGS fit is the stock MLlib fit, bit for bit, in one job
  * on a one-partition input; any other layout takes the stock path. */
class InTaskMlpClassifierSpec extends SparkSpec {
  import spark.implicits._

  /** 400 seeded points, label = outside the unit circle: not linearly
    * separable, so L-BFGS runs tens of iterations over 25 blocks of 16. */
  private lazy val rows: DataFrame = {
    val rnd = new scala.util.Random(11)
    Seq.fill(400) {
      val (x, y) = (rnd.nextGaussian(), rnd.nextGaussian())
      (if (x * x + y * y > 1.0) 1.0 else 0.0, Vectors.dense(x, y))
    }.toDF("label", "features")
  }
  private lazy val onePartition = rows.coalesce(1).cache()

  private def configure[E <: MultilayerPerceptronClassifier](e: E): E = {
    e.setLayers(Array(2, 8, 2)).setBlockSize(16).setMaxIter(40).setSeed(7)
    e
  }
  private def stock() = configure(new MultilayerPerceptronClassifier())
  private def inTask() = configure(new InTaskMlpClassifier())
  private def bits(xs: Array[Double]) = xs.map(java.lang.Double.doubleToRawLongBits).toSeq

  private def assertSameFit(a: MultilayerPerceptronClassificationModel,
      b: MultilayerPerceptronClassificationModel): Unit = {
    assert(bits(a.weights.toArray) == bits(b.weights.toArray))
    assert(bits(a.summary.objectiveHistory) == bits(b.summary.objectiveHistory))
  }

  test("one partition: bitwise the stock fit, in at most 5 jobs") {
    assert(onePartition.rdd.getNumPartitions == 1)
    val want = stock().fit(onePartition)
    val (got, jobs) = countJobs(inTask().fit(onePartition))
    assert(want.summary.totalIterations > 10,
      s"fixture too easy: ${want.summary.totalIterations} iterations")
    assertSameFit(got, want)
    assert(jobs <= 5, s"in-task fit launched $jobs jobs")
    assert(got.getClass == classOf[MultilayerPerceptronClassificationModel])
    assert(got.parent.isInstanceOf[InTaskMlpClassifier])
    assert(got.summary.accuracy == want.summary.accuracy)
  }

  test("several partitions: the stock fit, with no extra job") {
    // uncached, so each plan of the input runs the round-robin shuffle
    // again. The stock fit plans it twice (once to log its partitions);
    // this fit plans it once, so it launches one job fewer.
    val shuffled = rows.repartition(3)
    assert(shuffled.rdd.getNumPartitions == 3)
    val (want, stockJobs) = countJobs(stock().fit(shuffled))
    val (got, jobs) = countJobs(inTask().fit(shuffled))
    assertSameFit(got, want)
    assert(jobs == stockJobs - 1, s"$jobs jobs, stock $stockJobs")
    // one treeAggregate job per cost evaluation
    assert(jobs > want.summary.totalIterations, s"only $jobs jobs")
  }

  test("bad labels and NaN features fail as in the stock fit") {
    def failure(e: MultilayerPerceptronClassifier, df: DataFrame) =
      intercept[Exception](e.fit(df.coalesce(1)))
    val badLabel = Seq((0.0, Vectors.dense(0.0, 1.0)), (2.0, Vectors.dense(1.0, 0.0)))
      .toDF("label", "features")
    val nan = Seq((0.0, Vectors.dense(0.0, 1.0)), (1.0, Vectors.dense(Double.NaN, 0.0)))
      .toDF("label", "features")
    for ((df, text) <- Seq(badLabel -> "Labels MUST be in {0, 1}",
        nan -> "Vector values MUST NOT be NaN or Infinity")) {
      val (want, got) = (failure(stock(), df), failure(inTask(), df))
      assert(got.getClass == want.getClass)
      assert(want.getMessage.contains(text), want.getMessage)
      assert(got.getMessage.contains(text), got.getMessage)
    }
  }

  private def tmpDir(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"intask-mlp-$tag").toString

  test("unfitted Pipeline holding the estimator round-trips save/load") {
    val dir = tmpDir("est")
    new Pipeline().setStages(Array(inTask())).write.overwrite().save(dir)
    val back = Pipeline.load(dir).getStages
    assert(back.length == 1)
    val est = back(0).asInstanceOf[InTaskMlpClassifier]
    assert(est.getLayers.toSeq == Seq(2, 8, 2))
    assert(est.getBlockSize == 16 && est.getMaxIter == 40 && est.getSeed == 7)
  }

  test("fitted PipelineModel round-trips save/load with identical predictions") {
    val model = new Pipeline().setStages(Array(inTask().setMaxIter(10)))
      .fit(onePartition)
    val dir = tmpDir("model")
    model.write.overwrite().save(dir)
    val loaded = PipelineModel.load(dir)
    def predictions(m: PipelineModel) =
      m.transform(onePartition).select("prediction", "probability").collect().toSeq
    assert(predictions(loaded) == predictions(model))
  }
}
