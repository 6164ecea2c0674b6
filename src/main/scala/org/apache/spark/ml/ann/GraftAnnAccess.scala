package org.apache.spark.ml.ann

import breeze.linalg.{DenseVector => BDV}
import breeze.optimize.DiffFunction
import org.apache.spark.ml.classification.{MultilayerPerceptronClassificationModel, MultilayerPerceptronClassifier}
import org.apache.spark.ml.feature.OneHotEncoderModel
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.util.DatasetUtils
import org.apache.spark.mllib.linalg.{BLAS, Vector => OldVector, Vectors => OldVectors}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Row}

/** Package-scoped access to the `private[ml]` pieces of MLlib's MLP
  * trainer, for [[graft.ml.InTaskMlpClassifier]]. Each member restates
  * the Spark 4.1 code it names (public source:
  * org/apache/spark/ml/classification/MultilayerPerceptronClassifier.scala,
  * org/apache/spark/ml/ann/Layer.scala,
  * org/apache/spark/mllib/optimization/LBFGS.scala) with the same calls in
  * the same order, so a fit built from them is bitwise the stock fit.
  */
object GraftAnnAccess {

  /** `MultilayerPerceptronClassifier.train`'s input rows: labels checked
    * against [0, numClasses), features checked for NaN, labels one-hot
    * encoded. The checks raise when a job evaluates the rows. */
  def labeledVectors(mlp: MultilayerPerceptronClassifier,
      dataset: Dataset[_]): RDD[(Vector, Vector)] = {
    val labels = mlp.getLayers.last
    val validated = dataset.select(
      DatasetUtils.checkClassificationLabels(mlp.getLabelCol, Some(labels))
        .as("_validated_label_"),
      DatasetUtils.checkNonNanVectors(mlp.getFeaturesCol)
        .as("_validated_features_"))
    val encodedLabelCol = "_encoded" + mlp.getLabelCol
    new OneHotEncoderModel(mlp.uid, Array(labels))
      .setInputCols(Array("_validated_label_"))
      .setOutputCols(Array(encodedLabelCol))
      .setDropLast(false)
      .transform(validated)
      .select("_validated_features_", encodedLabelCol).rdd.map {
        case Row(features: Vector, encodedLabel: Vector) => (features, encodedLabel)
      }
  }

  /** `train`'s stock fit of the rows from `init`: `FeedForwardTrainer`
    * with the estimator's solver settings, one `treeAggregate` job per
    * cost evaluation. Returns the weights and the objective history. */
  def stockFit(mlp: MultilayerPerceptronClassifier, data: RDD[(Vector, Vector)],
      init: Vector): (Vector, Array[Double]) = {
    val layers = mlp.getLayers
    val trainer = new FeedForwardTrainer(topology(layers), layers.head, layers.last)
      .setWeights(init)
    if (mlp.getSolver == "l-bfgs") {
      trainer.LBFGSOptimizer
        .setConvergenceTol(mlp.getTol)
        .setNumIterations(mlp.getMaxIter)
    } else {
      trainer.SGDOptimizer
        .setNumIterations(mlp.getMaxIter)
        .setConvergenceTol(mlp.getTol)
        .setStepSize(mlp.getStepSize)
    }
    trainer.setStackSize(mlp.getBlockSize)
    val (model, history) = trainer.train(data)
    (model.weights, history)
  }

  /** `FeedForwardTrainer.train`'s blocks: `DataStacker` packs each
    * partition's rows, in order, into (row count, stacked vector) blocks
    * of up to `blockSize` rows. */
  def stack(data: RDD[(Vector, Vector)], layers: Array[Int],
      blockSize: Int): RDD[(Double, OldVector)] =
    new DataStacker(blockSize, layers.head, layers.last).stack(data)
      .map(v => (v._1, OldVectors.fromML(v._2)))

  /** `FeedForwardTrainer.train`'s starting weights for a seed (used when
    * the estimator has no initial weights set). */
  def seededWeights(layers: Array[Int], seed: Long): Vector =
    topology(layers).model(seed).weights

  /** `LBFGS.CostFun` over blocks held in memory, with `numExamples` = the
    * block count as `runLBFGS` counts it. Per evaluation it folds the
    * blocks in order from a sparse zero through `ANNGradient`, then
    * applies `treeAggregate`'s two zero-valued combines of a
    * one-partition RDD (the task's `fold`, then the driver's), then the
    * `ANNUpdater` regularization terms. */
  def costFun(blocks: Array[(Double, OldVector)], layers: Array[Int],
      blockSize: Int): DiffFunction[BDV[Double]] = {
    val gradient = new ANNGradient(topology(layers),
      new DataStacker(blockSize, layers.head, layers.last))
    val updater = new ANNUpdater()
    val regParam = 0.0 // mllib LBFGS default; FeedForwardTrainer never sets it
    val numExamples = blocks.length.toLong
    type Acc = (OldVector, Double)
    val combOp = (c1: Acc, c2: Acc) => {
      val denseGrad1 = c1._1.toDense
      val denseGrad2 = c2._1.toDense
      BLAS.axpy(1.0, denseGrad2, denseGrad1)
      (denseGrad1: OldVector, c1._2 + c2._2)
    }
    new DiffFunction[BDV[Double]] {
      override def calculate(weights: BDV[Double]): (Double, BDV[Double]) = {
        val w = OldVectors.fromBreeze(weights)
        val n = w.size
        val seqOp = (c: Acc, v: (Double, OldVector)) => {
          val denseGrad = c._1.toDense
          val l = gradient.compute(v._2, v._1, w, denseGrad)
          (denseGrad: OldVector, c._2 + l)
        }
        def zero: Acc = (OldVectors.sparse(n, Seq.empty), 0.0)
        val (gradientSum, lossSum) =
          combOp(zero, combOp(zero, blocks.foldLeft(zero)(seqOp)))
        val regVal = updater.compute(w, OldVectors.zeros(n), 0, 1, regParam)._2
        val loss = lossSum / numExamples + regVal
        val gradientTotal = w.copy
        BLAS.axpy(-1.0,
          updater.compute(w, OldVectors.zeros(n), 1, 1, regParam)._1, gradientTotal)
        BLAS.axpy(1.0 / numExamples, gradientSum, gradientTotal)
        (loss, gradientTotal.asBreeze.asInstanceOf[BDV[Double]])
      }
    }
  }

  /** The stock model for fitted weights (uid = the estimator's). */
  def model(uid: String, weights: Vector): MultilayerPerceptronClassificationModel =
    new MultilayerPerceptronClassificationModel(uid, weights)

  /** Attach the stock training summary, as `train` does. */
  def attachSummary(model: MultilayerPerceptronClassificationModel,
      dataset: Dataset[_], objectiveHistory: Array[Double]): Unit =
    model.createSummary(dataset, objectiveHistory)

  private def topology(layers: Array[Int]): FeedForwardTopology =
    FeedForwardTopology.multiLayerPerceptron(layers, softmaxOnTop = true)
}
