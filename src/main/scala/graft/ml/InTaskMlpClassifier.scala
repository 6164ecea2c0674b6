package graft.ml

import breeze.linalg.{DenseVector => BDV}
import breeze.optimize.{CachedDiffFunction, LBFGS => BreezeLBFGS}
import org.apache.spark.ml.ann.GraftAnnAccess
import org.apache.spark.ml.classification.{MultilayerPerceptronClassificationModel, MultilayerPerceptronClassifier}
import org.apache.spark.ml.linalg.{Vector, Vectors}
import org.apache.spark.ml.util.{DefaultParamsReadable, Identifiable}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset

/** MLlib's `MultilayerPerceptronClassifier` with the L-BFGS loop run inside
  * one Spark task when the training rows sit in one partition.
  *
  * The stock fit launches one `treeAggregate` job per cost evaluation, so a
  * 100-iteration fit pays ~100 job round trips (broadcast, closure clean,
  * task binary, result) to fold a few dozen blocks in a single task. On
  * one partition that aggregate is a local fold, so this fit runs the
  * whole loop where the blocks are: one job, and only the weights and the
  * objective history travel back.
  *
  * The result is bitwise the stock fit: the same `DataStacker` blocks in
  * the same order, `ANNGradient`, `treeAggregate`'s zero-valued combines,
  * `ANNUpdater`, Breeze's L-BFGS with MLlib's settings, the same label and
  * NaN checks, and a stock `MultilayerPerceptronClassificationModel` with
  * its training summary. The in-task path holds the partition's blocks in
  * the task's memory, where the stock fit caches the same blocks in the
  * block store.
  *
  * Any other input (more than one partition, or the "gd" solver) gets
  * the stock per-evaluation fit of the same rows. It does not call
  * `super.train`: that would plan the input a second time, and under
  * AQE each plan of an input with a shuffle runs that shuffle again.
  */
class InTaskMlpClassifier(uid: String) extends MultilayerPerceptronClassifier(uid) {

  def this() = this(Identifiable.randomUID("mlpc"))

  override protected def train(
      dataset: Dataset[_]): MultilayerPerceptronClassificationModel = {
    val data = GraftAnnAccess.labeledVectors(this, dataset)
    val init =
      if (isDefined(initialWeights)) $(initialWeights)
      else GraftAnnAccess.seededWeights($(layers), $(seed))
    val (weights, history) =
      if (data.getNumPartitions == 1 && $(solver) == "l-bfgs") fitInTask(data, init)
      else GraftAnnAccess.stockFit(this, data, init)
    val model = copyValues(GraftAnnAccess.model(uid, weights))
    GraftAnnAccess.attachSummary(model, dataset, history)
    model
  }

  /** The L-BFGS fit of a one-partition input in that partition's task. */
  private def fitInTask(data: RDD[(Vector, Vector)],
      init: Vector): (Vector, Array[Double]) = {
    // plain values, so the task closure does not carry the estimator
    val (shape, stackSize, iters, tolerance) =
      ($(layers), $(blockSize), $(maxIter), $(tol))
    GraftAnnAccess.stack(data, shape, stackSize).mapPartitions { blocks =>
      val costFun = GraftAnnAccess.costFun(blocks.toArray, shape, stackSize)
      Iterator(InTaskMlpClassifier.runLbfgs(costFun, init, iters, tolerance))
    }.collect().head
  }
}

object InTaskMlpClassifier extends DefaultParamsReadable[InTaskMlpClassifier] {

  /** MLlib's correction count for L-BFGS (`mllib.optimization.LBFGS`). */
  private val NumCorrections = 10

  /** `LBFGS.runLBFGS`'s loop: iterate Breeze's L-BFGS from `init` and
    * record each state's objective value, the last one included. */
  private def runLbfgs(costFun: breeze.optimize.DiffFunction[BDV[Double]],
      init: Vector, maxIter: Int, tol: Double): (Vector, Array[Double]) = {
    val lbfgs = new BreezeLBFGS[BDV[Double]](maxIter, NumCorrections, tol)
    val states = lbfgs.iterations(new CachedDiffFunction(costFun),
      new BDV(init.toArray.clone()))
    val history = Array.newBuilder[Double]
    var state = states.next()
    while (states.hasNext) {
      history += state.value
      state = states.next()
    }
    history += state.value
    (Vectors.dense(state.x.toArray), history.result())
  }
}
