package graft.rel

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bounded top-k with ranks: the one way the queries number "the first
  * k rows by some order".
  *
  * `row_number()` over a window with no partition spec would do it in
  * one line, but that window is a single task over its whole input
  * (Spark warns "No Partition Defined for Window"), and placed after a
  * limit it still prints the warning, which drowns out a real unbounded
  * window. Here the `limit` (TakeOrderedAndProject: per-partition top k,
  * merged) bounds the input, and the ranks are the row positions in the
  * one sorted partition of ≤ k survivors: no Window node at all.
  */
object TopK {

  /** The first `k` rows of `df` under `order`, in that order, with their
    * 1-based position appended as integer column `rankCol`. `order`
    * should be a total order on `df`'s rows, or ties pick arbitrarily. */
  def ranked(df: DataFrame, k: Int, rankCol: String, order: Column*): DataFrame =
    // one partition, sorted: monotonically_increasing_id is then the
    // record number 0, 1, 2, … of that partition (partition id 0 in the
    // upper bits), evaluated in sort order. The local sort costs ≤ k
    // rows and pins that order whatever physical form the limit takes.
    df.orderBy(order: _*).limit(k)
      .coalesce(1).sortWithinPartitions(order: _*)
      .withColumn(rankCol, (monotonically_increasing_id() + 1).cast("int"))
}
