package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Output checks: an order-free result hash for query goldens, canonical
  * row sets for store comparisons, and on-disk size of store dirs. */
object Checks {

  /** Doubles are compared at 9 significant digits (a partial sum merged
    * in another order may differ in the last bits); -0.0 reads as 0.0. */
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => format_string("%.9g", c.cast(DoubleType) + lit(0.0))
    case ArrayType(DoubleType | FloatType, _) =>
      transform(c, x => format_string("%.9g", x.cast(DoubleType) + lit(0.0)))
    case _: MapType | _: UserDefinedType[_] => c.cast(StringType)
    case _ => c
  }

  /** (row count, Σ of per-row xxhash64 as a decimal) over the columns in
    * name order: independent of row order and partitioning. */
  def resultHash(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.sortBy(_.name).toSeq
      .map(f => canon(col(s"`${f.name}`"), f.dataType).as(f.name))
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))))
      .first()
    (r.getLong(0), r.getDecimal(1).toBigInteger.toString)
  }

  /** Rows as sorted strings with columns in name order; arrays sorted. */
  def canonicalRows(df: DataFrame): Seq[String] = {
    val cols = df.schema.fields.sortBy(_.name).toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case ArrayType(_, _) => array_sort(c).cast(StringType)
        case _ => canon(c, f.dataType).cast(StringType)
      }
    }
    df.select(cols: _*).collect().map(_.mkString("|")).sorted.toSeq
  }

  /** (files, bytes) under the given directories, excluding checkpoints. */
  def du(dirs: Seq[String]): (Long, Long) = {
    import scala.jdk.CollectionConverters._
    val files = dirs.map(java.nio.file.Paths.get(_))
      .filter(java.nio.file.Files.exists(_))
      .flatMap(d => java.nio.file.Files.walk(d).iterator().asScala.toSeq)
      .filter(java.nio.file.Files.isRegularFile(_))
    (files.size.toLong, files.map(java.nio.file.Files.size).sum)
  }
}
