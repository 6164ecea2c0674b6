package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression,
  BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: dot product of two ARRAY<FLOAT> columns,
  * accumulated in double.
  *
  * Why not `aggregate(zip_with(...))`: the higher-order-function route
  * allocates an intermediate array and boxes every element per row; on an
  * all-pairs similarity join that is the entire runtime (measured 171 s
  * for 12.5 M pairs at sf0.1). This expression participates in
  * whole-stage codegen and reads primitives straight out of the columnar
  * ArrayData — no allocation, no boxing (~40× faster in the same query).
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"vec_dot needs two array<float> args, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  // null ELEMENTS are rejected, not read as 0.0: ArrayData.getFloat on a
  // null slot returns 0.0f, which would add a phantom zero term and emit
  // a silently wrong similarity score — the same arbitrary-session-SQL
  // exposure SortedIntersectCount guards against. The check is only
  // emitted when the schema admits nulls (containsNull), so the engine's
  // own columns (containsNull=false) keep the branch-free hot loop.
  // lazy val, not def (r18 review): constant per expression instance,
  // but a def re-allocated the Seq and re-matched per interpreted-eval
  // ROW — the exact allocation the expression exists to avoid
  @transient private lazy val mayHaveNullElements: Boolean =
    Seq(left, right).exists(_.dataType match {
      case ArrayType(_, cn) => cn
      case _ => true
    })

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) {
      throw new IllegalArgumentException(
        s"vec_dot: dimension mismatch (${n} vs ${y.numElements()})")
    }
    val checkNulls = mayHaveNullElements
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (checkNulls && (x.isNullAt(i) || y.isNullAt(i))) {
        throw new IllegalArgumentException("vec_dot: null array element")
      }
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val nullCheck = if (mayHaveNullElements)
        s"""
           |  if ($a.isNullAt($i) || $b.isNullAt($i)) {
           |    throw new IllegalArgumentException("vec_dot: null array element");
           |  }""".stripMargin
      else ""
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  throw new IllegalArgumentException(
         |    "vec_dot: dimension mismatch (" + $n + " vs " + $b.numElements() + ")");
         |}
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {$nullCheck
         |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatVecDot =
    copy(left = newLeft, right = newRight)
}

object VecFunctions {

  /** Arity-checked builder: bare `exprs(i)` indexing would surface a
    * caller's `vec_dot(embedding)` as a raw IndexOutOfBoundsException
    * during resolution; checkInputDataTypes (the friendly message) is
    * only reached once the `n` arguments exist.
    */
  private[graft] def arity(name: String, n: Int)(
      f: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      if (exprs.length != n)
        throw new IllegalArgumentException(
          s"$name expects exactly $n argument(s), got ${exprs.length}")
      f(exprs)
    }

  /** Idempotent per-session registration; afterwards `expr("vec_dot(a,b)")`
    * resolves to the codegen'd expression. Checks before replacing so
    * repeated calls stay silent (no "replaced a previously registered
    * function" warn-noise). The idiomatic deployment path is
    * `spark.sql.extensions=graft.GraftExtensions` (Bench/Verify/tests set
    * it), which makes this a no-op; query entry points still call it so a
    * plain SparkSession works too.
    */
  /** ONE source of truth for the function set (r18 review: this list
    * was duplicated verbatim between register() and GraftExtensions —
    * a function added to one but not the other resolves in
    * programmatic sessions but not `spark.sql.extensions` ones, or
    * vice versa, surfacing only as an undefined-function at query
    * time): (name, implementing class, arity-checked builder). */
  private[graft] val registry
      : Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("vec_dot", classOf[FloatVecDot],
      arity("vec_dot", 2)(e => FloatVecDot(e(0), e(1)))),
    ("sorted_intersect_count", classOf[SortedIntersectCount],
      arity("sorted_intersect_count", 2)(e =>
        SortedIntersectCount(e(0), e(1)))),
    // raw AggregateFunction: the analyzer wraps it in
    // AggregateExpression, same as Spark's built-in aggs
    ("top_k", classOf[BoundedTopK],
      arity("top_k", 2)(e => BoundedTopK(e(0), e(1)))),
    ("kmv_sketch", classOf[KmvSketch],
      arity("kmv_sketch", 2)(e => KmvSketch(e(0), e(1)))),
    ("kll_sketch", classOf[KllSketch],
      arity("kll_sketch", 3)(e => KllSketch(e(0), e(1), e(2)))),
    ("sq8_dot", classOf[Sq8Dot], arity("sq8_dot", 2)(e => Sq8Dot(e(0), e(1)))),
    // Spark's runtime-filter pair (the shape InjectRuntimeFilter emits):
    // the one-argument aggregate reads its size from the session's
    // spark.sql.optimizer.runtime.bloomFilter.* settings at analysis
    ("bloom_filter_agg", classOf[BloomFilterAggregate],
      arity("bloom_filter_agg", 1)(e => new BloomFilterAggregate(e(0)))),
    ("might_contain", classOf[BloomFilterMightContain],
      arity("might_contain", 2)(e => BloomFilterMightContain(e(0), e(1)))))

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    registry.foreach { case (name, _, builder) =>
      val id = org.apache.spark.sql.catalyst.FunctionIdentifier(name)
      if (!reg.functionExists(id))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}
