package graft.spark

import org.apache.spark.sql.{Column, GraftFloatArrayBinaryInput, GraftFloatArrayUnaryInput, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType}

import scala.collection.immutable.ArraySeq

/** Embedding-vector kernels as NATIVE Catalyst expressions, same rationale
  * as [[TextFunctions]]: `doGenCode` emits a static call so the scoring of
  * billions of candidate pairs (near-dup verification, kNN-join ranking)
  * stays inside WholeStageCodegen and the float arrays are read straight
  * from Tungsten `ArrayData` — never deserialized to `Seq[Float]`.
  */
object VectorFunctions {

  /** static shim for generated code: bit-identical to
    * [[graft.ops.Similarity.cosine]] (same per-iteration accumulation
    * order, double precision, min-length zip, zero-norm -> 0.0) so the
    * hash-gated oracles (q33/q41/q57) see the exact same doubles. Null
    * ARRAY inputs propagate to a null result (nullSafeEval/codegen). Null
    * ELEMENTS are OUT OF CONTRACT: `ArrayData.getFloat` reads a null slot
    * as 0.0f with no error — embeddings are dense by definition; validate
    * upstream if the source can produce sparse arrays.
    */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** static shim for generated code: index of the nearest centroid by
    * squared euclidean distance, ties to the LOWEST index — bit-identical
    * to [[graft.ops.Similarity]]'s driver-side `nearest` (same `<`
    * strict-improvement comparison, same accumulation order, distance
    * summed over the ROW vector's length — a longer centroid's tail is
    * ignored, exactly like the Scala original). Assumes at least one
    * centroid (the caller trains on a non-empty sample).
    */
  def nearestCell(v: ArrayData, cs: Array[Array[Double]]): Int = {
    val n = v.numElements()
    var best = 0; var bd = Double.MaxValue; var c = 0
    while (c < cs.length) {
      val cv = cs(c)
      var s = 0.0; var i = 0
      while (i < n) { val d = v.getFloat(i).toDouble - cv(i); s += d * d; i += 1 }
      if (s < bd) { bd = s; best = c }
      c += 1
    }
    best
  }

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_sim",
      exprs => TextFunctions.nary("cosine_sim", 2, exprs)(
        es => CosineSimExpr(es(0), es(1))), "scala_udf")

  import org.apache.spark.sql.GraftColumnBridge.{column, expression}
  def cosineSim(a: Column, b: Column): Column =
    column(CosineSimExpr(expression(a), expression(b)))
  def nearestCellCol(v: Column, centroids: Array[Array[Double]]): Column =
    column(NearestCellExpr(expression(v),
      ArraySeq.unsafeWrapArray(centroids.map(ArraySeq.unsafeWrapArray(_)))))
}

/** cosine_sim(array<float>, array<float>) -> double. */
case class CosineSimExpr(left: Expression, right: Expression)
    extends BinaryExpression with GraftFloatArrayBinaryInput {
  override def dataType: DataType = DoubleType
  override protected def nullSafeEval(a: Any, b: Any): Any =
    VectorFunctions.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.spark.VectorFunctions.cosine($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** nearest_cell(array<float>) -> int with the trained centroid matrix baked
  * in at plan time (a run-time value, so it rides codegen's reference-object
  * mechanism, not a source literal). Keeps IVF cell assignment inside
  * WholeStageCodegen, reading the vector straight from Tungsten ArrayData.
  * The centroids are held as `ArraySeq` wrappers, which compare by value,
  * so two expressions over equal centroids are `semanticEquals`; the
  * kernel reads the wrapped arrays themselves.
  */
case class NearestCellExpr(child: Expression, centroids: ArraySeq[ArraySeq[Double]])
    extends UnaryExpression with GraftFloatArrayUnaryInput {
  require(centroids.nonEmpty, "nearest_cell requires at least one centroid")
  @transient private lazy val matrix: Array[Array[Double]] =
    centroids.map(_.unsafeArray.asInstanceOf[Array[Double]]).toArray
  override def dataType: DataType = IntegerType
  // plan strings name the input only, not every centroid value
  override protected def stringArgs: Iterator[Any] = Iterator(child)
  override protected def nullSafeEval(input: Any): Any =
    VectorFunctions.nearestCell(input.asInstanceOf[ArrayData], matrix)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroids", matrix, "double[][]")
    defineCodeGen(ctx, ev,
      c => s"graft.spark.VectorFunctions.nearestCell($c, $ref)")
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
