package graft.spark

import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{Dispatcher, Doc, Span}

/** Native Catalyst expression running the whole per-document extraction
  * directly over Catalyst's internal representation.
  *
  * WHY: a typed `mapPartitions` stage pays the generic object encoder both
  * ways (MapObjects deserialization of `array<struct>` into Seq[Span], then
  * serialization of the result) — measured at ~10x the cost of extraction
  * itself. This expression reads the span structs straight from `ArrayData`,
  * runs the same pure kernel (graft.core.Dispatcher), and emits
  * InternalRow/GenericArrayData, so rows never leave Tungsten format except
  * for the strings the parser genuinely needs. It sits inside the surrounding
  * WholeStageCodegen stage via CodegenFallback (one virtual call per row —
  * noise next to a document parse).
  *
  * children: doc_id (string), format (string), provider (string),
  *           spans (array<struct<kind,text,media_ref,offset>>),
  *           source_path (string; the URL a payload-less `http` doc is
  *           fetched from)
  */
case class ExtractDocExpr(children: Seq[Expression])
    extends Expression with CodegenFallback {

  override def nullable: Boolean = false

  override val dataType: DataType = ExtractDocExpr.outputType

  override def eval(input: InternalRow): Any = {
    val docId = ExtractDocExpr.str(children(0).eval(input))
    val format = ExtractDocExpr.str(children(1).eval(input))
    val provider = ExtractDocExpr.str(children(2).eval(input))
    val spansRaw = children(3).eval(input)
    val sourcePath = ExtractDocExpr.str(children(4).eval(input))

    val spans: Seq[Span] =
      if (spansRaw == null) Seq.empty
      else {
        val arr = spansRaw.asInstanceOf[ArrayData]
        val n = arr.numElements()
        val out = new Array[Span](n)
        var i = 0
        while (i < n) {
          if (arr.isNullAt(i)) out(i) = Span(null, null, null, 0)
          else {
            val s = arr.getStruct(i, 4)
            out(i) = Span(
              ExtractDocExpr.str(if (s.isNullAt(0)) null else s.getUTF8String(0)),
              ExtractDocExpr.str(if (s.isNullAt(1)) null else s.getUTF8String(1)),
              ExtractDocExpr.str(if (s.isNullAt(2)) null else s.getUTF8String(2)),
              if (s.isNullAt(3)) 0 else s.getInt(3))
          }
          i += 1
        }
        scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
      }

    val doc = Doc(docId, format, provider, sourcePath, spans, null, null)
    Dispatcher.extract(doc) match {
      case Right(r) =>
        val spanRows = new Array[Any](r.spans.length)
        var i = 0
        r.spans.foreach { s =>
          spanRows(i) = new GenericInternalRow(Array[Any](
            UTF8String.fromString(s.kind),
            if (s.text == null) null else UTF8String.fromString(s.text),
            if (s.media_ref == null) null else UTF8String.fromString(s.media_ref),
            s.offset))
          i += 1
        }
        new GenericInternalRow(Array[Any](
          new GenericArrayData(spanRows),
          UTF8String.fromString(r.fulltext),
          UTF8String.fromString(r.acknowledgements),
          new GenericArrayData(r.dataset.map(UTF8String.fromString).toArray[Any]),
          new GenericArrayData(r.facility.map(UTF8String.fromString).toArray[Any]),
          null))
      case Left(err) =>
        new GenericInternalRow(Array[Any](
          new GenericArrayData(Array.empty[Any]),
          null, null,
          new GenericArrayData(Array.empty[Any]),
          new GenericArrayData(Array.empty[Any]),
          UTF8String.fromString(err)))
    }
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

object ExtractDocExpr {

  val spanType: StructType = StructType(Seq(
    StructField("kind", StringType),
    StructField("text", StringType),
    StructField("media_ref", StringType),
    StructField("offset", IntegerType)))

  val outputType: StructType = StructType(Seq(
    StructField("spans", ArrayType(spanType)),
    StructField("fulltext", StringType),
    StructField("acknowledgements", StringType),
    StructField("dataset", ArrayType(StringType)),
    StructField("facility", ArrayType(StringType)),
    StructField("error", StringType)))

  @inline private def str(v: Any): String =
    if (v == null) null else v.toString

  /** The SQL builder of `graft_extract`, shared by [[register]] and
    * [[GraftExtensions]]: a wrong arity is an AnalysisException at analysis
    * time, not an IndexOutOfBoundsException in a task.
    */
  private[spark] def build(exprs: Seq[Expression]): Expression =
    TextFunctions.nary("graft_extract", 5, exprs)(ExtractDocExpr(_))

  /** Register as a SQL-callable function, once per session: replacing a
    * registered function logs a warning, and the extract stage calls this
    * for every plan it builds.
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier("graft_extract")))
      registry.createOrReplaceTempFunction("graft_extract", build, "scala_udf")
  }
}
