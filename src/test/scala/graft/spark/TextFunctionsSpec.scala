package graft.spark

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The E8/E9 scalar kernels as native Catalyst expressions: results must
  * match the pure-core functions exactly (same kernel), stay null-safe, and
  * run on the codegen path (defineCodeGen — no CodegenFallback).
  */
class TextFunctionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("clean_text column + SQL function match graft.core.CleanText.run") {
    import spark.implicits._
    TextFunctions.register(spark)
    val dirty = Seq(
      "plain ascii text",
      "A\u0001B\u00a0C",                       // control delete + nbsp->space
      "keep " + ("x" * 99) + " drop " + ("y" * 100),
      "  collapse   \t runs \n here  ",
      "ﬁnal ligature"                     // NFKC: fi ligature -> fi
    )
    val df = dirty.toDF("t")
    val viaColumn = df.select(TextFunctions.cleanText(col("t"))).as[String].collect()
    val viaSql = df.selectExpr("clean_text(t)").as[String].collect()
    val expected = dirty.map(graft.core.CleanText.run(_))
    assert(viaColumn.toSeq == expected)
    assert(viaSql.toSeq == expected)
  }

  test("convert_entities: named -> char, numeric/unknown -> removed") {
    import spark.implicits._
    TextFunctions.register(spark)
    // reference quirk: `amp` and `lt` are NOT in entitydefs -> deleted
    val got = Seq("&amp;A &lt;b&gt; &#65; &bogus; &Omega; end")
      .toDF("t").selectExpr("convert_entities(t)").as[String].head()
    assert(got == "A b>   Ω end")
  }

  test("wrong arity / wrong input type fail analysis cleanly (no codegen crash)") {
    import spark.implicits._
    TextFunctions.register(spark)
    val df = Seq(1).toDF("i")
    intercept[org.apache.spark.sql.AnalysisException] {
      df.selectExpr("clean_text(i, i)").collect()
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      df.selectExpr("clean_text(i)").collect() // int, not string
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      df.selectExpr("convert_entities()").collect()
    }
  }

  test("null-safe and codegen (no fallback) in the physical plan") {
    import spark.implicits._
    // spark.range source so the projection is a real codegen stage (a local
    // Seq would constant-fold into a LocalTableScan)
    val df = spark.range(4)
      .select(TextFunctions.cleanText(
        when(col("id") % 2 === 0, concat(lit("v  "), col("id"))).otherwise(lit(null))).as("c"))
    assert(df.as[Option[String]].collect().toSet ==
      Set(Some("v 0"), Some("v 2"), None))
    // the expression must sit inside a WholeStageCodegen span: the simple
    // plan string marks codegen stages with a `*(stageId)` prefix
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [cleantextexpr"), plan)
  }

  test("cosine_sim: bit-identical to Similarity.cosine, null-safe, codegen, SQL-callable") {
    import spark.implicits._
    VectorFunctions.register(spark)
    val rnd = new scala.util.Random(7)
    val rows = (0 until 50).map { i =>
      val d = 4 + (i % 5) // unequal lengths exercise the min-length zip
      (Seq.fill(8)(rnd.nextGaussian().toFloat), Seq.fill(d)(rnd.nextGaussian().toFloat))
    } :+ ((Seq(0f, 0f), Seq(1f, 2f))) // zero norm -> 0.0
    val df = rows.toDF("a", "b")
    val got = df.select(VectorFunctions.cosineSim(col("a"), col("b"))).as[Double].collect()
    val want = rows.map { case (a, b) => graft.ops.Similarity.cosine(a, b) }
    assert(got.toSeq == want, "expression must equal the Scala kernel bit-for-bit")
    // SQL registration
    val sql = df.selectExpr("cosine_sim(a, b)").as[Double].collect()
    assert(sql.toSeq == want)
    // null arrays -> null result
    assert(df.select(VectorFunctions.cosineSim(lit(null).cast("array<float>"), col("b")))
      .as[Option[Double]].collect().forall(_.isEmpty))
    // codegen: on a non-local source the expression runs inside a `*(n)` span
    val cg = spark.range(3)
      .select(VectorFunctions.cosineSim(
        array(col("id").cast("float"), lit(1f)),
        array(lit(1f), col("id").cast("float"))).as("c"))
    val plan = cg.queryExecution.executedPlan.toString
    assert(plan.contains("Project [cosinesimexpr") && plan.contains("*(1)"), plan)
    // wrong arity fails analysis cleanly
    intercept[org.apache.spark.sql.AnalysisException] {
      df.selectExpr("cosine_sim(a)").collect()
    }
  }

  test("nearest_cell: expressions over equal centroids are semanticEquals") {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val v = column(AttributeReference("v", ArrayType(FloatType))())
    val cs = Array(Array(1.0, 2.0), Array(-0.5, 4.0))
    def cell(c: Array[Array[Double]]) = expression(VectorFunctions.nearestCellCol(v, c))
    // equal values in different arrays: the same expression
    assert(cell(cs).semanticEquals(cell(cs.map(_.clone))))
    assert(cell(cs).semanticHash() == cell(cs.map(_.clone)).semanticHash())
    assert(!cell(cs).semanticEquals(cell(Array(Array(1.0, 2.0), Array(-0.5, 4.5)))))
  }

  test("wordsOf: byte-identical to the interpreted filter(split) HOF it replaced") {
    import spark.implicits._
    val cases = Seq(
      "plain ascii text",
      "  leading and trailing  ",
      "\t\n\f\r all five delimiters\tmixed\n in  one \f row \r",
      "",                   // empty -> empty array (split gives [""], filtered)
      " \t\r\n ",           // whitespace-only -> empty array
      "single",
      "unicode wörter café 中文 ok",
      "a  b   c",           // delimiter runs collapse like the + regex
      "nbsp is not whitespace here" // U+00A0 must NOT split
    )
    val df = cases.toDF("t")
    val viaKernel = df.select(TextFunctions.wordsOf(col("t"))).as[Seq[String]].collect()
    val viaHof = df.select(
      filter(split(col("t"), graft.ops.TextAnalysis.WhitespaceRe),
        w => length(w) > 0)).as[Seq[String]].collect()
    assert(viaKernel.toSeq == viaHof.toSeq)
    // null-safe: null text -> null array, exactly like split(null)
    val nulls = Seq[Option[String]](None, Some("x y")).toDF("t")
    assert(nulls.select(TextFunctions.wordsOf(col("t")).isNull).as[Boolean].collect().toSeq ==
      Seq(true, false))
  }

  test("charGramHashes: rolling hashes equal direct polynomial recompute; edge lengths") {
    import org.apache.spark.unsafe.types.UTF8String
    val B = 0x100000001b3L
    def direct(t: String, l: Int): Seq[Long] =
      (0 to t.length - l).map { i =>
        t.substring(i, i + l).foldLeft(0L)((h, c) => h * B + c)
      }
    val t = "hello world, hello world"
    for (l <- Seq(2, 4, 10, t.length)) {
      val arr = TextFunctions.charGramHashes(UTF8String.fromString(t), l)
      assert(arr.toLongArray().toSeq == direct(t, l), s"l=$l")
    }
    // equal windows hash equal (the dedup contract): "hello world," at 0
    // and 13-13... the repeated "hello world" at offsets 0 and 13
    val h11 = TextFunctions.charGramHashes(UTF8String.fromString(t), 11).toLongArray()
    assert(h11(0) == h11(13) && h11(1) != h11(2))
    // shorter than l -> empty, never negative-size
    assert(TextFunctions.charGramHashes(UTF8String.fromString("ab"), 3).numElements() == 0)
  }

  test("spliceCovered: gap copy, overlap merge, tail, clamp at end") {
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
    def run(t: String, starts: Seq[Long], l: Int): String =
      TextFunctions.spliceCovered(UTF8String.fromString(t),
        UnsafeArrayData.fromPrimitiveArray(starts.toArray), l).toString
    //         123456789012345
    assert(run("abcdefghijklmno", Seq(3L), 4) == "abghijklmno")       // middle window
    assert(run("abcdefghijklmno", Seq(3L, 5L), 4) == "abijklmno")     // overlap merges
    assert(run("abcdefghijklmno", Seq(1L, 12L), 4) == "efghijk")      // head + clamped tail
    assert(run("abcdefghijklmno", Seq.empty, 4) == "abcdefghijklmno") // nothing covered
    assert(run("abcd", Seq(1L), 4) == "")                             // fully covered
  }
}
