package graft.ops

import org.apache.spark.sql.GraftColumnBridge.collectTopK
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.SparkTestSession

/** The bounded top-k every window-free `row_number() <= k` in graft rides
  * on (q31, q34, q57-q59, q112). Partial aggregation folds and merges
  * buffers in whatever order the tasks and the shuffle produce, so
  * correctness is exactly "any partitioning gives sorted.take(k)"; these
  * checks pin that on seeded inputs (a sweep instead of ScalaCheck, which
  * is not on the classpath).
  */
class CollectTopKSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val ord: Ordering[(Int, Int)] = Ordering.Tuple2(Ordering.Int, Ordering.Int)

  test("any partitioning == sorted.take(k): 400 seeded cases, one groupBy per k") {
    import spark.implicits._
    // case -> (k, items); each item carries the partition it is dealt to
    val cases = (0 until 400).map { seed =>
      val rnd = new scala.util.Random(seed)
      val n = rnd.nextInt(40) // includes 0: an empty group
      val k = 1 + rnd.nextInt(6)
      val nParts = 1 + rnd.nextInt(5)
      // small key space forces duplicate keys, so the second component
      // breaks ties; rare exact duplicates must both be kept
      (seed, k, List.fill(n)((rnd.nextInt(9) - 4, rnd.nextInt(1000), rnd.nextInt(nParts))))
    }
    for ((k, group) <- cases.groupBy(_._2)) {
      val rows = group.flatMap { case (seed, _, items) =>
        items.map { case (a, b, part) => (seed, a, b, part) } }
      val got = rows.toDF("seed", "a", "b", "part")
        .repartition(5, col("part"))
        .groupBy("seed").agg(collectTopK(struct(col("a"), col("b")), k).as("top"))
        .as[(Int, Seq[(Int, Int)])].collect().toMap
      group.foreach { case (seed, _, items) =>
        val want = items.map(t => (t._1, t._2)).sorted(ord).take(k)
        assert(got.getOrElse(seed, Nil) == want, s"seed=$seed k=$k items=$items")
      }
    }
  }

  test("empty input: a global collectTopK is an empty array") {
    import spark.implicits._
    val none = Seq.empty[(Int, Int)].toDF("a", "b")
      .agg(collectTopK(struct(col("a"), col("b")), 3)).as[Seq[(Int, Int)]].head()
    assert(none.isEmpty)
  }

  test("k must be positive") {
    assertThrows[IllegalArgumentException](collectTopK(col("a"), 0))
  }
}
