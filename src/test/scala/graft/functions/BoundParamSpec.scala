package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.scalatest.funsuite.AnyFunSuite

import graft.{Counted, TestSpark}

class BoundParamSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val cases = Seq(
    BoundParam(42L, LongType) -> Literal(42L, LongType),
    BoundParam(-3.25, DoubleType) -> Literal(-3.25, DoubleType),
    BoundParam(null, LongType) -> Literal(null, LongType),
    BoundParam(null, DoubleType) -> Literal(null, DoubleType))

  test("interpreted and codegen evaluation equal the literal: long, double, null") {
    cases.foreach { case (bp, l) =>
      assert(!bp.foldable)
      assert(bp.eval() == l.eval(), bp)
      assert(bp.nullable === l.nullable, bp)
      // whole-stage codegen: a projection and a predicate over a range
      val row = spark.range(3)
        .select(ColumnBridge.column(bp).as("b"), ColumnBridge.column(l).as("l"))
        .distinct().collect()
      assert(row.length === 1 && row.head.get(0) == row.head.get(1), bp)
      val kept = spark.range(3)
        .filter(ColumnBridge.column(bp) === ColumnBridge.column(l)).count()
      assert(kept === (if (l.value == null) 0L else 3L), bp)
    }
    assert(spark.range(10).filter(col("id") === BoundParam.bind(7L)).count() === 1L)
  }

  test("plans that differ only in a bound value share one compiled class") {
    def run(id: Column, scale: Column): Seq[Double] =
      spark.range(200).filter(col("id") =!= id)
        .select((col("id") * scale).as("x")).collect().map(_.getDouble(0)).toSeq
    val first = run(BoundParam.bind(7L), BoundParam.bind(1.5))
    assert(first.size === 199 && !first.contains(7 * 1.5))
    val second = Counted(spark)(run(BoundParam.bind(8L), BoundParam.bind(2.5)))
    assert(second.result.size === 199 && !second.result.contains(8 * 2.5))
    assert(second.compiles === 0L,
      s"a new bound value compiled ${second.compiles} classes")
    // the literal form inlines both values, so every new pair compiles
    val salt = System.nanoTime() % 100000L
    run(lit(7L + salt), lit(1.5 + salt))
    val literal = Counted(spark)(run(lit(8L + salt), lit(2.5 + salt)))
    assert(literal.compiles > 0L, "the literal control compiled nothing")
  }
}
