package graft.functions

import graft.SparkSpec
import graft.llm.Ann
import org.apache.spark.sql.functions._

class VecDotSpec extends SparkSpec {
  import spark.implicits._

  test("bit-parity with the zip_with/aggregate formulation on float vectors") {
    val rnd = new scala.util.Random(42)
    val rows = (1 to 200).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1),
        Array.fill(64)(rnd.nextFloat() * 2 - 1))
    }
    val df = rows.toDF("id", "a", "b")
    val both = df.select(
      VecDot.dot(col("a"), col("b")).as("native"),
      Ann.dot(col("a"), col("b")).as("hof")).collect()
    both.foreach { r =>
      // identical fold order → identical doubles, not just close
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("null semantics match HOF: null array, null element, length mismatch") {
    val df = Seq(
      (1L, Array(1.0f, 2.0f), Array(3.0f, 4.0f)),          // 11.0
      (2L, null.asInstanceOf[Array[Float]], Array(1.0f)),  // null array
      (3L, Array(1.0f, 2.0f), Array(1.0f))                 // length mismatch
    ).toDF("id", "a", "b")
    val got = df.select(col("id"), VecDot.dot(col("a"), col("b")).as("d"),
        Ann.dot(col("a"), col("b")).as("h"))
      .collect().map(r => (r.getLong(0), r.isNullAt(1), r.isNullAt(2))).toSet
    assert(got === Set((1L, false, false), (2L, true, true), (3L, true, true)))
    // null ELEMENT poisons the sum in both formulations
    val withNullElem = spark.sql(
      "SELECT array(1.0D, CAST(NULL AS DOUBLE), 3.0D) AS a, array(1.0D, 2.0D, 3.0D) AS b")
    val r = withNullElem.select(VecDot.dot(col("a"), col("b")).as("d"),
      Ann.dot(col("a"), col("b")).as("h")).collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("empty arrays dot to 0.0; double arrays supported") {
    val r = spark.sql("SELECT array() AS a")
      .select(VecDot.dot(col("a").cast("array<double>"),
        col("a").cast("array<double>")).as("d")).collect().head
    assert(r.getDouble(0) === 0.0)
  }

  test("stays inside WholeStageCodegen (no CodegenFallback split)") {
    // spark.range keeps a real physical plan (a local Seq constant-folds
    // to LocalTableScan, bypassing codegen entirely)
    val df = spark.range(4)
      .select(col("id"),
        array(col("id").cast("double"), lit(2.0)).as("a"),
        array(lit(3.0), col("id").cast("double")).as("b"))
      .select(col("id"), VecDot.dot(col("a"), col("b")).as("d"))
    // "*(n)" marks operators fused into WholeStageCodegen stage n; a
    // CodegenFallback expression would force its Project out of the
    // starred stage
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("vec_dot"), plan)
    assert(df.filter(col("id") === 1).collect().head.getDouble(1) === 5.0)
  }
}
