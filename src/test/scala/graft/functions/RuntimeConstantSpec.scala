package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.SparkSpec

class RuntimeConstantSpec extends SparkSpec {

  /** `runtime_constant(c)` over two rows, once through whole-stage codegen
    * and once with every code generator off. */
  private def generatedAndInterpreted(c: Column): (Seq[Any], Seq[Any]) = {
    GraftFunctions.register(spark)
    def run(): Seq[Any] = spark.range(2)
      .select(call_function("runtime_constant", c)).collect().map(_.get(0)).toSeq
    val generated = run()
    val off = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    off.foreach { case (k, v) => spark.conf.set(k, v) }
    try (generated, run()) finally off.foreach { case (k, _) => spark.conf.unset(k) }
  }

  test("runtime_constant gives the same values generated and interpreted") {
    val clock = java.sql.Timestamp.valueOf("2024-06-01 00:00:00")
    val cases = Seq[(Column, Any)](
      lit(1717200000000L) -> 1717200000000L,
      lit("2024-06-01 00:00:00").cast("timestamp") -> clock,
      lit(null).cast("long") -> null)
    cases.foreach { case (c, want) =>
      val (generated, interpreted) = generatedAndInterpreted(c)
      assert(generated === Seq(want, want))
      assert(interpreted === generated)
    }
  }

  test("the child folds to a literal; the wrapper stays in the optimized plan") {
    GraftFunctions.register(spark)
    val plan = spark.range(1)
      .select(call_function("runtime_constant", lit("2024-06-01 00:00:00").cast("timestamp")))
      .queryExecution.optimizedPlan
    val wrapped = plan.expressions.flatMap(_.collect { case r: RuntimeConstant => r })
    assert(wrapped.size === 1)
    assert(wrapped.head.child.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Literal])
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(1).select(call_function("runtime_constant", col("id"))).collect()
    }
  }
}
