package graft

import graft.extract.Kernel
import org.scalatest.funsuite.AnyFunSuite

/** Native-expression parity + codegen placement. */
class NormalizeExprSpec extends AnyFunSuite {

  private lazy val spark = SparkSuite.spark

  test("graft_normalize_text == Kernel.normalizeText, row for row") {
    import spark.implicits._
    GraftExtensions.registerFunctions(spark)
    val samples = Seq("a\r\nb", s"  x${Kernel.EosSentinel}  ", "", "plain",
      s"m\r\n${Kernel.EosSentinel}\r\n", "\ttab\t")
    val out = samples.toDF("s")
      .selectExpr("graft_normalize_text(s)").as[String].collect()
    assert(out.toSeq == samples.map(Kernel.normalizeText))
  }

  test("expression runs inside whole-stage codegen (not a UDF)") {
    import spark.implicits._
    GraftExtensions.registerFunctions(spark)
    // non-literal source so the projection survives constant folding
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("graft_normalize_text(concat(text, '\r\n')) AS n")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_normalize_text"))
    assert(plan.contains("*(1) Project")) // '*' = inside WholeStageCodegen
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"))
    val first = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .orderBy("doc_id").select("text").as[String].head()
    assert(df.as[String].head().endsWith(first.takeRight(5).trim))
  }
}

/** Native SimHash expression: codegen path == kernel function. */
class SimHashExprSpec extends org.scalatest.funsuite.AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  test("graft_simhash == DedupOps.simhash, null-safe, codegen'd") {
    import spark.implicits._
    GraftExtensions.registerFunctions(spark)
    val texts = Seq("alpha beta gamma", "", "one two one two", "x")
    val got = texts.toDF("t").selectExpr("graft_simhash(t)")
      .as[Long].collect().toSeq
    assert(got == texts.map(graft.operators.DedupOps.simhash))
    // null input -> null out (UnaryExpression null-safety)
    val n = Seq[Option[String]](None).toDF("t")
      .selectExpr("graft_simhash(t)").collect()
    assert(n.head.isNullAt(0))
    // stays inside whole-stage codegen (no typed-map SerDe break)
    val plan = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "graft_simhash(text) AS sh")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("DeserializeToObject"), plan)
    assert(plan.contains("WholeStageCodegen") || plan.contains("Project"), plan)
  }
}
