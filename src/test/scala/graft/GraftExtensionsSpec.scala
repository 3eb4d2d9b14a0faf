package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Literal
import org.scalatest.funsuite.AnyFunSuite

/** A session built with `GraftExtensions` (the `spark.sql.extensions`
  * path) gets every function of the one registry, with the same results
  * as a session that calls `registerFunctions`.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  test("withExtensions resolves every registry function, as registerFunctions does") {
    val shared = SparkSuite.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // a second session on the shared SparkContext; only the default and
    // active session pointers change, and they are restored below
    val ext = try SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
      finally {
        SparkSession.setDefaultSession(shared)
        SparkSession.setActiveSession(shared)
      }
    assert(ext ne shared)
    GraftExtensions.Functions.foreach { case (name, cls, build) =>
      assert(ext.sessionState.functionRegistry.functionExists(FunctionIdentifier(name)), name)
      val e = build(Seq(Literal("a"), Literal("b")))
      assert(e.getClass == cls && e.prettyName == name, name)
    }
    GraftExtensions.registerFunctions(shared)
    def keys(s: SparkSession) =
      s.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .selectExpr("doc_id", "graft_shingle_keys(source, text) AS k")
        .orderBy("doc_id").collect().toSeq
    val viaExt = keys(ext)
    assert(viaExt.exists(_.getSeq[Long](1).nonEmpty))
    assert(viaExt == keys(shared))
  }
}
