package graft

import graft.corpus.CorpusDerive
import graft.pipeline.Extraction
import org.scalatest.funsuite.AnyFunSuite

/** The observed ext_metrics row matches counts taken apart from it. */
class MetricsSpec extends AnyFunSuite {

  private lazy val spark = SparkSuite.spark

  test("ext_metrics row reconciles with the input spans and extractDs output") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    val row = SparkEntry.queries("ext_metrics")(spark, sf)
      .as[(Long, Long, Long, Long)].head()
    val docs = CorpusDerive.derive(spark, sf)
    val inSpans = docs.select(sum(size($"spans"))).as[Long].head()
    val (nDocs, outSpans) = Extraction.extractDs(docs)
      .select(count(lit(1)), sum(size($"spans"))).as[(Long, Long)].head()
    assert(row == ((nDocs, inSpans, outSpans, inSpans - outSpans)))
    assert(row._4 > 0) // boilerplate really is being dropped
  }
}
