package graft

import graft.corpus.CorpusDerive
import graft.pipeline.Extraction
import org.scalatest.funsuite.AnyFunSuite

/** Live accumulator metrics match the materialized output exactly. */
class MetricsSpec extends AnyFunSuite {

  private lazy val spark = SparkSuite.spark

  test("kernel accumulators: docs/spans-in/spans-out reconcile with output") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = CorpusDerive.derive(spark, "/root/testdata/sf0.001")
    val m = Extraction.metrics(spark)
    // the accumulators fill in metricsRow's kernel pass; the output they
    // must match comes from a separate plain extraction
    Extraction.metricsRow(docs, Some(m)).collect()
    val out = Extraction.extractDs(docs)
      .select(count(lit(1)), sum(size($"spans")))
      .as[(Long, Long)].head()
    assert(m.docs.value == out._1)
    assert(m.spansOut.value == out._2)
    val inSpans = docs.select(sum(size($"spans"))).as[Long].head()
    assert(m.spansIn.value == inSpans)
    assert(m.dropped == inSpans - out._2)
    assert(m.dropped > 0) // boilerplate really is being dropped
  }

  test("metricsRow (retry-safe aggregation) reconciles with accumulators") {
    import spark.implicits._
    val docs = CorpusDerive.derive(spark, "/root/testdata/sf0.001")
    val m = Extraction.metrics(spark)
    val row = Extraction.metricsRow(docs, Some(m))
      .as[(Long, Long, Long, Long)].head()
    // Local mode never retries, so the observability accumulators must
    // agree exactly with the plan-level (exactly-once) aggregation.
    assert(row == ((m.docs.value, m.spansIn.value, m.spansOut.value, m.dropped)))
    assert(row._4 == row._2 - row._3 && row._4 > 0)
  }
}
