package graft.operators

import graft.functions.Hashing
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Token-budget corpus mixing — the "sample each source down to its
  * token quota" step of assembling a pretraining mixture: within every
  * source, documents are taken in deterministic pseudo-random order
  * (md5i hash of the doc id — a shuffled-but-reproducible order both
  * engines can replay) and kept while the source's cumulative token
  * count stays inside the budget. The running total is the
  * [[graft.pipeline.PrefixSum]] distributed scan — never a per-source
  * window funnel — so a 5 TB source mixes as parallel shards.
  *
  * Emitting every doc with its `kept` verdict (instead of filtering)
  * keeps the audit trail: rejected docs carry the start offset that
  * proves WHY they missed the budget.
  */
object MixOps {

  /** Per-source token quota. ~45% of a test source's tokens, so both
    * kept and cut docs appear at every scale factor.
    */
  val BudgetPerSource = 600L

  /** (doc_id, source, toks, start_tok, kept): kept = the whole doc fits
    * inside the source budget at its position in the mixing order.
    */
  def tokenBudget(spark: SparkSession, docs: DataFrame,
                  budget: Long = BudgetPerSource, parts: Int = 0): DataFrame = {
    import spark.implicits._
    val rows = docs.select($"doc_id", $"source",
      Hashing.md5iCol(concat(lit("mx|"), $"doc_id".cast("string"))).as("ord"),
      size(split($"text", " ", -1)).cast("long").as("toks"))
      .as[graft.pipeline.PrefixSum.Row]
    graft.pipeline.PrefixSum.exclusive(rows, parts, slotKey = "mix")
      .map { case (id, src, _, tk, start) =>
        (id, src, tk, start, if (start + tk <= budget) 1L else 0L)
      }
      .toDF("doc_id", "source", "toks", "start_tok", "kept")
  }
}
