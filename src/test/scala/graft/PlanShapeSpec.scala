package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards: the scale properties the round-1/2
  * reviews graded (exchange-free row-local ops, de-funneled top-k,
  * column-pruned scans, fixed-dim-only broadcasts) asserted on the
  * actual compiled plans so a refactor cannot silently reintroduce a
  * shuffle or a funnel.
  */
class PlanShapeSpec extends AnyFunSuite {

  private lazy val spark = SparkSuite.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  private def countOf(s: String, needle: String): Int =
    needle.r.findAllIn(s).length

  test("moe_route: in-row top-k, zero exchanges") {
    val p = plan("moe_route")
    assert(!p.contains("Exchange"), p.takeWhile(_ != '\n'))
    assert(!p.contains("Window"))
  }

  test("ann_topk: broadcast queries + ONE shuffle of heap-reduced partials") {
    val p = plan("ann_topk")
    assert(p.contains("BroadcastExchange"))
    // exactly one hash exchange — the tiny partial top-k set into the
    // final rank; the N×queries pair stream itself never shuffles
    assert(countOf(p, "Exchange hashpartitioning") == 1, p)
    // TopKPerKeyExec renders as "TopKPerKey <k>": the map-side heap
    // partial below the exchange, the final rank above it
    assert(countOf(p, "TopKPerKey ") == 2, p)
  }

  test("ann_ivf: broadcast probe join + ONE shuffle of heap-reduced partials") {
    // building the plan runs the (bounded) index-build jobs; the PROBE
    // plan itself must be: scan → broadcast probe join → heap partials →
    // one exchange into the final exact rank — no corpus shuffle
    val p = plan("ann_ivf")
    assert(p.contains("BroadcastExchange"), p.linesIterator.take(3).mkString("|"))
    assert(countOf(p, "Exchange hashpartitioning") == 1, p)
    assert(p.contains("MapPartitions"))
    // TopKPerKeyExec renders as "TopKPerKey <k>": the map-side heap
    // partial below the exchange, the final rank above it
    assert(countOf(p, "TopKPerKey ") == 2, p)
    assert(!p.contains("SortMergeJoin"), "corpus must never sort-merge")
  }

  test("text analysis: narrow, exchange-free, column-pruned scan") {
    for (q <- Seq("ta_quality", "ta_langid", "ta_fingerprint")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), q)
      assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
        s"$q scan must read only (doc_id, text)")
    }
  }

  test("q5: fixed-cardinality dims broadcast; fact-fact joins shuffle") {
    val p = plan("q5_region_rev")
    // nation + region forced broadcast (customer/orders/lineitem scale
    // with the corpus and must NOT carry a broadcast hint; AQE may still
    // broadcast them at toy scale, so assert only the floor)
    assert(countOf(p, "BroadcastExchange") >= 2)
  }

  test("q6: filters pushed to the lineitem scan") {
    val p = plan("q6_filter")
    assert(p.contains("PushedFilters: [IsNotNull(l_discount)"), p)
  }

  test("mm_pixels: narrow per-row pixel kernel, zero exchanges") {
    val p = plan("mm_pixels")
    assert(!p.contains("Exchange"), p.linesIterator.take(3).mkString("|"))
    assert(p.contains("ReadSchema: struct<doc_id:bigint>"),
      "pixel item derivation must read only doc_id")
  }

  test("mm_data_url: narrow decode, zero exchanges, codegen'd unbase64") {
    val p = plan("mm_data_url")
    assert(!p.contains("Exchange"), p.linesIterator.take(3).mkString("|"))
    // the accept/reject + unbase64 projection runs inside a codegen stage
    // ("*(n)" spans); only the header-parse kernel is object code
    assert(p.contains("*(") && p.contains("unbase64"))
  }

  test("tok_roundtrip / tok_dict: one broadcast vocab, no data shuffle") {
    for (q <- Seq("tok_roundtrip", "tok_dict")) {
      val p = plan(q)
      // vocab rides a Spark broadcast VARIABLE (bounded k=16 driver
      // collect), not a join — the doc pass itself must be exchange-free
      assert(!p.contains("Exchange"), s"$q: ${p.linesIterator.take(3).mkString("|")}")
    }
  }

  test("dedup sketch passes ride native expressions (no typed-map encoders)") {
    // the sketch projections must not contain DeserializeToObject /
    // SerializeFromObject pairs (the encoder round trip the native
    // expressions deleted)
    graft.GraftExtensions.registerFunctions(spark)
    val sk = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "graft_minhash_sig(text) AS sig",
        "graft_shingles(text) AS sh")
      .queryExecution.executedPlan.toString
    assert(!sk.contains("DeserializeToObject") && sk.contains("*("), sk)
    val lsh = graft.operators.SimilarityOps.lshSketch(spark,
        spark.read.parquet(s"$sf/embeddings.parquet"))
      .queryExecution.executedPlan.toString
    assert(!lsh.contains("DeserializeToObject") && lsh.contains("*("), lsh)
  }

  test("corpus_vocab_kmv: partial sketch BEFORE the single exchange") {
    val p = plan("corpus_vocab_kmv")
    // map-side partial aggregation must run below the exchange so the
    // shuffle carries <= k-long sketch buffers, never the token stream
    assert(p.contains("partial_graft_kmv_mins"), p)
    assert(countOf(p, "Exchange hashpartitioning") == 1, p)
    assert(p.contains("ReadSchema: struct<text:string,source:string>"), p)
    val partialIdx = p.indexOf("partial_graft_kmv_mins")
    val exchangeIdx = p.indexOf("Exchange hashpartitioning")
    // formatted plan lists operators top-down: the exchange must appear
    // ABOVE (before) the partial aggregate in the tree rendering
    assert(exchangeIdx >= 0 && partialIdx > exchangeIdx, p)
  }

  test("extraction pipeline: single exchange (the explicit rebalance)") {
    import spark.implicits._
    val docs = graft.corpus.CorpusDerive.derive(spark, sf)
    val p = graft.pipeline.Extraction.pipeline(docs)
      .queryExecution.executedPlan.toString
    assert(countOf(p, "Exchange hashpartitioning") == 1, p)
  }

  test("bucketed co-located join: zero exchange, bucket-pruned scan sides") {
    import spark.implicits._
    // the 100 TB join discipline: two fact tables bucketed on the join
    // key join WITHOUT any shuffle — broadcast disabled so the test
    // proves bucket co-location, not small-table luck
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    def writeBucketed(df: org.apache.spark.sql.DataFrame, name: String): Unit =
      df.write.format("parquet")
        .bucketBy(8, "doc_id").sortBy("doc_id")
        .option("path", s"/dev/shm/graft-bucketed-$name")
        .mode("overwrite").saveAsTable(s"graft_bucket_$name")
    writeBucketed(docs.select($"doc_id", $"text", $"source"), "a")
    writeBucketed(docs.select($"doc_id", $"n_chars"), "b")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val j = spark.table("graft_bucket_a")
        .join(spark.table("graft_bucket_b"), "doc_id")
      val p = j.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange"), p)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
      assert(j.count() == docs.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_bucket_a")
      spark.sql("DROP TABLE IF EXISTS graft_bucket_b")
    }
  }

  test("HTML pipeline: identical shape — single exchange, kernel-first") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id").as[Long]
      .map(id => (id.toString, graft.extract.Html.synthesize(id)))
    val p = graft.pipeline.Extraction.pipelineHtml(docs)
      .queryExecution.executedPlan.toString
    assert(countOf(p, "Exchange hashpartitioning") == 1, p)
  }

  test("corpus_vocab_hll: 256-byte partial sketch BEFORE the single exchange") {
    val p = plan("corpus_vocab_hll")
    assert(countOf(p, "Exchange hashpartitioning") == 1, p)
    // map-side partial HLL registers must appear below the exchange
    val partialIdx = p.indexOf("partial_graft_hll_regs")
    val exchangeIdx = p.indexOf("Exchange hashpartitioning")
    assert(partialIdx >= 0, "partial HLL aggregate missing")
    // executedPlan prints top-down: the exchange line precedes (is above)
    // the partial aggregate line
    assert(exchangeIdx < partialIdx,
      "partial sketch must sit below the exchange (map side)")
  }

  test("sample_weighted: map-side top-k limit before ONE exchange") {
    val p = plan("sample_weighted")
    assert(countOf(p, "Exchange hashpartitioning") == 1, p)
    // rank pushdown bounds per-key rows BEFORE they cross the wire —
    // either Spark's WindowGroupLimit pair (bare session) or the native
    // TopKPerKey pair (when GraftExtensions is installed in the shared
    // session by an earlier suite); both are partial+final around the
    // single exchange
    val boundedPairs = countOf(p, "WindowGroupLimit") +
      countOf(p, "TopKPerKey \\d")
    assert(boundedPairs == 2,
      s"expect partial (map-side) + final bounded top-k, got:\n$p")
  }

  test("bloom_semijoin probe: filter words broadcast, never shuffled") {
    import org.apache.spark.sql.functions._
    val events = spark.read.parquet(s"$sf/events.parquet")
    val words = graft.operators.SketchOps.bloomBuild(
      events.filter(col("event_type") === "purchase").select(col("user_id")))
    val p = words.queryExecution.executedPlan.toString
    // the filter build is one aggregation: partial bit_or below a single
    // exchange of <= 64 word rows
    assert(countOf(p, "Exchange hashpartitioning") == 1, p)
  }

  test("ev_asof_join: one exchange, no join operator at all") {
    val p = plan("ev_asof_join")
    assert(countOf(p, "Exchange hashpartitioning") == 1, p)
    assert(!p.contains("Join"), "as-of must not plan a join:\n" + p)
  }

  test("codec gates: narrow per-row kernels, zero exchanges") {
    for (q <- Seq("mm_gif_interlace", "mm_gif_small", "mm_gif_frames",
                  "mm_jpeg_cmyk")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q: " + p.linesIterator.take(3).mkString("|"))
      assert(p.contains("ReadSchema: struct<doc_id:bigint>"),
        s"$q item derivation must read only doc_id")
    }
  }

  test("dedup_substr: TWO exchanges only (window-key agg, per-doc islands)") {
    val p = plan("dedup_substr")
    // 1: postings into the bounded-collect by window key; 2: duplicated
    // positions into the per-doc gaps-and-islands window. The final
    // (doc_id, g) aggregate and span emission reuse the doc_id
    // partitioning — no third exchange, and never a join.
    assert(countOf(p, "Exchange hashpartitioning") == 2, p)
    assert(!p.contains("Join"), "span discovery must not plan a join:\n" + p)
    assert(p.contains("graft_bounded_collect"),
      "candidate stage must ride the bounded collect")
  }
}
