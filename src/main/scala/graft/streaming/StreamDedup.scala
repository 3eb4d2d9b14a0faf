package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.DedupOps

/** Incremental (streaming) MinHash+LSH near-duplicate detection —
  * continuous-ingestion dedup: documents arrive as micro-batches, and
  * each batch's LSH band keys meet the bands of everything already
  * ingested through Spark's versioned state store. One
  * `flatMapGroupsWithState` keyed by band key keeps per bucket only
  * (member count, representative, first ≤ cap members), so a batch's cost
  * is its own size times a bounded state probe, never a re-scan of
  * history (ref crates/core/src/transformer/cache.rs:204-258 append-only
  * KV; server/src/stream.rs:239-260 monotonic emission). A replayed
  * micro-batch k restores state version k − 1, so it re-emits exactly the
  * pairs its first attempt did: no pair table, no index table, no listing.
  *
  * Skew guard — the streaming analog of [[DedupOps.MaxBucket]] is a
  * PREFIX CAP: arrival order is doc_id order (range-staged batches), and
  * a bucket's member at arrival position p pairs with ALL earlier members
  * when p ≤ cap, but only with the bucket's representative (its first
  * arrival = min doc_id) when p > cap. An N-copy flood therefore costs
  * C(cap,2) + (N − cap) pairs — linear in N with a fixed prefix — and
  * stays one connected component through the representative star. This is
  * deliberately NOT the batch cap (which sees final bucket sizes before
  * emitting anything and stars the WHOLE over-cap bucket): a streaming
  * ingester cannot know a bucket's final size, so the prefix rule is the
  * strongest bound available online. The DuckDB oracle replays the
  * prefix rule exactly (row_number per bucket in doc_id order).
  *
  * Verification is the same exact integer Jaccard the batch operator
  * uses ([[DedupOps.verifyJaccard]], J ≥ 0.7), over full shingle sets —
  * the cap only bounds candidate discovery, never emitted values.
  */
object StreamDedup {

  final case class BandMember(bk: String, doc_id: Long)
  /** A band bucket's state: members seen, min doc_id, and the members at
    * arrival positions ≤ cap (the only ones a later member pairs with).
    */
  final case class Bucket(n: Long, rep: Long, first: Seq[Long])
  final case class Pair(doc_a: Long, doc_b: Long)

  /** One bucket's members of one micro-batch, numbered p = n + rank in
    * doc_id order: p ≤ cap pairs with every earlier member, p > cap with
    * the representative.
    */
  private def bucketPairs(cap: Int)(bk: String, rows: Iterator[BandMember],
      state: GroupState[Bucket]): Iterator[Pair] = {
    val ids = rows.map(_.doc_id).toArray.sorted
    val prev = state.getOption.getOrElse(Bucket(0L, Long.MaxValue, Vector.empty))
    val rep = math.min(prev.rep, ids.head)
    val first = prev.first.toBuffer
    val pairs = Vector.newBuilder[Pair]
    ids.indices.foreach { i =>
      val d = ids(i)
      if (prev.n + i + 1 <= cap) {
        first.foreach(e => if (e != d) pairs += Pair(e, d))
        first += d
      } else pairs += Pair(rep, d)
    }
    state.update(Bucket(prev.n + ids.length, rep, first.toSeq))
    pairs.result().iterator
  }

  /** Candidate pairs of a (streaming) frame of `doc_id`, `text` under the
    * prefix cap, each emitted once in the micro-batch of its later member.
    */
  private[graft] def prefixCapPairs(docs: DataFrame, cap: Int): Dataset[Pair] = {
    import docs.sparkSession.implicits._
    graft.GraftExtensions.registerFunctions(docs.sparkSession)
    DedupOps.bandKeys(docs.selectExpr("doc_id", "graft_minhash_sig(text) AS sig"))
      .as[BandMember]
      .groupByKey(_.bk)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        bucketPairs(cap))
  }

  /** Driver-verify entry: stage `docs` as `nBatches` contiguous doc_id
    * ranges (arrival order == id order), stream them one file per trigger
    * through [[prefixCapPairs]] into a memory sink, then exact-verify the
    * candidate pairs. An empty frame stages nothing and has no pairs.
    */
  def streamingMinhashPairs(spark: SparkSession, docs: DataFrame,
      nBatches: Int = 3, maxBucket: Int = DedupOps.MaxBucket): DataFrame = {
    import spark.implicits._
    graft.GraftExtensions.registerFunctions(spark)
    // staging reads slim 4x (max-id + three range filters) and the final
    // verify twice more — cache it in a managed slot (same fix that cut
    // the ev_stream_* staging walls; the slot unpersists on re-invoke)
    val slim = DedupOps.persistSlot("stream_slim",
      docs.select(col("doc_id").cast("long").as("doc_id"), col("text")))
    val top = slim.agg(max(col("doc_id"))).head()
    val pairs = if (top.isNullAt(0)) spark.emptyDataset[Pair].toDF() else {
      val maxId = top.getLong(0)
      val parts = (0 until nBatches).map { i =>
        val lo = (maxId + 1) * i / nBatches
        val hi = if (i == nBatches - 1) maxId + 1 else (maxId + 1) * (i + 1) / nBatches
        slim.filter(col("doc_id") >= lo && col("doc_id") < hi)
      }
      StreamingExtract.runToMemory(spark,
        StreamingExtract.stageOrderedParts(spark, parts), 1, OutputMode.Append())(
        prefixCapPairs(_, maxBucket))
    }
    val sets = slim.selectExpr("doc_id", "graft_shingles(text) AS shingles")
    DedupOps.verifyJaccard(spark, pairs.distinct(), sets,
      numerator = 10, denominator = 7)
  }
}
