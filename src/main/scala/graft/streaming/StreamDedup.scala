package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.operators.DedupOps
import graft.pipeline.NioLocalFileSystem

/** Incremental (streaming) MinHash+LSH near-duplicate detection —
  * continuous-ingestion dedup, the shape a 100 TB training-data pipeline
  * actually runs: documents arrive as micro-batches, each batch's LSH
  * band keys are checked against the ACCUMULATED band index of everything
  * already ingested, newly-discovered candidate pairs are committed
  * per-batch (idempotent overwrite, the TableIO pattern), and the batch's
  * bands are appended to the index. No re-scan of history: a batch's cost
  * is its own size times the index probe, exactly like the reference's
  * incremental decode loop never re-reads committed context
  * (ref crates/core/src/transformer/cache.rs:204-258 append-only KV;
  * server/src/stream.rs:239-260 monotonic emission).
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

  /** (bk, doc_id) band keys from raw text. The projection boundary after
    * `graft_minhash_sig` makes the signature compute once per row; the
    * band explode then slices the materialized array — same key strings
    * as [[DedupOps.minhashPairs]] (md5 of the comma-joined band slice).
    */
  private[graft] def bandKeys(docs: DataFrame): DataFrame = {
    graft.functions.MinHashSigExpr.register(docs.sparkSession)
    docs.selectExpr("doc_id", "graft_minhash_sig(text) AS sig")
      .selectExpr("doc_id",
        s"explode(transform(sequence(0, ${DedupOps.Bands - 1}), b -> " +
          s"md5(concat_ws(',', transform(slice(sig, b*${DedupOps.RowsPerBand}+1, " +
          s"${DedupOps.RowsPerBand}), x -> CAST(x AS STRING)))))) AS bk")
      .select(col("bk"), col("doc_id"))
  }

  private val idxSchema = new StructType()
    .add("bk", StringType, nullable = false)
    .add("doc_id", LongType, nullable = false)
  private val pairSchema = new StructType()
    .add("doc_a", LongType, nullable = false)
    .add("doc_b", LongType, nullable = false)

  /** Read every committed per-batch dir under `root`; explicit schema so
    * the no-batches / empty-batch cases read as a typed empty frame.
    */
  private def readAccumulated(spark: SparkSession, root: String,
                              schema: StructType): DataFrame = {
    val dirs = {
      val p = java.nio.file.Paths.get(root)
      if (!java.nio.file.Files.exists(p)) Seq.empty[String]
      else scala.util.Using.resource(java.nio.file.Files.list(p)) { st =>
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(_.toString)
          .filter(_.matches(".*/batch=\\d+$")).toSeq.sorted
      }
    }
    if (dirs.isEmpty) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).parquet(dirs: _*)
  }

  /** One micro-batch of the incremental index: emit this batch's new
    * candidate pairs under the prefix cap, then append its bands.
    * Both writes are idempotent per-batch overwrites (replay-safe).
    */
  private[graft] def processBatch(spark: SparkSession, batch: DataFrame,
      batchId: Long, idxDir: String, pairDir: String, cap: Int): Unit = {
    val newBands = bandKeys(batch)
    val idx = readAccumulated(spark, idxDir, idxSchema)
    // arrival position p = |bucket members already indexed| + rank of the
    // new member within its bucket (doc_id order == arrival order);
    // representative = bucket min over index ∪ this batch
    val prev = idx.groupBy(col("bk"))
      .agg(count(lit(1)).as("pn"), min(col("doc_id")).as("prev_rep"))
    val pos = newBands
      .withColumn("r", row_number().over(
        Window.partitionBy(col("bk")).orderBy(col("doc_id"))))
      .withColumn("min_new", min(col("doc_id")).over(Window.partitionBy(col("bk"))))
      .join(prev, Seq("bk"), "left")
      .withColumn("p", coalesce(col("pn"), lit(0L)) + col("r"))
      .withColumn("rep",
        least(coalesce(col("prev_rep"), lit(Long.MaxValue)), col("min_new")))
    val toIndex = pos.filter(col("p") <= cap).as("n")
      .join(idx.as("i"), col("n.bk") === col("i.bk"))
      .select(col("i.doc_id").as("doc_a"), col("n.doc_id").as("doc_b"))
    val inBatch = pos.as("a").join(pos.as("b"),
        col("a.bk") === col("b.bk") && col("a.doc_id") < col("b.doc_id") &&
          col("b.p") <= cap)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    // rep has p = 1 ≤ cap, so p > cap implies doc_id ≠ rep
    val stars = pos.filter(col("p") > cap)
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
    toIndex.union(inBatch).union(stars).distinct()
      .write.mode(SaveMode.Overwrite).options(NioLocalFileSystem.WriterOptions)
      .parquet(s"$pairDir/batch=$batchId")
    newBands.write.mode(SaveMode.Overwrite).options(NioLocalFileSystem.WriterOptions)
      .parquet(s"$idxDir/batch=$batchId")
  }

  /** Driver-verify entry: stage `docs` as `nBatches` contiguous doc_id
    * ranges (arrival order == id order), run the incremental index as a
    * REAL foreachBatch streaming execution (AvailableNow, one file per
    * trigger), then exact-verify the accumulated candidate pairs.
    */
  def streamingMinhashPairs(spark: SparkSession, docs: DataFrame,
      nBatches: Int = 3, maxBucket: Int = DedupOps.MaxBucket): DataFrame = {
    // staging reads slim 4x (max-id + three range filters) and the final
    // verify twice more — cache it in a managed slot (same fix that cut
    // the ev_stream_* staging walls; the slot unpersists on re-invoke)
    val slim = DedupOps.persistSlot("stream_slim",
      docs.select(col("doc_id").cast("long").as("doc_id"), col("text")))
    val maxId = slim.agg(max(col("doc_id"))).head().getLong(0)
    val parts = (0 until nBatches).map { i =>
      val lo = (maxId + 1) * i / nBatches
      val hi = if (i == nBatches - 1) maxId + 1 else (maxId + 1) * (i + 1) / nBatches
      slim.filter(col("doc_id") >= lo && col("doc_id") < hi)
    }
    val src = StreamingExtract.stageOrderedParts(spark, parts)
    val idxDir = java.nio.file.Files.createTempDirectory("graft-sdedup-idx").toString
    val pairDir = java.nio.file.Files.createTempDirectory("graft-sdedup-pair").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft-sdedup-ck").toString
    val schema = spark.read.parquet(src).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(spark, batch, batchId, idxDir, pairDir, maxBucket)
      }
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.functions.MinHashSigExpr.register(spark)
    val sets = slim.selectExpr("doc_id", "graft_shingles(text) AS shingles")
    DedupOps.verifyJaccard(spark,
      readAccumulated(spark, pairDir, pairSchema).distinct(),
      sets, numerator = 10, denominator = 7)
  }
}
