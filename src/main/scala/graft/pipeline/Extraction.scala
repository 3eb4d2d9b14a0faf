package graft.pipeline

import graft.extract.Kernel
import graft.schema.{Doc, ExtractedDoc, ExtractedSpan}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.types.{MetadataBuilder, StructType}

/** Spark wiring of the extraction kernel (SURVEY.md §7.1 module 4).
  *
  * Dataset-only, no RDDs: read → mapPartitions(kernel) → salt + range
  * key per doc → one exchange routed by [[RangeRouter]] → markdown
  * render; or kernel → resumable bucketed write via [[TableIO]].
  *
  * Scale notes (designed for 1000 executors / 100 TB, tested on local[32]):
  *  - The kernel is a narrow per-row map: zero cross-row dependencies,
  *    matching the reference's per-image rayon `par_iter`
  *    (/root/reference/crates/core/src/model/mod.rs:840-862).
  *  - The ONLY shuffle is the explicit rebalance. Hot hosts / long-tail doc
  *    sizes make raw input splits skewed; the salt term spreads any hot
  *    doc_id range uniformly while the range partitioner keeps output
  *    clustered for downstream locality.
  *  - AQE stays on; shuffle partition count is a parameter sized so a
  *    partition's docs fit executor memory (north rule: explicit, not
  *    implicit, skew handling).
  */
object Extraction {

  /** Flat output row carrying bucket + stats for the resumable write. */
  final case class ExtractedRow(
      doc_id: String,
      spans: Seq[ExtractedSpan],
      markdown: String,
      bucket: Int,
      span_count: Int,
      bytes: Long,
      checksum: Long
  )

  /** Narrow extraction: kernel over each partition's docs in a tight loop
    * (batch-of-tiles analog, SURVEY.md O15). No shuffle.
    */
  def extractDs(docs: Dataset[Doc]): Dataset[ExtractedDoc] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[ExtractedDoc]
    docs.mapPartitions(_.map(Kernel.extract))
  }

  /** Full pipeline with explicit salt + range rebalance (north rule).
    *
    * Order: kernel FIRST (narrow, on size-balanced input splits), THEN
    * salt + range placement for the clustered write. Extraction shrinks
    * docs (boilerplate stripped, markup dropped), so the shuffle moves
    * fewer bytes than shuffling raw input — and hot oversized raw docs
    * are already reduced before they cross the wire. The salt term
    * spreads any hot doc_id range; the range layout keeps output
    * clustered by (salt, doc_id) for downstream locality.
    *
    * Range placement uses [[RangeRouter]] (range boundaries, then ONE
    * hash shuffle with exact partition routing) instead of
    * `repartitionByRange`, whose RangePartitioner sampling re-executes
    * the entire upstream — including the extraction kernel — a second
    * time. At 100 TB that double scan is the difference between one pass
    * and two. With shufflePartitions ≤ saltBuckets the boundaries are salt
    * edges ([[RangeRouter.saltBounds]]) and building the Dataset runs no
    * Spark job; above it a sample job over the input (kernel not run)
    * places boundaries inside salts.
    */
  def pipeline(docs: Dataset[Doc], shufflePartitions: Int = 0,
               saltBuckets: Int = 64): Dataset[ExtractedDoc] =
    pipelineWith(docs, (_: Doc).doc_id, Kernel.extractSpans,
      shufflePartitions, saltBuckets)

  /** HTML → ordered spans: the [[graft.extract.Html]] kernel's block
    * stream mapped into the span model (shared by the batch pipeline,
    * the streaming path, and the driver queries).
    */
  def htmlSpans(html: String): IndexedSeq[ExtractedSpan] =
    graft.extract.Html.extract(html).zipWithIndex.map { case (b, i) =>
      ExtractedSpan(b.kind, b.text, b.mediaRef, i)
    }

  /** The span pipeline over raw HTML documents: the [[graft.extract.Html]]
    * streaming tokenizer + link-density boilerplate strip is the kernel,
    * everything else (salt, range placement, single
    * exchange, post-shuffle markdown render) is shared with [[pipeline]].
    * This is the north star's "boilerplate stripping over a streaming DOM
    * tokenizer" as a DISTRIBUTED path, not just a per-row kernel.
    */
  def pipelineHtml(docs: Dataset[(String, String)], shufflePartitions: Int = 0,
                   saltBuckets: Int = 64): Dataset[ExtractedDoc] =
    pipelineWith(docs, (_: (String, String))._1,
      (d: (String, String)) => htmlSpans(d._2),
      shufflePartitions, saltBuckets)

  /** Pipeline stage names for [[pipelineWith]]'s partial-execution gate,
    * in execution order. The reference debugs its decoder by running layer
    * sub-ranges via `DEEPSEEK_OCR_LAYER_SLICE` (ref
    * crates/core/src/model/decoder.rs:104-117); the Spark analog truncates
    * the extraction pipeline after a named stage:
    *  - `scan`: derivation only — ids pass through, kernel never runs, no
    *    exchange (isolates scan+derive cost / input health);
    *  - `kernel`: narrow kernel applied, NO exchange (isolates kernel cost
    *    from shuffle cost — the per-layer timing analog);
    *  - `route`: kernel + the one range-routed exchange, markdown NOT
    *    rendered (isolates shuffle placement);
    *  - `all` (default): the full pipeline.
    * Controlled by the session conf `spark.graft.stages` so a debugging
    * run truncates WITHOUT code changes, exactly like the reference's
    * env-var slice.
    */
  val Stages: Seq[String] = Seq("scan", "kernel", "route", "all")
  val StagesConf = "spark.graft.stages"

  /** Generic pipeline body: any document type, any narrow span kernel.
    * The plan shape is IDENTICAL for every instantiation — kernel first
    * (narrow), one range-routed exchange, markdown rendered post-shuffle
    * (PlanShapeSpec pins it). Honors [[StagesConf]] (partial execution).
    * Boundaries: salt edges when n ≤ `saltBuckets` (no job, no
    * broadcast), else [[RangeRouter.sample]] + [[RangeRouter.boundaries]]
    * (one sample job while building the Dataset).
    */
  def pipelineWith[T](docs: Dataset[T], idOf: T => String,
                      kernel: T => IndexedSeq[ExtractedSpan],
                      shufflePartitions: Int = 0,
                      saltBuckets: Int = 64): Dataset[ExtractedDoc] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val stage = spark.conf.get(StagesConf, "all")
    require(Stages.contains(stage),
      s"$StagesConf must be one of ${Stages.mkString("/")}, got '$stage'")
    val n = if (shufflePartitions > 0) shufflePartitions
            else spark.sessionState.conf.numShufflePartitions
    implicit val outEnc = org.apache.spark.sql.Encoders.product[ExtractedDoc]
    if (stage == "scan")
      return docs.mapPartitions(_.map(d => ExtractedDoc(idOf(d), Seq.empty, "")))
    if (stage == "kernel")
      return docs.mapPartitions(_.map(d => ExtractedDoc(idOf(d), kernel(d), "")))
    // n <= S: salt edges, no job. n > S: a sample job that derives and
    // deserializes each whole T (kernel NOT run) to split inside a salt;
    // driver collect bounded by RangeRouter.SampleBudget at any split count
    val bounds =
      if (n <= saltBuckets) RangeRouter.saltBounds(n, saltBuckets)
      else RangeRouter.boundaries(
        RangeRouter.sample(docs, (d: T) => RangeRouter.key(idOf(d), saltBuckets)), n)
    val tokens = RangeRouter.hashTokens(n)
    // bounds ride in the task binary, which Spark already broadcasts
    val routed = docs
      .mapPartitions(_.map { d =>
        val id = idOf(d)
        val k = RangeRouter.key(id, saltBuckets)
        (tokens(RangeRouter.bucket(bounds, k)), id, kernel(d))
      })
      .toDF("route", "doc_id", "spans")
      .repartition(n, $"route")
      .drop("route")
      .as[(String, Seq[ExtractedSpan])]
    // markdown rendered post-shuffle: pure function of spans, and twice
    // the wire bytes if shuffled
    routed.mapPartitions(_.map { case (id, spans) =>
      ExtractedDoc(id, spans,
        if (stage == "route") "" else Kernel.renderMarkdown(spans))
    })
  }

  /** Extraction + bucket/stats columns for [[TableIO.writeResumable]].
    * `buckets` is the resume granularity: bucket = md5i(doc_id) mod
    * buckets ([[bucketOf]]), computed in the kernel so it survives any
    * repartitioning.
    */
  def extractRows(docs: Dataset[Doc], buckets: Int): Dataset[ExtractedRow] =
    extractRowsWith(docs, (_: Doc).doc_id, Kernel.extractSpans, buckets)

  /** [[extractRows]] over any document type and span kernel (the
    * pipelineWith analog for the resumable-write row shape). `bucketBy`
    * maps (doc_id, buckets) to the row's bucket in [0, buckets):
    * [[bucketOf]]'s hash layout, or e.g. `rangeBucketOf(_, _, maxId)`'s
    * range-clustered one; a bucket outside that range fails the row.
    *
    * The `bucket` column carries its value domain as field metadata
    * ([[BucketsKey]] = `buckets`), the way Spark ML tags a column with its
    * attribute's number of values. The opaque kernel computes the bucket,
    * but the planner-visible schema says which buckets can occur, so
    * [[TableIO.writeResumable]] knows a table is complete without running
    * the kernel. Filters, `toDF` and repartitions keep the tag; a typed
    * `map` drops it.
    */
  def extractRowsWith[T](docs: Dataset[T], idOf: T => String,
                         kernel: T => IndexedSeq[ExtractedSpan],
                         buckets: Int,
                         bucketBy: (String, Int) => Int = bucketOf): Dataset[ExtractedRow] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[ExtractedRow]
    docs.mapPartitions(_.map { doc =>
      val id = idOf(doc)
      val b = bucketBy(id, buckets)
      if (b < 0 || b >= buckets) throw new IllegalArgumentException(
        s"doc $id: bucket $b is outside [0, $buckets)")
      val spans = kernel(doc)
      val md = Kernel.renderMarkdown(spans)
      ExtractedRow(id, spans, md, b, spans.size,
        md.length.toLong, Kernel.checksum(ExtractedDoc(id, spans, md)))
    }).withMetadata("bucket", new MetadataBuilder().putLong(BucketsKey, buckets).build())
      .as[ExtractedRow]
  }

  /** The `bucket` field-metadata key of [[extractRowsWith]]'s rows: the
    * bucket count n, every row's bucket being in [0, n).
    */
  private val BucketsKey = "buckets"

  /** The bucket count `schema`'s `bucket` field declares, if it has one. */
  def bucketCount(schema: StructType): Option[Int] =
    schema.find(_.name == "bucket").map(_.metadata)
      .filter(_.contains(BucketsKey)).map(_.getLong(BucketsKey).toInt)

  /** Stable, deterministic, engine-portable bucket assignment:
    * md5i(doc_id) % buckets (positive 60-bit hash — see
    * [[graft.functions.Hashing]]), so the DuckDB oracle can recompute
    * bucket membership for the resumable-write round-trip query.
    */
  def bucketOf(docId: String, buckets: Int): Int =
    (graft.functions.Hashing.md5i(docId) % buckets).toInt

  /** RANGE-clustered bucket: monotone in the numeric doc id, so each
    * bucket owns a contiguous id interval and the manifests' min/max
    * bounds become an effective skipping index
    * ([[TableIO.readCommittedPruned]]). Hash buckets spread every id
    * range across ALL buckets — resume-friendly but unprunable; this is
    * the layout trade Iceberg exposes as partition-spec choice. Pass
    * `rangeBucketOf(_, _, maxId)` as [[extractRowsWith]]'s `bucketBy`
    * (`maxId` from a one-column pre-scan or catalog stats).
    */
  def rangeBucketOf(docId: String, buckets: Int, maxId: Long): Int = {
    val id = docId.slice(1, 11).toLong
    math.min(buckets - 1, (id * buckets / (maxId + 1)).toInt)
  }
}
