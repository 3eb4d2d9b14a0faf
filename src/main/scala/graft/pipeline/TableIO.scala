package graft.pipeline

import graft.pipeline.Extraction.ExtractedRow
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Iceberg-semantics substitute (BASELINE.md note: no Iceberg runtime jar
  * ships offline): an explicit per-bucket lineage-manifest + atomic
  * commit-marker layer over partitioned Parquet.
  *
  * Layout under `outDir`:
  *   data/bucket=<i>/ (parquet)     — extracted rows, one dir per bucket
  *   manifests/bucket-<i>.json      — lineage: the bucket's DATA FILE LIST,
  *                                    counts, bytes, checksum, snapshot id,
  *                                    wall ms (atomic tmp+rename = commit)
  *   _SUCCESS.json                  — job-level marker (idempotent finalize,
  *                                    analog of the reference's SSE
  *                                    `finalize` idempotency —
  *                                    /root/reference/crates/server/src/stream.rs:287-355)
  *
  * Iceberg-fidelity properties:
  *  - MANIFEST-LISTED READS: readers consume exactly the parquet files
  *    named in committed manifests — a bucket directory containing data
  *    but no manifest (a run that died between data write and commit), or
  *    stray files from a dead task attempt, are invisible. No directory
  *    listing governs visibility.
  *  - SNAPSHOT TIME TRAVEL: every manifest carries the snapshot id of the
  *    run that committed it; `readCommitted(asOfSnapshot = s)` reads the
  *    table as of snapshot s. Snapshot ids are monotonic (+1 per
  *    writeResumable run), mirroring the reference's `seq_len decreased`
  *    cache guard (/root/reference/crates/core/src/transformer/cache.rs:204-258).
  *  - SCHEMA VERSIONING: manifests embed `schema_version`; readers REJECT
  *    manifests written by a NEWER schema than they understand
  *    (forward-incompatibility fails loudly, the Iceberg
  *    format-version discipline) and accept older ones.
  *
  * Resume = anti-filter of input buckets against committed manifests; the
  * write uses dynamic partition overwrite so a bucket interrupted between
  * data-append and manifest-commit is rewritten whole on the next run
  * (partial files never double-count).
  *
  * Local FS here; at cluster scale the same protocol runs over any Hadoop
  * FileSystem with atomic rename (HDFS) — the seam is this object.
  */
object TableIO {

  final case class BucketManifest(bucket: Int, doc_count: Long,
      span_count: Long, bytes: Long, wall_ms: Long, span_checksum: Long,
      files: Seq[String], min_doc: String = "", max_doc: String = "",
      bloom: Seq[Long] = Seq.empty)

  val SchemaVersion = 1

  /** Monotonic snapshot id (Iceberg-snapshot analog): 0 before any
    * commit, +1 per successful writeResumable run.
    */
  def currentSnapshot(outDir: String): Long = {
    val p = Paths.get(outDir, "_SUCCESS.json")
    if (!Files.exists(p)) 0L
    else SnapRe.findFirstMatchIn(Files.readString(p)).map(_.group(1).toLong)
      .getOrElse(throw new IllegalStateException(
        s"$p has no parsable \"snapshot\" — refusing to restart at snapshot 0"))
  }

  private def manifestDir(outDir: String): Path = Paths.get(outDir, "manifests")
  private def manifestPath(outDir: String, bucket: Int): Path =
    manifestDir(outDir).resolve(s"bucket-$bucket.json")

  /** Names in `dir` matching prefix/suffix — stream closed promptly
    * (Files.list leaks an fd per call otherwise).
    */
  private def listNames(dir: Path, prefix: String, suffix: String): Seq[String] =
    if (!Files.exists(dir)) Seq.empty
    else Using.resource(Files.list(dir)) { st =>
      st.iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.startsWith(prefix) && n.endsWith(suffix))
        .toSeq
    }

  def committedBuckets(outDir: String): Set[Int] =
    listNames(manifestDir(outDir), "bucket-", ".json")
      .map(_.stripPrefix("bucket-").stripSuffix(".json").toInt).toSet

  private def writeAtomic(path: Path, content: String): Unit = {
    Files.createDirectories(path.getParent)
    val tmp = path.getParent.resolve(path.getFileName.toString + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
  }

  private def manifestJson(m: BucketManifest, snapshot: Long): String =
    s"""{"schema_version":$SchemaVersion,"snapshot":$snapshot,""" +
    s""""bucket":${m.bucket},"doc_count":${m.doc_count},"span_count":${m.span_count},""" +
    s""""bytes":${m.bytes},"wall_ms":${m.wall_ms},"span_checksum":${m.span_checksum},""" +
    s""""min_doc":"${m.min_doc}","max_doc":"${m.max_doc}",""" +
    (if (m.bloom.isEmpty) ""
     else m.bloom.mkString("\"bloom\":[", ",", "],")) +
    m.files.map(f => s""""$f"""").mkString("\"files\":[", ",", "]}")

  /** Parsed committed manifest: (bucket, snapshot, schema_version,
    * data-file relative paths).
    */
  final case class CommittedManifest(bucket: Int, snapshot: Long,
      schemaVersion: Int, files: Seq[String],
      minDoc: String = "", maxDoc: String = "",
      bloom: IndexedSeq[Long] = IndexedSeq.empty)

  private val SnapRe = "\"snapshot\":(\\d+)".r
  private val VerRe = "\"schema_version\":(\\d+)".r
  private val FilesRe = "\"files\":\\[([^\\]]*)\\]".r
  private val MinDocRe = "\"min_doc\":\"([^\"]*)\"".r
  private val MaxDocRe = "\"max_doc\":\"([^\"]*)\"".r
  private val BloomRe = "\"bloom\":\\[([^\\]]*)\\]".r

  def committedManifests(outDir: String): Seq[CommittedManifest] =
    listNames(manifestDir(outDir), "bucket-", ".json").sorted.map { name =>
      val bucket = name.stripPrefix("bucket-").stripSuffix(".json").toInt
      val s = Files.readString(manifestDir(outDir).resolve(name))
      val snap = SnapRe.findFirstMatchIn(s).map(_.group(1).toLong).getOrElse(0L)
      val ver = VerRe.findFirstMatchIn(s).map(_.group(1).toInt).getOrElse(1)
      val files = FilesRe.findFirstMatchIn(s).map(_.group(1)).getOrElse("")
        .split(',').toSeq.map(_.trim.stripPrefix("\"").stripSuffix("\""))
        .filter(_.nonEmpty)
      val bloom = BloomRe.findFirstMatchIn(s).map(_.group(1)).getOrElse("")
        .split(',').toIndexedSeq.map(_.trim).filter(_.nonEmpty).map(_.toLong)
      CommittedManifest(bucket, snap, ver, files,
        MinDocRe.findFirstMatchIn(s).map(_.group(1)).getOrElse(""),
        MaxDocRe.findFirstMatchIn(s).map(_.group(1)).getOrElse(""),
        bloom)
    }

  /** Data files of every uncommitted `data/bucket=<i>` dir, by bucket:
    * the rows just written plus any stale dir a killed run left behind.
    * Buckets without files are left out.
    */
  private def uncommittedFiles(spark: SparkSession, outDir: String,
      done: Set[Int]): Map[Int, Seq[FileStatus]] = {
    val data = new HPath(s"$outDir/data")
    val fs = data.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(data)) Map.empty
    else fs.listStatus(data).toSeq
      .filter(d => d.isDirectory && d.getPath.getName.startsWith("bucket="))
      .map(d => d.getPath.getName.stripPrefix("bucket=").toInt -> d.getPath)
      .filterNot { case (b, _) => done(b) }
      .map { case (b, d) => b -> fs.listStatus(d).toSeq
        .filter(_.getPath.getName.endsWith(".parquet")).sortBy(_.getPath.getName) }
      .filter(_._2.nonEmpty).toMap
  }

  /** Rows of exactly the listed `files` under `outDir/data`, read with the
    * known row schema. Spark is handed the listed statuses, so it neither
    * infers a schema nor lists the files again (which, above 32 paths, it
    * does with a Spark job of its own).
    */
  private def readListed(spark: SparkSession, outDir: String,
      files: Seq[FileStatus]): DataFrame = {
    val byPath = files.map(f => f.getPath -> Array(f)).toMap
    val listed = new FileStatusCache {
      override def getLeafFiles(p: HPath): Option[Array[FileStatus]] = byPath.get(p)
      def putLeafFiles(p: HPath, l: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    val schema = Encoders.product[ExtractedRow].schema
    val index = new InMemoryFileIndex(spark, files.map(_.getPath),
      Map("basePath" -> s"$outDir/data"), Some(schema), listed)
    val parts = index.partitionSchema.fieldNames.toSet
    spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
      StructType(schema.filterNot(f => parts(f.name))), None,
      new ParquetFileFormat, Map.empty)(spark))
  }

  /** Resumable bucketed write. Returns the number of buckets written this
    * run (0 on a fully-committed rerun — idempotent no-op).
    */
  def writeResumable(rows: Dataset[ExtractedRow], outDir: String): Int = {
    val spark = rows.sparkSession
    import spark.implicits._
    import graft.operators.SketchOps
    // read first: a table whose marker does not parse fails before any write
    val snapshot = currentSnapshot(outDir) + 1
    val done = committedBuckets(outDir)
    val todo = if (done.isEmpty) rows
               else rows.filter(!$"bucket".isin(done.toSeq: _*))
    val t0 = System.nanoTime()
    // The write: dynamic partition overwrite replaces only buckets present
    // in `todo`; committed buckets' data is untouched. (No .cache(): at
    // 100 TB the stats below re-read the *written* parquet with column
    // pruning instead of holding the corpus in memory.)
    // Cluster by bucket BEFORE partitionBy: without it every task opens a
    // writer per bucket (tasks × buckets tiny files — a small-file
    // explosion at scale); clustered, each task writes whole buckets.
    todo
      .repartition(col("bucket"))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bucket")
      .parquet(s"$outDir/data")
    // One listing of the uncommitted bucket dirs supplies both the rows the
    // stats read and the manifests' file lists, so the stats describe
    // exactly the files a reader opens. Empty on a fully-committed rerun:
    // no second Spark job, straight to the marker.
    val pending = uncommittedFiles(spark, outDir, done)
    // One aggregation over exactly those files, read with the known row
    // schema (no inference) and pruned to the small columns: lineage
    // counts, an order-insensitive checksum over per-doc FNV checksums,
    // per-bucket key bounds (the Iceberg column-stats analog that lets
    // readCommittedPruned skip buckets by range) and the doc_id Bloom
    // words (the Iceberg puffin-blob analog: readCommittedPrunedByIds
    // skips buckets on point/id-set predicates even under the hash
    // layout, where bounds can't prune). The words share the 64×63-bit
    // format and hash family of the bloom_semijoin filter, so the DuckDB
    // oracle replays membership bit-for-bit.
    val stats =
      if (pending.isEmpty) Array.empty[(Int, Long, Long, Long, Long, String, String, Seq[Long])]
      else readListed(spark, outDir, pending.values.flatten.toSeq)
        .groupBy($"bucket").agg(
          count(lit(1)).as("doc_count"),
          sum($"span_count").cast("long").as("span_count"),
          sum($"bytes").cast("long").as("bytes"),
          expr("bit_xor(checksum)").as("span_checksum"),
          min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"),
          SketchOps.bloomWords($"doc_id").as("bloom"))
        .as[(Int, Long, Long, Long, Long, String, String, Seq[Long])].collect()
    val wallMs = (System.nanoTime() - t0) / 1000000
    stats.foreach { case (b, dc, sc, by, ck, lo, hi, bloom) =>
      writeAtomic(manifestPath(outDir, b),
        manifestJson(BucketManifest(b, dc, sc, by, wallMs, ck,
          pending(b).map(f => s"bucket=$b/${f.getPath.getName}"), lo, hi, bloom),
          snapshot))
    }
    writeAtomic(Paths.get(outDir, "_SUCCESS.json"),
      s"""{"schema_version":$SchemaVersion,"snapshot":$snapshot,""" +
      s""""buckets_committed":${committedBuckets(outDir).size},""" +
      s""""last_run_buckets":${stats.length},"last_run_wall_ms":$wallMs}""")
    stats.length
  }

  /** Streaming ingestion: idempotent per-micro-batch commit. A replayed
    * batch (restart between data write and manifest commit, or source
    * offset replay) is detected by its batch manifest and re-written
    * WHOLE via overwrite — never double-appended. This is the standard
    * foreachBatch exactly-once recipe: checkpointed source offsets +
    * idempotent batch-keyed sink.
    *
    * Layout: data/batch=<id>/bucket=<i>/ + manifests/batch-<id>.json.
    * Returns false when the batch was already committed (no-op replay).
    */
  def appendBatchIdempotent(rows: Dataset[ExtractedRow], outDir: String,
                            batchId: Long): Boolean = {
    val spark = rows.sparkSession
    import spark.implicits._
    val mpath = manifestDir(outDir).resolve(s"batch-$batchId.json")
    if (Files.exists(mpath)) return false
    rows.repartition(col("bucket"))
      .write.mode(SaveMode.Overwrite) // replay-safe: replace, never append
      .partitionBy("bucket")
      .parquet(s"$outDir/data/batch=$batchId")
    // explicit schema: an empty micro-batch writes a file-less dir, which
    // would fail schema inference
    val (nd, ns) = spark.read
      .schema(org.apache.spark.sql.Encoders.product[ExtractedRow].schema)
      .parquet(s"$outDir/data/batch=$batchId")
      .agg(count(lit(1)), coalesce(sum($"span_count").cast("long"), lit(0L)))
      .as[(Long, Long)].head()
    writeAtomic(mpath,
      s"""{"schema_version":$SchemaVersion,"batch":$batchId,"doc_count":$nd,"span_count":$ns}""")
    true
  }

  def committedBatches(outDir: String): Set[Long] =
    listNames(manifestDir(outDir), "batch-", ".json")
      .map(_.stripPrefix("batch-").stripSuffix(".json").toLong).toSet

  private def emptyRows(spark: SparkSession): Dataset[ExtractedRow] = {
    import spark.implicits._
    spark.emptyDataset[ExtractedRow]
  }

  /** Read rows of manifest-committed micro-batches only; empty Dataset
    * (with the proper schema) before any batch commits.
    */
  def readCommittedBatches(spark: SparkSession, outDir: String): Dataset[ExtractedRow] = {
    import spark.implicits._
    val done = committedBatches(outDir)
    if (done.isEmpty) return emptyRows(spark)
    spark.read.option("basePath", s"$outDir/data")
      .parquet(done.toSeq.sorted.map(b => s"$outDir/data/batch=$b"): _*)
      .select($"doc_id", $"spans", $"markdown", $"bucket".cast("int").as("bucket"),
              $"span_count", $"bytes", $"checksum")
      .as[ExtractedRow]
  }

  // ------------------------------------------------------------------
  // Upsert: MERGE-on-read (the Iceberg MoR equality-delete analog).
  // The WRITE side is appendBatchIdempotent unchanged — an upsert batch
  // is an ordinary idempotent batch commit; the merge semantics live
  // entirely at READ time: within the committed batch stream, the
  // highest batch id wins per doc_id, i.e. every batch acts as an
  // equality delete of older same-key rows plus an insert. This is how
  // Iceberg v2 upserts behave before compaction — readers pay a per-key
  // merge — and compactMerged() is the rewrite that clears the debt.
  // ------------------------------------------------------------------

  /** MERGE-on-read view of the batch stream: the latest committed batch
    * ≤ `asOfBatch` wins per doc_id (time travel by batch id). Scale
    * shape: ONE hash exchange on doc_id with a map-side
    * WindowGroupLimit — per-key state is one row, never the key's
    * history; the wire carries each surviving version once.
    */
  def readMerged(spark: SparkSession, outDir: String,
                 asOfBatch: Long = Long.MaxValue): Dataset[ExtractedRow] = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val done = committedBatches(outDir).filter(_ <= asOfBatch)
    if (done.isEmpty) return emptyRows(spark)
    spark.read.option("basePath", s"$outDir/data")
      .parquet(done.toSeq.sorted.map(b => s"$outDir/data/batch=$b"): _*)
      .withColumn("__rn", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"batch".cast("long").desc)))
      .filter($"__rn" === 1)
      .select($"doc_id", $"spans", $"markdown", $"bucket".cast("int").as("bucket"),
              $"span_count", $"bytes", $"checksum")
      .as[ExtractedRow]
  }

  /** Materialize the merged view as ONE new batch (next monotone id) —
    * the Iceberg rewrite that converts merge-on-read debt back to plain
    * scans. Older batches stay on disk, so batch-id time travel still
    * works; re-merging after compaction is a fixpoint (the compacted
    * batch outranks everything it merged). Returns the new batch id.
    */
  def compactMerged(spark: SparkSession, outDir: String): Long = {
    val done = committedBatches(outDir)
    require(done.nonEmpty, "compactMerged on an empty table")
    val next = done.max + 1
    appendBatchIdempotent(readMerged(spark, outDir), outDir, next)
    next
  }

  // ------------------------------------------------------------------
  // Compaction + snapshot expiry (the Iceberg rewrite_data_files /
  // expire_snapshots analog). Streaming commits accumulate
  // data/batch=<id>/ dirs forever; compact() rewrites every visible row
  // into one bucket-clustered snapshot under compacted/snap-<s>/, while
  // compactSmall() binpacks ONLY the small-file tail (live batches under
  // a byte threshold), leaving healthy batches and earlier snapshots in
  // place — compactions compose via their journals. Old batch data and
  // manifests stay on disk so readers can TIME TRAVEL to any
  // pre-compaction snapshot, until expireSnapshots() physically removes
  // superseded state (after which, exactly like Iceberg's
  // expire_snapshots, time travel before the compaction is gone).
  // ------------------------------------------------------------------

  /** A compaction snapshot supersedes a set of batch ids and (for full
    * rewrites) earlier compaction snapshots. Superseded state remains
    * readable (time travel) until [[expireSnapshots]].
    */
  final case class Compaction(snapshot: Long, supersededBatches: Seq[Long],
      supersededSnapshots: Seq[Long])

  private def compactionPath(outDir: String, snapshot: Long): Path =
    manifestDir(outDir).resolve(s"compaction-$snapshot.json")
  private val BatchesRe = "\"superseded\":\\[([^\\]]*)\\]".r
  private val SnapsRe = "\"superseded_snapshots\":\\[([^\\]]*)\\]".r

  private def longList(s: String, re: scala.util.matching.Regex): Option[Seq[Long]] =
    re.findFirstMatchIn(s).map(_.group(1).split(',').toSeq
      .map(_.trim).filter(_.nonEmpty).map(_.toLong))

  def compactions(outDir: String): Seq[Compaction] = {
    val raw = listNames(manifestDir(outDir), "compaction-", ".json").map { name =>
      val snap = name.stripPrefix("compaction-").stripSuffix(".json").toLong
      val s = Files.readString(manifestDir(outDir).resolve(name))
      (snap, longList(s, BatchesRe).getOrElse(Seq.empty), longList(s, SnapsRe))
    }.sortBy(_._1)
    raw.map { case (snap, batches, snaps) =>
      // legacy journals (pre-binpack) lack superseded_snapshots; their
      // full-rewrite semantics superseded every earlier compaction
      Compaction(snap, batches,
        snaps.getOrElse(raw.map(_._1).filter(_ < snap)))
    }
  }

  /** Compactions visible as of `asOf`: not superseded by a later
    * compaction that is itself ≤ asOf.
    */
  def visibleCompactions(outDir: String,
      asOf: Long = Long.MaxValue): Seq[Compaction] = {
    val comps = compactions(outDir).filter(_.snapshot <= asOf)
    val dead = comps.flatMap(_.supersededSnapshots).toSet
    comps.filterNot(c => dead(c.snapshot))
  }

  /** Batch ids superseded by ANY compaction ≤ asOf — a batch rewritten by
    * snapshot s stays dead even after s itself is rewritten (its rows
    * live on in s's superseder).
    */
  private def deadBatches(outDir: String, asOf: Long = Long.MaxValue): Set[Long] =
    compactions(outDir).filter(_.snapshot <= asOf)
      .flatMap(_.supersededBatches).toSet

  private def compactedDir(outDir: String, snapshot: Long): Path =
    Paths.get(outDir, "compacted", s"snap-$snapshot")

  private def writeCompaction(outDir: String, snapshot: Long,
      batches: Seq[Long], snaps: Seq[Long]): Unit = {
    // journal AFTER the data lands: the compaction becomes visible
    // atomically with this manifest write
    writeAtomic(compactionPath(outDir, snapshot),
      s"""{"schema_version":$SchemaVersion,"snapshot":$snapshot,""" +
      batches.sorted.mkString("\"superseded\":[", ",", "],") +
      snaps.sorted.mkString("\"superseded_snapshots\":[", ",", "]}"))
    writeAtomic(Paths.get(outDir, "_SUCCESS.json"),
      s"""{"schema_version":$SchemaVersion,"snapshot":$snapshot,""" +
      s""""compacted_batches":${batches.length}}""")
  }

  /** FULL rewrite: every currently-visible row (all visible compacted
    * snapshots plus all live batches) lands in ONE bucket-clustered
    * layout under a new snapshot id, superseding them all. Readers
    * observe identical rows before and after; the data-file count drops
    * from O(batches × buckets) to O(buckets). Returns the new snapshot.
    */
  def compact(spark: SparkSession, outDir: String): Long = {
    require(committedBatches(outDir).nonEmpty || compactions(outDir).nonEmpty,
      s"nothing to compact under $outDir")
    val snapshot = currentSnapshot(outDir) + 1
    // evolution-aware read: rewrite under the LATEST schema so evolved
    // columns survive compaction (null-filled for pre-evolution rows)
    val rows = readTableDf(spark, outDir)
    rows.repartition(col("bucket"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("bucket")
      .parquet(compactedDir(outDir, snapshot).toString)
    val liveBatches = committedBatches(outDir).diff(deadBatches(outDir)).toSeq
    writeCompaction(outDir, snapshot, liveBatches,
      visibleCompactions(outDir).map(_.snapshot))
    snapshot
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Using.resource(Files.walk(p)) { st =>
      st.iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size).sum
    }

  /** BINPACK rewrite (the Iceberg `rewrite_data_files` binpack strategy):
    * fold only live batches whose data is smaller than `smallBytes` into
    * one bucket-clustered snapshot; batches at or above the threshold are
    * left untouched — at 100 TB a compaction that rewrites healthy
    * full-size files does quadratic lifetime IO, so only the small-file
    * tail (streaming's many tiny commits) is rewritten. Big batches and
    * earlier compacted snapshots stay in place and stay visible.
    * Returns Some(snapshot) or None when fewer than two small batches
    * exist (nothing worth folding — a no-op, not an error).
    */
  def compactSmall(spark: SparkSession, outDir: String,
                   smallBytes: Long): Option[Long] = {
    val live = committedBatches(outDir).diff(deadBatches(outDir)).toSeq.sorted
    val small = live.filter(b =>
      dirBytes(Paths.get(outDir, "data", s"batch=$b")) < smallBytes)
    if (small.length < 2) return None
    val snapshot = currentSnapshot(outDir) + 1
    // evolution-aware: binpack under the latest schema (see compact)
    readBatchDirsDf(spark, outDir, small, tableSchemaAt(outDir))
      .repartition(col("bucket"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("bucket")
      .parquet(compactedDir(outDir, snapshot).toString)
    writeCompaction(outDir, snapshot, small, Seq.empty)
    Some(snapshot)
  }

  /** Live-batch rows read through explicit batch dirs. */
  private def readBatchDirs(spark: SparkSession, outDir: String,
      batches: Seq[Long]): Dataset[ExtractedRow] = {
    import spark.implicits._
    // explicit schema: an empty micro-batch's dir has no footers to infer
    spark.read
      .schema(org.apache.spark.sql.Encoders.product[ExtractedRow].schema
        .add("batch", "long"))
      .option("basePath", s"$outDir/data")
      .parquet(batches.sorted.map(b => s"$outDir/data/batch=$b"): _*)
      .select($"doc_id", $"spans", $"markdown",
        $"bucket".cast("int").as("bucket"),
        $"span_count", $"bytes", $"checksum")
      .as[ExtractedRow]
  }

  private def readCompacted(spark: SparkSession, outDir: String,
      snapshot: Long): Dataset[ExtractedRow] = {
    import spark.implicits._
    spark.read
      .schema(org.apache.spark.sql.Encoders.product[ExtractedRow].schema)
      .option("basePath", compactedDir(outDir, snapshot).toString)
      .parquet(compactedDir(outDir, snapshot).toString)
      .select($"doc_id", $"spans", $"markdown",
        $"bucket".cast("int").as("bucket"),
        $"span_count", $"bytes", $"checksum")
      .as[ExtractedRow]
  }

  /** Table state as of `asOfSnapshot`: every visible compacted snapshot
    * (one after a full [[compact]]; possibly several after [[compactSmall]]
    * binpacks) plus every committed batch no compaction ≤ asOfSnapshot
    * superseded. Before any compaction this is exactly
    * [[readCommittedBatches]]. (Batch commits are snapshot-less: time
    * travel is exact with respect to compactions, while batches committed
    * after the requested snapshot remain visible — same contract as before.)
    */
  def readTable(spark: SparkSession, outDir: String,
                asOfSnapshot: Long = Long.MaxValue): Dataset[ExtractedRow] = {
    val comps = visibleCompactions(outDir, asOfSnapshot)
    if (comps.isEmpty) return readCommittedBatches(spark, outDir)
    val live = committedBatches(outDir)
      .diff(deadBatches(outDir, asOfSnapshot)).toSeq
    val compacted = comps.map(c => readCompacted(spark, outDir, c.snapshot))
      .reduce(_ unionByName _)
    if (live.isEmpty) compacted
    else compacted.unionByName(readBatchDirs(spark, outDir, live))
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Using.resource(Files.walk(p)) { st =>
        st.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator().asScala.foreach(Files.delete)
      }
    }

  /** Physically remove all SUPERSEDED state: batch data dirs + manifests
    * any compaction rewrote, and compacted snapshots + journals a later
    * full compaction folded in. Time travel to superseded snapshots is no
    * longer possible afterwards — the expire_snapshots contract. Visible
    * rows are unchanged. Returns the number of batch dirs + snapshots
    * removed. No-op (0) before any compaction.
    */
  def expireSnapshots(outDir: String): Int = {
    val comps = compactions(outDir)
    if (comps.isEmpty) return 0
    var removed = 0
    deadBatches(outDir).toSeq.sorted.foreach { b =>
      val dataDir = Paths.get(outDir, "data", s"batch=$b")
      val m = manifestDir(outDir).resolve(s"batch-$b.json")
      if (Files.exists(dataDir) || Files.exists(m)) removed += 1
      deleteRecursively(dataDir)
      Files.deleteIfExists(m)
    }
    comps.flatMap(_.supersededSnapshots).distinct.sorted.foreach { s =>
      val d = compactedDir(outDir, s)
      val j = compactionPath(outDir, s)
      if (Files.exists(d) || Files.exists(j)) removed += 1
      deleteRecursively(d)
      Files.deleteIfExists(j)
    }
    removed
  }

  private def parquetFilesUnder(root: Path): Seq[String] =
    if (!Files.exists(root)) Seq.empty
    else Using.resource(Files.walk(root)) { st =>
      st.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(_.toString).toSeq
    }

  /** All data-file paths currently visible through [[readTable]] — used
    * by tests to assert the compaction file-count drop.
    */
  def visibleDataFiles(outDir: String): Seq[String] = {
    val live = committedBatches(outDir).diff(deadBatches(outDir))
    val batchFiles = live.toSeq.sorted.flatMap(b =>
      parquetFilesUnder(Paths.get(outDir, "data", s"batch=$b")))
    val compFiles = visibleCompactions(outDir).flatMap(c =>
      parquetFilesUnder(compactedDir(outDir, c.snapshot)))
    batchFiles ++ compFiles
  }

  // ------------------------------------------------------------------
  // Schema evolution (the Iceberg add-column analog — its most common
  // schema operation). An evolution commit writes an immutable
  // schemas/evolve-<v>.json recording the added column and the snapshot
  // it activates at, and advances the table snapshot. Readers resolve
  // THE SCHEMA AT A SNAPSHOT: time travel to a pre-evolution snapshot
  // returns the old shape (the new column projected away even from
  // newer files); the latest read returns the evolved shape with NULL
  // for rows written before the column existed (parquet explicit-schema
  // read fills absent columns with null — no rewrite of old data, the
  // Iceberg contract). Compaction reads and rewrites under the LATEST
  // schema, so evolved columns survive rewrites. Ref analog: the
  // schema_version gating of baselines/README.md:20-21,66-67 and the
  // open-struct forward tolerance of config/mod.rs:64-66.
  // ------------------------------------------------------------------

  /** One committed add-column evolution. `version` 2+ (1 = base schema);
    * `activeFrom` = first snapshot whose schema includes the column.
    */
  final case class Evolution(version: Int, activeFrom: Long,
      name: String, ddl: String)

  private def schemaDir(outDir: String): Path = Paths.get(outDir, "schemas")
  private val ActiveRe = "\"active_from\":(\\d+)".r
  private val ColNameRe = "\"column\":\"([^\"]*)\"".r
  private val ColTypeRe = "\"type\":\"([^\"]*)\"".r

  def evolutions(outDir: String): Seq[Evolution] =
    listNames(schemaDir(outDir), "evolve-", ".json").map { name =>
      val v = name.stripPrefix("evolve-").stripSuffix(".json").toInt
      val s = Files.readString(schemaDir(outDir).resolve(name))
      Evolution(v,
        ActiveRe.findFirstMatchIn(s).map(_.group(1).toLong).getOrElse(0L),
        ColNameRe.findFirstMatchIn(s).map(_.group(1)).getOrElse(""),
        ColTypeRe.findFirstMatchIn(s).map(_.group(1)).getOrElse("string"))
    }.sortBy(_.version)

  private def baseSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.Encoders.product[ExtractedRow].schema

  /** Table schema as of `asOf` (default latest): base ExtractedRow
    * columns plus every evolved column whose activation snapshot ≤ asOf,
    * in evolution order.
    */
  def tableSchemaAt(outDir: String,
      asOf: Long = Long.MaxValue): org.apache.spark.sql.types.StructType =
    evolutions(outDir).filter(_.activeFrom <= asOf)
      .foldLeft(baseSchema)((s, e) => s.add(e.name, e.ddl, nullable = true))

  def currentTableSchemaVersion(outDir: String): Int =
    evolutions(outDir).lastOption.map(_.version).getOrElse(1)

  /** Commit an add-column evolution. The new column is nullable (rows
    * written earlier read as NULL); the table snapshot advances so time
    * travel to any pre-evolution snapshot keeps the old shape. Returns
    * the activation snapshot.
    */
  def evolveAddColumn(outDir: String, name: String, ddl: String): Long = {
    val current = tableSchemaAt(outDir)
    require(!current.fieldNames.contains(name),
      s"column '$name' already exists in table schema")
    // validate the DDL parses before committing anything
    org.apache.spark.sql.types.DataType.fromDDL(ddl)
    val version = currentTableSchemaVersion(outDir) + 1
    val activeFrom = currentSnapshot(outDir) + 1
    writeAtomic(schemaDir(outDir).resolve(s"evolve-$version.json"),
      s"""{"schema_version":$SchemaVersion,"table_schema":$version,""" +
      s""""active_from":$activeFrom,"column":"$name","type":"$ddl"}""")
    writeAtomic(Paths.get(outDir, "_SUCCESS.json"),
      s"""{"schema_version":$SchemaVersion,"snapshot":$activeFrom,""" +
      s""""evolved_column":"$name"}""")
    activeFrom
  }

  /** Schema-order projection with the partition-typed bucket cast. */
  private def projectTo(df: org.apache.spark.sql.DataFrame,
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    df.select(schema.fieldNames.map {
      case "bucket" => col("bucket").cast("int").as("bucket")
      case f        => col(f)
    }.toSeq: _*)

  private def readBatchDirsDf(spark: SparkSession, outDir: String,
      batches: Seq[Long],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    projectTo(spark.read
      .schema(schema.add("batch", "long"))
      .option("basePath", s"$outDir/data")
      .parquet(batches.sorted.map(b => s"$outDir/data/batch=$b"): _*), schema)

  private def readCompactedDf(spark: SparkSession, outDir: String,
      snapshot: Long,
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    projectTo(spark.read
      .schema(schema)
      .option("basePath", compactedDir(outDir, snapshot).toString)
      .parquet(compactedDir(outDir, snapshot).toString), schema)

  /** Evolution-aware [[readTable]]: same visibility rules, but the
    * result carries the SCHEMA AT `asOfSnapshot` — evolved columns
    * appear (NULL for pre-evolution rows) iff their activation snapshot
    * is ≤ asOfSnapshot, regardless of which files physically contain
    * them.
    */
  def readTableDf(spark: SparkSession, outDir: String,
      asOfSnapshot: Long = Long.MaxValue): org.apache.spark.sql.DataFrame = {
    val schema = tableSchemaAt(outDir, asOfSnapshot)
    val comps = visibleCompactions(outDir, asOfSnapshot)
    val live = committedBatches(outDir)
      .diff(deadBatches(outDir, asOfSnapshot)).toSeq
    val parts =
      comps.map(c => readCompactedDf(spark, outDir, c.snapshot, schema)) ++
      (if (live.isEmpty) Nil
       else Seq(readBatchDirsDf(spark, outDir, live, schema)))
    if (parts.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    else parts.reduce(_ unionByName _)
  }

  /** Evolution-aware idempotent batch append: rows must carry exactly
    * the CURRENT table schema's columns (writers evolve first, then
    * write). The batch manifest records the table-schema version it was
    * written under. Same replay-safe protocol as
    * [[appendBatchIdempotent]].
    */
  def appendBatchDf(rows: org.apache.spark.sql.DataFrame, outDir: String,
                    batchId: Long): Boolean = {
    val spark = rows.sparkSession
    import spark.implicits._
    val schema = tableSchemaAt(outDir)
    require(rows.columns.toSeq == schema.fieldNames.toSeq,
      s"batch columns ${rows.columns.mkString(",")} != table schema " +
      s"${schema.fieldNames.mkString(",")} — evolve the table first, " +
      "then write with the full current schema")
    val mpath = manifestDir(outDir).resolve(s"batch-$batchId.json")
    if (Files.exists(mpath)) return false
    rows.repartition(col("bucket"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("bucket")
      .parquet(s"$outDir/data/batch=$batchId")
    val (nd, ns) = spark.read
      .schema(schema)
      .parquet(s"$outDir/data/batch=$batchId")
      .agg(count(lit(1)), coalesce(sum($"span_count").cast("long"), lit(0L)))
      .as[(Long, Long)].head()
    writeAtomic(mpath,
      s"""{"schema_version":$SchemaVersion,""" +
      s""""table_schema":${currentTableSchemaVersion(outDir)},""" +
      s""""batch":$batchId,"doc_count":$nd,"span_count":$ns}""")
    true
  }

  /** Read back only manifest-committed data, as of `asOfSnapshot`
    * (default: latest). The reader consumes the manifests' FILE LISTS —
    * uncommitted bucket dirs, partial writes, and buckets committed after
    * the requested snapshot are all invisible. Fails loudly on manifests
    * written by a newer schema version.
    */
  def readCommitted(spark: SparkSession, outDir: String,
                    asOfSnapshot: Long = Long.MaxValue): Dataset[ExtractedRow] = {
    import spark.implicits._
    val manifests = committedManifests(outDir)
    manifests.filter(_.schemaVersion > SchemaVersion).foreach { m =>
      throw new IllegalStateException(
        s"bucket ${m.bucket} manifest has schema_version ${m.schemaVersion} " +
        s"> reader's $SchemaVersion — upgrade the reader")
    }
    val files = manifests.filter(_.snapshot <= asOfSnapshot)
      .flatMap(_.files).map(f => s"$outDir/data/$f")
    if (files.isEmpty) return emptyRows(spark)
    spark.read.option("basePath", s"$outDir/data")
      .parquet(files: _*)
      .select($"doc_id", $"spans", $"markdown", $"bucket".cast("int").as("bucket"),
              $"span_count", $"bytes", $"checksum")
      .as[ExtractedRow]
  }

  /** Manifest-stats scan pruning (the Iceberg partition/file-skipping
    * analog): read ONLY the buckets whose [min_doc, max_doc] key bounds
    * intersect [loDoc, hiDoc], then apply the exact filter. With a
    * range-clustered layout ([[Extraction.extractRowsClustered]]) a
    * narrow predicate touches a few buckets instead of the table — at
    * 100 TB this is the difference between a point-lookup job and a full
    * scan. Doc ids are fixed-width zero-padded, so lexicographic bound
    * comparison equals numeric comparison. Manifests written before the
    * stats existed carry empty bounds and are conservatively always
    * read. Returns (exact-filtered rows, buckets read, buckets total).
    */
  def readCommittedPruned(spark: SparkSession, outDir: String,
                          loDoc: String, hiDoc: String):
      (Dataset[ExtractedRow], Int, Int) = {
    import spark.implicits._
    val manifests = committedManifests(outDir)
    val live = manifests.filter { m =>
      m.minDoc.isEmpty || m.maxDoc.isEmpty ||
        (m.minDoc <= hiDoc && m.maxDoc >= loDoc)
    }
    val files = live.flatMap(_.files).map(f => s"$outDir/data/$f")
    val rows =
      if (files.isEmpty) emptyRows(spark)
      else spark.read.option("basePath", s"$outDir/data")
        .parquet(files: _*)
        .filter($"doc_id" >= loDoc && $"doc_id" <= hiDoc)
        .select($"doc_id", $"spans", $"markdown",
                $"bucket".cast("int").as("bucket"),
                $"span_count", $"bytes", $"checksum")
        .as[ExtractedRow]
    (rows, live.size, manifests.size)
  }

  /** Manifest-Bloom scan pruning for POINT / bounded-id-set predicates —
    * the skipping index the HASH layout gets (range bounds can't prune it;
    * see [[Extraction.rangeBucketOf]] for the trade). A bucket is read iff
    * its manifest Bloom maybe-contains at least one queried id; false
    * positives cost an extra bucket read, never a missed row, and are
    * deterministic (the oracle replays them). Manifests without Bloom
    * words (pre-upgrade) are conservatively always read. The Bloom is
    * constant-size per bucket ([[graft.operators.SketchOps.BloomWords]]
    * longs — a TEST-scale parameter; a production table sizes bits to the
    * bucket's expected key count, exactly like Iceberg sizes puffin
    * blobs by ndv). Returns (exact-filtered rows, buckets read, total).
    */
  def readCommittedPrunedByIds(spark: SparkSession, outDir: String,
                               ids: Seq[String]):
      (Dataset[ExtractedRow], Int, Int) = {
    import spark.implicits._
    import graft.operators.SketchOps
    val manifests = committedManifests(outDir)
    val live = manifests.filter { m =>
      m.bloom.isEmpty ||
        ids.exists(id => SketchOps.bloomMaybeContains(m.bloom, id))
    }
    val files = live.flatMap(_.files).map(f => s"$outDir/data/$f")
    val rows =
      if (files.isEmpty) emptyRows(spark)
      else spark.read.option("basePath", s"$outDir/data")
        .parquet(files: _*)
        .filter($"doc_id".isin(ids: _*))
        .select($"doc_id", $"spans", $"markdown",
                $"bucket".cast("int").as("bucket"),
                $"span_count", $"bytes", $"checksum")
        .as[ExtractedRow]
    (rows, live.size, manifests.size)
  }
}
