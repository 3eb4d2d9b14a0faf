package graft.pipeline

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.pipeline.Extraction.ExtractedRow
import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, TableCapability}
import org.apache.spark.sql.connector.distributions.Distributions
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources._
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Iceberg-semantics substitute (BASELINE.md note: no Iceberg runtime jar
  * ships offline): an explicit per-bucket lineage-manifest + atomic
  * commit-marker layer over partitioned Parquet.
  *
  * Layout under `outDir` — three table kinds, one protocol:
  *   data/bucket=<i>/               — resumable buckets ([[writeResumable]])
  *   data/batch=<id>/bucket=<i>/    — idempotent micro-batches ([[appendBatchIdempotent]])
  *   compacted/snap-<s>/bucket=<i>/ — compaction snapshots ([[compact]]);
  *                                    each row keeps its `batch` id as a
  *                                    data column
  *   manifests/bucket-<i>.json      — a resumable bucket's DATA FILE LIST,
  *                                    counts, bytes, checksum, key bounds,
  *                                    Bloom words, snapshot id, wall ms
  *   manifests/batch-<id>.json      — a micro-batch's file list and counts
  *   manifests/compaction-<s>.json  — a snapshot's file list and what it
  *                                    supersedes (the compaction journal)
  *   _SUCCESS.json                  — job-level marker (idempotent finalize,
  *                                    analog of the reference's SSE
  *                                    `finalize` idempotency —
  *                                    /root/reference/crates/server/src/stream.rs:287-355)
  * Every metadata file is written atomically (tmp + rename) AFTER its data
  * lands: that write is the commit.
  *
  * THE ONE VISIBILITY RULE: a row is visible only if a committed manifest
  * or journal lists its file. Readers consume exactly the listed files — a
  * bucket dir whose manifest never committed (a run that died between data
  * write and commit) and stray files from a dead task attempt are
  * invisible. No directory listing governs visibility.
  *
  * Iceberg-fidelity properties:
  *  - SNAPSHOT TIME TRAVEL: every manifest carries the snapshot id of the
  *    run that committed it; `readCommitted(asOfSnapshot = s)` reads the
  *    table as of snapshot s. Snapshot ids are monotonic (+1 per
  *    writeResumable run), mirroring the reference's `seq_len decreased`
  *    cache guard (/root/reference/crates/core/src/transformer/cache.rs:204-258).
  *  - SCHEMA VERSIONING: every metadata file embeds `schema_version`;
  *    readers REJECT files written by a NEWER schema than they understand
  *    (forward-incompatibility fails loudly, the Iceberg format-version
  *    discipline). A version has one format: the reader reads only keys
  *    its writers always write.
  *
  * One codec ([[Meta]]) writes and reads all metadata: bucket and batch
  * manifests, compaction journals, evolve records and `_SUCCESS.json`.
  * Metadata that does not parse, or lacks a field, raises
  * IllegalStateException naming the file; it never reads as a default.
  * The one optional key is a bucket manifest's `buckets`, which rows
  * that do not declare their bucket count leave out.
  * One reader ([[readListed]]) reads all data: the listed files, under the
  * known row schema (evolved columns included), so building a read runs
  * no inference job and no listing. Every read of a batch table
  * ([[readTable]], [[readMerged]], [[compact]]) reads the files
  * [[visibleFiles]] lists.
  *
  * One write ([[writeBuckets]]) lands all data, and it is ONE query: a
  * DSv2 append into a write-only table ([[BucketTable]]) that requires
  * its rows clustered and sorted by bucket. Each task writes each of its
  * buckets to one file in place and counts the bucket's stats (counts,
  * bytes, checksum, key bounds, Bloom words) from the rows it writes; its
  * commit message carries the files and stats to the driver. Nothing
  * re-reads or lists the written files, and nothing stages or renames
  * them.
  *
  * Resume = anti-filter of input buckets against committed manifests.
  * A bucket interrupted between data write and manifest commit is
  * rewritten whole on the next run that writes rows to it: the write
  * deletes every entry of the bucket's dir but its new file, so partial
  * files of a killed run, whose names no manifest lists, never
  * double-count. Only buckets the run wrote rows to are committed: a
  * stale bucket dir it wrote nothing to stays invisible.
  * Rows from [[Extraction.extractRowsWith]] declare their bucket count n
  * in the `bucket` field's metadata; each manifest records it, a run with
  * another n is rejected before it writes, and a run whose buckets 0..n-1
  * are all committed runs no query at all: the retry of a finished job
  * reads metadata only, and its kernel never runs.
  *
  * Local FS here. Writes go through [[NioLocalFileSystem]], which sets
  * each file's and dir's mode in-process: without libhadoop, Hadoop's own
  * local FS forks a `chmod` per file and dir it creates (201 in a fresh
  * 64-bucket commit). The files, modes and `.crc` sidecars are the same;
  * reads use the session's FS. At cluster scale the same protocol runs
  * over any Hadoop FileSystem with atomic rename (HDFS) — the seam is this
  * object, and the writer conf touches only `file:` paths.
  */
object TableIO {

  val SchemaVersion = 1

  /** The metadata codec. A file is one JSON object: `schema_version`
    * first, then the given fields in the given order. Reads are strict.
    */
  private object Meta {
    private val json = new ObjectMapper().registerModule(DefaultScalaModule)
      .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS)

    def write(path: Path, fields: (String, Any)*): Unit =
      writeAtomic(path, json.writeValueAsString(
        ListMap(("schema_version" -> SchemaVersion) +: fields: _*)))

    def read(path: Path): Doc = {
      val node =
        try json.readTree(path.toFile)
        catch { case e: java.io.IOException =>
          throw new IllegalStateException(s"$path is not JSON: ${e.getMessage}", e) }
      val doc = new Doc(path, node)
      val version = doc.long("schema_version")
      if (version > SchemaVersion) throw new IllegalStateException(
        s"$path has schema_version $version > reader's $SchemaVersion — upgrade the reader")
      doc
    }

    /** Typed field access; a missing or mistyped field raises. */
    final class Doc(path: Path, node: JsonNode) {
      private def fail(msg: String): Nothing =
        throw new IllegalStateException(s"$path: $msg")
      if (node == null || !node.isObject) fail("not a JSON object")
      private def field(key: String): JsonNode =
        Option(node.get(key)).getOrElse(fail(s"no \"$key\""))
      private def asLong(key: String, v: JsonNode): Long =
        if (v.isIntegralNumber && v.canConvertToLong) v.longValue
        else fail(s"\"$key\" holds $v, not an integer")
      private def asString(key: String, v: JsonNode): String =
        if (v.isTextual) v.textValue else fail(s"\"$key\" holds $v, not a string")
      private def array(key: String): Seq[JsonNode] = field(key) match {
        case v if v.isArray => v.elements().asScala.toSeq
        case v => fail(s"\"$key\" holds $v, not an array")
      }
      def long(key: String): Long = asLong(key, field(key))
      def string(key: String): String = asString(key, field(key))
      def longs(key: String): Seq[Long] = array(key).map(asLong(key, _))
      def strings(key: String): Seq[String] = array(key).map(asString(key, _))
      /** A field some writes leave out: `get(key)` when present. */
      def opt[A](key: String)(get: String => A): Option[A] =
        if (node.has(key)) Some(get(key)) else None
    }
  }

  private def markerPath(outDir: String): Path = Paths.get(outDir, "_SUCCESS.json")

  /** Monotonic snapshot id (Iceberg-snapshot analog): 0 before any
    * commit, +1 per successful writeResumable run.
    */
  def currentSnapshot(outDir: String): Long =
    if (Files.exists(markerPath(outDir))) Meta.read(markerPath(outDir)).long("snapshot")
    else 0L

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

  private def writeAtomic(path: Path, content: String): Unit = {
    Files.createDirectories(path.getParent)
    val tmp = path.getParent.resolve(path.getFileName.toString + ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Parsed committed manifest: (bucket, snapshot, schema_version,
    * data-file relative paths, key bounds, Bloom words, declared bucket
    * count).
    */
  final case class CommittedManifest(bucket: Int, snapshot: Long,
      schemaVersion: Int, files: Seq[String], minDoc: String, maxDoc: String,
      bloom: IndexedSeq[Long], buckets: Option[Int])

  def committedManifests(outDir: String): Seq[CommittedManifest] =
    listNames(manifestDir(outDir), "bucket-", ".json").sorted.map { name =>
      val m = Meta.read(manifestDir(outDir).resolve(name))
      CommittedManifest(m.long("bucket").toInt, m.long("snapshot"),
        m.long("schema_version").toInt, m.strings("files"), m.string("min_doc"),
        m.string("max_doc"), m.longs("bloom").toIndexedSeq, m.opt("buckets")(m.long).map(_.toInt))
    }

  private def dataDir(outDir: String): String = s"$outDir/data"

  /** One bucket's manifest stats, counted by the task that writes it:
    * its one data file (relative to the write's dir), lineage counts, an
    * order-insensitive checksum (XOR of per-doc FNV checksums), doc_id key
    * bounds (the Iceberg column-stats analog [[readCommittedPruned]] skips
    * buckets by) and doc_id Bloom words (the puffin-blob analog
    * [[readCommittedPrunedByIds]] skips buckets by, even under the hash
    * layout, where bounds can't prune). The words share the 64×63-bit
    * format and hash family of the bloom_semijoin filter, so the DuckDB
    * oracle replays membership bit for bit.
    */
  private[pipeline] final case class BucketStats(bucket: Int, file: String, var docCount: Long = 0L,
      var spanCount: Long = 0L, var bytes: Long = 0L, var spanChecksum: Long = 0L,
      var minDoc: UTF8String = null, var maxDoc: UTF8String = null,
      bloom: Array[Long] = new Array[Long](graft.operators.SketchOps.BloomWords))

  /** A write task's commit message: the stats of each bucket it wrote. */
  private final case class Written(buckets: Seq[BucketStats]) extends WriterCommitMessage

  /** The task side of [[BucketTable]]. Rows arrive sorted by bucket; each
    * bucket's rows go, without the `bucket` column, to one parquet file
    * `bucket=<b>/part-<partition>-<write id>-<task attempt id><ext>` written in
    * place under `dir`, one open file at a time, while the bucket's
    * [[BucketStats]] are counted from the same rows. Null doc_ids set no
    * bound and no bit, like Spark's `min`/`max` and
    * [[graft.operators.SketchOps.bloomBuild]]; bounds compare as UTF-8
    * bytes, the order of Spark's string `min`/`max`. An aborted attempt
    * deletes its files.
    */
  private final case class BucketWriters(dir: String, writeId: String, schema: StructType,
      conf: org.apache.spark.util.SerializableConfiguration, files: OutputWriterFactory)
      extends DataWriterFactory {
    override def createWriter(partition: Int, taskId: Long): DataWriter[InternalRow] =
      new DataWriter[InternalRow] {
        private val Seq(bucketAt, spansAt, bytesAt, sumAt, idAt) =
          Seq("bucket", "span_count", "bytes", "checksum", "doc_id").map(schema.fieldIndex)
        private val data = ProjectingInternalRow(dataSchema(schema), schema.indices.diff(Seq(bucketAt)))
        private val context = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
          conf.value, new org.apache.hadoop.mapreduce.TaskAttemptID())
        private val name = s"part-$partition-$writeId-$taskId${files.getFileExtension(context)}"
        private val done = scala.collection.mutable.ArrayBuffer.empty[BucketStats]
        private lazy val fs = new HPath(dir).getFileSystem(conf.value)
        private var out: OutputWriter = null

        def write(row: InternalRow): Unit = {
          val b = row.getInt(bucketAt)
          if (done.isEmpty || done.last.bucket != b) {
            close(); done += BucketStats(b, s"bucket=$b/$name")
            out = files.newInstance(s"$dir/bucket=$b/$name", data.schema, context)
          }
          val s = done.last
          s.docCount += 1; s.spanCount += row.getInt(spansAt); s.bytes += row.getLong(bytesAt)
          s.spanChecksum ^= row.getLong(sumAt)
          if (!row.isNullAt(idAt)) {
            val id = row.getUTF8String(idAt)
            if (s.minDoc == null || id.binaryCompare(s.minDoc) < 0) s.minDoc = id.clone()
            if (s.maxDoc == null || id.binaryCompare(s.maxDoc) > 0) s.maxDoc = id.clone()
            graft.operators.SketchOps.bloomAdd(s.bloom, id.toString)
          }
          data.project(row); out.write(data)
        }

        def commit(): WriterCommitMessage = { close(); Written(done.toSeq) }
        def abort(): Unit = { close(); done.foreach(s => fs.delete(new HPath(dir, s.file), false)) }
        def close(): Unit = if (out != null) { out.close(); out = null }
      }
  }

  /** `schema` without the `bucket` column: a data file's schema. */
  private def dataSchema(schema: StructType) = StructType(schema.filterNot(_.name == "bucket"))

  /** The one data write, as a DSv2 table over `dir`: rows of `schema`
    * land under `dir/bucket=<b>/`. The write requires its rows clustered
    * and sorted by bucket, so Spark plans one exchange and a per-task
    * sort, every bucket lands in one task, and each task writes one file
    * per bucket ([[BucketWriters]]). The files' Hadoop conf is the
    * session's plus [[NioLocalFileSystem.WriterOptions]]. [[commit]] takes
    * the tasks' messages: `written` is every bucket's stats, in bucket
    * order. Then each written bucket's dir loses every entry but its new
    * file and `.crc`: the files of a killed or failed earlier attempt at
    * the bucket, which no manifest lists (the Iceberg `remove_orphan_files`
    * analog).
    */
  private final class BucketTable(spark: SparkSession, dir: String, override val schema: StructType)
      extends SupportsWrite with WriteBuilder with RequiresDistributionAndOrdering with BatchWrite {
    private var written = Seq.empty[BucketStats]
    def append(rows: DataFrame): Seq[BucketStats] = { ColumnBridge.append(this, rows); written }
    def name: String = dir
    override def capabilities = java.util.EnumSet.of(TableCapability.BATCH_WRITE)
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = this
    override def build: Write = this
    override def toBatch: BatchWrite = this
    override def requiredDistribution = Distributions.clustered(Array(Expressions.column("bucket")))
    override def requiredOrdering = Array(Expressions.sort(Expressions.column("bucket"), SortDirection.ASCENDING))

    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
      val format = new ParquetFileFormat
      val job = org.apache.hadoop.mapreduce.Job.getInstance(
        format.getHadoopConf(spark, NioLocalFileSystem.WriterOptions))
      val files = format.prepareWrite(spark, job, Map.empty, dataSchema(schema))
      BucketWriters(dir, java.util.UUID.randomUUID.toString, schema,
        new org.apache.spark.util.SerializableConfiguration(job.getConfiguration), files)
    }

    def commit(messages: Array[WriterCommitMessage]): Unit = {
      written = messages.toSeq.flatMap { case Written(s) => s }.sortBy(_.bucket)
      require(written.map(_.bucket).distinct.size == written.size, s"$dir: a bucket in two messages")
      for (s <- written; f = Paths.get(dir, s.file); n <- listNames(f.getParent, "", "")
           if n.stripPrefix(".").stripSuffix(".crc") != f.getFileName.toString)
        deleteRecursively(f.resolveSibling(n))
    }

    def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  private lazy val rowEncoder = Encoders.product[ExtractedRow]
  private def baseSchema: StructType = rowEncoder.schema

  private def emptyDf(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(java.util.List.of[Row](), schema)

  /** Schema-order projection with the partition-typed bucket cast. */
  private def projectTo(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fieldNames.map {
      case "bucket" => col("bucket").cast("int").as("bucket")
      case f        => col(f)
    }.toSeq: _*)

  /** `df`'s base columns as rows. (A [[readListed]] read under
    * `baseSchema` needs only `.as(rowEncoder)`: a second Project costs
    * every point lookup a few ms of planning.)
    */
  private def typed(df: DataFrame): Dataset[ExtractedRow] =
    projectTo(df, baseSchema).as(rowEncoder)

  /** The one data read: rows of exactly the listed `files` (relative to
    * `base`) under `schema`, in schema order. Partition columns (`bucket`,
    * and `batch` of micro-batch files) come from the files' dirs; `schema`
    * types those it names. Spark is handed the files' statuses, so it
    * neither infers a schema nor lists the files again (which, above 32
    * paths, it does with a Spark job of its own). A listed file that is
    * gone fails the read.
    */
  private def readListed(spark: SparkSession, base: String, schema: StructType,
      files: Seq[String]): DataFrame =
    if (files.isEmpty) emptyDf(spark, schema)
    else {
      val root = new HPath(base)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val statuses = files.map(f => fs.getFileStatus(new HPath(root, f)))
      val byPath = statuses.map(f => f.getPath -> Array(f)).toMap
      val listed = new FileStatusCache {
        override def getLeafFiles(p: HPath): Option[Array[FileStatus]] = byPath.get(p)
        override def putLeafFiles(p: HPath, l: Array[FileStatus]): Unit = ()
        override def invalidateAll(): Unit = ()
      }
      val index = new InMemoryFileIndex(spark, statuses.map(_.getPath),
        Map("basePath" -> base), Some(schema), listed)
      val parts = index.partitionSchema.fieldNames.toSet
      projectTo(spark.baseRelationToDataFrame(HadoopFsRelation(index,
        index.partitionSchema, StructType(schema.filterNot(f => parts(f.name))),
        None, new ParquetFileFormat, Map.empty)(spark)), schema)
    }

  /** Rows of the committed bucket manifests `keep` selects, narrowed by
    * `rows`, with (manifests read, manifests total).
    */
  private def readManifested(spark: SparkSession, outDir: String,
      keep: CommittedManifest => Boolean,
      rows: Column): (Dataset[ExtractedRow], Int, Int) = {
    val manifests = committedManifests(outDir)
    val live = manifests.filter(keep)
    val df = readListed(spark, dataDir(outDir), baseSchema, live.flatMap(_.files))
    (df.filter(rows).as(rowEncoder), live.size, manifests.size)
  }

  /** The one data write: `rows` as one DSv2 append into a
    * [[BucketTable]] over `dir`, one query. Each bucket's rows land in one
    * file, written in place under `dir/bucket=<i>/` while its
    * [[BucketStats]] are counted from the same rows; the tasks' commit
    * messages, not a listing or a re-read, say which files and stats the
    * write made. A failed task attempt deletes its files; a retried one
    * names its files with its own attempt, and only the committed
    * attempt's message counts. Returns each written bucket's stats, in
    * bucket order.
    */
  private def writeBuckets(rows: DataFrame, dir: String): Seq[BucketStats] =
    new BucketTable(rows.sparkSession, dir, rows.schema).append(rows)

  /** Resumable bucketed write. Returns the number of buckets written this
    * run (0 on a fully-committed rerun — idempotent no-op).
    *
    * The rows of uncommitted buckets go through the one [[writeBuckets]]
    * query; then each written bucket's manifest (its file and stats, as
    * its task's commit message carried them) and last the marker land.
    *
    * When `rows` declare their bucket count n ([[Extraction.bucketCount]]),
    * every manifest written records it, and rows whose n differs from a
    * committed manifest's raise IllegalArgumentException before any data
    * lands: a resume under another bucket count would skip docs never
    * written and write others twice. When every bucket 0..n-1 is already
    * committed, no row can be written, so the call runs no query: it only
    * advances the marker. The kernel behind `rows` then never runs, so a
    * kernel that would fail on committed docs does not fail the retry.
    * Rows without the declaration (built by hand, or by a typed `map`)
    * always run the one write query.
    */
  def writeResumable(rows: Dataset[ExtractedRow], outDir: String): Int = {
    // read first: a table whose metadata does not parse fails before any write
    val snapshot = currentSnapshot(outDir) + 1
    val manifests = committedManifests(outDir)
    val done = manifests.map(_.bucket).toSet
    val n = Extraction.bucketCount(rows.schema)
    for (k <- n; m <- manifests.find(_.buckets.exists(_ != k)))
      throw new IllegalArgumentException(s"$outDir: the rows hold $k buckets, but " +
        s"bucket ${m.bucket} was committed with ${m.buckets.get}; resume with ${m.buckets.get}")
    val t0 = System.nanoTime()
    // The one query, unless no row can be written. It writes only buckets
    // present in `todo`; committed buckets' dirs are untouched. Only
    // buckets the write wrote rows to get a manifest; a stale dir of a
    // killed run that this run wrote no row to stays uncommitted.
    val written =
      if (n.exists(k => (0 until k).forall(done))) Seq.empty
      else {
        val todo = if (done.isEmpty) rows
                   else rows.filter(!col("bucket").isin(done.toSeq: _*))
        writeBuckets(todo.toDF(), dataDir(outDir))
      }
    val wallMs = (System.nanoTime() - t0) / 1000000
    written.foreach { s =>
      Meta.write(manifestPath(outDir, s.bucket), Seq("snapshot" -> snapshot, "bucket" -> s.bucket,
        "doc_count" -> s.docCount, "span_count" -> s.spanCount, "bytes" -> s.bytes,
        "wall_ms" -> wallMs, "span_checksum" -> s.spanChecksum,
        "min_doc" -> Option(s.minDoc).map(_.toString), "max_doc" -> Option(s.maxDoc).map(_.toString),
        "bloom" -> s.bloom, "files" -> Seq(s.file)) ++
        n.map("buckets" -> _): _*)
    }
    // `todo` holds no committed bucket, so the two sets are disjoint
    Meta.write(markerPath(outDir), "snapshot" -> snapshot,
      "buckets_committed" -> (done.size + written.size),
      "last_run_buckets" -> written.size, "last_run_wall_ms" -> wallMs)
    written.size
  }

  /** Streaming ingestion: idempotent per-micro-batch commit. A replayed
    * batch (restart between data write and manifest commit, or source
    * offset replay) is detected by its batch manifest and re-written
    * WHOLE via overwrite — never double-appended. This is the standard
    * foreachBatch exactly-once recipe: checkpointed source offsets +
    * idempotent batch-keyed sink.
    *
    * Evolution-aware: `rows` must carry exactly the CURRENT table
    * schema's columns (writers evolve first, then write), and the batch
    * manifest records the table-schema version it was written under.
    *
    * Layout: data/batch=<id>/bucket=<i>/ + manifests/batch-<id>.json.
    * Returns false when the batch was already committed (no-op replay).
    */
  def appendBatchIdempotent(rows: Dataset[_], outDir: String, batchId: Long): Boolean = {
    val schema = tableSchemaAt(outDir)
    require(rows.columns.toSeq == schema.fieldNames.toSeq,
      s"batch columns ${rows.columns.mkString(",")} != table schema " +
      s"${schema.fieldNames.mkString(",")} — evolve the table first, " +
      "then write with the full current schema")
    val mpath = manifestDir(outDir).resolve(s"batch-$batchId.json")
    if (Files.exists(mpath)) return false
    // replay-safe: a replay's files replace a dead attempt's in each
    // bucket it writes, and the manifest lists only the replay's
    val written = writeBuckets(rows.toDF(), s"${dataDir(outDir)}/batch=$batchId")
    Meta.write(mpath, "table_schema" -> currentTableSchemaVersion(outDir),
      "batch" -> batchId, "doc_count" -> written.map(_.docCount).sum,
      "span_count" -> written.map(_.spanCount).sum,
      "files" -> written.map(s => s"batch=$batchId/${s.file}"))
    true
  }

  /** Each committed micro-batch's id and data files (relative to data/),
    * in id order.
    */
  private def batchManifests(outDir: String): Seq[(Long, Seq[String])] =
    listNames(manifestDir(outDir), "batch-", ".json").map { name =>
      val m = Meta.read(manifestDir(outDir).resolve(name))
      m.long("batch") -> m.strings("files")
    }.sortBy(_._1)

  def committedBatches(outDir: String): Set[Long] =
    batchManifests(outDir).map(_._1).toSet

  /** `schema` plus every batch row's `batch` id: the `batch=<id>` dir of
    * a live batch file, a data column of a compaction snapshot's files.
    */
  private def withBatch(schema: StructType): StructType = schema.add("batch", "long")

  // ------------------------------------------------------------------
  // Upsert: MERGE-on-read (the Iceberg MoR equality-delete analog).
  // The WRITE side is appendBatchIdempotent unchanged — an upsert batch
  // is an ordinary idempotent batch commit; the merge semantics live
  // entirely at READ time: among the visible rows, the highest batch id
  // wins per doc_id, i.e. every batch acts as an equality delete of
  // older same-key rows plus an insert. Compaction keeps every version
  // with its batch id, so the merge (and batch-id time travel) reads the
  // same rows before and after it; readers always pay the per-key merge.
  // ------------------------------------------------------------------

  /** MERGE-on-read view of the batch table: among the rows [[readTable]]
    * reads, the one of the latest batch ≤ `asOfBatch` wins per doc_id
    * (time travel by batch id, across compaction and expiry). Scale
    * shape: ONE hash exchange on doc_id with a map-side
    * WindowGroupLimit — per-key state is one row, never the key's
    * history; the wire carries each surviving version once.
    */
  def readMerged(spark: SparkSession, outDir: String,
                 asOfBatch: Long = Long.MaxValue): Dataset[ExtractedRow] =
    typed(readVisible(spark, outDir, Long.MaxValue, withBatch(baseSchema))
      .filter(col("batch") <= asOfBatch)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("batch").desc)))
      .filter(col("__rn") === 1))

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
    * readable (time travel) until [[expireSnapshots]]. `files` are its
    * data files, relative to its snapshot dir.
    */
  final case class Compaction(snapshot: Long, supersededBatches: Seq[Long],
      supersededSnapshots: Seq[Long], files: Seq[String])

  private def compactionPath(outDir: String, snapshot: Long): Path =
    manifestDir(outDir).resolve(s"compaction-$snapshot.json")

  def compactions(outDir: String): Seq[Compaction] =
    listNames(manifestDir(outDir), "compaction-", ".json").map { name =>
      val j = Meta.read(manifestDir(outDir).resolve(name))
      Compaction(j.long("snapshot"), j.longs("superseded"),
        j.longs("superseded_snapshots"), j.strings("files"))
    }.sortBy(_.snapshot)

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

  /** Rewrite `rows` as snapshot `snapshot`, superseding `batches` and
    * `snaps`. The journal is written AFTER the data lands: the compaction
    * becomes visible atomically with it.
    */
  private def writeCompaction(outDir: String, snapshot: Long, rows: DataFrame,
      batches: Seq[Long], snaps: Seq[Long]): Unit = {
    val files = writeBuckets(rows, compactedDir(outDir, snapshot).toString).map(_.file)
    Meta.write(compactionPath(outDir, snapshot), "snapshot" -> snapshot,
      "superseded" -> batches.sorted, "superseded_snapshots" -> snaps.sorted, "files" -> files)
    Meta.write(markerPath(outDir), "snapshot" -> snapshot,
      "compacted_batches" -> batches.length)
  }

  /** FULL rewrite: every currently-visible row (all visible compacted
    * snapshots plus all live batches) lands in ONE bucket-clustered
    * layout under a new snapshot id, superseding them all. Every row
    * keeps its batch id, so [[readTable]] and [[readMerged]] observe
    * identical rows before and after; the data-file count drops from
    * O(batches × buckets) to O(buckets). Returns the new snapshot.
    */
  def compact(spark: SparkSession, outDir: String): Long = {
    require(committedBatches(outDir).nonEmpty || compactions(outDir).nonEmpty,
      s"nothing to compact under $outDir")
    val snapshot = currentSnapshot(outDir) + 1
    // evolution-aware read: rewrite under the LATEST schema so evolved
    // columns survive compaction (null-filled for pre-evolution rows)
    writeCompaction(outDir, snapshot,
      readVisible(spark, outDir, Long.MaxValue, withBatch(tableSchemaAt(outDir))),
      committedBatches(outDir).diff(deadBatches(outDir)).toSeq,
      visibleCompactions(outDir).map(_.snapshot))
    snapshot
  }

  /** Bytes of the regular files under `p` (0 when absent). */
  private[graft] def dirBytes(p: Path): Long =
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
    writeCompaction(outDir, snapshot,
      readListed(spark, dataDir(outDir), withBatch(tableSchemaAt(outDir)),
        batchManifests(outDir).filter(b => small.contains(b._1)).flatMap(_._2)),
      small, Seq.empty)
    Some(snapshot)
  }

  /** The one read of a batch table: its state as of `asOfSnapshot` —
    * every visible compacted snapshot (one after a full [[compact]];
    * possibly several after [[compactSmall]] binpacks) plus every
    * committed batch no compaction ≤ asOfSnapshot superseded. Before any
    * compaction this is every committed batch; before any commit, an
    * empty Dataset with the row schema. (Batch commits are snapshot-less:
    * time travel is exact with respect to compactions, while batches
    * committed after the requested snapshot remain visible.)
    */
  def readTable(spark: SparkSession, outDir: String,
                asOfSnapshot: Long = Long.MaxValue): Dataset[ExtractedRow] =
    typed(readTableDf(spark, outDir, asOfSnapshot))

  private[graft] def deleteRecursively(p: Path): Unit =
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

  /** The files [[readTable]] reads as of `asOf`, by read base: each
    * visible compaction's under its snapshot dir, then every committed
    * batch's that no compaction ≤ asOf superseded, under data/.
    */
  private def visibleFiles(outDir: String, asOf: Long): Seq[(String, Seq[String])] = {
    val dead = deadBatches(outDir, asOf)
    visibleCompactions(outDir, asOf).map(c =>
      compactedDir(outDir, c.snapshot).toString -> c.files) :+
      (dataDir(outDir) -> batchManifests(outDir).filterNot(b => dead(b._1)).flatMap(_._2))
  }

  /** Rows of the files [[visibleFiles]] lists as of `asOf`, under `schema`. */
  private def readVisible(spark: SparkSession, outDir: String, asOf: Long,
      schema: StructType): DataFrame =
    visibleFiles(outDir, asOf)
      .map { case (base, files) => readListed(spark, base, schema, files) }
      .reduce(_ unionByName _)

  /** All data-file paths currently visible through [[readTable]] — used
    * by tests to assert the compaction file-count drop.
    */
  def visibleDataFiles(outDir: String): Seq[String] =
    visibleFiles(outDir, Long.MaxValue).flatMap { case (base, files) =>
      files.map(f => s"$base/$f") }

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

  def evolutions(outDir: String): Seq[Evolution] =
    listNames(schemaDir(outDir), "evolve-", ".json").map { name =>
      val e = Meta.read(schemaDir(outDir).resolve(name))
      Evolution(e.long("table_schema").toInt, e.long("active_from"),
        e.string("column"), e.string("type"))
    }.sortBy(_.version)

  /** Table schema as of `asOf` (default latest): base ExtractedRow
    * columns plus every evolved column whose activation snapshot ≤ asOf,
    * in evolution order.
    */
  def tableSchemaAt(outDir: String, asOf: Long = Long.MaxValue): StructType =
    evolutions(outDir).filter(_.activeFrom <= asOf)
      .foldLeft(baseSchema)((s, e) => s.add(e.name, e.ddl, nullable = true))

  def currentTableSchemaVersion(outDir: String): Int =
    evolutions(outDir).lastOption.map(_.version).getOrElse(1)

  /** Commit an add-column evolution. The new column is nullable (rows
    * written earlier read as NULL); the table snapshot advances so time
    * travel to any pre-evolution snapshot keeps the old shape. `batch` is
    * reserved: batch tables name their rows' batch id so. Returns the
    * activation snapshot.
    */
  def evolveAddColumn(outDir: String, name: String, ddl: String): Long = {
    val current = tableSchemaAt(outDir)
    require(!current.fieldNames.contains(name),
      s"column '$name' already exists in table schema")
    require(name != "batch", "column name 'batch' is reserved for batch ids")
    // validate the DDL parses before committing anything
    DataType.fromDDL(ddl)
    val version = currentTableSchemaVersion(outDir) + 1
    val activeFrom = currentSnapshot(outDir) + 1
    Meta.write(schemaDir(outDir).resolve(s"evolve-$version.json"),
      "table_schema" -> version, "active_from" -> activeFrom,
      "column" -> name, "type" -> ddl)
    Meta.write(markerPath(outDir), "snapshot" -> activeFrom, "evolved_column" -> name)
    activeFrom
  }

  /** Evolution-aware [[readTable]]: same visibility rules, but the
    * result carries the SCHEMA AT `asOfSnapshot` — evolved columns
    * appear (NULL for pre-evolution rows) iff their activation snapshot
    * is ≤ asOfSnapshot, regardless of which files physically contain
    * them.
    */
  def readTableDf(spark: SparkSession, outDir: String,
      asOfSnapshot: Long = Long.MaxValue): DataFrame =
    readVisible(spark, outDir, asOfSnapshot, tableSchemaAt(outDir, asOfSnapshot))

  /** Read back only manifest-committed data, as of `asOfSnapshot`
    * (default: latest). The reader consumes the manifests' FILE LISTS —
    * uncommitted bucket dirs, partial writes, and buckets committed after
    * the requested snapshot are all invisible. Fails loudly on manifests
    * written by a newer schema version.
    */
  def readCommitted(spark: SparkSession, outDir: String,
                    asOfSnapshot: Long = Long.MaxValue): Dataset[ExtractedRow] =
    readManifested(spark, outDir, _.snapshot <= asOfSnapshot, lit(true))._1

  /** Manifest-stats scan pruning (the Iceberg partition/file-skipping
    * analog): read ONLY the buckets whose [min_doc, max_doc] key bounds
    * intersect [loDoc, hiDoc], then apply the exact filter. With a
    * range-clustered layout ([[Extraction.rangeBucketOf]]) a
    * narrow predicate touches a few buckets instead of the table — at
    * 100 TB this is the difference between a point-lookup job and a full
    * scan. Doc ids are fixed-width zero-padded, so lexicographic bound
    * comparison equals numeric comparison. Every manifest carries its
    * bounds. Returns (exact-filtered rows, buckets read, buckets total).
    */
  def readCommittedPruned(spark: SparkSession, outDir: String,
                          loDoc: String, hiDoc: String):
      (Dataset[ExtractedRow], Int, Int) =
    readManifested(spark, outDir, m => m.minDoc <= hiDoc && m.maxDoc >= loDoc,
      col("doc_id").between(loDoc, hiDoc))

  /** Manifest-Bloom scan pruning for POINT / bounded-id-set predicates —
    * the skipping index the HASH layout gets (range bounds can't prune it;
    * see [[Extraction.rangeBucketOf]] for the trade). A bucket is read iff
    * its manifest Bloom maybe-contains at least one queried id; false
    * positives cost an extra bucket read, never a missed row, and are
    * deterministic (the oracle replays them). The Bloom is
    * constant-size per bucket ([[graft.operators.SketchOps.BloomWords]]
    * longs — a TEST-scale parameter; a production table sizes bits to the
    * bucket's expected key count, exactly like Iceberg sizes puffin
    * blobs by ndv). Returns (exact-filtered rows, buckets read, total).
    */
  def readCommittedPrunedByIds(spark: SparkSession, outDir: String,
                               ids: Seq[String]):
      (Dataset[ExtractedRow], Int, Int) =
    readManifested(spark, outDir,
      m => ids.exists(id => graft.operators.SketchOps.bloomMaybeContains(m.bloom, id)),
      col("doc_id").isin(ids: _*))
}
