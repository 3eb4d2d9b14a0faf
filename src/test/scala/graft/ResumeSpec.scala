package graft

import graft.corpus.CorpusDerive
import graft.extract.Kernel
import graft.pipeline.{Extraction, TableIO}
import graft.schema.{Doc, ExtractedSpan}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermissions
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Kill-and-resume tests over the manifest + commit-marker layer
  * (SURVEY.md §7.4 risk 3): a run that dies mid-write must resume from the
  * last committed bucket and converge to the exact single-run output.
  */
class ResumeSpec extends AnyFunSuite with TempDirs {
  private lazy val spark = SparkSuite.spark
  private val sf = "/root/testdata/sf0.001"
  private val Buckets = 8

  private def tmpDir(): String = tempDir("graft-resume").toString

  private def rows = Extraction.extractRows(CorpusDerive.derive(spark, sf), Buckets)

  private def readAll(out: String) = sortedRows(TableIO.readCommitted(spark, out))

  private def committedBuckets(out: String): Set[Int] =
    TableIO.committedManifests(out).map(_.bucket).toSet

  private def sortedRows(ds: org.apache.spark.sql.Dataset[Extraction.ExtractedRow]) =
    ds.collect().sortBy(_.doc_id).map(r => (r.doc_id, r.spans, r.markdown)).toSeq

  /** Copy a data file of `dir`'s first bucket next to it, as a dead task
    * attempt would leave it.
    */
  private def addStray(dir: Path): Unit = {
    val bucket = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("bucket=")).toSeq.sorted.head
    val real = Files.list(bucket).iterator().asScala
      .find(_.toString.endsWith(".parquet")).get
    Files.copy(real, bucket.resolve("part-stray-attempt.c000.parquet"))
  }

  /** Entries under `out`'s data dir that are neither a data file some
    * bucket manifest lists, its `.crc`, nor a dir on the path to one.
    */
  private def strays(out: String): Seq[Path] = {
    val data = Path.of(out, "data")
    val listed = TableIO.committedManifests(out).flatMap(_.files).map(data.resolve)
    val keep = listed.flatMap(f => Seq(f, f.resolveSibling(s".${f.getFileName}.crc")) ++
      Iterator.iterate(f.getParent)(_.getParent).takeWhile(_.startsWith(data))).toSet
    Using.resource(Files.walk(data))(_.iterator().asScala.filterNot(keep).toSeq.sorted)
  }

  /** Each bucket manifest of `out` as JSON, without its wall and with its
    * file count for its file names (which carry a per-write id).
    */
  private def manifestStats(out: String): Map[Int, String] =
    TableIO.committedManifests(out).map { m =>
      val json = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = json.readTree(Path.of(out, "manifests", s"bucket-${m.bucket}.json").toFile)
        .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      node.remove("wall_ms")
      node.put("files", m.files.size)
      m.bucket -> node.toString
    }.toMap

  /** Start `main` (an object of the test sources) in a child JVM with the
    * test JVM's classpath and `--add-opens`; its temp dir lives under
    * `work`, so the files a killed JVM cannot clean up go with the suite's
    * dirs, and its output goes to `work/child.log`.
    */
  private def forkChild(work: Path, main: Any, args: String*): Process = {
    val childTmp = Files.createDirectory(work.resolve("tmp"))
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filter(_.startsWith("--add-opens"))
    val pb = new ProcessBuilder((Seq(Path.of(System.getProperty("java.home"), "bin", "java").toString) ++
      opens ++ Seq("-Xmx1g", s"-Djava.io.tmpdir=$childTmp", "-Dspark.ui.enabled=false",
        "-cp", System.getProperty("java.class.path"), main.getClass.getName.stripSuffix("$")) ++
      args): _*)
      .directory(work.toFile).redirectErrorStream(true).redirectOutput(work.resolve("child.log").toFile)
    Seq("_JAVA_OPTIONS", "SPARK_LOCAL_DIRS").foreach(pb.environment().remove)
    pb.start()
  }

  /** Every path under `dir` by kind (data file, its `.crc`, other file,
    * dir) with its mode.
    */
  private def modesByKind(dir: String): Map[String, Set[String]] =
    Using.resource(Files.walk(Path.of(dir))) { st =>
      st.iterator().asScala.toSeq.groupMap { p =>
        val n = p.getFileName.toString
        if (Files.isDirectory(p)) "dir"
        else if (n.endsWith(".parquet")) "data"
        else if (n.endsWith(".parquet.crc")) "data.crc"
        else "other"
      }(p => PosixFilePermissions.toString(Files.getPosixFilePermissions(p))).view
        .mapValues(_.toSet).toMap
    }

  test("clean run commits all buckets; rerun is an idempotent no-op") {
    val out = tmpDir()
    // the data lands through the table writer's FS, not the session's
    val nioStats = org.apache.hadoop.fs.FileSystem
      .getStatistics("file", classOf[graft.pipeline.NioLocalFileSystem.Raw])
    val nioBytes = nioStats.getBytesWritten
    val written = TableIO.writeResumable(rows, out)
    assert(written == Buckets)
    assert(committedBuckets(out) == (0 until Buckets).toSet)
    assert(nioStats.getBytesWritten > nioBytes)
    // the table's files land with the modes and `.crc` sidecars a plain
    // partitioned write leaves under the session's default FS
    val plain = s"${tmpDir()}/plain"
    rows.toDF().write.partitionBy("bucket").parquet(plain)
    val modes = modesByKind(s"$out/data")
    assert(modes("data") == Set("rw-r--r--") && modes("dir") == Set("rwxr-xr-x"), modes)
    Seq("data", "data.crc", "dir").foreach(k => assert(modes(k) == modesByKind(plain)(k), k))
    val dataFiles = Using.resource(Files.walk(Path.of(out, "data"))) {
      _.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
    }
    assert(dataFiles.size >= Buckets)
    dataFiles.foreach(f => assert(Files.exists(f.resolveSibling(s".${f.getFileName}.crc")), f))
    assert(readAll(out) == sortedRows(spark.read.parquet(plain)
      .as(org.apache.spark.sql.Encoders.product[Extraction.ExtractedRow])))
    val again = TableIO.writeResumable(rows, out)
    assert(again == 0, "fully-committed rerun must write nothing")
  }

  test("interrupted run (simulated kill after partial commit) resumes to identical output") {
    val full = tmpDir()
    TableIO.writeResumable(rows, full)
    val expected = readAll(full)

    // simulate a killed run: full data write happened for some buckets but
    // only 3 manifests were committed; one bucket even has partial data
    // with NO manifest (died between append and commit)
    val killed = tmpDir()
    TableIO.writeResumable(rows, killed)
    val mdir = Path.of(killed, "manifests")
    val all = Files.list(mdir).iterator().asScala.toSeq.sortBy(_.toString)
    all.drop(3).foreach(Files.delete) // un-commit 5 buckets
    assert(committedBuckets(killed).size == 3)

    val resumed = TableIO.writeResumable(rows, killed)
    assert(resumed == Buckets - 3)
    assert(committedBuckets(killed).size == Buckets)
    assert(readAll(killed) == expected, "resumed output differs from single-run output")
  }

  test("snapshot ids are monotonic; schema_version stamped") {
    val out = tmpDir()
    assert(TableIO.currentSnapshot(out) == 0L)
    TableIO.writeResumable(rows, out)
    assert(TableIO.currentSnapshot(out) == 1L)
    TableIO.writeResumable(rows, out) // idempotent no-op still advances commit
    assert(TableIO.currentSnapshot(out) == 2L)
    val m = Files.readString(Path.of(out, "manifests", "bucket-0.json"))
    assert(m.contains("\"schema_version\":1") && m.contains("\"snapshot\":1"))
  }

  test("reads are manifest-file-listed: stray files + uncommitted buckets invisible") {
    val out = tmpDir()
    TableIO.writeResumable(rows, out)
    val before = readAll(out)
    // a stray parquet from a dead task attempt inside a COMMITTED bucket
    // dir must be invisible (it is not in the manifest's file list) ...
    addStray(Path.of(out, "data"))
    // ... as must a whole data dir whose manifest was never committed
    Files.delete(Path.of(out, "manifests", "bucket-3.json"))
    val after = readAll(out)
    assert(after == before.filterNot { case (id, _, _) =>
      Extraction.bucketOf(id, Buckets) == 3 })
    assert(after.nonEmpty && after.size < before.size)

    // the same rule holds for a committed micro-batch's dir and for a
    // compacted snapshot's dir
    val batches = tmpDir()
    assert(TableIO.appendBatchIdempotent(rows, batches, 0L))
    addStray(Path.of(batches, "data", "batch=0"))
    assert(sortedRows(TableIO.readTable(spark, batches)) == before)
    val snap = TableIO.compact(spark, batches)
    addStray(Path.of(batches, "compacted", s"snap-$snap"))
    assert(sortedRows(TableIO.readTable(spark, batches)) == before)
  }

  test("snapshot time travel: asOfSnapshot reads the table as of that commit") {
    val out = tmpDir()
    // snapshot 1: only buckets 0-2 committed (simulate by filtering input)
    import spark.implicits._
    val firstRows = rows.filter(r => r.bucket < 3)
    TableIO.writeResumable(firstRows, out)
    val snap1 = TableIO.currentSnapshot(out)
    val atSnap1 = readAll(out)
    // snapshot 2: the rest
    TableIO.writeResumable(rows, out)
    assert(TableIO.currentSnapshot(out) == snap1 + 1)
    val latest = readAll(out)
    assert(latest.size > atSnap1.size)
    val travel = TableIO.readCommitted(spark, out, asOfSnapshot = snap1)
      .collect().sortBy(_.doc_id).map(r => (r.doc_id, r.spans, r.markdown)).toSeq
    assert(travel == atSnap1)
    // as of snapshot 0: empty table, correct schema
    assert(TableIO.readCommitted(spark, out, asOfSnapshot = 0L).count() == 0L)
  }

  test("reader rejects manifests from a newer schema version") {
    val out = tmpDir()
    TableIO.writeResumable(rows, out)
    val m = Path.of(out, "manifests", "bucket-1.json")
    Files.writeString(m,
      Files.readString(m).replace("\"schema_version\":1", "\"schema_version\":99"))
    val e = intercept[IllegalStateException](readAll(out))
    assert(e.getMessage.contains("schema_version 99"))
  }

  test("empty table reads: no manifests -> empty Dataset with schema, not a crash") {
    val out = tmpDir()
    assert(TableIO.readCommitted(spark, out).count() == 0L)
    assert(TableIO.readTable(spark, out).count() == 0L)
    assert(TableIO.readCommitted(spark, out).schema.fieldNames.contains("doc_id"))
  }

  test("compaction: identical rows, fewer files, time travel; expiry drops superseded state") {
    import spark.implicits._
    val out = tmpDir()
    // three streaming micro-batches (split by doc_id mod 3)
    val all = rows
    (0 until 3).foreach { i =>
      val part = all.filter(r =>
        java.lang.Long.parseLong(r.doc_id.stripPrefix("d")) % 3 == i)
      assert(TableIO.appendBatchIdempotent(part, out, i.toLong))
    }
    val before = TableIO.readTable(spark, out)
      .collect().map(r => (r.doc_id, r.spans, r.markdown)).sortBy(_._1).toSeq
    val filesBefore = TableIO.visibleDataFiles(out).size
    assert(before.nonEmpty && filesBefore >= 3)

    val snap = TableIO.compact(spark, out)
    // equality after compaction
    val after = TableIO.readTable(spark, out)
      .collect().map(r => (r.doc_id, r.spans, r.markdown)).sortBy(_._1).toSeq
    assert(after == before, "compaction changed visible rows")
    // file-count drop: O(batches×buckets) → O(buckets)
    val filesAfter = TableIO.visibleDataFiles(out).size
    assert(filesAfter < filesBefore, s"$filesAfter !< $filesBefore")
    // time travel to the pre-compaction snapshot still sees batch layout
    val travel = TableIO.readTable(spark, out, asOfSnapshot = snap - 1)
      .collect().map(r => (r.doc_id, r.spans, r.markdown)).sortBy(_._1).toSeq
    assert(travel == before)

    // every batch manifest and journal lists its files
    Using.resource(Files.list(Path.of(out, "manifests")))(_.iterator().asScala
      .filter(_.getFileName.toString.matches("(batch|compaction)-.*\\.json"))
      .foreach(m => assert(Files.readString(m).contains("\"files\":["), s"$m lists no files")))

    // a post-compaction batch stays visible alongside the compacted base
    val extra = all.filter(r =>
      java.lang.Long.parseLong(r.doc_id.stripPrefix("d")) % 3 == 0)
    assert(TableIO.appendBatchIdempotent(extra, out, 99L))
    val withExtra = TableIO.readTable(spark, out).count()
    assert(withExtra == before.size + extra.count())

    // expiry removes superseded batch dirs; visible rows unchanged
    val removed = TableIO.expireSnapshots(out)
    assert(removed >= 3)
    (0 until 3).foreach { i =>
      assert(!Files.exists(Path.of(out, "data", s"batch=$i")), s"batch $i survived expiry")
    }
    assert(TableIO.readTable(spark, out).count() == withExtra)
  }

  test("binpack: only small batches fold; big batch untouched; compose + full compact") {
    import spark.implicits._
    val out = tmpDir()
    val all = rows.collect().toSeq
    // batch 0: "big" (most rows); batches 1..3: small tails
    val big = all.filterNot(r =>
      java.lang.Long.parseLong(r.doc_id.stripPrefix("d")) % 10 < 3)
    assert(TableIO.appendBatchIdempotent(big.toDS(), out, 0L))
    (1 to 3).foreach { i =>
      val part = all.filter(r =>
        java.lang.Long.parseLong(r.doc_id.stripPrefix("d")) % 10 == i - 1)
      assert(TableIO.appendBatchIdempotent(part.toDS(), out, i.toLong))
    }
    val before = TableIO.readTable(spark, out)
      .collect().map(r => (r.doc_id, r.spans, r.markdown)).sortBy(_._1).toSeq
    val bigBytes = Files.walk(Path.of(out, "data", "batch=0"))
      .filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    val smallMax = Files.walk(Path.of(out, "data", "batch=1"))
      .filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() * 3
    val threshold = math.min(bigBytes, smallMax)
    assert(threshold > 0 && bigBytes >= threshold)

    val snap = TableIO.compactSmall(spark, out, threshold)
    assert(snap.nonEmpty)
    // the big batch dir is untouched; small ones are superseded
    assert(Files.exists(Path.of(out, "data", "batch=0")))
    val comp = TableIO.compactions(out).last
    assert(comp.supersededBatches.toSet == Set(1L, 2L, 3L))
    assert(comp.supersededSnapshots.isEmpty)
    // identical visible rows; batch 0 still read from its own dir
    val after = TableIO.readTable(spark, out)
      .collect().map(r => (r.doc_id, r.spans, r.markdown)).sortBy(_._1).toSeq
    assert(after == before, "binpack changed visible rows")
    assert(TableIO.visibleDataFiles(out).exists(_.contains("batch=0")))
    // a second small batch wave + binpack composes: two visible snapshots
    val extra = all.filter(r =>
      java.lang.Long.parseLong(r.doc_id.stripPrefix("d")) % 10 == 3)
    assert(TableIO.appendBatchIdempotent(extra.toDS(), out, 4L))
    assert(TableIO.appendBatchIdempotent(
      spark.emptyDataset[graft.pipeline.Extraction.ExtractedRow], out, 5L))
    val snap2 = TableIO.compactSmall(spark, out, threshold)
    assert(snap2.nonEmpty && TableIO.visibleCompactions(out).size == 2)
    val withExtra = TableIO.readTable(spark, out)
      .collect().map(r => (r.doc_id, r.spans, r.markdown)).sortBy(_._1).toSeq
    assert(withExtra == (before ++ extra.map(r => (r.doc_id, r.spans, r.markdown))).sortBy(_._1))
    // full compact folds both binpack snapshots + the big batch into one
    val full = TableIO.compact(spark, out)
    assert(TableIO.visibleCompactions(out).map(_.snapshot) == Seq(full))
    assert(TableIO.readTable(spark, out)
      .collect().map(r => (r.doc_id, r.spans, r.markdown)).sortBy(_._1).toSeq == withExtra)
    // expiry removes every superseded batch dir and snapshot; rows intact
    TableIO.expireSnapshots(out)
    (0 to 5).foreach { i =>
      assert(!Files.exists(Path.of(out, "data", s"batch=$i")), s"batch $i survived")
    }
    assert(TableIO.readTable(spark, out)
      .collect().map(r => (r.doc_id, r.spans, r.markdown)).sortBy(_._1).toSeq == withExtra)
  }

  test("schema evolution: add column, old snapshots keep old shape, " +
       "nulls for old rows, compaction preserves, expiry keeps values") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val out = tmpDir()
    val idNum = expr("CAST(substring(doc_id, 2) AS BIGINT)")
    // v1: half the docs under the base schema
    assert(TableIO.appendBatchIdempotent(rows.filter(idNum % 2 === 0), out, 0L))
    assert(TableIO.currentTableSchemaVersion(out) == 1)
    val preSnap = TableIO.currentSnapshot(out)
    val evoSnap = TableIO.evolveAddColumn(out, "lang", "string")
    assert(evoSnap > preSnap)
    assert(TableIO.currentTableSchemaVersion(out) == 2)
    // double-evolve of the same name rejected; bad DDL rejected atomically
    assertThrows[IllegalArgumentException](
      TableIO.evolveAddColumn(out, "lang", "string"))
    intercept[Exception](TableIO.evolveAddColumn(out, "x", "no_such_type"))
    assert(TableIO.currentTableSchemaVersion(out) == 2, "failed evolve must not commit")
    // post-evolution writers must carry the full current schema
    assertThrows[IllegalArgumentException](
      TableIO.appendBatchIdempotent(rows.limit(1), out, 9L))
    val v2 = rows.filter(idNum % 2 === 1).toDF()
      .withColumn("lang", when(idNum % 3 === 0, lit("en")).otherwise(lit("xx")))
    assert(TableIO.appendBatchIdempotent(v2, out, 1L))
    // time travel: pre-evolution snapshot has the old shape, even though
    // newer files physically contain the column
    assert(!TableIO.readTableDf(spark, out, asOfSnapshot = preSnap)
      .columns.contains("lang"))
    assert(TableIO.tableSchemaAt(out, preSnap).fieldNames.toSeq ==
           TableIO.tableSchemaAt(out, Long.MaxValue).fieldNames.toSeq.init)
    // latest read: old rows are NULL, new rows carry written values
    val latest = TableIO.readTableDf(spark, out)
    val (nullLang, enLang) = (
      latest.filter($"lang".isNull).count(),
      latest.filter($"lang" === "en").count())
    assert(nullLang == rows.filter(idNum % 2 === 0).count())
    assert(enLang > 0)
    val totalBefore = latest.count()
    val langTotals = latest.groupBy(coalesce($"lang", lit("none")).as("l"))
      .count().as[(String, Long)].collect().sortBy(_._1).toSeq
    // compaction rewrites under the latest schema — column + values survive
    TableIO.compact(spark, out)
    val afterC = TableIO.readTableDf(spark, out)
    assert(afterC.count() == totalBefore)
    assert(afterC.groupBy(coalesce($"lang", lit("none")).as("l"))
      .count().as[(String, Long)].collect().sortBy(_._1).toSeq == langTotals)
    // expiry drops superseded batch state; values still intact
    assert(TableIO.expireSnapshots(out) > 0)
    assert(TableIO.readTableDf(spark, out)
      .groupBy(coalesce($"lang", lit("none")).as("l"))
      .count().as[(String, Long)].collect().sortBy(_._1).toSeq == langTotals)
  }

  test("upserts: the merged view and its batch time travel survive binpack, compaction and expiry") {
    import spark.implicits._
    val out = tmpDir()
    val all = rows.collect().toSeq
    def idOf(r: Extraction.ExtractedRow) = java.lang.Long.parseLong(r.doc_id.stripPrefix("d"))
    def key(r: Extraction.ExtractedRow) = (r.doc_id, r.spans, r.markdown)
    /** `rs` rewritten to at most `n` spans. */
    def cut(rs: Seq[Extraction.ExtractedRow], n: Int) =
      rs.map(r => r.copy(spans = r.spans.take(n), span_count = math.min(n, r.span_count)))
    // batch 0: every doc; batch 1: one-span upserts; batch 2: a small tail
    assert(TableIO.appendBatchIdempotent(all.toDS(), out, 0L))
    assert(TableIO.appendBatchIdempotent(cut(all.filter(idOf(_) % 3 == 0), 1).toDS(), out, 1L))
    assert(TableIO.appendBatchIdempotent(cut(all.filter(idOf(_) % 10 == 1), 0).toDS(), out, 2L))
    def merged(asOf: Long) = sortedRows(TableIO.readMerged(spark, out, asOf))
    val (latest, base) = (merged(Long.MaxValue), merged(0L))
    assert(base == all.map(key).sortBy(_._1) && latest != base)
    def unchanged(step: String): Unit = {
      assert(merged(Long.MaxValue) == latest, s"latest merged view changed by $step")
      assert(merged(0L) == base, s"batch-0 time travel changed by $step")
    }

    val small = TableIO.compactSmall(spark, out,
      TableIO.dirBytes(Path.of(out, "data", "batch=0")))
    assert(small.nonEmpty &&
      TableIO.compactions(out).last.supersededBatches.sorted == Seq(1L, 2L))
    unchanged("binpack")
    TableIO.compact(spark, out)
    unchanged("compaction")
    assert(TableIO.expireSnapshots(out) > 0 && TableIO.committedBatches(out).isEmpty)
    unchanged("expiry")
    // a batch appended after expiry outranks the compacted versions
    val more = cut(all.filter(idOf(_) % 10 == 2), 0)
    assert(TableIO.appendBatchIdempotent(more.toDS(), out, 3L))
    val moreIds = more.map(_.doc_id).toSet
    assert(merged(Long.MaxValue) ==
      (latest.filterNot(r => moreIds(r._1)) ++ more.map(key)).sortBy(_._1))
    assert(merged(2L) == latest && merged(0L) == base)
  }

  test("evolveAddColumn rejects the reserved column name batch and commits nothing") {
    val out = tmpDir()
    assert(TableIO.appendBatchIdempotent(rows, out, 0L))
    val before = (TableIO.currentSnapshot(out), TableIO.currentTableSchemaVersion(out))
    assertThrows[IllegalArgumentException](TableIO.evolveAddColumn(out, "batch", "long"))
    assert((TableIO.currentSnapshot(out), TableIO.currentTableSchemaVersion(out)) == before)
    assert(TableIO.evolutions(out).isEmpty)
  }

  test("manifest stats: doc/span counts and checksum match recomputation") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.SketchOps
    val out = tmpDir()
    TableIO.writeResumable(rows, out)
    val back = TableIO.readCommitted(spark, out)
    assert(back.count() == spark.read.parquet(s"$sf/documents.parquet").count())
    // per bucket, recomputed from the committed rows
    val want = back.groupBy($"bucket").agg(count(lit(1)),
        sum($"span_count").cast("long"), sum($"bytes").cast("long"),
        expr("bit_xor(checksum)"), min($"doc_id"), max($"doc_id"))
      .as[(Int, Long, Long, Long, Long, String, String)].collect()
      .map(r => r._1 -> r).toMap
    // Bloom words by the column-form hash: bit_or of each word's bit
    // positions, so the manifest's driver-side hash must match it bit for bit
    val wantBloom = back
      .select($"bucket", explode(array((0 until SketchOps.BloomHashes).map(i =>
        SketchOps.bloomPos(i, $"doc_id")): _*)).as("p"))
      .groupBy($"bucket", expr(s"p div ${SketchOps.BitsPerWord}").as("w"))
      .agg(expr(s"bit_or(shiftleft(1L, int(p % ${SketchOps.BitsPerWord})))"))
      .as[(Int, Long, Long)].collect().groupBy(_._1)
      .map { case (b, ws) =>
        val words = Array.fill(SketchOps.BloomWords)(0L)
        ws.foreach { case (_, w, bits) => words(w.toInt) = bits }
        b -> words.toSeq
      }
    // manifests parsed independently of TableIO's reader
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
    val got = committedBuckets(out).toSeq.sorted.map { b =>
      val m = json.readTree(Path.of(out, "manifests", s"bucket-$b.json").toFile)
      b -> ((b, m.get("doc_count").asLong, m.get("span_count").asLong,
        m.get("bytes").asLong, m.get("span_checksum").asLong,
        m.get("min_doc").asText, m.get("max_doc").asText),
        m.get("bloom").elements().asScala.map(_.asLong).toSeq)
    }.toMap
    assert(got.keySet == want.keySet && want.size == Buckets)
    got.foreach { case (b, (stats, bloom)) =>
      assert(stats == want(b), s"bucket $b stats")
      assert(bloom == wantBloom(b), s"bucket $b Bloom words")
    }
  }

  test("a marker without a parsable snapshot fails the write; never snapshot 0") {
    val out = tmpDir()
    TableIO.writeResumable(rows, out)
    val marker = Path.of(out, "_SUCCESS.json")
    Files.writeString(marker, """{"schema_version":1,"snapshot":"one"}""")
    val e = intercept[IllegalStateException](TableIO.writeResumable(rows, out))
    assert(e.getMessage.contains(marker.toString))
    assert(TableIO.committedManifests(out).forall(_.snapshot == 1L))
    Files.writeString(marker, "")
    intercept[IllegalStateException](TableIO.currentSnapshot(out))

    // every other metadata file is read as strictly, and the error names it
    def rejects(path: Path, content: String)(read: => Any): Unit = {
      val saved = Files.readString(path)
      Files.writeString(path, content)
      val e = intercept[IllegalStateException](read)
      assert(e.getMessage.contains(path.toString), e.getMessage)
      Files.writeString(path, saved)
    }
    /** `json` without its `key` field (a string or an array value). */
    def without(json: String, key: String): String = {
      val stripped = json.replaceAll(",\"" + key + "\":(\"[^\"]*\"|\\[[^\\]]*\\])", "")
      assert(stripped != json, s"no $key in $json")
      stripped
    }
    // a bucket manifest lacking any key its writer writes (but `buckets`)
    // is rejected: it is never read as unbounded, Bloom-less or unlisted
    val bucket = Path.of(out, "manifests", "bucket-0.json")
    val manifest = Files.readString(bucket)
    Seq("files", "min_doc", "max_doc", "bloom").foreach(key =>
      rejects(bucket, without(manifest, key))(TableIO.readCommitted(spark, out)))
    rejects(bucket, manifest.replace("\"snapshot\":1,", "\"snapshot\":\"1\","))(
      TableIO.readCommitted(spark, out))

    val batches = tmpDir()
    assert(TableIO.appendBatchIdempotent(rows, batches, 0L))
    val snap = TableIO.compact(spark, batches)
    // a column name that needs escaping reads back unchanged
    val quoted = "say \"hi\""
    TableIO.evolveAddColumn(batches, quoted, "string")
    assert(TableIO.evolutions(batches).map(_.name) == Seq(quoted))
    assert(TableIO.tableSchemaAt(batches).fieldNames.last == quoted)
    val batch = Path.of(batches, "manifests", "batch-0.json")
    rejects(batch, "batch 0 committed")(TableIO.readTable(spark, batches))
    // a batch manifest or journal without its file list is rejected, not
    // read by listing its dir (which would make stray files visible)
    rejects(batch, without(Files.readString(batch), "files"))(TableIO.readTable(spark, batches))
    val journal = Path.of(batches, "manifests", s"compaction-$snap.json")
    val journalJson = Files.readString(journal)
    rejects(journal, journalJson.replaceAll("\"superseded\":\\[[^\\]]*\\],", ""))(
      TableIO.readTable(spark, batches))
    Seq("superseded_snapshots", "files").foreach(key =>
      rejects(journal, without(journalJson, key))(TableIO.readTable(spark, batches)))
    val evolve = Path.of(batches, "schemas", "evolve-2.json")
    rejects(evolve, Files.readString(evolve).replaceAll("\"active_from\":\\d+,", ""))(
      TableIO.tableSchemaAt(batches))
  }

  test("reads plan with the known schema: building a read starts no Spark job") {
    assert(spark.streams.active.isEmpty, "a running stream would add jobs")
    val table = tmpDir()
    TableIO.writeResumable(rows, table)
    val batches = tmpDir()
    assert(TableIO.appendBatchIdempotent(rows, batches, 0L))
    assert(TableIO.appendBatchIdempotent(rows.filter(_.bucket < 3), batches, 1L))
    def jobsToBuild(read: => Any): Int = CommitProbe.counted(spark)(read)._3
    assert(jobsToBuild(TableIO.readCommitted(spark, table)) == 0, "readCommitted")
    assert(jobsToBuild(TableIO.readCommittedPruned(
      spark, table, "d0000000000", "d0000000099")) == 0, "readCommittedPruned")
    assert(jobsToBuild(TableIO.readCommittedPrunedByIds(
      spark, table, Seq("d0000000007"))) == 0, "readCommittedPrunedByIds")
    assert(jobsToBuild(TableIO.readTable(spark, batches)) == 0, "readTable")
    assert(jobsToBuild(TableIO.readMerged(spark, batches)) == 0, "readMerged")
    // a compaction snapshot is one more listed read
    TableIO.compact(spark, batches)
    assert(jobsToBuild(TableIO.readTable(spark, batches)) == 0, "compacted readTable")
    assert(jobsToBuild(TableIO.readMerged(spark, batches)) == 0, "compacted readMerged")
  }

  test("real kill: a JVM killed mid-write resumes only its uncommitted buckets to one clean run") {
    val clean = tmpDir()
    TableIO.writeResumable(rows, clean)
    val expected = readAll(clean)

    val work = tempDir("graft-kill")
    val out = work.resolve("table").toString
    val marker = work.resolve("stalled")
    val log = work.resolve("child.log")
    val child = forkChild(work, KillChild, sf, out, marker.toString)
    val manifests = (0 until 3).map(b => Path.of(out, "manifests", s"bucket-$b.json"))
    val committed = try {
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(120)
      while (!Files.exists(marker) && child.isAlive && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(Files.exists(marker), s"the child never stalled in its kernel:\n${Files.readString(log)}")
      manifests.map(Files.readAllBytes(_).toSeq)
    } finally {
      val descendants = child.descendants().iterator().asScala.toSeq
      (descendants :+ child.toHandle).foreach(_.destroyForcibly())
      assert(child.waitFor(60, TimeUnit.SECONDS), "the killed child did not exit")
      descendants.foreach(_.onExit().get(60, TimeUnit.SECONDS))
      assert(!child.isAlive && descendants.forall(!_.isAlive))
    }

    // only the 3 buckets committed before the kill are visible; the resume
    // writes the other 5 and leaves the committed manifests as they were
    assert(committedBuckets(out) == Set(0, 1, 2))
    assert(TableIO.writeResumable(rows, out) == Buckets - 3)
    assert(manifests.map(Files.readAllBytes(_).toSeq) == committed)
    assert(readAll(out) == expected, "resumed output differs from one clean run")
    assert(strays(out).isEmpty, strays(out).mkString("\n"))
  }

  test("retried write task: an attempt that fails after writing a file leaves none; " +
       "its retry commits one clean run") {
    val clean = tmpDir()
    TableIO.writeResumable(rows, clean)
    val work = tempDir("graft-retry")
    val out = work.resolve("table").toString
    val child = forkChild(work, RetryChild, sf, out)
    val log = work.resolve("child.log")
    try assert(child.waitFor(180, TimeUnit.SECONDS), s"the child did not exit:\n${Files.readString(log)}")
    finally child.destroyForcibly()
    assert(child.exitValue == 0, Files.readString(log))
    // the failed attempt had written a data file; its abort deleted it
    val failed = Files.readString(log).linesIterator.collectFirst {
      case l if l.startsWith("FAILED_AFTER ") => Path.of(l.stripPrefix("FAILED_AFTER "))
    }
    assert(failed.exists(_.startsWith(Path.of(out, "data"))), Files.readString(log))
    assert(!Files.exists(failed.get) && !Files.exists(failed.get.resolveSibling(s".${failed.get.getFileName}.crc")))
    assert(manifestStats(out) == manifestStats(clean))
    assert(readAll(out) == readAll(clean), "a retried write differs from one clean run")
    assert(strays(out).isEmpty, strays(out).mkString("\n"))
  }

  test("real fault: a run whose kernel throws commits nothing; a clean rerun equals one clean run") {
    val clean = tmpDir()
    TableIO.writeResumable(rows, clean)
    val expected = readAll(clean)

    val out = tmpDir()
    val victim = "d0000000042"
    val faulty: Doc => IndexedSeq[ExtractedSpan] = d =>
      if (d.doc_id == victim) throw new IllegalStateException(s"injected fault on $victim")
      else Kernel.extractSpans(d)
    val e = intercept[Exception](TableIO.writeResumable(
      Extraction.extractRowsWith(CorpusDerive.derive(spark, sf), (_: Doc).doc_id, faulty, Buckets),
      out))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("injected fault")))
    assert(committedBuckets(out).isEmpty)
    assert(TableIO.currentSnapshot(out) == 0L, "a failed run must not advance the snapshot")

    assert(TableIO.writeResumable(rows, out) == Buckets)
    assert(committedBuckets(out) == (0 until Buckets).toSet)
    assert(TableIO.currentSnapshot(out) == 1L)
    assert(readAll(out) == expected, "rerun after a fault differs from a single clean run")

    // a fault after a partial commit: committed buckets stay, and the
    // clean rerun writes only the uncommitted ones
    val partial = tmpDir()
    TableIO.writeResumable(rows.filter(_.bucket < 3), partial)
    intercept[Exception](TableIO.writeResumable(
      Extraction.extractRowsWith(CorpusDerive.derive(spark, sf), (_: Doc).doc_id, faulty, Buckets),
      partial))
    assert(committedBuckets(partial) == Set(0, 1, 2))
    assert(TableIO.writeResumable(rows, partial) == Buckets - 3)
    assert(readAll(partial) == expected)
  }

  test("query count: a fresh write and a rerun each run only the write, observing stats") {
    assert(spark.streams.active.isEmpty, "a running stream would add queries")
    def queries[A](body: => A): (A, Seq[String]) = {
      val (r, plans, _) = CommitProbe.counted(spark)(body)
      (r, plans)
    }
    val input = rows
    val out = tmpDir()
    val (written, fresh, freshJobs) = CommitProbe.counted(spark)(TableIO.writeResumable(input, out))
    assert(written == Buckets)
    assert(fresh.size == 1, fresh.mkString("\n---\n"))
    val write = fresh.head
    // one DSv2 append; its tasks count the stats, nothing observes the plan.
    // Its jobs: the exchange's map stage (adaptive execution submits it as
    // a job of its own) and the write
    assert(write.startsWith("AppendData") && !write.contains("CollectMetrics"), write)
    assert(freshJobs == 2)
    // every bucket the rows can hold is committed: the rerun runs nothing
    val (again, rerun, rerunJobs) = CommitProbe.counted(spark)(TableIO.writeResumable(input, out))
    assert(again == 0)
    assert(rerun.isEmpty && rerunJobs == 0, rerun.mkString("\n---\n"))
    assert(TableIO.currentSnapshot(out) == 2L)
    // a partial resume is the one write, of exactly the uncommitted buckets
    val lost = Set(1, 4, 6)
    lost.foreach(b => Files.delete(Path.of(out, "manifests", s"bucket-$b.json")))
    val (resumed, resume) = queries(TableIO.writeResumable(input, out))
    assert(resumed == lost.size)
    assert(resume.size == 1 && resume.head.startsWith("AppendData"),
      resume.mkString("\n---\n"))
    assert(TableIO.committedManifests(out).filter(_.snapshot == 3L).map(_.bucket).toSet == lost)
    // a micro-batch append is the one write too: its manifest counts come
    // from the write's tasks, not from re-reading the batch
    val batches = tmpDir()
    val (appended, append) = queries(TableIO.appendBatchIdempotent(input, batches, 0L))
    assert(appended)
    assert(append.size == 1, append.mkString("\n---\n"))
    assert(append.head.startsWith("AppendData") &&
      !append.head.contains("CollectMetrics"), append.head)
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Path.of(batches, "manifests", "batch-0.json").toFile)
    val back = TableIO.readTable(spark, batches).collect()
    assert(m.get("doc_count").asLong == back.length)
    assert(m.get("span_count").asLong == back.map(_.span_count.toLong).sum)
  }

  test("bucket spec: manifests record the bucket count; a resume under another count is rejected") {
    val out = tmpDir()
    // an 8-bucket run commits buckets 0-2 only
    assert(TableIO.writeResumable(rows.filter(_.bucket < 3), out) == 3)
    TableIO.committedManifests(out).foreach(m => assert(m.buckets.contains(Buckets), m))
    assert(Files.readString(Path.of(out, "manifests", "bucket-0.json"))
      .endsWith(s""","buckets":$Buckets}"""))
    def tree(): Map[String, String] = Using.resource(Files.walk(Path.of(out))) {
      _.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => p.toString -> Files.readString(p, java.nio.charset.StandardCharsets.ISO_8859_1)).toMap
    }
    val before = tree()
    // under 16 buckets, the docs of 16-buckets 0-2 would read as committed
    // though most were never written, and 8-buckets 0-2 would land twice
    val e = intercept[IllegalArgumentException](TableIO.writeResumable(
      Extraction.extractRows(CorpusDerive.derive(spark, sf), 2 * Buckets), out))
    assert(e.getMessage.contains(s"${2 * Buckets} buckets") &&
      e.getMessage.contains(s"committed with $Buckets"), e.getMessage)
    assert(tree() == before, "a rejected resume must write nothing")
    // manifests without the key (older writers) read as before and
    // constrain nothing; rows without the declaration write no key
    Using.resource(Files.list(Path.of(out, "manifests")))(_.iterator().asScala.foreach { p =>
      Files.writeString(p, Files.readString(p).replace(s""","buckets":$Buckets""", ""))
    })
    assert(TableIO.committedManifests(out).forall(_.buckets.isEmpty))
    assert(committedBuckets(out) == Set(0, 1, 2))
    import spark.implicits._
    assert(TableIO.writeResumable(rows.map(identity), out) == Buckets - 3)
    assert(TableIO.committedManifests(out).forall(_.buckets.isEmpty))
    assert(readAll(out) == sortedRows(rows))
  }

  test("write path: the bucket count survives filters and repartitions; undeclared rows run the query") {
    import spark.implicits._
    val input = rows
    Seq(input, input.filter(_.bucket < 3), input.toDF().as[Extraction.ExtractedRow],
        input.repartition(3), input.filter(org.apache.spark.sql.functions.col("bucket") =!= 3))
      .foreach(ds => assert(Extraction.bucketCount(ds.schema).contains(Buckets), ds.schema))
    assert(Extraction.bucketCount(input.toDF().schema).contains(Buckets))
    val undeclared = input.map(identity)
    assert(Extraction.bucketCount(undeclared.schema).isEmpty)

    val out = tmpDir()
    TableIO.writeResumable(input, out)
    val manifests = TableIO.committedManifests(out)
    // rows that do not declare their buckets: the one query runs, writes
    // nothing, and leaves every manifest as it was
    val (again, plans, _) = CommitProbe.counted(spark)(TableIO.writeResumable(undeclared, out))
    assert(again == 0)
    assert(plans.size == 1 && plans.head.startsWith("AppendData"),
      plans.mkString("\n---\n"))
    assert(TableIO.committedManifests(out) == manifests)
    assert(TableIO.currentSnapshot(out) == 2L)

    // committed docs are never re-extracted: a kernel that would throw on
    // every doc does not fail the retry of a committed table
    val broken: Doc => IndexedSeq[ExtractedSpan] =
      d => throw new IllegalStateException(s"kernel ran on ${d.doc_id}")
    val retry = Extraction.extractRowsWith(CorpusDerive.derive(spark, sf), (_: Doc).doc_id,
      broken, Buckets)
    val (skipped, none, jobs) = CommitProbe.counted(spark)(TableIO.writeResumable(retry, out))
    assert(skipped == 0 && none.isEmpty && jobs == 0)
    assert(TableIO.committedManifests(out) == manifests)
    assert(TableIO.currentSnapshot(out) == 3L)
    val marker = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Path.of(out, "_SUCCESS.json").toFile)
    assert(marker.get("buckets_committed").asInt == Buckets)
    assert(marker.get("last_run_buckets").asInt == 0)
    assert(marker.has("last_run_wall_ms"))
    // a bucket function outside the declared range fails the row
    val e = intercept[Exception](Extraction.extractRowsWith(CorpusDerive.derive(spark, sf),
      (_: Doc).doc_id, Kernel.extractSpans, Buckets, (_, n) => n).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains(s"outside [0, $Buckets)")), e)
  }

  test("stale bucket dir: a run that writes no row to it leaves it uncommitted and invisible") {
    import spark.implicits._
    val out = tmpDir()
    TableIO.writeResumable(rows, out)
    val expected = readAll(out).filterNot { case (id, _, _) => Extraction.bucketOf(id, Buckets) == 3 }
    // un-commit bucket 3: its data dir stays behind, as after a killed run
    Files.delete(Path.of(out, "manifests", "bucket-3.json"))
    assert(Files.isDirectory(Path.of(out, "data", "bucket=3")))
    assert(TableIO.writeResumable(rows.filter(_.bucket != 3), out) == 0)
    assert(committedBuckets(out) == (0 until Buckets).toSet - 3)
    assert(readAll(out) == expected)
    val marker = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Path.of(out, "_SUCCESS.json").toFile)
    assert(marker.get("buckets_committed").asInt == Buckets - 1)
    assert(marker.get("last_run_buckets").asInt == 0)
    // a run with rows for bucket 3 rewrites and commits it whole
    assert(TableIO.writeResumable(rows, out) == 1)
    assert(committedBuckets(out) == (0 until Buckets).toSet)
    assert(readAll(out).size == expected.size +
      rows.filter(_.bucket == 3).count())
    assert(strays(out).isEmpty, strays(out).mkString("\n"))
  }

  test("manifest blooms: point reads skip buckets, never rows") {
    val out = tmpDir()
    TableIO.writeResumable(rows, out)
    // every manifest carries the full word vector
    TableIO.committedManifests(out).foreach(m =>
      assert(m.bloom.length == graft.operators.SketchOps.BloomWords))
    // existing ids: exact rows back, strictly fewer buckets than total
    val ids = Seq("d0000000000", "d0000000007", "d0000000042")
    val (got, read, total) = TableIO.readCommittedPrunedByIds(spark, out, ids)
    assert(got.collect().map(_.doc_id).sorted.toSeq == ids)
    assert(read < total && total == Buckets)
    // the never-written id: only an (unlikely) false positive costs reads
    val (none, readMiss, _) =
      TableIO.readCommittedPrunedByIds(spark, out, Seq("d9999999998"))
    assert(none.count() == 0 && readMiss <= 1)
    // a bucket's own id must hit its bucket (no false negatives ever)
    val m0 = TableIO.committedManifests(out).head
    val anyDoc = TableIO.readCommitted(spark, out)
      .filter(org.apache.spark.sql.functions.col("bucket") === m0.bucket)
      .head().doc_id
    assert(graft.operators.SketchOps.bloomMaybeContains(m0.bloom, anyDoc))
  }
}

/** The child JVM of ResumeSpec's kill test: commits buckets 0-2 of
  * [[KillChild.Buckets]] of the corpus at `sfDir` into `outDir`, then
  * starts the full write with a kernel that, on one doc of an uncommitted
  * bucket, creates `marker` and sleeps until the JVM is killed (at most
  * 5 minutes, then the JVM halts).
  * Run: `KillChild <sfDir> <outDir> <marker>`
  */
object KillChild {
  val Buckets = 8

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, marker) = args
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val docs = CorpusDerive.derive(spark, sfDir)
    val committed = TableIO.writeResumable(
      Extraction.extractRows(docs, Buckets).filter(_.bucket < 3), outDir)
    require(committed == 3, s"committed $committed buckets, not 3")
    import spark.implicits._
    val victim = docs.map(_.doc_id).collect().sorted
      .find(Extraction.bucketOf(_, Buckets) >= 3).get
    val stall: Doc => IndexedSeq[ExtractedSpan] = d => {
      if (d.doc_id == victim) {
        Files.writeString(Path.of(marker), victim)
        Thread.sleep(TimeUnit.MINUTES.toMillis(5))
        Runtime.getRuntime.halt(3)
      }
      Kernel.extractSpans(d)
    }
    TableIO.writeResumable(Extraction.extractRowsWith(docs, (_: Doc).doc_id, stall, Buckets), outDir)
  }
}

/** The child JVM of ResumeSpec's retried-task test: writes the corpus at
  * `sfDir` as a [[KillChild.Buckets]]-bucket table into `outDir` under
  * `local[4,2]` (a failed task is retried once), with adaptive execution
  * off and 8 shuffle partitions. Parquet's per-file encryption hook
  * ([[FailSecondFile]]) fails the first write-task attempt 0 that opens a
  * second data file, so the attempt fails after it has written one; the
  * child prints `FAILED_AFTER <that file>`.
  * Run: `RetryChild <sfDir> <outDir>`
  */
object RetryChild {
  val failedAfter = new java.util.concurrent.atomic.AtomicReference[Path]()

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = SparkSession.builder().master("local[4,2]")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.hadoop.parquet.crypto.factory.class", classOf[FailSecondFile].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    TableIO.writeResumable(Extraction.extractRows(CorpusDerive.derive(spark, sfDir), KillChild.Buckets),
      outDir)
    require(failedAfter.get != null, "no write task attempt opened a second file")
    println(s"FAILED_AFTER ${failedAfter.get}")
    spark.stop()
  }
}

/** Parquet calls the crypto factory as it opens each file it writes (and
  * reads: the one key names both factories). This one encrypts and
  * decrypts nothing; it fails the first attempt 0 of a task that has
  * already written a file (a file of the same name under another bucket
  * dir), remembering that file in [[RetryChild.failedAfter]].
  */
final class FailSecondFile extends org.apache.parquet.crypto.EncryptionPropertiesFactory
    with org.apache.parquet.crypto.DecryptionPropertiesFactory {
  def getFileDecryptionProperties(conf: org.apache.hadoop.conf.Configuration,
      file: org.apache.hadoop.fs.Path): org.apache.parquet.crypto.FileDecryptionProperties = null

  def getFileEncryptionProperties(conf: org.apache.hadoop.conf.Configuration,
      file: org.apache.hadoop.fs.Path, context: org.apache.parquet.hadoop.api.WriteSupport.WriteContext)
      : org.apache.parquet.crypto.FileEncryptionProperties = {
    val data = Path.of(file.getParent.toUri.getPath).getParent
    lazy val written = if (!Files.exists(data)) None
      else Using.resource(Files.list(data))(_.iterator().asScala
        .map(_.resolve(file.getName)).find(Files.exists(_)))
    if (org.apache.spark.TaskContext.get.attemptNumber == 0 && written.nonEmpty &&
        RetryChild.failedAfter.compareAndSet(null, written.get))
      throw new java.io.IOException(s"injected write fault after ${written.get}")
    null
  }
}
