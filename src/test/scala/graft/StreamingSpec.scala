package graft

import graft.streaming.StreamingExtract
import graft.streaming.StreamingExtract.{Ev, UserSessions}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Structured Streaming suites: the streaming paths must produce exactly
  * the batch results (the analog of the reference's monotonic-stream ==
  * final-decode equality, crates/server/src/stream.rs:239-355).
  */
class StreamingSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkSuite.spark
  // FileStreamSource requires a directory; re-emit the single-file test
  // parquet into one (2 files → 2 micro-batches at maxFilesPerTrigger=1).
  private lazy val eventsDir: String = {
    val dir = tempDir("graft-stream-events").resolve("events").toString
    spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .repartition(2).write.mode("overwrite").parquet(dir)
    dir
  }

  /** File-source streaming run of [[StreamingExtract.eventWindowAgg]]
    * with a 1-hour watermark, complete-mode into the in-memory table
    * `tableName`.
    */
  private def runFileStream(eventsDir: String, tableName: String): StreamingQuery = {
    val schema = spark.read.parquet(eventsDir).schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(eventsDir)
      // watermarks require event time in TIMESTAMP (ltz); session tz is UTC
      .withColumn("ts", col("ts").cast("timestamp_ltz"))
    StreamingExtract.eventWindowAgg(src.withWatermark("ts", "1 hour"))
      .writeStream.format("memory").queryName(tableName)
      .outputMode(OutputMode.Complete())
      .start()
  }

  test("file-stream windowed agg == batch windowed agg") {
    val batch = StreamingExtract.eventWindowAgg(spark.read.parquet(eventsDir))
      .collect().map(_.toSeq).toSet
    val q = runFileStream(eventsDir, "win_agg_test")
    try {
      q.processAllAvailable()
      val streamed = spark.table("win_agg_test").collect().map(_.toSeq).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionize over MemoryStream == batch totals") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val min = 60L * 1000000L
    // user 1: two sessions (gap 45 min); user 2: one session
    val evs = Seq(
      Ev(1L, 1L, 0L), Ev(1L, 2L, 10 * min), Ev(1L, 3L, 55 * min),
      Ev(2L, 4L, 0L), Ev(2L, 5L, 29 * min))
    val stream = MemoryStream[Ev]
    val q = StreamingExtract.sessionize(stream.toDS())
      .writeStream.format("memory").queryName("sess_test")
      .outputMode(OutputMode.Update()).start()
    try {
      // two micro-batches to exercise cross-batch state carry-over
      stream.addData(evs.take(2))
      q.processAllAvailable()
      stream.addData(evs.drop(2))
      q.processAllAvailable()
      val last = spark.table("sess_test").as[UserSessions].collect()
        .groupBy(_.user_id).map { case (u, rows) =>
          u -> rows.maxBy(_.n_events) } // latest update per user
      assert(last(1L) == UserSessions(1L, 2L, 3L))
      assert(last(2L) == UserSessions(2L, 1L, 2L))
      // batch run of the same typed kernel agrees
      val batch = StreamingExtract.sessionize(evs.toDS()).collect()
        .map(u => u.user_id -> u).toMap
      assert(batch == last)
    } finally q.stop()
  }

  test("watermark drops late data in append mode (monotonic-offset guard analog)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    // (event time seconds, value) — watermark 10 min
    val stream = MemoryStream[(Long, Long)]
    val q = stream.toDS().toDF("sec", "v")
      .select(timestamp_seconds($"sec").as("ts"), $"v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "5 minutes").as("w"))
      .agg(sum($"v").as("s"))
      .select(unix_micros($"w.start".cast("timestamp_ltz")).as("win"), $"s")
      .writeStream.format("memory").queryName("wm_test")
      .outputMode(OutputMode.Append()).start()
    try {
      stream.addData(Seq((0L, 1L), (60L, 2L)))       // window [0,300): 3
      q.processAllAvailable()
      stream.addData(Seq((4000L, 5L)))               // advances watermark past 300
      q.processAllAvailable()
      stream.addData(Seq((100L, 100L)))              // LATE: before watermark → dropped
      q.processAllAvailable()
      stream.addData(Seq((8000L, 7L)))               // advance again, flush nothing late
      q.processAllAvailable()
      val rows = spark.table("wm_test").as[(Long, Long)].collect().toMap
      // closed window [0,300) emitted exactly once with the on-time sum only
      assert(rows.get(0L).contains(3L), s"got $rows")
    } finally q.stop()
  }

  test("late-data reconciliation (ST3): watermark drops rows; flush repairs the sink") {
    import org.apache.spark.sql.functions._
    val events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val src = graft.streaming.StreamingExtract.stageLateArrival(spark, events)
    val streamed = graft.streaming.StreamingExtract
      .runUpdateWindowStream(spark, src)
    val truth = graft.streaming.StreamingExtract.eventWindowAgg(events)
    val keys = Seq("event_type", "win_us")
    // the drop genuinely happened: the raw sink disagrees with the truth
    val dropped = truth.join(streamed, keys ++ Seq("n", "sum_c"), "left_anti")
      .count()
    assert(dropped > 0, "no rows were dropped — the flush path is vacuous")
    // the flush repairs it exactly
    val repaired = graft.streaming.StreamingExtract
      .streamLateReconcileQuery(spark, events)
    assert(repaired.join(truth, keys ++ Seq("n", "sum_c"), "left_anti").count() == 0)
    assert(repaired.count() == truth.count())
  }

  test("stateful query restart recovers state from checkpoint (ST5/resume analog)") {
    import spark.implicits._
    val src = tempDir("graft-ckpt-src").toString
    val ckpt = tempDir("graft-ckpt").toString
    val min = 60L * 1000000L
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[UserSessions]()
    def start() = {
      val stream = spark.readStream
        .schema("user_id LONG, event_id LONG, ts_us LONG")
        .option("maxFilesPerTrigger", "1").parquet(src).as[Ev]
      StreamingExtract.sessionize(stream)
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[UserSessions], _: Long) =>
          batch.collect().foreach(seen.add)
        }
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Update()).start()
    }
    // batch 1: user 1, one session of 2 events
    Seq(Ev(1L, 1L, 0L), Ev(1L, 2L, 10 * min)).toDS()
      .repartition(1).write.mode("append").parquet(src)
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop()
    // restart from checkpoint; batch 2 starts a NEW session (45-min gap)
    Seq(Ev(1L, 3L, 55 * min)).toDS()
      .repartition(1).write.mode("append").parquet(src)
    val q2 = start()
    try {
      q2.processAllAvailable()
      val last = seen.toArray(Array.empty[UserSessions])
        .filter(_.user_id == 1L).maxBy(_.n_events)
      // state carried across restart: 3 events total, 2 sessions — NOT
      // 1 event / 1 session as a stateless restart would report
      assert(last == UserSessions(1L, 2L, 3L))
    } finally q2.stop()
  }

  test("streaming extraction: continuous kernel ingestion == batch extraction; batch replay is idempotent") {
    import spark.implicits._
    import graft.pipeline.{Extraction, TableIO}
    val src = tempDir("graft-sx-src").toString
    val out = tempDir("graft-sx-out").toString
    val ckpt = tempDir("graft-sx-ckpt").toString
    val all = graft.corpus.CorpusDerive.derive(spark, "/root/testdata/sf0.001")
    // arrival in two waves
    val (w1, w2) = (all.filter(_.doc_id < "d0000000500"),
                    all.filter(_.doc_id >= "d0000000500"))
    w1.repartition(1).write.mode("append").parquet(src)
    val q = StreamingExtract.extractStream(spark, src, out, ckpt)
    try {
      q.processAllAvailable()
      w2.repartition(1).write.mode("append").parquet(src)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = TableIO.readTable(spark, out)
      .collect().map(r => (r.doc_id, r.spans, r.markdown)).toSet
    val batch = Extraction.extractDs(all)
      .collect().map(d => (d.doc_id, d.spans, d.markdown)).toSet
    assert(streamed == batch)
    // idempotent replay: re-committing an already-committed batch id is a no-op
    val firstBatch = TableIO.committedBatches(out).min
    val replay = Extraction.extractRows(w1, buckets = 16)
    assert(!TableIO.appendBatchIdempotent(replay, out, firstBatch))
    assert(TableIO.readTable(spark, out).count() == batch.size)
  }

  test("sessionize batch kernel == window-function ev_sessions query") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val raw = spark.read.parquet(eventsDir)
    val typed = raw.select($"user_id", $"event_id",
        unix_micros($"ts".cast("timestamp_ltz")).as("ts_us")).as[Ev]
    val kernel = StreamingExtract.sessionize(typed).collect()
      .map(u => (u.user_id, u.n_sessions, u.n_events)).toSet
    val sql = SparkEntry.queries("ev_sessions")(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long)].collect().toSet
    assert(kernel == sql)
  }

  test("stageOrderedParts: staging leaks no file descriptor and no temp dir per part") {
    import spark.implicits._
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.UnixOperatingSystemMXBean]
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    def names(dir: java.nio.file.Path): List[String] =
      Using.resource(Files.list(dir))(_.iterator().asScala.map(_.getFileName.toString).toList)
    def partDirs = names(tmp).count(_.startsWith("graft-stream-part"))
    val parts = (0 until 16).map(i => Seq(i.toLong).toDF("v"))
    track(Paths.get(StreamingExtract.stageOrderedParts(spark, parts.take(1)))) // warm the write path
    val dirsBefore = partDirs
    val fdsBefore = os.getOpenFileDescriptorCount
    val src = track(Paths.get(StreamingExtract.stageOrderedParts(spark, parts)))
    val fdsAfter = os.getOpenFileDescriptorCount
    assert(fdsAfter - fdsBefore < 16, s"open fds $fdsBefore -> $fdsAfter")
    assert(partDirs == dirsBefore, "a staged part left its temp dir behind")
    assert(names(src).sorted == (0 until 16).map(i => f"batch-$i%03d.parquet"))
  }
}
