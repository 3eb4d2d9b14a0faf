package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

import graft.operators.DedupOps
import graft.streaming.{StreamDedup, StreamingExtract}

class StreamDedupSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkSuite.spark

  private def docsDF(rows: Seq[(Long, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("streaming incremental dedup == batch LSH when no bucket exceeds the cap") {
    import spark.implicits._
    // near-dup pairs (shared long prefix) + unrelated docs
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val rows = (0L until 30L).map { i =>
      val text =
        if (i % 3 == 0) s"$base variant ${i / 3}"
        else if (i % 3 == 1) s"$base variant ${i / 3} x"
        else s"totally different content number $i with its own words here"
      (i, text)
    }
    val docs = docsDF(rows)
    val streamed = StreamDedup.streamingMinhashPairs(spark, docs, nBatches = 3)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    val batch = DedupOps.minhashPairs(spark, docs)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty) // the variant pairs must actually collide
  }

  test("prefix cap bounds a flood: C(cap,2) full pairs + linear star, one component") {
    import spark.implicits._
    val n = 40
    val cap = 4
    val docs = docsDF((0L until n.toLong).map(i =>
      (i, "identical flood document body repeated verbatim in every copy")))
    val pairs = StreamDedup.streamingMinhashPairs(spark, docs, nBatches = 3,
        maxBucket = cap)
      .select($"doc_a", $"doc_b").as[(Long, Long)].collect().toSet
    // first `cap` arrivals pair fully; the tail stars to doc 0 (= rep)
    val expected =
      (for { a <- 0 until cap; b <- a + 1 until cap } yield (a.toLong, b.toLong)).toSet ++
        (cap until n).map(b => (0L, b.toLong)).toSet
    assert(pairs == expected)
    // linear, not quadratic: C(cap,2) + (n - cap) pairs
    assert(pairs.size == cap * (cap - 1) / 2 + (n - cap))
    // single connected component via the representative
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2)
    val seen = collection.mutable.Set(0L)
    val stack = collection.mutable.Stack(0L)
    while (stack.nonEmpty) {
      adj.getOrElse(stack.pop(), Set.empty).foreach { v =>
        if (seen.add(v)) stack.push(v)
      }
    }
    assert(seen.size == n)
  }

  test("per-batch commits are replay-idempotent") {
    import spark.implicits._
    // three groups of four identical docs, two of each in either batch;
    // cap 3, so batch 1 emits full pairs and representative stars alike
    val words = Seq("alpha beta gamma delta", "red green blue cyan",
      "north south east west")
    val docs = docsDF((0L until 12L).map(i => (i, words((i % 3).toInt))))
    val src = track(Paths.get(StreamingExtract.stageOrderedParts(spark,
      Seq(docs.filter($"doc_id" < 6), docs.filter($"doc_id" >= 6))))).toString
    val ckpt = tempDir("graft-sdedup-ck")
    val pairs = TrieMap.empty[Long, Set[(Long, Long)]]
    /** Run the stream to the end of its source; the batch ids it ran. */
    def run(): Seq[Long] = {
      val ran = new ConcurrentLinkedQueue[Long]()
      val in = spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      StreamDedup.prefixCapPairs(in, cap = 3).writeStream
        .foreachBatch { (batch: Dataset[StreamDedup.Pair], id: Long) =>
          ran.add(id)
          pairs(id) = batch.collect().map(p => (p.doc_a, p.doc_b)).toSet
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start().awaitTermination()
      ran.asScala.toSeq
    }
    assert(run() == Seq(0L, 1L))
    val clean = pairs.toMap
    assert(clean(0L) == Set((0L, 3L), (1L, 4L), (2L, 5L)))
    assert(clean(1L) == Set((0L, 6L), (3L, 6L), (0L, 9L), (1L, 7L), (4L, 7L), (1L, 10L),
      (2L, 8L), (5L, 8L), (2L, 11L)))
    // the JVM died after batch 1's output but before its offset commit
    Files.delete(ckpt.resolve("commits/1"))
    Files.delete(ckpt.resolve("commits/.1.crc"))
    assert(run() == Seq(1L))
    assert(pairs.toMap == clean)
  }
}
