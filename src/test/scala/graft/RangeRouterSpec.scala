package graft

import graft.corpus.CorpusDerive
import graft.pipeline.{Extraction, RangeRouter}
import graft.schema.Doc
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Encoder
import org.scalatest.funsuite.AnyFunSuite
import scala.reflect.ClassTag

/** Router invariants: exact placement, true range clustering, and
  * pipeline output equivalence (the router is performance-only).
  */
class RangeRouterSpec extends AnyFunSuite {

  private lazy val spark = SparkSuite.spark

  test("hashTokens: bijection onto partitions for several n") {
    for (n <- Seq(1, 4, 7, 32, 256)) {
      val t = RangeRouter.hashTokens(n)
      assert(t.length == n && t.distinct.length == n)
    }
  }

  test("bucket: boundary binary search matches linear scan") {
    val bounds = Array((1L, "b"), (3L, "a"), (3L, "m"))
    def linear(k: RangeRouter.Key): Int =
      bounds.count(b => b._1 < k._1 || (b._1 == k._1 && b._2 <= k._2))
    for (k <- Seq((0L, "z"), (1L, "a"), (1L, "b"), (2L, "x"), (3L, "a"),
                  (3L, "z"), (9L, "")))
      assert(RangeRouter.bucket(bounds, k) == linear(k), s"key $k")
  }

  /** Spark jobs this thread starts while `body` runs: a job listener (as
    * in [[CommitProbe.counted]]) that counts only the jobs of a fresh job
    * group, so no other thread's job is counted.
    */
  private def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"range-router-${java.util.UUID.randomUUID}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "RangeRouterSpec")
    try {
      body
      ListenerBusDrain(sc)
      jobs.get()
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("pipeline: building the Dataset runs no job at n <= saltBuckets, the sample job above") {
    val docs = CorpusDerive.derive(spark, "/root/testdata/sf0.001")
    assert(jobsOf(Extraction.pipeline(docs, shufflePartitions = 8)) == 0)
    assert(jobsOf(Extraction.pipeline(docs, shufflePartitions = 96)) >= 1)
  }

  test("pipeline: partitions hold disjoint, ordered key intervals") {
    import spark.implicits._
    val docs = CorpusDerive.derive(spark, "/root/testdata/sf0.001")
    // salt-edge bounds (8 <= 64) and sampled bounds (96 > 64)
    for (n <- Seq(8, 96)) {
      val out = Extraction.pipeline(docs, shufflePartitions = n)
      val intervals = out.mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val keys = it.map(d => RangeRouter.key(d.doc_id, 64)).toArray
        if (keys.isEmpty) Iterator.empty
        else Iterator.single((pid, keys.min, keys.max))
      }.collect().sortBy(_._1)
      assert(intervals.nonEmpty)
      // consecutive non-empty partitions: max(i) < min(i+1) in key order
      val ord = Ordering.Tuple2(Ordering.Long, Ordering.String)
      intervals.sliding(2).foreach {
        case Array((p1, _, max1), (p2, min2, _)) =>
          assert(ord.lt(max1, min2), s"n=$n: overlap between partitions $p1 and $p2")
        case _ =>
      }
    }
  }

  test("saltBounds: salt-edge partitions stay within 1.2x the mean on sf0.1's ids") {
    // sf0.1's documents.parquet holds doc_id 0..4999
    val keys = (0L until 5000L).map(i => RangeRouter.key(CorpusDerive.docIdStr(i), 64))
    for (n <- Seq(4, 7, 8)) {
      val bounds = RangeRouter.saltBounds(n, 64)
      assert(bounds.length == n - 1)
      // strictly increasing salts in [1, 63]: every partition owns >= 1 salt
      assert(bounds.map(_._1).toSeq == bounds.map(_._1).distinct.sorted.toSeq)
      assert(bounds.forall(b => b._1 >= 1 && b._1 <= 63 && b._2.isEmpty))
      val sizes = keys.groupBy(k => RangeRouter.bucket(bounds, k)).values.map(_.length)
      val mean = keys.length.toDouble / n
      assert(sizes.size == n && sizes.max <= 1.2 * mean, s"n=$n: max ${sizes.max} vs mean $mean")
    }
    assert(RangeRouter.saltBounds(1, 64).isEmpty)
    assert(RangeRouter.saltBounds(64, 64).map(_._1).toSeq == (1L to 63L))
  }

  test("sampleKeys: driver collect bounded at any split count; boundaries stay balanced") {
    import spark.implicits._
    val docs = CorpusDerive.derive(spark, "/root/testdata/sf0.001")
      .repartition(200) // many small splits — the 100×-scale shape
    val n = 16
    // one sampler, two key types: the extraction router's (salt, doc_id)
    // and PrefixSum's (group, ord)
    def check[K: Ordering: ClassTag: Encoder](keyOf: Doc => K): Unit = {
      // budget 100 with 200 partitions forces the second-level reduction
      val tight = RangeRouter.sample(docs, keyOf, budget = 100)
      assert(tight.length <= math.max(2 * 100, RangeRouter.SampleGroups * RangeRouter.MinQuota),
        s"collected ${tight.length}")
      assert(tight.nonEmpty)
      // budget 1000: first-level path, still bounded by 2×budget
      val loose = RangeRouter.sample(docs, keyOf, budget = 1000)
      assert(loose.length <= 2 * 1000, s"collected ${loose.length}")
      // boundary quality from the REDUCED sample: route every doc and check
      // no range bucket exceeds 4× the mean load (approximate quantiles are
      // fine; placement is exact regardless)
      val bounds = RangeRouter.boundaries(tight, n)
      val keys = docs.map(keyOf).collect()
      val sizes = keys.groupBy(k => RangeRouter.bucket(bounds, k)).values.map(_.length)
      val mean = keys.length.toDouble / n
      assert(sizes.max <= 4 * mean, s"max bucket ${sizes.max} vs mean $mean")
    }
    check(d => RangeRouter.key(d.doc_id, 64))
    check(d => (s"src${d.doc_id.drop(1).toLong % 3}", d.doc_id.drop(1).toLong))
  }

  test("pipeline output == plain kernel output (router is placement-only)") {
    import spark.implicits._
    val docs = CorpusDerive.derive(spark, "/root/testdata/sf0.001")
    val viaKernel = Extraction.extractDs(docs)
      .collect().map(d => (d.doc_id, d.spans, d.markdown)).toSet
    // salt-edge bounds (8 <= 64) and sampled bounds (96 > 64)
    for (n <- Seq(8, 96)) {
      val viaPipeline = Extraction.pipeline(docs, shufflePartitions = n)
        .collect().map(d => (d.doc_id, d.spans, d.markdown)).toSet
      assert(viaPipeline == viaKernel, s"n=$n")
    }
  }
}
