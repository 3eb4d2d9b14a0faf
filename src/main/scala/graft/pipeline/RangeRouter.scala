package graft.pipeline

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import scala.reflect.ClassTag

/** Exact range placement without RangePartitioner's double execution.
  *
  * `repartitionByRange` samples its child to learn boundaries — which
  * RE-EXECUTES the whole upstream chain (for this pipeline: derivation +
  * the extraction kernel) once for sampling and once for the real
  * shuffle. This router splits the two concerns:
  *
  *   1. boundaries need no data while the partition count n is at most
  *      the salt domain S: the salt leads the key and is a uniform hash,
  *      so the count quantiles fall on salt edges ([[saltBounds]]). Only
  *      n > S (splits inside one salt) runs a reservoir pass over the
  *      input, kernel not run, collected to the driver ([[sample]]);
  *   2. each row computes its range bucket by binary search and is placed
  *      EXACTLY into that partition through one ordinary hash shuffle,
  *      using a precomputed token v_t with pmod(murmur3(v_t, 42), n) == t
  *      — Spark's HashPartitioning becomes an identity router.
  *
  * The output keeps true range clustering (partition i holds a
  * contiguous (salt, doc_id) key interval, intervals ordered by i) at
  * the cost of no pass (n ≤ S) or one narrow pass (n > S) — instead of
  * a full double execution.
  * This mirrors how table formats sketch write distributions at scale.
  */
object RangeRouter {

  type Key = (Long, String) // (salt, doc_id) — ordering is salt, then id

  /** Stable kernel-side salt (independent of Spark expression hashes). */
  def key(docId: String, saltBuckets: Int): Key = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < docId.length) { h ^= docId.charAt(i); h *= 0x100000001b3L; i += 1 }
    val m = (h % saltBuckets).toInt
    ((if (m < 0) m + saltBuckets else m).toLong, docId)
  }

  /** Hard ceiling on keys the boundary sample collects to the driver —
    * independent of the input split count. Spark's own RangePartitioner
    * applies the same discipline (`sampleSizePerPartition` against a
    * total budget); without it, ~800k splits of a 100 TB input × 128
    * keys each would put ~100M tuples (multi-GB) on the driver.
    */
  val SampleBudget = 100000
  /** Second-level reduction width when split count × quota would still
    * exceed the budget (quota already floored at its minimum).
    */
  val SampleGroups = 64
  /** Per-partition sample floor: even at extreme split counts every
    * split contributes a few keys so no region is invisible to the
    * sketch.
    */
  val MinQuota = 8

  /** Bounded boundary sample of `keyOf` over `ds`, a stratified
    * reservoir: per-partition reservoir with quota max(MinQuota,
    * budget/numPartitions); when the floor makes the first-level total
    * exceed 2×budget (split count > budget/MinQuota·2), a narrow coalesce
    * + second reservoir reduces it below the budget BEFORE the collect.
    * Driver receives ≤ max(2·budget, SampleGroups·MinQuota) keys, ever. A
    * reservoir-of-reservoirs is not an exactly uniform sample, but
    * boundaries only need approximate quantiles — placement stays EXACT
    * either way (buckets are computed per row; boundary quality only
    * affects balance). `keyOf` runs inside the one pass over `ds`, so a
    * key-only projection of `ds` keeps the pass key-only.
    */
  def sample[T, K: ClassTag: Encoder](ds: Dataset[T], keyOf: T => K,
                                      budget: Int = SampleBudget): Array[K] = {
    val numParts = math.max(1, ds.rdd.getNumPartitions)
    val quota = math.max(MinQuota, budget / numParts)
    val firstLevel = ds.mapPartitions(it => reservoir(it.map(keyOf), quota))
    if (numParts.toLong * quota <= 2L * budget) firstLevel.collect()
    else {
      val groupQuota = math.max(MinQuota, budget / SampleGroups)
      firstLevel.coalesce(SampleGroups)
        .mapPartitions(it => reservoir(it, groupQuota))
        .collect()
    }
  }

  /** Deterministic reservoir sample of up to `k` items (seeded by the
    * task's partition).
    */
  private def reservoir[T: ClassTag](it: Iterator[T], k: Int): Iterator[T] = {
    val pid = Option(TaskContext.get()).map(_.partitionId()).getOrElse(0)
    val rng = new java.util.Random(pid * 2654435761L + 42L)
    val buf = new Array[T](k)
    var seen = 0
    while (it.hasNext) {
      val key = it.next()
      if (seen < k) buf(seen) = key
      else {
        val j = rng.nextInt(seen + 1)
        if (j < k) buf(j) = key
      }
      seen += 1
    }
    buf.iterator.take(math.min(seen, k))
  }

  /** n-1 ascending boundary keys (quantiles of the sorted sample). */
  def boundaries[K: Ordering: ClassTag](sample: Array[K], n: Int): Array[K] = {
    if (sample.isEmpty || n <= 1) return Array.empty
    val sorted = sample.sorted
    (1 until n).map { i =>
      // Long quantile index: i * length overflows Int once the
      // sample × partition-count product passes 2^31
      sorted(math.min(sorted.length - 1L, i.toLong * sorted.length / n).toInt)
    }.distinct.toArray
  }

  /** n-1 ascending boundaries on salt edges, for n ≤ `saltBuckets`:
    * boundary i is (ceil(i·S/n), ""), so partition t owns the salts
    * [ceil(t·S/n), ceil((t+1)·S/n)), at least one each. The salt is a
    * uniform hash of the id, so these are the count quantiles of any
    * input without reading it (equal-probability strata need no sample
    * to place their edges).
    */
  def saltBounds(n: Int, saltBuckets: Int): Array[Key] = {
    require(n >= 1 && n <= saltBuckets, s"salt edges need 1 <= n <= $saltBuckets, got $n")
    Array.tabulate(n - 1)(j => (((j + 1).toLong * saltBuckets + n - 1) / n, ""))
  }

  /** Range bucket: number of boundaries <= key (binary search). */
  def bucket[K](bounds: Array[K], k: K)(implicit ord: Ordering[K]): Int = {
    var lo = 0
    var hi = bounds.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ord.lteq(bounds(mid), k)) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** tokens(t) hashes to partition t under Spark's HashPartitioning
    * (murmur3 seed 42): pmod(hash(tokens(t)), n) == t.
    */
  def hashTokens(n: Int): Array[Int] = {
    val tokens = new Array[Int](n)
    val found = new Array[Boolean](n)
    var v = 0
    var left = n
    while (left > 0) {
      val h = Murmur3_x86_32.hashInt(v, 42)
      val t = ((h % n) + n) % n
      if (!found(t)) { found(t) = true; tokens(t) = v; left -= 1 }
      v += 1
    }
    tokens
  }
}
