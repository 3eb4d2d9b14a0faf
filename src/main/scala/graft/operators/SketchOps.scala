package graft.operators

import graft.functions.Hashing
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable-sketch operators beyond KMV/HLL: a Bloom-filter semi-join
  * (the runtime-filter pattern: ship a KB-size bitset instead of a
  * shuffle) and a fixed-bin histogram quantile (the mergeable quantile
  * sketch). Both are built from plain aggregations over the shared
  * md5i hash / integer binning, so a DuckDB oracle replays every bit.
  */
object SketchOps {

  /** 64 words × 63 bits (bit 63 never set, so words stay non-negative
    * and engine-portable through signed BIGINT arithmetic).
    */
  val BloomWords = 64
  val BitsPerWord = 63
  val BloomBits: Int = BloomWords * BitsPerWord
  val BloomHashes = 3

  /** Probe position of hash function `i` for `key` — the semi-join
    * filter's; the TableIO manifest blooms get the same bits from its
    * driver-side twin through [[bloomAdd]] (same wire format, same
    * DuckDB replay).
    */
  private[graft] def bloomPos(i: Int, key: org.apache.spark.sql.Column) =
    Hashing.md5iCol(concat(lit(s"bf$i|"), key.cast("string"))) % BloomBits

  /** Driver-side [[bloomPos]] (must stay bit-identical to the column
    * form): probe position of hash `i` for `key`.
    */
  private[graft] def bloomPosLocal(i: Int, key: String): Int =
    (Hashing.md5i(s"bf$i|$key") % BloomBits).toInt

  /** Set `key`'s bits in a [[BloomWords]]-long word vector: the same bits
    * as [[bloomBuild]] (via [[bloomPosLocal]]), one key at a time.
    */
  private[graft] def bloomAdd(words: Array[Long], key: String): Unit = {
    var i = 0
    while (i < BloomHashes) {
      val p = bloomPosLocal(i, key)
      words(p / BitsPerWord) |= 1L << (p % BitsPerWord)
      i += 1
    }
  }

  /** Membership probe against a [[BloomWords]]-long word vector. */
  private[graft] def bloomMaybeContains(words: IndexedSeq[Long], key: String): Boolean =
    (0 until BloomHashes).forall { i =>
      val p = bloomPosLocal(i, key)
      ((words(p / BitsPerWord) >> (p % BitsPerWord)) & 1L) == 1L
    }

  /** (word, bits) rows of the Bloom filter over `keys` (one column).
    * Build is a single bit_or aggregation over ≤ BloomWords groups —
    * the partial state each partition ships is the filter itself.
    */
  def bloomBuild(keys: DataFrame): DataFrame = {
    val k = keys.columns.head
    val pos = keys.select(explode(array((0 until BloomHashes).map(i =>
      bloomPos(i, col(k))): _*)).as("p"))
    pos.groupBy(expr(s"p div $BitsPerWord").as("w"))
      .agg(expr(s"bit_or(shiftleft(1L, int(p % $BitsPerWord)))").as("bits"))
  }

  /** Bloom-filter semi-join accounting: viewers probed against a filter
    * built from purchaser user_ids. Emits exact vs bloom-candidate
    * counts (false positives = the filter's cost) plus an order-free
    * word checksum gating the filter's exact bit pattern. The probe is
    * a broadcast join against ≤ BloomWords rows — at 100 TB the filter
    * crosses the cluster once (KBs), unlike the semi-join shuffle it
    * replaces; candidates then pay the exact join only on the reduced
    * set (the Iceberg/Spark runtime-filter pattern).
    */
  def bloomSemiJoin(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val purchasers = events.filter($"event_type" === "purchase")
      .select($"user_id").distinct()
    // materialize the filter ONCE (<= BloomWords rows — this collect IS
    // the "ship the filter" step): the checksum and the broadcast probe
    // side both reuse it instead of re-running the build aggregation
    val wordRows = bloomBuild(purchasers).as[(Long, Long)].collect()
    val fp = wordRows.map { case (w, bits) =>
      ((w + 1) * (bits % 1000000007L)) % 1000000007L
    }.sum % 1000000007L
    val words = wordRows.toSeq.toDF("w", "bits")
    val viewers = events.filter($"event_type" === "view")
      .select($"user_id").distinct()
    val probes = viewers.select($"user_id",
      explode(array((0 until BloomHashes).map(i =>
        bloomPos(i, $"user_id")): _*)).as("p"))
    val hits = probes
      .join(broadcast(words), expr(s"(p div $BitsPerWord) = w"), "left")
      .withColumn("hit",
        expr(s"(shiftright(coalesce(bits, 0L), int(p % $BitsPerWord)) & 1L) = 1L"))
      .groupBy($"user_id")
      .agg(sum(when($"hit", 1L).otherwise(0L)).as("nbits"))
    val candidates = hits.filter($"nbits" === BloomHashes)
    val trueMembers = viewers.join(purchasers, Seq("user_id"), "left_semi")
    viewers.agg(count(lit(1)).as("n_viewers")).crossJoin(
        candidates.agg(count(lit(1)).as("n_candidates")))
      .crossJoin(trueMembers.agg(count(lit(1)).as("n_true")))
      .withColumn("bloom_fp", lit(fp))
      .select(col("n_viewers"), col("n_candidates"), col("n_true"),
        col("bloom_fp"))
  }

  /** Mergeable fixed-bin histogram quantile: per event_type, bin the
    * cent values (width [[HistBinWidth]]), then read p50/p95 as the
    * first bin whose running count reaches ceil(q·n). The histogram is
    * a plain count aggregation — partial-aggregable, mergeable,
    * constant-size — which is why fixed-bin quantiles are the streaming
    * sketch of choice when the value domain is known. Integer
    * throughout; the oracle replays bins and cut ranks exactly.
    */
  val HistBinWidth = 16L

  def histQuantiles(events: DataFrame): DataFrame = {
    val binned = events
      .withColumn("value_c", floor(col("value") * 100).cast("long"))
      .withColumn("bin", expr(s"value_c div $HistBinWidth"))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("bin"))
    val cum = binned
      .withColumn("cum", sum(col("cnt")).over(w))
      .withColumn("n", sum(col("cnt")).over(
        Window.partitionBy(col("event_type"))))
    def cutBin(q: Int): org.apache.spark.sql.Column =
      min(when(col("cum") * 100 >= col("n") * q, col("bin"))).as(s"p${q}_bin")
    cum.groupBy(col("event_type"))
      .agg(max(col("n")).as("n"), cutBin(50), cutBin(95))
  }
}
