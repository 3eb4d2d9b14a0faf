package graft.pipeline

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** Distributed EXCLUSIVE PREFIX SUM over rows ordered by (group, ord) —
  * the shared engine under sequence packing ([[graft.operators.PackOps]])
  * and token-budget corpus mixing ([[graft.operators.MixOps]]).
  *
  * Why not `sum(w).over(Window.partitionBy(group).orderBy(ord))`: an
  * ordered window runs single-threaded per partition key, so a 5 TB
  * group becomes one 5 TB task. This is the textbook two-pass scan
  * instead:
  *
  *   1. a bounded reservoir of (group, ord) keys
  *      ([[RangeRouter.sample]]) → broadcast range boundaries; every row
  *      computes its SHARD by binary search — an explicit data-derived
  *      column, deliberately NOT
  *      spark_partition_id()/TaskContext (task-layout-dependent ids
  *      silently change under a downstream coalesce, which merges
  *      narrow chains into one task — PackSpec regression-guards this);
  *   2. pass A: per-(shard, group) totals — a tiny aggregate
  *      (≤ shards + groups rows) collected to the driver, folded into
  *      exclusive per-shard offsets;
  *   3. pass B: re-read the same persisted layout (hash-partitioned by
  *      shard, sorted by (shard, group, ord, id)) emitting a running
  *      sum that RESETS to the broadcast offset on every
  *      (shard, group) change — correct under any task merging, since
  *      each group is contiguous within its partition's iterator.
  *
  * Results are shard-count-independent: `start` depends only on the
  * (group, ord, id) total order.
  */
object PrefixSum {

  type Row = (Long, String, Long, Long)         // (id, group, ord, weight)
  type Out = (Long, String, Long, Long, Long)   // ... + start (exclusive)

  /** `slotKey` names the persist slot for the sharded layout (one live
    * cache per caller — see [[graft.operators.DedupOps.persistSlot]]).
    */
  def exclusive(rows: Dataset[Row], parts: Int = 0,
                slotKey: String = "prefix"): Dataset[Out] = {
    val spark = rows.sparkSession
    import spark.implicits._
    val n = if (parts > 0) parts else spark.sessionState.conf.numShufflePartitions
    // sampling reads ONLY (group, ord): the projection lets Catalyst
    // prune the weight expression (often a full tokenization) out of
    // this pass, so the corpus pays it once, in the sharded layout
    val keys = rows.toDF("id", "grp", "ord", "w")
      .select($"grp", $"ord").as[(String, Long)]
    val bounds = RangeRouter.boundaries(RangeRouter.sample(keys, identity[(String, Long)]), n)
    val bBounds = spark.sparkContext.broadcast(bounds)
    val sharded = graft.operators.DedupOps.persistSlot(slotKey,
      rows.map { case (id, g, o, w) =>
        (RangeRouter.bucket(bBounds.value, (g, o)), id, g, o, w)
      }.toDF("shard", "id", "grp", "ord", "w")
        .repartition(n, $"shard")
        .sortWithinPartitions($"shard", $"grp", $"ord", $"id")
        .as[(Int, Long, String, Long, Long)])
    val totals = sharded.toDF("shard", "id", "grp", "ord", "w")
      .groupBy($"shard", $"grp")
      .agg(sum($"w").as("t"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    val offsets = new java.util.HashMap[(Int, String), Long]()
    totals.groupBy(_._2).foreach { case (g, rs) =>
      var acc = 0L
      rs.sortBy(_._1).foreach { case (sh, _, t) =>
        offsets.put((sh, g), acc)
        acc += t
      }
    }
    val bOff = spark.sparkContext.broadcast(offsets)
    sharded.mapPartitions { it =>
      var curShard = -1
      var curGroup: String = null
      var run = 0L
      it.map { case (sh, id, g, o, w) =>
        if (sh != curShard || g != curGroup) {
          curShard = sh
          curGroup = g
          run = bOff.value.getOrDefault((sh, g), 0L)
        }
        val start = run
        run += w
        (id, g, o, w, start)
      }
    }
  }
}
