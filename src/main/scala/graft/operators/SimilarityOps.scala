package graft.operators

import graft.functions.Hashing
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exactness baseline, and a
  * random-hyperplane LSH sketch (SimHash-for-vectors, Charikar '02) as
  * the scale path (bucketed candidate generation instead of all-pairs).
  *
  * Scale design: the query set is tiny relative to the corpus, so the
  * brute-force path is a BROADCAST join of queries against the corpus —
  * one scan, partial top-k per partition (the TopKPerKey rank filter),
  * no corpus shuffle. The LSH path replaces the cross join with a narrow
  * sketch projection + an exchange keyed by sketch.
  *
  * Numeric portability: embeddings are quantized to integers once
  * (q = floor(1000·v), exact for float inputs in any IEEE engine), and
  * every downstream value (dot, norms, sketch bits) is integer-exact, so
  * the DuckDB oracle reproduces results bit-for-bit. The one double used
  * for RANKING (cos = dot/√(na·nb)) is derived from exact integers with a
  * fixed expression shape — identical in both engines; ties broken by id.
  */
object SimilarityOps {

  /** (vec_id, label, q: array<long>, nsq: Σq²) — codegen'd projection. */
  def quantized(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), col("label"),
        transform(col("embedding"),
          x => floor(x.cast("double") * 1000).cast("long")).as("q"))
      .withColumn("nsq",
        aggregate(col("q"), lit(0L), (a, x) => a + x * x))

  /** Exact integer dot product of two quantized vectors. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** Brute-force cosine top-k: for each query vector (vec_id < nQueries),
    * the k nearest OTHER vectors. Output (query_id, neighbor_id, rank,
    * dot, na, nb) — rank by (cos desc, neighbor_id) for determinism.
    *
    * Scale shape: queries broadcast against one corpus scan (no corpus
    * shuffle); with [[graft.plans.TopKPerKeyPlans.TopKPerKeyExtension]]
    * installed the top-k runs as a PER-PARTITION bounded heap — each
    * scan task emits at most nQueries×k rows — and only that tiny
    * candidate set (partitions × nQueries × k) crosses the wire into the
    * final exact rank.
    */
  def bruteForceTopK(spark: SparkSession, emb: DataFrame, nQueries: Int,
                     k: Int): DataFrame = {
    import spark.implicits._
    val q = quantized(emb)
    val queries = q.filter($"vec_id" < nQueries)
      .select($"vec_id".as("query_id"), $"q".as("qv"), $"nsq".as("na"))
    val pairs = q.join(broadcast(queries), $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        dot($"qv", $"q").as("dot"), $"na", $"nsq".as("nb"))
      .withColumn("cos",
        $"dot".cast("double") / sqrt($"na".cast("double") * $"nb"))
    rankTopK(pairs, k)
  }

  /** Exact top-k finisher shared by the brute-force and IVF paths.
    * `pairs` columns: (query_id, neighbor_id, dot, na, nb, cos). The
    * `row_number() <= k` rank filter is the shape
    * [[graft.plans.TopKPerKeyPlans]] re-plans as a bounded heap per scan
    * partition (each task emits ≤ nQueries×k rows) and one hash exchange
    * into the final exact rank; Spark's own plan returns the same rows.
    */
  private def rankTopK(pairs: DataFrame, k: Int): DataFrame =
    pairs
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("neighbor_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "dot", "na", "nb")

  val Planes = 16 // sketch bits

  /** Deterministic hyperplane coefficient for (plane p, dim d), in
    * [-1000, 1000]: md5i("p|d") % 2001 - 1000. Same value in DuckDB.
    */
  def planeCoef(p: Int, d: Int): Long = Hashing.md5i(s"$p|$d") % 2001L - 1000L

  /** Random-hyperplane LSH sketch: bit p = [Σ_d coef(p,d)·q_d > 0].
    * Integer-exact (|Σ| ≤ 64·1000·530 < 2^63). Vectors with equal
    * sketches land in the same ANN candidate bucket.
    */
  def lshSketch(spark: SparkSession, emb: DataFrame): DataFrame = {
    graft.GraftExtensions.registerFunctions(spark)
    // native codegen'd expression — no typed-map encoder round trip; the
    // sketch column is one static call inside the scan's generated code
    emb.selectExpr("vec_id", "graft_lsh_sketch(embedding) AS sketch")
  }

  // ------------------------------------------------------------------
  // IVF (inverted-file) coarse quantizer — the second ANN scale path
  // next to LSH. Cells are built with one deterministic, integer-exact
  // Lloyd refinement; queries probe only the nProbe nearest cells.
  // ------------------------------------------------------------------

  /** Integer squared L2 distance ‖v − c‖² = nsqV − 2·v·c + nsqC. */
  private def sqDist(v: Seq[Long], nsqV: Long, c: Array[Long], nsqC: Long): Long = {
    var d = 0L; var i = 0
    while (i < c.length) { d += v(i) * c(i); i += 1 }
    nsqV - 2 * d + nsqC
  }

  /** Nearest centroid id by (squared distance asc, cell id asc). */
  private def nearestCell(cents: Array[(Long, Array[Long], Long)],
                          v: Seq[Long], nsqV: Long): Long = {
    var best = Long.MaxValue; var bestId = Long.MaxValue
    var i = 0
    while (i < cents.length) {
      val (id, c, nc) = cents(i)
      val d = sqDist(v, nsqV, c, nc)
      if (d < best || (d == best && id < bestId)) { best = d; bestId = id }
      i += 1
    }
    bestId
  }

  /** IVF ANN (Sivic & Zisserman '03; the FAISS IVF funnel): coarse-
    * quantize the corpus into ≤ `nCentroids` cells, then answer each
    * query with exact cosine top-k over only the `nProbe` nearest cells.
    * At 10^12 vectors per-query work drops from a full scan to
    * ≈ |corpus|·nProbe/nCentroids, and the index build is two narrow
    * broadcast-assignment scans plus ONE map-side-combined
    * (cell,dim)-keyed aggregate whose output is C·dims tiny rows — no
    * corpus shuffle anywhere; the candidate stage is a broadcast join of
    * the ≤ nQueries·nProbe probe rows against the cell-tagged scan,
    * finished by the shared top-k rank filter.
    *
    * Build: seeds = the `nCentroids` lowest vec_ids (deterministic), one
    * Lloyd step — assign to nearest seed by integer L2, recompute each
    * nonempty cell's centroid as the per-dimension floor-mean
    * (floor(Σq_d / n): exact in double since |Σq_d| < 2^52), reassign.
    * Queries are drawn from the seed set (vec_id < nQueries).
    *
    * Determinism/portability: quantized integer vectors, integer
    * distances with lower-cell-id tie-breaks, floor-double means — the
    * DuckDB oracle replays build + probe + rank bit-for-bit. Recall vs
    * brute force is partial by design (probed-cell funnel); dot/na/nb of
    * every returned row are exact. Reference analog: the global-view +
    * local-tile funnel of /root/reference/crates/core/src/vision/preprocess.rs:13-76
    * (cheap coarse routing, exact work only inside selected regions).
    */
  def ivfTopK(spark: SparkSession, emb: DataFrame, nCentroids: Int,
              nProbe: Int, nQueries: Int, k: Int): DataFrame = {
    require(nQueries <= nCentroids,
      "queries are drawn from the seed set: nQueries must be <= nCentroids")
    import spark.implicits._
    val q = quantized(emb).select($"vec_id", $"q", $"nsq")
      .as[(Long, Seq[Long], Long)]
    // bounded dictionary-scale collect: ≤ nCentroids quantized vectors
    val seeds: Array[(Long, Array[Long], Long)] =
      q.filter($"vec_id" < nCentroids).collect().sortBy(_._1)
        .map { case (id, v, nsq) => (id, v.toArray, nsq) }
    val dims = seeds.head._2.length
    val bcSeeds = spark.sparkContext.broadcast(seeds)
    val assigned0 = q.mapPartitions { it =>
      val cents = bcSeeds.value
      it.map { case (id, v, nsq) => (id, v, nsq, nearestCell(cents, v, nsq)) }
    }
    // Lloyd update: per-(cell, dim) sums with map-side combine; C·dims
    // rows reach the driver (bounded by constants, not by corpus size)
    val updated: Array[(Long, Array[Long], Long)] = assigned0
      .toDF("vec_id", "q", "nsq", "cell")
      .select($"cell", posexplode($"q"))
      .groupBy($"cell", $"pos")
      .agg(sum($"col").as("s"), count(lit(1)).as("n"))
      .as[(Long, Int, Long, Long)].collect()
      .groupBy(_._1).toArray.sortBy(_._1)
      .map { case (cell, rows) =>
        val c = new Array[Long](dims)
        rows.foreach { case (_, pos, s, n) =>
          c(pos) = math.floor(s.toDouble / n).toLong
        }
        (cell, c, c.map(x => x * x).sum)
      }
    val bcUpd = spark.sparkContext.broadcast(updated)
    val cells = q.mapPartitions { it =>
      val cents = bcUpd.value
      it.map { case (id, v, nsq) => (id, v, nsq, nearestCell(cents, v, nsq)) }
    }.toDF("vec_id", "q", "nsq", "cell")
    // probe list: per query, the nProbe nearest refined cells —
    // driver-side over already-collected tiny state (queries ⊆ seeds)
    val probes = seeds.filter(_._1 < nQueries).toSeq
      .flatMap { case (qid, qv, na) =>
        updated.map { case (cell, c, nc) => (cell, sqDist(qv, na, c, nc)) }
          .sortBy { case (cell, d) => (d, cell) }.take(nProbe)
          .map { case (cell, _) => (qid, cell, qv.toSeq, na) }
      }
    val probeDf = probes.toDF("query_id", "cell", "qv", "na")
    val pairs = cells.join(broadcast(probeDf), "cell")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        dot($"qv", $"q").as("dot"), $"na", $"nsq".as("nb"))
      .withColumn("cos",
        $"dot".cast("double") / sqrt($"na".cast("double") * $"nb"))
    rankTopK(pairs, k)
  }
}
