package graft.operators

import graft.functions.Hashing
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators for a web-scale training-data pipeline:
  * exact, MinHash+LSH, SimHash, and inverted-index n-gram-Jaccard near-dup.
  *
  * Scale design (100 TB / 1000 executors):
  *  - Signature computation is a NARROW per-row pass (mapPartitions-style
  *    typed map / codegen'd projections) — scan-bound, no shuffle.
  *  - The only shuffles are (a) the band-bucket exchange keyed by the LSH
  *    band signature (this is the whole point of LSH: candidate discovery
  *    without the O(n²) cross join), and (b) the inverted-index join keyed
  *    on (source, shingle). Both carry explicit SKEW CAPS:
  *      * `MaxBucket` — an identical-content flood lands every copy in the
  *        same band bucket; buckets over the cap emit a linear STAR of
  *        pairs to the bucket's min doc_id (the representative) instead of
  *        all O(bucket²) pairs. The cap TRADES RECALL on heterogeneous
  *        over-cap buckets for bounded work: star pairs still pass exact
  *        verification, so in an over-cap bucket whose members are near-dup
  *        to each other but NOT to the representative, those pairs are not
  *        emitted. Identical-content floods (the case the cap exists for)
  *        are fully preserved — every member verifies against the
  *        representative and stays one connected component. The DuckDB
  *        oracle mirrors the cap, so parity holds either way.
  *      * `MaxDf` — boilerplate shingles shared by everything ("all rights
  *        reserved …") are dropped from the inverted index BEFORE the
  *        pair join (candidate generation only; verification still uses
  *        the full shingle sets, so surviving pairs' Jaccard values are
  *        exact). This bounds the per-shingle pair fan-out at O(MaxDf²)
  *        and is the standard df-cut from MinHash/suffix-dedup practice.
  *    The bounded-structure discipline mirrors the reference's own guards
  *    (/root/reference/crates/core/src/vision/preprocess.rs:23-32 bounded
  *    BTreeSet of candidate grids; cache growth guard
  *    transformer/cache.rs:78-118).
  *  - Pair verification joins fetch shingle sets by doc_id — broadcast at
  *    test scale, shuffle-hash at corpus scale; AQE picks per stats.
  *
  * Hash/quantization choices are engine-portable (see [[Hashing]]) so the
  * DuckDB oracle can recompute every output exactly — including the caps,
  * which are mirrored verbatim in the oracle SQL.
  */
object DedupOps {

  val NumHashes = 16       // minhash signature length
  val Bands     = 4        // LSH bands × 4 rows each
  val RowsPerBand: Int = NumHashes / Bands
  /** Band buckets larger than this emit star pairs (rep = min doc_id)
    * instead of all pairs — the identical-content-flood guard.
    */
  val MaxBucket = 64
  /** Shingles appearing in more than this many docs of one source are
    * excluded from n-gram candidate generation (viral-boilerplate guard).
    */
  val MaxDf = 128

  /** One cache slot per operator: each invocation releases the PREVIOUS
    * invocation's persisted sketch (non-blocking) before persisting its
    * own, so a long-lived session (bench reruns each query, plus retries)
    * holds at most one cached sketch per operator instead of accumulating
    * blocks until eviction pressure. Unpersisting a slot whose returned
    * DataFrame was never materialized merely recomputes lazily — never
    * wrong, just unmemoized.
    */
  private val cacheSlots =
    new java.util.concurrent.ConcurrentHashMap[String, Dataset[_]]()
  private[graft] def persistSlot[T](key: String, ds: Dataset[T]): Dataset[T] = {
    // Slots are keyed by (sessionUUID, operator): collision-free across
    // sessions (identityHashCode is not), so concurrent sessions can't
    // unpersist each other's live cache. Unpersist of the previous slot is
    // further guarded against a stopped context (unpersist on a Dataset
    // bound to a stopped SparkContext throws IllegalStateException).
    // Slots of stopped sessions are evicted opportunistically on each put
    // so the static map never pins dead session references for the
    // process lifetime.
    val sessionKey =
      org.apache.spark.sql.graftbridge.ColumnBridge
        .sessionUuid(ds.sparkSession) + "|" + key
    val prev = cacheSlots.put(sessionKey, ds)
    cacheSlots.entrySet().removeIf { e =>
      (e.getKey != sessionKey) && e.getValue.sparkSession.sparkContext.isStopped
    }
    if (prev != null) {
      try {
        if (!prev.sparkSession.sparkContext.isStopped)
          prev.unpersist(blocking = false)
      } catch { case _: IllegalStateException => () }
    }
    ds.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Word 3-shingles; docs shorter than 3 words contribute one whole-text
    * shingle. split limit -1 keeps trailing empties = DuckDB string_split.
    */
  def shingles(text: String): Array[String] = {
    val ws = text.split(" ", -1)
    if (ws.length >= 3) ws.sliding(3).map(_.mkString(" ")).toArray
    else Array(ws.mkString(" "))
  }

  /** Universal-hash MinHash (Broder '97 with linear permutations): one
    * md5 per shingle, then K cheap permutations h_k(x) = (a_k·x + b_k)
    * mod P over the base hash — 16× fewer digest calls than salting the
    * digest per k. P = 1e9+7 keeps a_k·x inside a signed 64-bit long
    * (a_k, x < P ⇒ product < 1e18); a_k/b_k derive deterministically
    * from md5i so the DuckDB oracle reproduces signatures exactly.
    */
  val MinhashP = 1000000007L
  val PermA: Array[Long] =
    Array.tabulate(NumHashes)(k => Hashing.md5i(s"a|$k") % (MinhashP - 1) + 1)
  val PermB: Array[Long] =
    Array.tabulate(NumHashes)(k => Hashing.md5i(s"b|$k") % MinhashP)

  def minhashSig(sh: Array[String]): Array[Long] = {
    val sig = Array.fill(NumHashes)(Long.MaxValue)
    var i = 0
    while (i < sh.length) {
      val x = Hashing.md5i(sh(i)) % MinhashP
      var k = 0
      while (k < NumHashes) {
        val h = (PermA(k) * x + PermB(k)) % MinhashP
        if (h < sig(k)) sig(k) = h
        k += 1
      }
      i += 1
    }
    sig
  }

  /** (bk, doc_id) LSH band keys of a frame of `doc_id` and its MinHash
    * `sig`: per band, md5 of the comma-joined signature slice —
    * string-identical to the DuckDB reconstruction
    * (CAST(bigint AS STRING) = Long.toString).
    */
  private[graft] def bandKeys(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), explode(expr(
        s"transform(sequence(0, ${Bands - 1}), b -> " +
          s"md5(concat_ws(',', transform(slice(sig, b*$RowsPerBand+1, " +
          s"$RowsPerBand), x -> CAST(x AS STRING)))))")).as("bk"))
      .select(col("bk"), col("doc_id"))

  /** Candidate pairs from band buckets with the `MaxBucket` skew cap:
    * buckets ≤ cap emit all pairs; larger buckets emit the linear star
    * (rep, member) with rep = min doc_id — so an N-copy flood costs O(N)
    * pairs, not O(N²), while staying one connected component.
    */
  def bandCandidates(bands: DataFrame, maxBucket: Int = MaxBucket): DataFrame = {
    import bands.sparkSession.implicits._
    val sizes = bands.groupBy($"bk")
      .agg(count(lit(1)).as("n"), min($"doc_id").as("rep"))
    // over-cap buckets are FEW by construction (each needs > maxBucket
    // members), so join against that small side: anti-join to carve out
    // the well-behaved buckets, equi-join to expand the stars — both
    // broadcastable under AQE, never a join against the large bucket set
    val big = sizes.filter($"n" > maxBucket)
    val small = bands.join(big.select("bk"), Seq("bk"), "left_anti")
    val smallPairs = small.as("x").join(small.as("y"),
        $"x.bk" === $"y.bk" && $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"))
    // rep = bucket min, so rep < doc_id holds for every emitted star pair
    val starPairs = bands
      .join(big.select($"bk", $"rep"), "bk")
      .filter($"doc_id" =!= $"rep")
      .select($"rep".as("doc_a"), $"doc_id".as("doc_b"))
    smallPairs.union(starPairs).distinct()
  }

  /** MinHash+LSH near-duplicate pairs, verified with exact Jaccard.
    * Output: (doc_a, doc_b, jacc_i, jacc_u) where 10*i >= 7*u (J ≥ 0.7),
    * i/u = |A∩B| / |A∪B| over distinct shingle sets — integer-exact, no
    * float thresholds to drift across engines.
    */
  def minhashPairs(spark: SparkSession, docs: DataFrame,
                   maxBucket: Int = MaxBucket): DataFrame = {
    import spark.implicits._
    graft.GraftExtensions.registerFunctions(spark)
    // The sketch pass rides the NATIVE graft_shingles/graft_minhash_sig
    // expressions (codegen'd static calls — no typed-map encoder round
    // trip). Persist it: referenced three times below (band explode +
    // both sides of the verification join); recomputing the
    // shingle/signature pass per reference would triple the dominant
    // cost. At corpus scale this materializes to a sketch table instead.
    val ds = persistSlot("minhash", docs.selectExpr("doc_id",
      "graft_shingles(text) AS shingles", "graft_minhash_sig(text) AS sig"))
    val cand = bandCandidates(bandKeys(ds), maxBucket)
    verifyJaccard(spark, cand, ds.select($"doc_id", $"shingles"),
      numerator = 10, denominator = 7)
  }

  /** Band width (bits dropped from the shingle key) of the BANDED
    * candidate stage: 2^3 hash-adjacent shingles share one reduce group.
    */
  val BandBits = 3

  /** n-gram Jaccard via an INVERTED SHINGLE INDEX with a df cap: explode
    * distinct shingles, drop shingles with per-source document frequency
    * above `maxDf` (viral boilerplate — the skew guard), expand candidate
    * pairs inside each surviving index bucket, then verify each candidate
    * pair against the FULL shingle sets: |A∩B| / |A∪B| exact, threshold
    * J ≥ 0.3.
    *
    * This is the scale-correct shape: a block cross-join is O(block²)
    * regardless of similarity; the capped index is O(Σ_s df(s)²) with
    * df(s) ≤ maxDf — near-linear on natural corpora, bounded even on
    * boilerplate floods. Verification from full sets keeps every emitted
    * Jaccard value exact (the cap only prunes candidate discovery).
    *
    * Plan shape, round 3: the index is keyed by ONE 60-bit hash of
    * (source, shingle) computed INSIDE the persisted sketch
    * (graft_shingle_keys — MD5 runs once per posting at cache-build time),
    * so every downstream stage carries 8-byte longs, not ~25-byte string
    * pairs. Candidates come from a single groupBy(k) with the
    * [[graft.functions.BoundedCollectAgg]] bounded member-collect —
    * buckets whose df exceeds maxDf evaluate to NULL inside the aggregate
    * (exact viral semantics, buffers bounded at maxDf longs even under a
    * flood) — then an in-bucket C(n,2) expansion over the sorted member
    * array. That is ONE exchange of the index where the previous
    * count + anti-join + self-join formulation paid three; measured
    * 3.4 → 2.7 s at sf0.1 (QuickTime interleaved A/B vs both prior
    * shapes). Hash collisions can only ADD candidate pairs, which
    * exact-set verification then judges — and the oracle mirrors the same
    * hash space, so parity is exact even in the astronomically-unlikely
    * collision case.
    *
    * `bandBits > 0` BANDS the candidate stage: postings group by the
    * shingle key with the low `bandBits` bits dropped ([[BandBits]] = 3:
    * 8× fewer reduce groups for the same exchange rows, measured ~20% off
    * the full query wall at sf0.1, interleaved A/B both orders). A doc
    * posting several same-band shingles counts once (the collect is a
    * set), so the cap counts DISTINCT docs per band; it scales with the
    * band (maxDf << bandBits) to keep the viral cut calibrated per
    * shingle on average. The df-cut is then band-granular (a viral band
    * drops all its shingles together) — a deliberate variant the oracle
    * replays exactly; final pairs still pass the same exact-Jaccard
    * verification.
    */
  def ngramJaccardPairs(spark: SparkSession, docs: DataFrame,
                        maxDf: Int = MaxDf, bandBits: Int = 0): DataFrame = {
    import spark.implicits._
    graft.GraftExtensions.registerFunctions(spark)
    val ds = persistSlot(s"ngram>>$bandBits",
      docs.selectExpr("doc_id", "graft_shingles(text) AS sh",
        "graft_shingle_keys(source, text) AS ks"))
    val inv = ds.select($"doc_id", explode($"ks").as("k"))
    // ids is sorted ascending by the aggregate, so ids[i] < ids[j] for
    // i < j — pair structs come out already in (doc_a < doc_b) order
    val cand = inv.groupBy(shiftright($"k", bandBits).as("k"))
      .agg(graft.functions.BoundedCollectAgg
        .column($"doc_id", maxDf << bandBits).as("ids"))
      .filter($"ids".isNotNull && size($"ids") >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(ids)-2), i ->
          |  transform(sequence(i+1, size(ids)-1), j ->
          |    struct(ids[i] AS doc_a, ids[j] AS doc_b))))""".stripMargin))
        .as("p"))
      .select($"p.doc_a", $"p.doc_b")
      .distinct()
    verifyJaccard(spark, cand, ds.select($"doc_id", $"sh".as("shingles")),
      numerator = 10, denominator = 3)
  }

  /** Exact-Jaccard pair verification with a FUSED set fetch: both sides'
    * shingle sets arrive through ONE join on a pair-exploded frame
    * (2 rows per candidate pair) instead of two sequential doc_id joins —
    * the doc→set table is shuffled once, and the plan carries one join
    * fewer. Re-assembly is exact: each (doc_a, doc_b) group holds exactly
    * two rows (doc_a < doc_b guarantees the sides are distinct ids), one
    * per side, so the ignoreNulls `first` per side is deterministic.
    */
  private[graft] def verifyJaccard(spark: SparkSession, cand: DataFrame,
      sets: DataFrame, numerator: Int, denominator: Int): DataFrame = {
    import spark.implicits._
    val sides = cand.select($"doc_a", $"doc_b",
      explode(array($"doc_a", $"doc_b")).as("doc_id"))
    sides.join(sets.select($"doc_id", $"shingles".as("sh")), "doc_id")
      .groupBy($"doc_a", $"doc_b")
      .agg(
        first(when($"doc_id" === $"doc_a", $"sh"), ignoreNulls = true).as("sh_a"),
        first(when($"doc_id" === $"doc_b", $"sh"), ignoreNulls = true).as("sh_b"))
      .select($"doc_a", $"doc_b",
        size(array_intersect($"sh_a", $"sh_b")).cast("long").as("jacc_i"),
        size(array_union($"sh_a", $"sh_b")).cast("long").as("jacc_u"))
      .filter($"jacc_i" * numerator >= $"jacc_u" * denominator)
  }

  val SimBits = 48 // stay clear of the sign bit; 48-bit SimHash

  /** SimHash over the doc's DISTINCT word set: bit j is set iff the
    * majority of word hashes have bit j set (sum of ±1 > 0). Order-free,
    * so any traversal order gives the same value (Charikar '02).
    */
  def simhash(text: String): Long = {
    val ws = text.split(" ", -1).distinct
    val counts = new Array[Int](SimBits)
    var i = 0
    while (i < ws.length) {
      val h = Hashing.md5i(ws(i))
      var j = 0
      while (j < SimBits) {
        if (((h >> j) & 1L) == 1L) counts(j) += 1 else counts(j) -= 1
        j += 1
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < SimBits) { if (counts(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  /** (doc_id, simhash) for every document — a codegen'd projection via
    * the native [[graft.functions.SimHashExpr]] expression (no typed-map
    * encoder round trip; the sketch column runs at scan speed).
    */
  def simhashDf(spark: SparkSession, docs: DataFrame): DataFrame = {
    graft.GraftExtensions.registerFunctions(spark)
    docs.selectExpr("doc_id", "graft_simhash(text) AS simhash")
  }

  /** Bits per LSH band of the 16-bit hyperplane sketch (4 bands × 4). */
  val EmbBandBits = 4
  val EmbBands: Int = SimilarityOps.Planes / EmbBandBits

  /** MULTIPROBE masks (Lv et al., "Multi-Probe LSH", VLDB 2007): the
    * exact band value plus every Hamming-1 neighbor (xor with each
    * single-bit mask). Two sketches whose band values differ by ≤ 2 bits
    * then share at least one key (for distance 2, the middle value
    * reached by flipping one differing bit on each side), so
    * near-threshold pairs that plain banding misses become candidates.
    */
  val EmbProbes: Seq[Long] = 0L +: (0 until EmbBandBits).map(1L << _)

  /** Embedding-cosine near-duplicate pairs. CANDIDATES come from a BANDED
    * random-hyperplane LSH sketch ([[SimilarityOps.lshSketch]], Charikar
    * '02): the 16-bit sketch splits into 4 bands of 4 bits, and a pair is
    * a candidate when it shares ANY band key within its `label` block —
    * exactly the minhash band discipline, including the [[MaxBucket]]
    * star-cap on skewed buckets. A band key is (band, band value xor a
    * probe mask, label), one per mask in `probes`: `Seq(0L)` is plain
    * banding, [[EmbProbes]] the multiprobe recall fix at a fixed
    * ×(1+bits) key multiplier (5×) on the candidate exchange — bounded
    * and scan-shaped, unlike widening the bands (which squares bucket
    * sizes) or dropping to all-pairs. The exchange is keyed by band
    * buckets, never all-pairs-per-label: a hot label spreads over 4×16
    * buckets, a near-identical flood collapses into one bucket and gets
    * the linear star. VERIFICATION is exact integer cosine, so extra
    * probes only add recall, never false positives:
    * embeddings quantized q = floor(1000*v) (exact in both engines);
    * threshold t = 0.4 tested in EXACT integer arithmetic:
    *   cos ≥ t  ⟺  dot > 0 ∧ 25·dot² ≥ 4·na·nb      (t² = 4/25)
    * with dot = Σ qa·qb, na = Σ qa², nb = Σ qb² — all BIGINT-exact
    * (dim 64, |q| ≤ ~530 ⇒ 25·dot² < 2^63). No float compare anywhere;
    * the oracle reproduces the sketch bit-for-bit (planeCoef is
    * md5i-derived). Banded LSH is probabilistic recall by design: pairs
    * near the 0.4 threshold may miss every probed key (the trade for
    * never scanning all pairs); identical/near-identical vectors always
    * collide.
    */
  def embeddingNearDupPairs(spark: SparkSession, emb: DataFrame,
      probes: Seq[Long] = Seq(0L), maxBucket: Int = MaxBucket): DataFrame = {
    import spark.implicits._
    val q = persistSlot("embedding", SimilarityOps.quantized(emb))
    val sk = SimilarityOps.lshSketch(spark, emb)
      .join(q.select($"vec_id", $"label"), "vec_id")
    val bands = sk
      .select($"vec_id", $"label", $"sketch",
        explode(sequence(lit(0), lit(EmbBands - 1))).as("b"))
      .select($"vec_id", $"label", $"b",
        expr(s"shiftright(sketch, b * $EmbBandBits) % ${1 << EmbBandBits}").as("bv"),
        explode(array(probes.map(lit): _*)).as("m"))
      .select(concat($"b", lit("|"), expr("bv ^ m"), lit("|"), $"label").as("bk"),
        $"vec_id".as("doc_id"))
    val cand = bandCandidates(bands, maxBucket)
      .select($"doc_a".as("vec_a"), $"doc_b".as("vec_b"))
    cand
      .join(q.select($"vec_id".as("vec_a"), $"q".as("qa"), $"nsq".as("na")), "vec_a")
      .join(q.select($"vec_id".as("vec_b"), $"q".as("qb"), $"nsq".as("nb")), "vec_b")
      .select($"vec_a", $"vec_b",
        SimilarityOps.dot($"qa", $"qb").as("dot"), $"na", $"nb")
      .filter($"dot" > 0L && lit(25L) * $"dot" * $"dot" >= lit(4L) * $"na" * $"nb")
  }

  /** Exact-substring span dedup parameters: window of [[SubstrK]] words,
    * per-window posting cap [[SubstrMaxOcc]] (the viral-boilerplate
    * cut — a window occurring more often corpus-wide is dropped from
    * candidate discovery entirely, mirrored in the oracle), and
    * [[SubstrPosBits]] bits of in-doc position packed beside the doc id
    * in one long posting (docs of ≥2^20 words are excluded up front —
    * mirrored — keeping doc_id·2^20+pos collision-free through 10^12
    * docs).
    */
  val SubstrK = 8
  val SubstrMaxOcc = 64
  val SubstrPosBits = 20
  private val SubstrPosMod = 1L << SubstrPosBits
  /** Posting doc ids lie in [0, 2^43): doc_id·2^20 + pos then fits a long. */
  private val SubstrDocLimit = 1L << (63 - SubstrPosBits)

  /** EXACT duplicated-substring spans — the suffix-style "exact substr"
    * dedup of LLM-corpus practice (find every maximal run of ≥ k words
    * that also appears verbatim in another document), at word
    * granularity: one row per maximal duplicated span
    * `(doc_id, span_start, span_len)` in word offsets.
    *
    * Shape: a NARROW pass tokenizes and hashes every k-word window to a
    * 60-bit key carrying `doc_id·2^20 + pos` postings; ONE exchange
    * groups postings by window key under the bounded collect (buffers
    * capped at [[SubstrMaxOcc]] longs even under a boilerplate flood,
    * overflow ⇒ NULL ⇒ dropped — the [[graft.functions.BoundedCollectAgg]]
    * df-cut over the key's distinct (doc,pos) postings);
    * keys held by ≥ 2 distinct docs explode back to duplicated
    * positions; a per-doc window pass (exchange keyed by doc_id —
    * doc-sized partitions) merges overlapping/adjacent windows
    * (gap ≤ k) into maximal spans via the gaps-and-islands running sum.
    * No driver collect anywhere; every stage is bounded.
    *
    * Ref analog: the reference dedups at whole-artifact granularity via
    * content hashes (its span fixtures pin extraction, not dedup); this
    * operator is the corpus-curation sibling the north rule's
    * training-data pipeline needs (Lee et al. 2022's ExactSubstr,
    * re-expressed as two bounded exchanges instead of a suffix array).
    */
  def exactSubstrSpans(spark: SparkSession, docs: DataFrame,
                       k: Int = SubstrK, maxOcc: Int = SubstrMaxOcc): DataFrame = {
    import spark.implicits._
    // an id outside [0, 2^43) would wrap or land in another doc's
    // postings: fail the query, naming the id
    val postingDoc = when($"doc_id" < 0 || $"doc_id" >= SubstrDocLimit,
      raise_error(concat(lit("exactSubstrSpans: doc_id "), $"doc_id".cast("string"),
        lit(s" is outside [0, 2^${63 - SubstrPosBits})"))))
      .otherwise($"doc_id")
    val words = docs
      .select($"doc_id", split($"text", " ").as("ws"))
      .filter(size($"ws") >= k && size($"ws") < SubstrPosMod)
    val occ = words
      .select($"doc_id", $"ws", explode(expr(s"sequence(0, size(ws) - $k)")).as("p"))
      .select(
        Hashing.md5iCol(concat_ws(" ", expr(s"slice(ws, p + 1, $k)"))).as("key"),
        (postingDoc * SubstrPosMod + $"p").as("pk"))
    val dupPos = occ.groupBy($"key")
      .agg(graft.functions.BoundedCollectAgg.column($"pk", maxOcc).as("occs"))
      .filter($"occs".isNotNull && size($"occs") >= 2)
      .filter(expr(s"size(array_distinct(transform(occs, o -> o div $SubstrPosMod))) >= 2"))
      .select(explode($"occs").as("pk"))
      .select(expr(s"pk div $SubstrPosMod").as("doc_id"),
        expr(s"pk % $SubstrPosMod").as("p"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy($"doc_id").orderBy($"p")
    dupPos
      .withColumn("brk",
        when($"p" - lag($"p", 1).over(byDoc) <= k, lit(0L)).otherwise(lit(1L)))
      .withColumn("g", sum($"brk").over(
        byDoc.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy($"doc_id", $"g")
      .agg(min($"p").as("span_start"),
        (max($"p") + k - min($"p")).as("span_len"))
      .select($"doc_id", $"span_start", $"span_len")
  }

  /** The CURATION action over [[exactSubstrSpans]]: REMOVE every
    * duplicated span from the text (Lee et al. 2022's ExactSubstr cut),
    * emitting the cleaned document plus audit counts. Docs shorter than
    * k words (which cannot carry a window) pass through untouched.
    *
    * Shape: spans collapse to one compact array row per affected doc
    * (spans per doc are few and bounded — each consumes ≥ k distinct
    * word positions), then ONE left join back to the corpus on doc_id
    * and a codegen'd higher-order-function pass drops covered word
    * positions — no second tokenize-explode of the corpus, no window
    * re-pass, no driver collect.
    */
  def exactSubstrCut(spark: SparkSession, docs: DataFrame,
                     k: Int = SubstrK, maxOcc: Int = SubstrMaxOcc): DataFrame = {
    import spark.implicits._
    val spanArrs = exactSubstrSpans(spark, docs, k, maxOcc)
      .groupBy($"doc_id")
      .agg(collect_list(struct($"span_start", $"span_len")).as("spans"))
    docs.select($"doc_id", $"text")
      .join(spanArrs, Seq("doc_id"), "left")
      .select($"doc_id",
        split($"text", " ").as("ws"),
        coalesce($"spans", array().cast(
          "array<struct<span_start:bigint,span_len:bigint>>")).as("spans"))
      .select($"doc_id",
        expr("""concat_ws(' ', filter(ws, (w, i) ->
                 !exists(spans, sp ->
                   i >= sp.span_start AND i < sp.span_start + sp.span_len)))""")
          .as("clean_text"),
        size($"ws").cast("long").as("n_words"),
        expr("CAST(aggregate(spans, 0L, (a, sp) -> a + sp.span_len) AS BIGINT)")
          .as("cut_words"))
  }
}
