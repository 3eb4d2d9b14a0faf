package graft.gates

import graft.gates.Gate._
import graft.operators.{BpeOps, ClusterOps, CurateOps, DedupOps, MixOps, PackOps, SampleOps, SimilarityOps, TextOps}
import graft.plans.TopKPerKeyPlans.TopKPerKeyExtension
import org.apache.spark.sql.functions._

/** Text and dedup gates over the documents and embeddings tables:
  * tokenization and BPE, quality and language signals, corpus sketches,
  * curation, packing and mixing, near-duplicate detection, similarity
  * search, sampling and splits.
  */
object TextGates {

  /** Shared CTE chain of the ExactSubstr oracles (dedup_substr selects
    * spans straight off it; curate_substr extends it to rebuild the
    * cleaned text): tokenize, hash every k-word window, keep windows
    * with ≥2 distinct docs and ≤ SubstrMaxOcc postings, then merge
    * duplicated positions (gap ≤ k) into islands. One definition so the
    * two replays can never drift apart.
    */
  private lazy val substrSpanChainSql: String =
    s"""words AS (
       |  SELECT doc_id, string_split(text,' ') AS ws FROM documents
       |  WHERE len(string_split(text,' ')) >= ${DedupOps.SubstrK}
       |    AND len(string_split(text,' ')) < ${1L << DedupOps.SubstrPosBits}),
       |occ AS (
       |  SELECT w.doc_id, g.p,
       |    ${md5iSql(s"concat_ws(' ', list_slice(w.ws, g.p+1, g.p+${DedupOps.SubstrK}))")} AS key
       |  FROM words w,
       |    LATERAL (SELECT unnest(generate_series(0, len(w.ws)-${DedupOps.SubstrK})) AS p) g),
       |st AS (SELECT key, count(*) AS occs, count(DISTINCT doc_id) AS docs
       |       FROM occ GROUP BY key),
       |dup AS (SELECT o.doc_id, o.p FROM occ o JOIN st ON st.key = o.key
       |        WHERE st.docs >= 2 AND st.occs <= ${DedupOps.SubstrMaxOcc}),
       |isl AS (SELECT doc_id, p,
       |  CASE WHEN p - lag(p) OVER (PARTITION BY doc_id ORDER BY p)
       |         <= ${DedupOps.SubstrK} THEN 0 ELSE 1 END AS brk FROM dup),
       |grp AS (SELECT doc_id, p,
       |  sum(brk) OVER (PARTITION BY doc_id ORDER BY p) AS g FROM isl)""".stripMargin

  /** Each doc's distinct 3-word shingles from its word list `ws` (the
    * whole text when it is shorter). */
  private val shinglesSql =
    """list_distinct(
      |    CASE WHEN len(ws) >= 3
      |      THEN list_transform(generate_series(1, len(ws)-2),
      |             i -> array_to_string(list_slice(ws, i, i+2), ' '))
      |      ELSE [array_to_string(ws, ' ')] END)""".stripMargin

  /** Shingle sets `ds` and their 16-permutation minhash signatures `sig`. */
  private val minhashSigCtes =
    s"""ds AS (
       |  SELECT doc_id, $shinglesSql AS shs
       |  FROM (SELECT doc_id, string_split(text,' ') AS ws FROM documents)),
       |sig AS (
       |  SELECT doc_id, shs,
       |    list_transform(generate_series(0,15), k ->
       |      list_min(list_transform(shs, s ->
       |        ((${md5iSql("'a|' || k")} % 1000000006 + 1)
       |           * (${md5iSql("s")} % 1000000007)
       |         + ${md5iSql("'b|' || k")} % 1000000007) % 1000000007))) AS sig
       |  FROM ds)""".stripMargin

  /** Exact integer Jaccard (jacc_i / jacc_u) of each pair in `cand`. */
  private val jaccardSql =
    """SELECT doc_a, doc_b,
      |    len(list_intersect(a.shs, b.shs))::BIGINT AS jacc_i,
      |    (len(a.shs) + len(b.shs) - len(list_intersect(a.shs, b.shs)))::BIGINT AS jacc_u
      |  FROM cand JOIN ds a ON a.doc_id = cand.doc_a
      |            JOIN ds b ON b.doc_id = cand.doc_b""".stripMargin

  /** The verified minhash near-dup candidates: signatures → 4 band keys
    * → MaxBucket-capped candidate pairs (a flood bucket degrades to a
    * star on its min id) → exact integer Jaccard (`v`). */
  private val minhashPairCtes =
    s"""$minhashSigCtes,
       |bnd AS (
       |  SELECT doc_id,
       |    md5(sig[4*b+1] || ',' || sig[4*b+2] || ',' || sig[4*b+3] || ',' || sig[4*b+4]) AS bk
       |  FROM (SELECT doc_id, sig, unnest(generate_series(0,3)) AS b FROM sig)),
       |sz AS (SELECT bk, count(*) AS n, min(doc_id) AS rep FROM bnd GROUP BY bk),
       |cand AS (
       |  SELECT DISTINCT doc_a, doc_b FROM (
       |    SELECT x.doc_id AS doc_a, y.doc_id AS doc_b
       |    FROM bnd x JOIN bnd y ON x.bk = y.bk AND x.doc_id < y.doc_id
       |    JOIN sz ON sz.bk = x.bk
       |    WHERE sz.n <= ${DedupOps.MaxBucket}
       |    UNION ALL
       |    SELECT sz.rep AS doc_a, b.doc_id AS doc_b
       |    FROM bnd b JOIN sz ON sz.bk = b.bk
       |    WHERE sz.n > ${DedupOps.MaxBucket} AND b.doc_id <> sz.rep)),
       |v AS ($jaccardSql)""".stripMargin

  /** Min-label connected components over the verified minhash pairs
    * (Jaccard ≥ 0.7) by recursive transitive closure: `lab` maps each
    * near-dup doc to its cluster. Needs WITH RECURSIVE. */
  private val minhashClusterCtes =
    s"""$minhashPairCtes,
       |p AS (SELECT doc_a, doc_b FROM v WHERE jacc_i*10 >= jacc_u*7),
       |ew AS (SELECT doc_a AS eu, doc_b AS ev FROM p
       |       UNION SELECT doc_b, doc_a FROM p),
       |reach(n, r) AS (
       |  SELECT eu, eu FROM (SELECT DISTINCT eu FROM ew)
       |  UNION
       |  SELECT reach.n, ew.ev FROM reach JOIN ew ON ew.eu = reach.r),
       |lab AS (SELECT n AS doc_id, min(r)::BIGINT AS cluster FROM reach GROUP BY n)""".stripMargin

  /** Gopher-style quality per doc (`qs`): word count, mean word length
    * ×100, stop-word share ×10^4, punctuation count and the 0-100 score. */
  private val qualityCtes =
    s"""qc AS (
       |  SELECT doc_id, text, len(ws)::BIGINT AS n_words,
       |    list_sum(list_transform(ws, x -> len(x)))::BIGINT AS chars,
       |    len(list_filter(ws, x -> x IN (${TextOps.sqlInList(TextOps.QualityStop)})))::BIGINT AS n_stop
       |  FROM (SELECT doc_id, text, string_split(text,' ') AS ws FROM documents)),
       |qq AS (
       |  SELECT doc_id, n_words,
       |    CASE WHEN n_words > 0 THEN CAST(floor((100.0*chars)/n_words) AS BIGINT) ELSE 0 END AS mwl_q2,
       |    CASE WHEN n_words > 0 THEN CAST(floor((10000.0*n_stop)/n_words) AS BIGINT) ELSE 0 END AS stop_q4,
       |    (length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')))::BIGINT AS n_punct
       |  FROM qc),
       |qs AS (
       |  SELECT *,
       |    (CASE WHEN n_words BETWEEN 50 AND 5000 THEN 40 ELSE 10 END
       |     + CASE WHEN stop_q4 >= 200 THEN 30 ELSE 0 END
       |     + CASE WHEN mwl_q2 BETWEEN 250 AND 900 THEN 30 ELSE 0 END)::BIGINT AS score
       |  FROM qq)""".stripMargin

  /** Stop-word language id per doc (`lg`): hits per language and the
    * predicted language (ties by de, en, es, fr; no hits = und). */
  private val langCtes =
    s"""lc AS (
       |  SELECT doc_id,
       |    len(list_filter(ws, w -> w IN (${TextOps.sqlInList(TextOps.EnStop)})))::BIGINT AS c_en,
       |    len(list_filter(ws, w -> w IN (${TextOps.sqlInList(TextOps.EsStop)})))::BIGINT AS c_es,
       |    len(list_filter(ws, w -> w IN (${TextOps.sqlInList(TextOps.DeStop)})))::BIGINT AS c_de,
       |    len(list_filter(ws, w -> w IN (${TextOps.sqlInList(TextOps.FrStop)})))::BIGINT AS c_fr
       |  FROM (SELECT doc_id, string_split(text,' ') AS ws FROM documents)),
       |lg AS (
       |  SELECT *,
       |    CASE WHEN greatest(c_en,c_es,c_de,c_fr) = 0 THEN 'und'
       |         WHEN c_de = greatest(c_en,c_es,c_de,c_fr) THEN 'de'
       |         WHEN c_en = greatest(c_en,c_es,c_de,c_fr) THEN 'en'
       |         WHEN c_es = greatest(c_en,c_es,c_de,c_fr) THEN 'es'
       |         ELSE 'fr' END AS pred_lang
       |  FROM lc)""".stripMargin

  /** Shingle-index near-dup replay (Jaccard ≥ 0.3): per-source shingle
    * keys, shifted right by `bandBits` into bands for the banded variant
    * (whose cap counts distinct docs per band), keys with more than
    * MaxDf docs per band unit dropped, then exact Jaccard of every pair
    * sharing a kept key. */
  private def ngramPairsOracleSql(bandBits: Int): String =
    s"""WITH ds AS (
       |  SELECT doc_id, source, $shinglesSql AS shs
       |  FROM (SELECT doc_id, source, string_split(text,' ') AS ws FROM documents)),
       |inv AS (SELECT ${if (bandBits > 0) "DISTINCT " else ""}doc_id,
       |          ${md5iSql("source || '|' || s")}${if (bandBits > 0) s" // ${1 << bandBits}" else ""} AS k
       |        FROM (SELECT doc_id, source, unnest(shs) AS s FROM ds)),
       |dfc AS (SELECT k FROM inv GROUP BY k
       |        HAVING count(*) <= ${DedupOps.MaxDf << bandBits}),
       |kept AS (SELECT inv.doc_id, inv.k FROM inv JOIN dfc ON inv.k = dfc.k),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM kept a JOIN kept b
       |    ON a.k = b.k AND a.doc_id < b.doc_id)
       |SELECT * FROM ($jaccardSql)
       |WHERE jacc_i*10 >= jacc_u*3""".stripMargin

  /** Embeddings as integer thousandths `q`. */
  private[gates] val quantSql =
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)*1000) AS BIGINT))"

  /** The Planes-bit random-hyperplane sign sketch of a quantized `q`. */
  private val lshSketchSql =
    s"""list_reduce(
       |      list_transform(generate_series(0,${SimilarityOps.Planes - 1}), p ->
       |        CASE WHEN list_sum(list_transform(generate_series(1, len(q)),
       |               d -> (${md5iSql("p || '|' || (d-1)")} % 2001 - 1000) * q[d])) > 0
       |          THEN (1::BIGINT << p) ELSE 0::BIGINT END),
       |      (a,b) -> a | b)""".stripMargin

  /** Embedding near-dup replay: band keys (band b, its EmbBandBits sketch
    * slice xor each of `probes`, label), MaxBucket-capped candidate pairs
    * (a flood bucket degrades to a star on its min id), then exact
    * integer cosine ≥ 0.4. `probes` = 0 alone is plain banding. */
  private def embeddingPairsOracleSql(probes: Seq[Long]): String =
    s"""WITH n AS (
       |  SELECT vec_id, label, q, list_sum(list_transform(q, x -> x*x))::BIGINT AS nsq,
       |    $lshSketchSql AS sketch
       |  FROM (SELECT vec_id, label, $quantSql AS q FROM embeddings)),
       |bnd AS (
       |  SELECT vec_id,
       |    b || '|' || xor((sketch >> (b * ${DedupOps.EmbBandBits})) % ${1 << DedupOps.EmbBandBits}, m)
       |      || '|' || label AS bk
       |  FROM (SELECT vec_id, label, sketch, b, unnest([${probes.mkString(", ")}]) AS m
       |        FROM (SELECT vec_id, label, sketch,
       |                unnest(generate_series(0, ${DedupOps.EmbBands - 1})) AS b FROM n))),
       |sz AS (SELECT bk, count(*) AS nb2, min(vec_id) AS rep FROM bnd GROUP BY bk),
       |cand AS (
       |  SELECT DISTINCT vec_a, vec_b FROM (
       |    SELECT x.vec_id AS vec_a, y.vec_id AS vec_b
       |    FROM bnd x JOIN bnd y ON x.bk = y.bk AND x.vec_id < y.vec_id
       |    JOIN sz ON sz.bk = x.bk
       |    WHERE sz.nb2 <= ${DedupOps.MaxBucket}
       |    UNION ALL
       |    SELECT sz.rep AS vec_a, b.vec_id AS vec_b
       |    FROM bnd b JOIN sz ON sz.bk = b.bk
       |    WHERE sz.nb2 > ${DedupOps.MaxBucket} AND b.vec_id <> sz.rep))
       |SELECT * FROM (
       |  SELECT vec_a, vec_b,
       |    list_sum(list_transform(generate_series(1, len(a.q)), i -> a.q[i]*b.q[i]))::BIGINT AS dot,
       |    a.nsq AS na, b.nsq AS nb
       |  FROM cand JOIN n a ON a.vec_id = cand.vec_a
       |            JOIN n b ON b.vec_id = cand.vec_b)
       |WHERE dot > 0 AND 25*dot*dot >= 4*na*nb""".stripMargin

  val all: Seq[Gate] = Seq(
    Gate("ta_tokens", (s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .select($"doc_id",
          size(split($"text", " ")).cast("long").as("n_tokens"),
          length($"text").cast("long").as("n_chars_q"))
    },
      """SELECT doc_id, len(string_split(text,' '))::BIGINT AS n_tokens,
        |       length(text)::BIGINT AS n_chars_q
        |FROM documents""".stripMargin),

    Gate("dedup_exact", (s, dir) => {
      import s.implicits._
      t(s, dir, "documents")
        .groupBy(md5($"text").as("fp"))
        .agg(count(lit(1)).as("n"), min($"doc_id").as("keep_id"))
        .agg(count(lit(1)).as("n_unique"),
             sum($"n" - 1).cast("long").as("n_dup_rows"))
    },
      """WITH g AS (
        |  SELECT md5(text) AS fp, count(*) AS n, min(doc_id) AS keep_id
        |  FROM documents GROUP BY 1)
        |SELECT count(*)::BIGINT AS n_unique, sum(n - 1)::BIGINT AS n_dup_rows FROM g""".stripMargin),

    // (renamed from ta_bpe: this is regex tokenization counts, not BPE —
    // the real BPE surfaces are tok_bpe / tok_bpe_learn below)
    Gate("ta_tokens_re", (s, dir) => TextOps.tokenCounts(t(s, dir, "documents")),
      s"""SELECT doc_id, len(string_split(text,' '))::BIGINT AS n_tokens_ws,
         |  len(regexp_extract_all(text, '${TextOps.TokenRegex}'))::BIGINT AS n_tokens_re
         |FROM documents""".stripMargin),

    // Real BPE, fixture ranks (tokenizer.json analog — ref
    // cli/app.rs:80-85): broadcast merge table learned at build time
    // from the fixed spec seed, greedy rank-order encode in one narrow
    // scan with a per-partition word memo. The oracle replays the merge
    // loop EXACTLY (rank-ordered replace chain over a separator-marked
    // segmentation) and hash-gates the exact id sequences via the
    // order-sensitive fingerprint plus the lossless decode flag.
    Gate("tok_bpe", overDocs(BpeOps.encodeDocs),
      s"""WITH seg AS (
         |  SELECT doc_id, ${BpeOps.segSql("text")} AS s
         |  FROM documents),
         |toks AS (
         |  SELECT doc_id, ${BpeOps.toksSql("s")} AS ts
         |  FROM seg)
         |SELECT printf('d%010d', doc_id) AS doc_id,
         |  len(ts)::BIGINT AS n_tokens,
         |  list_reduce(
         |    list_prepend(CAST(0 AS BIGINT),
         |      list_transform(ts, t -> CAST(${BpeOps.vocabCaseSql("t")} AS BIGINT))),
         |    (a, x) -> (a * 31 + (x + 1000000007)) % 1000000007) AS fp,
         |  1::BIGINT AS exact
         |FROM toks""".stripMargin),

    // Real BPE, corpus-learned ranks: merge table learned from the
    // corpus's own bounded top-V word-frequency table (a collect
    // bounded by V — dictionary-scale), broadcast, applied identically.
    // The oracle RE-LEARNS the merges from the documents table in SQL
    // (32 unrolled iterations — BpeOps.learnOracleSql) and hash-gates
    // the exact order-sensitive id fingerprints AND per-doc lossless
    // decode∘encode identity; the learned table is also pinned by BpeSpec.
    Gate("tok_bpe_learn", overDocs(BpeOps.learnAndEncode),
      BpeOps.learnOracleSql),

    Gate("ta_quality", (s, dir) => TextOps.quality(t(s, dir, "documents")),
      s"""WITH $qualityCtes
         |SELECT doc_id, n_words, mwl_q2, stop_q4, n_punct, score FROM qs""".stripMargin),

    Gate("ta_langid", (s, dir) => TextOps.langId(t(s, dir, "documents")),
      s"WITH $langCtes\nSELECT * FROM lg"),

    Gate("ta_fingerprint", (s, dir) => TextOps.fingerprint(t(s, dir, "documents")),
      s"""SELECT doc_id,
         |  list_reduce(
         |    list_transform(string_split(text,' '), w -> ${md5iSql("w")} % 1000000007),
         |    (a,b) -> (a*31+b) % 1000000007)::BIGINT AS fp
         |FROM documents""".stripMargin),

    // KMV distinct-count sketch: per-source vocabulary cardinality where
    // the exchange carries <= k longs per source, not the token stream.
    Gate("corpus_vocab_kmv", (s, dir) => TextOps.vocabKmv(t(s, dir, "documents")),
      s"""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
         |h AS (SELECT DISTINCT source, ${md5iSql("w")} % ${TextOps.KmvSpace} AS hv FROM tok),
         |r AS (SELECT source, hv,
         |        row_number() OVER (PARTITION BY source ORDER BY hv) AS rn FROM h),
         |a AS (SELECT source, count(*)::BIGINT AS k_used, max(hv)::BIGINT AS kth
         |      FROM r WHERE rn <= 16 GROUP BY source)
         |SELECT source, k_used, kth,
         |  (CASE WHEN k_used < 16 THEN k_used
         |        WHEN kth > 0 THEN ${15L * TextOps.KmvSpace} // kth
         |        ELSE 0 END)::BIGINT AS est
         |FROM a""".stripMargin),

    // HyperLogLog register sketch per source: constant 256-byte partial
    // state below ONE exchange regardless of group size (KMV's
    // complement — holds its error at any cardinality). Registers,
    // fingerprint, and the integer HLL estimate are all replayed
    // bit-for-bit by the oracle from the shared md5i hash.
    // HLL register replay: bucket = h mod 256, payload w = h div 256,
    // rho = trailing zeros + 1 via an exact mod-2^r CASE chain (w = 0 →
    // 53); max per (source, bucket) over a dense 256-bucket grid, then
    // the same integer fingerprint / Z-sum / rational-alpha estimate.
    Gate("corpus_vocab_hll", (s, dir) => TextOps.vocabHll(t(s, dir, "documents")),
      s"""WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS w FROM documents),
         |h AS (SELECT source, ${md5iSql("w")} AS hv FROM tok),
         |b AS (SELECT source, hv % 256 AS bucket, hv // 256 AS wv FROM h),
         |r AS (SELECT source, bucket,
         |        max(CASE WHEN wv = 0 THEN 53 ${(1 to 52).map(rr =>
                    s"WHEN wv % ${1L << rr} = ${1L << (rr - 1)} THEN $rr").mkString(" ")}
         |            ELSE 53 END) AS rho
         |      FROM b GROUP BY source, bucket),
         |srcs AS (SELECT DISTINCT source FROM documents),
         |grid AS (SELECT s.source, g.bucket
         |         FROM srcs s CROSS JOIN (SELECT unnest(generate_series(0, 255)) AS bucket) g),
         |regs AS (SELECT g.source, g.bucket, coalesce(r.rho, 0) AS rho
         |         FROM grid g LEFT JOIN r ON r.source = g.source AND r.bucket = g.bucket),
         |a AS (SELECT source,
         |        CAST(count(*) FILTER (WHERE rho > 0) AS BIGINT) AS nonzero,
         |        CAST(sum((bucket + 1) * (rho*rho*31 + rho + 7)) % 1000000007 AS BIGINT) AS reg_fp,
         |        CAST(sum(1::BIGINT << (53 - rho)) % 1000000007 AS BIGINT) AS z_mod,
         |        CAST(sum(1::BIGINT << (53 - rho)) AS HUGEINT) AS zsum
         |      FROM regs GROUP BY source)
         |SELECT source, nonzero, reg_fp, z_mod,
         |  CAST((1846528000::HUGEINT * 65536 * 9007199254740992::HUGEINT)
         |       // (2570790000::HUGEINT * zsum) AS BIGINT) AS est
         |FROM a""".stripMargin),

    // Gopher-style duplicate-2-gram stats: in-row sort+fold, zero exchanges.
    Gate("ta_repetition", (s, dir) => CurateOps.repetition(t(s, dir, "documents")),
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |g AS (SELECT doc_id,
        |  CASE WHEN len(ws) >= 2
        |    THEN list_transform(generate_series(1, len(ws)-1), i -> ws[i] || ' ' || ws[i+1])
        |    ELSE [] END AS g2 FROM w),
        |x AS (SELECT doc_id, unnest(g2) AS gram FROM g),
        |c AS (SELECT doc_id, gram, count(*)::BIGINT AS cnt FROM x GROUP BY doc_id, gram),
        |s AS (SELECT doc_id, count(*)::BIGINT AS d2, max(cnt)::BIGINT AS top2,
        |        CAST(sum(cnt) AS BIGINT) AS n2 FROM c GROUP BY doc_id)
        |SELECT g.doc_id, coalesce(s.n2, 0)::BIGINT AS n2,
        |  coalesce(s.d2, 0)::BIGINT AS d2, coalesce(s.top2, 0)::BIGINT AS top2,
        |  (CASE WHEN coalesce(s.n2, 0) > 0 THEN (10000*(s.n2 - s.d2)) // s.n2
        |        ELSE 0 END)::BIGINT AS rep_q4
        |FROM g LEFT JOIN s ON s.doc_id = g.doc_id""".stripMargin),

    // Deterministic PII injection + redaction; oracle re-verifies the exact
    // scrubbed bytes via md5, not just the match counts.
    Gate("pii_scrub", (s, dir) => CurateOps.piiScrub(t(s, dir, "documents")),
      s"""WITH a AS (
         |  SELECT doc_id, CASE WHEN doc_id % 3 = 0
         |    THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
         |         || '@mail.example.com or call 555-0'
         |         || CAST(doc_id % 100 AS VARCHAR) || ' now'
         |    ELSE text END AS aug
         |  FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(aug, '${CurateOps.EmailRe}'))::BIGINT AS n_email,
         |  len(regexp_extract_all(aug, '${CurateOps.PhoneRe}'))::BIGINT AS n_phone,
         |  md5(regexp_replace(regexp_replace(aug, '${CurateOps.EmailRe}', '<EMAIL>', 'g'),
         |      '${CurateOps.PhoneRe}', '<PHONE>', 'g')) AS scrub_md5
         |FROM a""".stripMargin),

    // Per-source cap on the TopKPerKey native rank-filter shape.
    Gate("curate_src_cap", (s, dir) => {
      TopKPerKeyExtension.install(s)
      CurateOps.sourceCap(t(s, dir, "documents"), cap = 20)
    },
      """SELECT source, doc_id, n_chars, rnk FROM (
        |  SELECT source, doc_id, n_chars,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rnk
        |  FROM documents)
        |WHERE rnk <= 20""".stripMargin),

    // End-to-end keep/drop: quality >= 70 x lang = en x drop non-rep dup
    // cluster members x per-source cap 15 — one declarative plan.
    Gate("curate_pipeline", (s, dir) => {
      TopKPerKeyExtension.install(s)
      CurateOps.curate(s, t(s, dir, "documents"))
    },
      s"""WITH RECURSIVE $minhashClusterCtes,
         |$qualityCtes,
         |$langCtes,
         |kept AS (
         |  SELECT d.doc_id, d.source, qs.score FROM documents d
         |  JOIN qs ON qs.doc_id = d.doc_id
         |  JOIN lg ON lg.doc_id = d.doc_id
         |  WHERE qs.score >= 70 AND lg.pred_lang = 'en'
         |    AND d.doc_id NOT IN (SELECT doc_id FROM lab WHERE doc_id <> cluster))
         |SELECT doc_id, source, score, rnk FROM (
         |  SELECT doc_id, source, score,
         |    CAST(row_number() OVER (PARTITION BY source
         |      ORDER BY score DESC, doc_id) AS BIGINT) AS rnk
         |  FROM kept)
         |WHERE rnk <= 15""".stripMargin),

    // Sequence packing (concat-and-chunk): per-source token streams cut
    // into 256-token training windows via a DISTRIBUTED two-pass prefix
    // sum (per-partition totals + broadcast offsets) — never a
    // per-source window funnel. Oracle uses the window formulation.
    Gate("pack_chunks", overDocs(PackOps.packChunks(_, _)),
      s"""SELECT doc_id, source, toks, start_tok,
         |  (start_tok // ${PackOps.Capacity})::BIGINT AS chunk_first,
         |  ((start_tok + toks - 1) // ${PackOps.Capacity})::BIGINT AS chunk_last,
         |  ((start_tok + toks - 1) // ${PackOps.Capacity}
         |    - start_tok // ${PackOps.Capacity} + 1)::BIGINT AS n_chunks
         |FROM (
         |  SELECT doc_id, source, toks,
         |    coalesce(sum(toks) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start_tok
         |  FROM (SELECT doc_id, source,
         |          len(string_split(text, ' '))::BIGINT AS toks
         |        FROM documents))""".stripMargin),

    // Token-budget corpus mixing: per-source quota sampling in a
    // deterministic md5i order, running total via the same distributed
    // prefix-sum scan (PrefixSum.exclusive) as pack_chunks.
    Gate("mix_budget", overDocs(MixOps.tokenBudget(_, _)),
      s"""SELECT doc_id, source, toks, start_tok,
         |  (CASE WHEN start_tok + toks <= ${MixOps.BudgetPerSource}
         |        THEN 1 ELSE 0 END)::BIGINT AS kept
         |FROM (
         |  SELECT doc_id, source, toks,
         |    coalesce(sum(toks) OVER (PARTITION BY source ORDER BY ord, doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS start_tok
         |  FROM (SELECT doc_id, source,
         |          ${md5iSql("'mx|' || doc_id")} AS ord,
         |          len(string_split(text, ' '))::BIGINT AS toks
         |        FROM documents))""".stripMargin),

    Gate("dedup_minhash", overDocs(DedupOps.minhashPairs(_, _)),
      s"""WITH $minhashPairCtes
         |SELECT doc_a, doc_b, jacc_i, jacc_u FROM v WHERE jacc_i*10 >= jacc_u*7""".stripMargin),

    Gate("dedup_simhash", overDocs(DedupOps.simhashDf),
      s"""SELECT doc_id,
         |  list_reduce(
         |    list_transform(generate_series(0,${DedupOps.SimBits - 1}), j ->
         |      CASE WHEN list_sum(list_transform(hs,
         |             h -> CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END)) > 0
         |        THEN (1::BIGINT << j) ELSE 0::BIGINT END),
         |    (a,b) -> a | b) AS simhash
         |FROM (SELECT doc_id,
         |        list_transform(list_distinct(string_split(text,' ')),
         |                       w -> ${md5iSql("w")}) AS hs
         |      FROM documents)""".stripMargin),

    Gate("dedup_ngram", overDocs(DedupOps.ngramJaccardPairs(_, _)),
      ngramPairsOracleSql(bandBits = 0)),

    // banded candidate stage (8× fewer reduce groups, in-buffer doc
    // dedup, band-granular viral cut — ~20% faster measured; see
    // DedupOps.ngramJaccardPairs' bandBits)
    // band-granular replay: bands = shingle key >> BandBits, the cap
    // counts DISTINCT docs per band (the engine's in-buffer set dedup)
    Gate("dedup_ngram_banded",
      overDocs(DedupOps.ngramJaccardPairs(_, _, bandBits = DedupOps.BandBits)),
      ngramPairsOracleSql(DedupOps.BandBits)),

    // ExactSubstr dedup (Lee et al. 2022): every maximal ≥8-word run
    // that appears verbatim in ≥2 docs, as (doc_id, span_start,
    // span_len) word-offset spans — windowed key postings through ONE
    // bounded-collect exchange, gaps-and-islands merge per doc (see
    // DedupOps.exactSubstrSpans).
    // ExactSubstr replay: hash every k-word window, keep keys with ≥2
    // distinct docs and ≤ SubstrMaxOcc total postings (the engine's
    // bounded-collect viral cut), merge overlapping/adjacent duplicated
    // positions (gap ≤ k) into maximal spans via gaps-and-islands.
    Gate("dedup_substr", overDocs(DedupOps.exactSubstrSpans(_, _)),
      s"""WITH $substrSpanChainSql
         |SELECT doc_id::BIGINT AS doc_id, min(p)::BIGINT AS span_start,
         |  (max(p) + ${DedupOps.SubstrK} - min(p))::BIGINT AS span_len
         |FROM grp GROUP BY doc_id, g""".stripMargin),

    // The curation ACTION over those spans: cut every duplicated run
    // out of the text (one compact span-array join + a codegen'd HOF
    // pass — no re-tokenize of the corpus; see DedupOps.exactSubstrCut).
    // ExactSubstr CUT replay: the same span chain, then every covered
    // word position is dropped and the remainder re-joined with single
    // spaces; docs with no spans (or too short to window) pass through.
    Gate("curate_substr", overDocs(DedupOps.exactSubstrCut(_, _)),
      s"""WITH $substrSpanChainSql,
         |spansq AS (SELECT doc_id, min(p) AS s,
         |  max(p) + ${DedupOps.SubstrK} - min(p) AS l FROM grp GROUP BY doc_id, g),
         |docw AS (SELECT doc_id, string_split(text,' ') AS ws FROM documents),
         |pos AS (SELECT d.doc_id, g.i, d.ws[g.i+1] AS w FROM docw d,
         |  LATERAL (SELECT unnest(generate_series(0, len(d.ws)-1)) AS i) g),
         |keep AS (SELECT p.doc_id, p.i, p.w FROM pos p
         |  WHERE NOT EXISTS (SELECT 1 FROM spansq s WHERE s.doc_id = p.doc_id
         |    AND p.i >= s.s AND p.i < s.s + s.l))
         |SELECT d.doc_id::BIGINT AS doc_id,
         |  coalesce(kc.txt, '') AS clean_text,
         |  len(d.ws)::BIGINT AS n_words,
         |  coalesce(sc.cut, 0)::BIGINT AS cut_words
         |FROM docw d
         |LEFT JOIN (SELECT doc_id, string_agg(w, ' ' ORDER BY i) AS txt
         |           FROM keep GROUP BY doc_id) kc ON kc.doc_id = d.doc_id
         |LEFT JOIN (SELECT doc_id, sum(l) AS cut FROM spansq GROUP BY doc_id) sc
         |  ON sc.doc_id = d.doc_id""".stripMargin),

    Gate("dedup_embedding", (s, dir) =>
      DedupOps.embeddingNearDupPairs(s, t(s, dir, "embeddings")),
      embeddingPairsOracleSql(Seq(0L))),

    // Multiprobe LSH: each band also probes its Hamming-1 neighbor
    // values, recovering near-threshold pairs banding misses; exact
    // cosine verification unchanged (extra probes add recall only).
    Gate("dedup_embedding_mp", (s, dir) =>
      DedupOps.embeddingNearDupPairs(s, t(s, dir, "embeddings"), DedupOps.EmbProbes),
      embeddingPairsOracleSql(DedupOps.EmbProbes)),

    // Incremental dedup over a REAL 3-micro-batch ingestion: each batch's
    // band keys meet per-bucket state in Spark's state store (count, rep,
    // first ≤ cap members; never a history re-scan), flood tails degrade
    // to a representative star under the streaming prefix cap. The
    // oracle replays arrival-order (= doc_id-order) prefix semantics.
    Gate("dedup_stream", overDocs(graft.streaming.StreamDedup.streamingMinhashPairs(_, _)),
      s"""WITH $minhashSigCtes,
         |bnd AS (
         |  SELECT doc_id,
         |    md5(sig[4*b+1] || ',' || sig[4*b+2] || ',' || sig[4*b+3] || ',' || sig[4*b+4]) AS bk
         |  FROM (SELECT doc_id, sig, unnest(generate_series(0,3)) AS b FROM sig)),
         |pos AS (
         |  SELECT bk, doc_id,
         |    row_number() OVER (PARTITION BY bk ORDER BY doc_id) AS p,
         |    min(doc_id) OVER (PARTITION BY bk) AS rep
         |  FROM bnd),
         |cand AS (
         |  SELECT DISTINCT doc_a, doc_b FROM (
         |    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |    FROM pos a JOIN pos b ON a.bk = b.bk AND a.doc_id < b.doc_id
         |    WHERE b.p <= ${DedupOps.MaxBucket}
         |    UNION ALL
         |    SELECT rep AS doc_a, doc_id AS doc_b FROM pos
         |    WHERE p > ${DedupOps.MaxBucket})),
         |v AS ($jaccardSql)
         |SELECT doc_a, doc_b, jacc_i, jacc_u FROM v WHERE jacc_i*10 >= jacc_u*7""".stripMargin),

    // Connected components over the verified minhash pairs (alternating
    // large-star/small-star): the actionable dedup output — one cluster
    // label + size per near-dup doc. Oracle replays it as a recursive-CTE
    // transitive closure with min-label components.
    Gate("dedup_clusters", overDocs(ClusterOps.minhashClusters),
      s"""WITH RECURSIVE $minhashClusterCtes
         |SELECT doc_id, cluster,
         |  (count(*) OVER (PARTITION BY cluster))::BIGINT AS csize
         |FROM lab""".stripMargin),

    Gate("ann_topk", (s, dir) => {
      TopKPerKeyExtension.install(s)
      SimilarityOps.bruteForceTopK(s, t(s, dir, "embeddings"), nQueries = 8, k = 5)
        .withColumnRenamed("rank", "rnk")
    },
      s"""WITH n AS (
         |  SELECT vec_id, q, list_sum(list_transform(q, x -> x*x))::BIGINT AS nsq
         |  FROM (SELECT vec_id, $quantSql AS q FROM embeddings)),
         |qs AS (SELECT vec_id AS query_id, q AS qv, nsq AS na FROM n WHERE vec_id < 8),
         |p AS (
         |  SELECT query_id, n.vec_id AS neighbor_id,
         |    list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i]*n.q[i]))::BIGINT AS dot,
         |    na, n.nsq AS nb
         |  FROM qs, n WHERE n.vec_id <> qs.query_id),
         |r AS (
         |  SELECT query_id, neighbor_id, dot, na, nb,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY (CAST(dot AS DOUBLE)/sqrt(CAST(na AS DOUBLE)*nb)) DESC, neighbor_id) AS rnk
         |  FROM p)
         |SELECT query_id, neighbor_id, rnk::BIGINT AS rnk, dot, na, nb FROM r WHERE rnk <= 5""".stripMargin),

    Gate("ann_lsh_sketch", (s, dir) => SimilarityOps.lshSketch(s, t(s, dir, "embeddings")),
      s"""SELECT vec_id, $lshSketchSql AS sketch
         |FROM (SELECT vec_id, $quantSql AS q FROM embeddings)""".stripMargin),

    // IVF coarse-quantizer scale path: 16 cells, one integer-exact Lloyd
    // step, 4-cell probe funnel — the oracle replays build+probe+rank.
    Gate("ann_ivf", (s, dir) => {
      TopKPerKeyExtension.install(s)
      SimilarityOps.ivfTopK(s, t(s, dir, "embeddings"), nCentroids = 16,
          nProbe = 4, nQueries = 8, k = 5)
          .withColumnRenamed("rank", "rnk")
    },
      s"""WITH nn AS (
         |  SELECT vec_id, q, list_sum(list_transform(q, x -> x*x))::BIGINT AS nsq
         |  FROM (SELECT vec_id, $quantSql AS q FROM embeddings)),
         |seeds AS (SELECT vec_id AS cell, q AS cv, nsq AS nc FROM nn WHERE vec_id < 16),
         |a0 AS (
         |  SELECT vec_id, q, cell FROM (
         |    SELECT nn.vec_id, nn.q, s.cell,
         |      row_number() OVER (PARTITION BY nn.vec_id ORDER BY
         |        nn.nsq - 2*list_sum(list_transform(generate_series(1, len(nn.q)), i -> nn.q[i]*s.cv[i]))::BIGINT + s.nc ASC,
         |        s.cell ASC) AS rn
         |    FROM nn CROSS JOIN seeds s) WHERE rn = 1),
         |dimmean AS (
         |  SELECT cell, d, CAST(floor(CAST(sum(v) AS DOUBLE)/count(*)) AS BIGINT) AS m
         |  FROM (SELECT cell, unnest(generate_series(1, len(q))) AS d, unnest(q) AS v FROM a0)
         |  GROUP BY cell, d),
         |upd AS (
         |  SELECT cell, cv, list_sum(list_transform(cv, x -> x*x))::BIGINT AS nc FROM (
         |    SELECT cell, list(m ORDER BY d) AS cv FROM dimmean GROUP BY cell)),
         |cells AS (
         |  SELECT vec_id, q, nsq, cell FROM (
         |    SELECT nn.vec_id, nn.q, nn.nsq, u.cell,
         |      row_number() OVER (PARTITION BY nn.vec_id ORDER BY
         |        nn.nsq - 2*list_sum(list_transform(generate_series(1, len(nn.q)), i -> nn.q[i]*u.cv[i]))::BIGINT + u.nc ASC,
         |        u.cell ASC) AS rn
         |    FROM nn CROSS JOIN upd u) WHERE rn = 1),
         |probes AS (
         |  SELECT query_id, cell, qv, na FROM (
         |    SELECT s.vec_id AS query_id, u.cell, s.q AS qv, s.nsq AS na,
         |      row_number() OVER (PARTITION BY s.vec_id ORDER BY
         |        s.nsq - 2*list_sum(list_transform(generate_series(1, len(s.q)), i -> s.q[i]*u.cv[i]))::BIGINT + u.nc ASC,
         |        u.cell ASC) AS rn
         |    FROM (SELECT * FROM nn WHERE vec_id < 8) s CROSS JOIN upd u) WHERE rn <= 4),
         |cand AS (
         |  SELECT p.query_id, c.vec_id AS neighbor_id,
         |    list_sum(list_transform(generate_series(1, len(p.qv)), i -> p.qv[i]*c.q[i]))::BIGINT AS dot,
         |    p.na, c.nsq AS nb
         |  FROM probes p JOIN cells c ON c.cell = p.cell AND c.vec_id <> p.query_id),
         |r AS (
         |  SELECT query_id, neighbor_id, dot, na, nb,
         |    row_number() OVER (PARTITION BY query_id ORDER BY
         |      (CAST(dot AS DOUBLE)/sqrt(CAST(na AS DOUBLE)*nb)) DESC, neighbor_id) AS rnk
         |  FROM cand)
         |SELECT query_id, neighbor_id, rnk::BIGINT AS rnk, dot, na, nb FROM r WHERE rnk <= 5""".stripMargin),

    Gate("sample_stratified", (s, dir) =>
      SampleOps.sampleStats(t(s, dir, "documents"), "source", pct = 10),
      s"""SELECT source, count(*)::BIGINT AS n_total,
         |  CAST(sum(CASE WHEN ${md5iSql("'sample|' || source || '|' || CAST(doc_id AS VARCHAR)")} % 100 < 10
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
         |FROM documents GROUP BY source""".stripMargin),

    Gate("split_assign", (s, dir) =>
      SampleOps.splitStats(t(s, dir, "documents"), "lang"),
      s"""SELECT lang,
         |  CASE WHEN g < 80 THEN 'train' WHEN g < 90 THEN 'val' ELSE 'test' END AS split,
         |  count(*)::BIGINT AS n
         |FROM (SELECT lang, ${md5iSql("'split|' || CAST(doc_id AS VARCHAR)")} % 100 AS g
         |      FROM documents)
         |GROUP BY 1, 2""".stripMargin),

    // Integer-exact A-ES-style weighted sample (k per source, weight =
    // n_chars) on the native TopKPerKey rank-filter shape.
    Gate("sample_weighted", (s, dir) =>
      SampleOps.weightedSample(t(s, dir, "documents"), k = 10),
      s"""WITH p AS (
         |  SELECT source, doc_id,
         |    ${md5iSql("'ws|' || CAST(doc_id AS VARCHAR)")}
         |      // greatest(n_chars, 1) AS prio
         |  FROM documents),
         |r AS (
         |  SELECT source, doc_id, prio,
         |    row_number() OVER (PARTITION BY source ORDER BY prio, doc_id) AS rnk
         |  FROM p)
         |SELECT source, doc_id, CAST(prio AS BIGINT) AS prio,
         |  CAST(rnk AS BIGINT) AS rnk
         |FROM r WHERE rnk <= 10""".stripMargin),
  )
}
