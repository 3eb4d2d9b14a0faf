package graft.gates

import graft.extract.Decoder
import graft.functions.Hashing
import graft.gates.Gate._
import graft.gates.TextGates.quantSql
import graft.operators.{RouteOps, TextOps, TokenOps, WindowPartition}

/** Decode-side gates: token-stream build and dictionary tokenization
  * (tok_*), expert routing (moe_*), greedy decoding (dec_*), window
  * partitioning, layered config, stage parity and chat rendering — each
  * replayed in closed form from the documents or embeddings table.
  */
object DecodeGates {

  /** Image slots per doc: the derivation's figures (ids % 2 and % 4). */
  private val slotsSql =
    """(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END
      |         + CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END)""".stripMargin

  /** A doc's token-stream length: 11 framing tokens, its words, 9 table
    * tokens on ids % 3 = 0 and 111 vision tokens per image slot. */
  private def streamTokensSql(slots: String): String =
    s"""(11 + len(string_split(text,' '))
       |     + CASE WHEN doc_id % 3 = 0 THEN 9 ELSE 0 END
       |     + 111*$slots)""".stripMargin

  /** The dictionary tokenizer: vocab `v` = the DictSize most frequent
    * words (count desc, word), id = rank; `tokw` = every word position. */
  private val dictCtes =
    s"""cnt AS (
       |  SELECT word, count(*) AS c
       |  FROM (SELECT unnest(string_split(text,' ')) AS word FROM documents)
       |  GROUP BY word),
       |v AS (
       |  SELECT word, row_number() OVER (ORDER BY c DESC, word) - 1 AS vid
       |  FROM cnt ORDER BY c DESC, word LIMIT ${TokenOps.DictSize}),
       |tokw AS (
       |  SELECT d.doc_id, g.i, d.ws[g.i] AS word
       |  FROM (SELECT doc_id, string_split(text,' ') AS ws FROM documents) d,
       |       LATERAL (SELECT unnest(generate_series(1, len(d.ws))) AS i) g)""".stripMargin

  /** Top-2 expert routing: expert i scores the vector's i-th quantized
    * component; `r` ranks experts per vector (score desc, index). */
  private val routeCtes =
    s"""q AS (SELECT vec_id, $quantSql AS qv FROM embeddings),
       |e AS (
       |  SELECT vec_id, i - 1 AS expert_idx, qv[i] AS score
       |  FROM (SELECT vec_id, qv, unnest(generate_series(1, 8)) AS i FROM q)),
       |r AS (
       |  SELECT vec_id, expert_idx, score,
       |    CAST(row_number() OVER (PARTITION BY vec_id
       |      ORDER BY score DESC, expert_idx) AS BIGINT) AS rnk
       |  FROM e)""".stripMargin

  /** Token scores at the next position of `seq`: md5i("salt|doc|pos|t")
    * for every token t below `vocab`. */
  private def scores(salt: String, id: Long, vocab: Int)(seq: Seq[Long]): Seq[(Long, Double)] =
    (0 until vocab).map(t => (t.toLong, Hashing.md5i(s"$salt|$id|${seq.length}|$t").toDouble))

  /** A decode's gated row: (doc_id, n_gen, stopped, steps, gen_sum). */
  private def decodeRow(id: Long, r: Decoder.DecodeResult) =
    (id, r.generated.length.toLong, if (r.stoppedByEos) 1L else 0L,
      r.steps.toLong, r.generated.sum)
  private val DecodeCols = Seq("doc_id", "n_gen", "stopped", "steps", "gen_sum")

  val all: Seq[Gate] = Seq(
    Gate("tok_stream", (s, dir) => TokenOps.tokenAccounting(s, dir),
      s"""SELECT printf('d%010d', doc_id) AS doc_id,
         |  ${streamTokensSql("slots")}::BIGINT AS n_tokens,
         |  slots::BIGINT AS n_image_slots,
         |  (111*slots)::BIGINT AS n_mask_ones,
         |  (111*slots)::BIGINT AS vision_token_total
         |FROM (SELECT doc_id, text, $slotsSql AS slots FROM documents)""".stripMargin),

    // P6 validity: text-word hashes are 60-bit (valid-u32 tail ≈ 2^-28);
    // every 111-token placeholder block is id -1 → dropped
    Gate("tok_valid", (s, dir) => TokenOps.tokenValidity(s, dir),
      s"""SELECT doc_id,
         |  (len(ws) + 111*slots)::BIGINT AS n_ids,
         |  len(list_filter(list_transform(ws, w -> ${md5iSql("w")}),
         |      h -> h < 4294967296))::BIGINT AS n_valid_u32,
         |  (len(ws) + 111*slots
         |   - len(list_filter(list_transform(ws, w -> ${md5iSql("w")}),
         |         h -> h < 4294967296)))::BIGINT AS n_dropped
         |FROM (SELECT doc_id, string_split(text,' ') AS ws, $slotsSql AS slots FROM documents)""".stripMargin),

    // S6 dictionary tokenizer: vocab = top-16 words by (count desc, word),
    // id = rank-1; OOV bucket id 16; fp = order-sensitive poly fold
    Gate("tok_dict", overDocs(TokenOps.dictTokenize(_, _)),
      s"""WITH $dictCtes,
         |tok AS (
         |  SELECT t.doc_id, t.i,
         |    coalesce(v.vid, ${TokenOps.DictSize}) AS tid
         |  FROM tokw t LEFT JOIN v ON v.word = t.word)
         |SELECT doc_id,
         |  count(*)::BIGINT AS n_tokens,
         |  CAST(sum(CASE WHEN tid = ${TokenOps.DictSize} THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |  CAST(list_reduce(list(tid ORDER BY i), (a,b) -> (a*31+b) % 1000000007) AS BIGINT) AS fp
         |FROM tok GROUP BY doc_id""".stripMargin),

    // ids → text inverse decode (the reference's display round trip):
    // encode through the broadcast vocab, decode through its inverse,
    // report per-doc fidelity + decoded-text digest.
    // ids→text round trip: in-vocab words decode back to themselves
    // (bijective vocab), OOV decodes to the <unk> sentinel.
    Gate("tok_roundtrip", overDocs(TokenOps.dictRoundTrip(_, _)),
      s"""WITH $dictCtes,
         |dec AS (
         |  SELECT t.doc_id, t.i,
         |    CASE WHEN v.vid IS NOT NULL THEN t.word ELSE '${TokenOps.UnkToken}' END AS dw,
         |    CASE WHEN v.vid IS NOT NULL THEN 1 ELSE 0 END AS rec
         |  FROM tokw t LEFT JOIN v ON v.word = t.word)
         |SELECT doc_id, count(*)::BIGINT AS n_tokens,
         |  CAST(sum(rec) AS BIGINT) AS n_recovered,
         |  (CASE WHEN sum(rec) = count(*) THEN 1 ELSE 0 END)::BIGINT AS exact,
         |  md5(string_agg(dw, ' ' ORDER BY i)) AS digest
         |FROM dec GROUP BY doc_id""".stripMargin),

    Gate("moe_route", (s, dir) =>
      RouteOps.routeTopK(s, t(s, dir, "embeddings")),
      s"""WITH $routeCtes
         |SELECT vec_id, expert_idx::BIGINT AS expert_idx, rnk, score,
         |  CAST(sum(score) OVER (PARTITION BY vec_id) AS BIGINT) AS score_topk_sum
         |FROM r WHERE rnk <= 2""".stripMargin),

    // J3's gather/compute/scatter-back stage: routed rows grouped by
    // expert, a deterministic per-expert affine applied batched, results
    // keyed back by (vec_id, expert_idx).
    // J3 gather/compute/scatter: per-expert affine over the routed rows,
    // coefficients md5i-derived per expert — BIGINT-exact replay.
    Gate("moe_apply", (s, dir) =>
      RouteOps.applyPerExpert(
        RouteOps.routeTopK(s, t(s, dir, "embeddings")))(
        RouteOps.expertAffine),
      s"""WITH $routeCtes
         |SELECT vec_id, expert_idx::BIGINT AS expert_idx,
         |  ((${md5iSql("'ea|' || expert_idx")} % 1000000 + 1) * score
         |    + ${md5iSql("'eb|' || expert_idx")} % 1000000007)::BIGINT AS out
         |FROM r WHERE rnk <= 2""".stripMargin),

    // Per-doc greedy decode over a deterministic per-position score table
    // (vocab 16, eos=0, budget 8): exercises argmax tie-breaking, the EOS
    // early stop (EOS never emitted), and the token budget at corpus
    // scale. Scores depend on (doc, position) only, so the DuckDB oracle
    // replays the loop in closed form.
    // greedy decode replay: g(doc,j) = argmax_t md5i("dec|doc|j|t");
    // first j with g=0 is the EOS step (token not emitted)
    Gate("dec_greedy", (s, dir) => {
      import s.implicits._
      docIds(s, dir).map(id => decodeRow(id, Decoder.decodeGreedy(
        Seq.empty, eos = 0L, maxNewTokens = 8)(scores("dec", id, 16))()))
        .toDF(DecodeCols: _*)
    },
      s"""WITH steps AS (
         |  SELECT doc_id, j, arg_max(t, h) AS g
         |  FROM (SELECT doc_id, j, t,
         |          ${md5iSql("'dec|' || doc_id || '|' || j || '|' || t")} AS h
         |        FROM documents,
         |             (SELECT unnest(generate_series(0,7)) AS j),
         |             (SELECT unnest(generate_series(0,15)) AS t))
         |  GROUP BY doc_id, j),
         |eos AS (SELECT doc_id, min(j) AS jeos FROM steps WHERE g = 0 GROUP BY doc_id)
         |SELECT s.doc_id,
         |  coalesce(e.jeos, 8)::BIGINT AS n_gen,
         |  (CASE WHEN e.jeos IS NULL THEN 0 ELSE 1 END)::BIGINT AS stopped,
         |  (CASE WHEN e.jeos IS NULL THEN 8 ELSE e.jeos + 1 END)::BIGINT AS steps,
         |  CAST(sum(CASE WHEN s.j < coalesce(e.jeos, 8) THEN s.g ELSE 0 END) AS BIGINT) AS gen_sum
         |FROM steps s LEFT JOIN eos e ON s.doc_id = e.doc_id
         |GROUP BY s.doc_id, e.jeos""".stripMargin),

    // dec_greedy plus the no-repeat-ngram guard the reference's fixture
    // capture decodes with (no_repeat_ngram_size — capture_baseline.py:
    // 744). Small geometry (vocab 8, budget 12, n=2) so suppression
    // actually fires inside the budget; the oracle replays the stateful
    // ban-then-argmax loop with a recursive CTE over the generated
    // sequence — a genuinely different replay path than dec_greedy's
    // closed-form per-position argmax.
    // stateful ban-then-argmax loop replayed with a recursive CTE: each
    // step bans every token that followed an earlier occurrence of the
    // last token (n=2), falls back to unrestricted argmax if the ban
    // empties the distribution, stops on EOS 0 or budget 12
    Gate("dec_greedy_norepeat", (s, dir) => {
      import s.implicits._
      docIds(s, dir).map(id => decodeRow(id, Decoder.decodeGreedyNoRepeat(
        Seq.empty, eos = 0L, maxNewTokens = 12, noRepeatNgramSize = 2)(
        scores("decnr", id, 8))()))
        .toDF(DecodeCols: _*)
    },
      s"""WITH RECURSIVE gen AS (
         |  SELECT doc_id, 0 AS j, CAST([] AS BIGINT[]) AS seq, FALSE AS stopped
         |  FROM documents
         |  UNION ALL
         |  SELECT doc_id, j + 1,
         |    CASE WHEN nxt = 0 THEN seq ELSE list_append(seq, nxt) END,
         |    nxt = 0
         |  FROM (
         |    SELECT doc_id, j, seq,
         |      -(list_aggregate(
         |          CASE WHEN len(list_filter(cands, p -> NOT list_contains(banned, -p[2]))) = 0
         |               THEN cands
         |               ELSE list_filter(cands, p -> NOT list_contains(banned, -p[2])) END,
         |          'max'))[2] AS nxt
         |    FROM (
         |      SELECT doc_id, j, seq,
         |        list_transform(list_filter(range(1, len(seq)), i -> seq[i] = seq[len(seq)]),
         |                       i -> seq[i+1]) AS banned,
         |        list_transform(range(0, 8), t -> [${md5iSql("'decnr|' || doc_id || '|' || j || '|' || t")}, -t]) AS cands
         |      FROM gen WHERE j < 12 AND NOT stopped)))
         |SELECT doc_id,
         |  CAST(len(seq) AS BIGINT) AS n_gen,
         |  (CASE WHEN stopped THEN 1 ELSE 0 END)::BIGINT AS stopped,
         |  j::BIGINT AS steps,
         |  coalesce(CAST(list_sum(seq) AS BIGINT), 0) AS gen_sum
         |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY j DESC) AS rn FROM gen)
         |WHERE rn = 1""".stripMargin),

    // Window partition/unpartition invariants over each doc's token
    // stream (pad to multiples of 14, block, exact inverse).
    // window counts from the tok_stream token formula; pad to ×14
    Gate("wp_windows", (s, dir) => {
      import s.implicits._
      graft.corpus.CorpusDerive.derive(s, dir).map { doc =>
        val ts = TokenOps.buildTokenStream(doc)
        val ids = ts.ids.toSeq
        val (blocks, n) =
          WindowPartition.partition(ids)(pad = -2L)
        val ok = WindowPartition.unpartition(blocks, n) == ids
        (doc.doc_id, n.toLong, blocks.length.toLong,
          (blocks.length.toLong * WindowPartition.DefaultWindow - n),
          if (ok) 1L else 0L)
      }.toDF("doc_id", "n_tokens", "n_blocks", "pad_len", "roundtrip_ok")
    },
      s"""WITH n AS (SELECT doc_id, ${streamTokensSql(slotsSql)} AS nt FROM documents)
         |SELECT printf('d%010d', doc_id) AS doc_id, nt::BIGINT AS n_tokens,
         |  CAST(ceil(nt / 14.0) AS BIGINT) AS n_blocks,
         |  (CAST(ceil(nt / 14.0) AS BIGINT) * 14 - nt)::BIGINT AS pad_len,
         |  1::BIGINT AS roundtrip_ok
         |FROM n""".stripMargin),

    // Layered config resolution table: per doc, an override layer (present
    // on even ids), a file layer (ids % 3 == 0), and defaults — emitted as
    // (key, value, winning layer) rows.
    Gate("conf_resolve", (s, dir) => {
      import s.implicits._
      docIds(s, dir).flatMap { id =>
        val overrides =
          if (id % 2 == 0) Map("quality.min_words" -> (id % 5).toString)
          else Map.empty[String, String]
        val file =
          if (id % 3 == 0) Map("quality.min_words" -> s"f${id % 7}",
                               "tiling.max" -> "9")
          else Map.empty[String, String]
        val defaults = Map("quality.min_words" -> "50",
          "tiling.max" -> "6", "lang.allow" -> "en")
        graft.functions.LayeredConfig.resolveWithProvenance(
            "override" -> overrides, "file" -> file, "default" -> defaults)
          .toSeq.sortBy(_._1)
          .map { case (k, (v, layer)) => (id, k, v, layer) }
      }.toDF("doc_id", "key", "value", "layer")
    },
      """SELECT doc_id, 'lang.allow' AS key, 'en' AS value, 'default' AS layer
        |FROM documents
        |UNION ALL
        |SELECT doc_id, 'quality.min_words',
        |  CASE WHEN doc_id % 2 = 0 THEN CAST(doc_id % 5 AS VARCHAR)
        |       WHEN doc_id % 3 = 0 THEN 'f' || (doc_id % 7)
        |       ELSE '50' END,
        |  CASE WHEN doc_id % 2 = 0 THEN 'override'
        |       WHEN doc_id % 3 = 0 THEN 'file' ELSE 'default' END
        |FROM documents
        |UNION ALL
        |SELECT doc_id, 'tiling.max',
        |  CASE WHEN doc_id % 3 = 0 THEN '9' ELSE '6' END,
        |  CASE WHEN doc_id % 3 = 0 THEN 'file' ELSE 'default' END
        |FROM documents""".stripMargin),

    // Tolerance-banded stage parity (A7): tokenizer + quality stages vs
    // goldens/closed forms, per-stage bands.
    // stage parity: tokens stage is exact (band 0); the quality stages'
    // quantization error is the fractional part of the raw ratio, which
    // is strictly < 1 unit (band 1e6 at q6), so every stage passes —
    // the oracle asserts the expected diff stats bit-for-bit
    Gate("parity_stats", (s, dir) => graft.verify.Parity.parityStats(s, dir),
      s"""WITH c AS (
         |  SELECT doc_id, len(ws)::BIGINT AS n_words,
         |    list_sum(list_transform(ws, x -> len(x)))::BIGINT AS chars,
         |    len(list_filter(ws, x -> x IN (${TextOps.sqlInList(TextOps.QualityStop)})))::BIGINT AS n_stop
         |  FROM (SELECT doc_id, string_split(text,' ') AS ws FROM documents)),
         |q AS (
         |  SELECT doc_id,
         |    CASE WHEN n_words > 0 THEN CAST(chars*100 AS DOUBLE)/n_words ELSE 0.0 END AS mwl_raw,
         |    CASE WHEN n_words > 0 THEN CAST(n_stop*10000 AS DOUBLE)/n_words ELSE 0.0 END AS stop_raw
         |  FROM c),
         |m6 AS (
         |  SELECT doc_id,
         |    CAST(floor((mwl_raw - floor(mwl_raw)) * 1000000) AS BIGINT) AS mq6,
         |    CAST(floor((stop_raw - floor(stop_raw)) * 1000000) AS BIGINT) AS sq6
         |  FROM q)
         |SELECT 'tokens' AS stage, count(*)::BIGINT AS n_rows,
         |  0::BIGINT AS max_diff_q6, CAST(min(doc_id) AS BIGINT) AS argmax_key,
         |  0::BIGINT AS n_over_band, 0::BIGINT AS band_q6, 1::BIGINT AS pass
         |FROM documents
         |UNION ALL
         |SELECT 'quality_mwl', count(*)::BIGINT, max(mq6)::BIGINT,
         |  CAST(min(CASE WHEN mq6 = mx THEN doc_id END) AS BIGINT),
         |  CAST(sum(CASE WHEN mq6 > 1000000 THEN 1 ELSE 0 END) AS BIGINT),
         |  1000000::BIGINT, 1::BIGINT
         |FROM (SELECT doc_id, mq6, max(mq6) OVER () AS mx FROM m6)
         |UNION ALL
         |SELECT 'quality_stop', count(*)::BIGINT, max(sq6)::BIGINT,
         |  CAST(min(CASE WHEN sq6 = sx THEN doc_id END) AS BIGINT),
         |  CAST(sum(CASE WHEN sq6 > 1000000 THEN 1 ELSE 0 END) AS BIGINT),
         |  1000000::BIGINT, 1::BIGINT
         |FROM (SELECT doc_id, sq6, max(sq6) OVER () AS sx FROM m6)""".stripMargin),

    // collapse semantics (see graft.conversation.Collapse scaladoc): kept
    // sections are [system "sys w0"; system w2 (reverse-flattened with its
    // image on even ids); last user turn "q w3" (image on %3=0)]; earlier
    // user turn, assistant turn, empty system, and post-user system are
    // all dropped; images collected only from kept messages.
    Gate("msg_collapse", (s, dir) =>
      graft.conversation.Collapse.collapseQuery(s, dir),
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    'sys ' || ws[1] AS s1,
        |    CASE WHEN doc_id % 2 = 0 THEN '<image>' || chr(10) || ws[3]
        |         ELSE ws[3] END AS s2,
        |    CASE WHEN doc_id % 3 = 0 THEN '<image>' || chr(10) || 'q ' || ws[4]
        |         ELSE 'q ' || ws[4] END AS s3
        |  FROM w)
        |SELECT doc_id AS conv_id,
        |  '<|User|>' || chr(10) || s1 || chr(10) || chr(10) || s2
        |    || chr(10) || chr(10) || s3 || chr(10) || '<|Assistant|>' || chr(10)
        |    AS prompt,
        |  3::BIGINT AS n_sections,
        |  (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END
        |   + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_images
        |FROM s""".stripMargin),

    // deepseek render: system "{system_message}" + sep, then
    // role: content + sep[idx%2] (sep2 = EOS sentinel), bare "role:" for
    // the trailing None cue (conversation/mod.rs:63-88)
    Gate("conv_render", (s, dir) => {
      import s.implicits._
      val tmpl = graft.conversation.Templates.deepseekTemplate
      s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text").as[(Long, String)]
        .map { case (id, text) =>
          val ws = text.split(" ").filter(_.nonEmpty)
          def w(i: Int) = if (i < ws.length) ws(i) else ""
          val t = tmpl.withSystemMessage(s"doc ${w(0)}")
          val msgs = Seq(
            (t.roles._1, Some(s"q ${w(3)}")),
            (t.roles._2, Some(s"a ${w(1)}")),
            (t.roles._1, Some("and now?")),
            (t.roles._2, Option.empty[String]))
          (id, t.prompt(msgs))
        }.toDF("conv_id", "prompt")
    },
      """SELECT doc_id AS conv_id,
        |  'doc ' || ws[1] || chr(10) || chr(10)
        |    || '<|User|>: q ' || ws[4] || chr(10) || chr(10)
        |    || '<|Assistant|>: a ' || ws[2] || '<｜end▁of▁sentence｜>'
        |    || '<|User|>: and now?' || chr(10) || chr(10)
        |    || '<|Assistant|>:' AS prompt
        |FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)""".stripMargin),
  )
}
