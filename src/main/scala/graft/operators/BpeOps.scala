package graft.operators

import graft.functions.Hashing
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}

/** Real byte-pair-encoding tokenizer — the Spark re-expression of the
  * reference's HF `tokenizer.json` BPE load + encode/decode
  * (/root/reference/crates/cli/src/app.rs:80-85 loads pretrained merge
  * ranks; app.rs:155-190 detokenizes ids for display).
  *
  * Two surfaces, mirroring how BPE is used in practice:
  *
  *  1. FIXTURE RANKS (`tok_bpe`): the tokenizer-file analog. Merge ranks
  *     are learned once, deterministically, from a fixed spec seed text
  *     (a build-time constant, exactly like the shipped tokenizer.json is
  *     a fixed artifact), broadcast to every task, and applied with the
  *     standard greedy merge loop. Because the ranks are shared spec
  *     constants, the DuckDB oracle replays ENCODING EXACTLY — rank-order
  *     pair merging compiles to a chain of `replace()` calls over a
  *     separator-marked segmentation — and hash-gates the exact id
  *     sequences (order-sensitive fingerprint), like the pixel
  *     coefficient-table precedent.
  *
  *  2. CORPUS-LEARNED RANKS (`tok_bpe_learn`): merge ranks learned from
  *     the corpus's own word-frequency table (bounded top-V driver
  *     collect — dictionary-scale, same discipline as
  *     [[TokenOps.buildVocab]]), then broadcast + applied identically.
  *     The oracle hash-gates lossless decode∘encode identity per doc
  *     (md5 of the decoded text vs md5 of the source); exact merge-table
  *     content is pinned by unit tests.
  *
  * Encoding applies merges IN RANK ORDER, replacing occurrences
  * left-to-right. This is equivalent to the textbook "repeatedly merge
  * the lowest-rank applicable pair" loop: merge r's output token is born
  * at learning step r, so no merge with rank < r can reference it, and
  * applying rank r can only ever create pairs of rank > r.
  *
  * Scale: learning input is a bounded word-frequency table (top-V by
  * count, V constant); the merge table is a broadcast dictionary;
  * encoding is a narrow per-partition kernel with a per-partition
  * word→ids memo (words repeat heavily — the HF tokenizer keeps the same
  * cache), so a 100 TB corpus encodes in one scan with zero shuffles.
  */
object BpeOps {

  /** Learn `numMerges` merge rules from a weighted word-count table.
    * Deterministic: the winning pair maximizes (count, then reverse-lex
    * pair order — i.e. ties break toward the lexicographically SMALLEST
    * pair). Stops early when no adjacent pair occurs twice.
    */
  def learnMerges(wordCounts: Seq[(String, Long)],
                  numMerges: Int): Vector[(String, String)] = {
    var segs: Vector[(Vector[String], Long)] =
      wordCounts.toVector.map { case (w, c) => (w.map(_.toString).toVector, c) }
    val merges = Vector.newBuilder[(String, String)]
    var k = 0
    var done = false
    while (k < numMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      segs.foreach { case (toks, c) =>
        var i = 0
        while (i < toks.length - 1) {
          val p = (toks(i), toks(i + 1))
          counts.update(p, counts.getOrElse(p, 0L) + c)
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        val (best, bc) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
        if (bc < 2) done = true
        else {
          merges += best
          segs = segs.map { case (toks, c) => (applyMerge(toks, best), c) }
          k += 1
        }
      }
    }
    merges.result()
  }

  /** Merge all occurrences of `pair` in `toks`, left-to-right,
    * non-overlapping (the `replace()` contract the oracle mirrors).
    */
  def applyMerge(toks: Vector[String], pair: (String, String)): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < toks.length) {
      if (i < toks.length - 1 && toks(i) == pair._1 && toks(i + 1) == pair._2) {
        out += toks(i) + toks(i + 1)
        i += 2
      } else {
        out += toks(i)
        i += 1
      }
    }
    out.result()
  }

  /** Encode one word: char split, then merges in rank order. Characters
    * missing from `ids` (outside the learned alphabet) pass through as
    * single-char tokens with id -1 — decode still restores them exactly
    * (byte-fallback analog), so the round trip never loses bytes.
    */
  def encodeWord(word: String, merges: Seq[(String, String)]): Vector[String] =
    merges.foldLeft(word.map(_.toString).toVector)(applyMerge)

  /** Token-string → id table: alphabet chars (sorted) first, then merge
    * products in rank order — the canonical BPE vocab numbering.
    */
  def vocab(alphabet: Seq[Char], merges: Seq[(String, String)]): Map[String, Int] = {
    val base = alphabet.sorted.zipWithIndex.map { case (c, i) => c.toString -> i }
    val merged = merges.zipWithIndex.map { case ((a, b), r) => (a + b) -> (base.length + r) }
    (base ++ merged).toMap
  }

  // ------------------------------------------------------------------
  // Fixture tokenizer (the tokenizer.json analog): a fixed spec seed,
  // fixed merge budget — every value below is a build-time constant the
  // oracle embeds verbatim.
  // ------------------------------------------------------------------

  /** Fixed seed text the fixture ranks are learned from (spec constant —
    * the analog of shipping tokenizer.json; chosen to share the query
    * corpus's register so merges are meaningful on it).
    */
  val SeedText: String =
    "the stream window merges the sorted batch the scan joins the table " +
    "the hash joins the sorted stream the window batches the merge the " +
    "query filters the data the spark partitions the data the stream " +
    "windows merge the batch scans the table scan merges the sort"

  val FixtureAlphabet: Seq[Char] = ('a' to 'z')
  val FixtureNumMerges = 24

  def seedWordCounts(seed: String): Seq[(String, Long)] =
    seed.split(" ").toSeq.groupBy(identity).toSeq
      .map { case (w, g) => (w, g.size.toLong) }.sortBy(_._1)

  lazy val fixtureMerges: Vector[(String, String)] =
    learnMerges(seedWordCounts(SeedText), FixtureNumMerges)
  lazy val fixtureVocab: Map[String, Int] =
    vocab(FixtureAlphabet, fixtureMerges)

  /** One doc's encode: its word count, token count, order-sensitive id
    * fingerprint and decoded text.
    */
  private final case class Encoded(nWords: Long, nTokens: Long, fp: Long, decoded: String)

  /** Encode every doc of (`doc_id`, `text`) under broadcast ranks in one
    * narrow scan with a per-partition word → (ids, decoded) memo, and
    * build each doc's output row with `row`.
    */
  private def encodeEach[T: Encoder](docs: DataFrame,
      merges: Vector[(String, String)], vocab: Map[String, Int])(
      row: (Long, String, Encoded) => T): Dataset[T] = {
    import docs.sparkSession.implicits._
    val sc = docs.sparkSession.sparkContext
    val bMerges = sc.broadcast(merges)
    val bVocab = sc.broadcast(vocab)
    docs.select("doc_id", "text").as[(Long, String)].mapPartitions { it =>
      val ms = bMerges.value
      val v = bVocab.value
      val memo = scala.collection.mutable.HashMap.empty[String, (Array[Int], String)]
      it.map { case (id, text) =>
        val ws = text.split(" ")
        var n = 0L
        var fp = 0L
        val decodedWords = new Array[String](ws.length)
        var i = 0
        while (i < ws.length) {
          val (ids, dec) = memo.getOrElseUpdate(ws(i), {
            val toks = encodeWord(ws(i), ms)
            // every token must be in-vocab or a single (fallback) char —
            // the invariant that makes decode lossless
            require(toks.forall(t => v.contains(t) || t.length == 1))
            (toks.map(t => v.getOrElse(t, -1)).toArray, toks.mkString)
          })
          var j = 0
          while (j < ids.length) {
            fp = (fp * 31 + (ids(j).toLong + Hashing.FpMod)) % Hashing.FpMod
            j += 1
          }
          n += ids.length
          decodedWords(i) = dec
          i += 1
        }
        row(id, text, Encoded(ws.length.toLong, n, fp, decodedWords.mkString(" ")))
      }
    }
  }

  /** Per-doc fixture-BPE encode with exact-id-sequence fingerprint and
    * lossless decode gate.
    */
  def encodeDocs(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    encodeEach(docs, fixtureMerges, fixtureVocab) { (id, text, e) =>
      (f"d$id%010d", e.nTokens, e.fp, if (e.decoded == text) 1L else 0L)
    }.toDF("doc_id", "n_tokens", "fp", "exact")
  }

  // ------------------------------------------------------------------
  // Corpus-learned tokenizer
  // ------------------------------------------------------------------

  /** Bounded word-frequency table: top `v` words by (count desc, word) —
    * the driver collect is bounded by v, dictionary-scale.
    */
  def corpusWordCounts(docs: DataFrame, v: Int): Seq[(String, Long)] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.functions._
    docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy($"w").agg(count(lit(1)).as("c"))
      .orderBy($"c".desc, $"w")
      .limit(v)
      .as[(String, Long)].collect().toSeq
  }

  val LearnVocabCap = 1024
  val LearnNumMerges = 32

  /** Corpus-learned BPE: learn ranks from the corpus's own bounded
    * word-count table, broadcast, encode every doc, and emit the exact
    * order-sensitive id fingerprint plus the lossless-roundtrip digest.
    * The oracle re-learns the SAME merges independently in SQL
    * ([[learnOracleSql]]) and replays both, so the gate covers the
    * learning loop AND the id sequences, not just losslessness.
    */
  def learnAndEncode(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    val wc = corpusWordCounts(docs, LearnVocabCap)
    val merges = learnMerges(wc, LearnNumMerges)
    val alphabet = wc.flatMap(_._1).distinct.sorted
    encodeEach(docs, merges, vocab(alphabet, merges)) { (id, text, e) =>
      (f"d$id%010d", e.nWords, e.nTokens, e.fp,
        if (e.decoded == text) 1L else 0L, Hashing.md5hex(e.decoded))
    }.toDF("doc_id", "n_words", "n_tokens", "fp", "exact", "digest")
  }

  // ------------------------------------------------------------------
  // Oracle SQL generation (fixture ranks as shared spec constants)
  // ------------------------------------------------------------------

  /** DuckDB expression replaying the fixture encode over a text column.
    * Every token is WRAPPED as `·tok·` (adjacent tokens meet at `··`),
    * then one `replace('·a··b·','·ab·')` per merge in rank order —
    * exactly [[applyMerge]]'s left-to-right non-overlapping semantics.
    *
    * The wrap (vs the earlier suffix-only `tok·` marking) anchors BOTH
    * ends of each operand: a pattern can no longer match where pair._1
    * is merely the SUFFIX of a longer token (`xa·b·` contains `a·b·`).
    * Each boundary carries TWO separators, one owned by each side, so
    * consecutive merge sites (`·a··b··a··b·`) don't share a separator
    * and the replace scan still takes both — byte-for-byte the
    * [[applyMerge]] result. The space token still blocks cross-word
    * merges (no learned pair contains a space).
    */
  def segSql(textExpr: String): String =
    fixtureMerges.foldLeft(s"regexp_replace($textExpr, '(.)', '·\\1·', 'g')") {
      case (acc, (a, b)) => s"replace($acc, '·${a}··${b}·', '·${a}${b}·')"
    }

  /** Token list from a [[segSql]] segmentation: strip the outer wrap,
    * split on the two-separator boundary, drop space tokens (and the
    * empty token an empty text degenerates to).
    */
  def toksSql(segExpr: String): String =
    s"list_filter(string_split(trim($segExpr, '·'), '··'), t -> t <> ' ' AND t <> '')"

  /** CASE mapping token string → fixture vocab id (−1 = out-of-alphabet
    * fallback, mirroring encodeDocs).
    */
  def vocabCaseSql(tokExpr: String): String =
    fixtureVocab.toSeq.sortBy(_._2)
      .map { case (t, i) => s"WHEN '$t' THEN $i" }
      .mkString(s"CASE $tokExpr ", " ", " ELSE -1 END")

  // ------------------------------------------------------------------
  // Oracle SQL generation, corpus-learned ranks: the oracle RE-LEARNS
  // the merge table from the documents table itself — the 32-iteration
  // learning loop UNROLLED as machine-generated materialized CTEs (pair
  // count → argmax with the exact (count desc, a, b) tie-break → anchored
  // replace), then replays encoding and vocab numbering exactly like the
  // fixture oracle. Nothing is smuggled from the Scala side: a bug in
  // learnMerges, vocab assignment, or the encode loop hash-fails.
  // ------------------------------------------------------------------

  /** DuckDB replay of [[learnAndEncode]] over the `documents` table.
    *
    * Mechanics mirrored exactly:
    *  - `wc`: top-[[LearnVocabCap]] words by (count DESC, word) — same
    *    bounded table [[corpusWordCounts]] collects;
    *  - `seg{k}` / `p{k}` / `m{k}`: iteration k's segmentation state,
    *    weighted adjacent-pair counts, and winning pair (absent when the
    *    best count < 2 — and because a stall never changes the state,
    *    every later m{j} is then empty too, matching the permanent
    *    early-stop in [[learnMerges]]); replacements use the wrapped
    *    `·tok·` anchoring of [[segSql]];
    *  - `vocab`: alphabet chars of the wc words (sorted, 0-based) then
    *    merge products at alphabet_size + rank; duplicate merge-product
    *    strings keep the max id ([[vocab]]'s toMap last-wins);
    *  - per doc: the same replace chain over the whole wrapped text
    *    (space tokens block cross-word merges), tokens mapped through a
    *    MAP of the learned vocab (−1 fallback), folded into the
    *    order-sensitive polynomial fingerprint of [[Hashing.FpMod]].
    *
    * CTEs are MATERIALIZED: each seg{k} is referenced twice (p{k+1} and
    * seg{k+1}), so inlining would double the plan per iteration — 2^32
    * scans by the end.
    */
  def learnOracleSql: String = {
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    ctes += s"""wc AS MATERIALIZED (
      |  SELECT w, c FROM (
      |    SELECT w, count(*) AS c
      |    FROM (SELECT unnest(string_split(text,' ')) AS w FROM documents)
      |    GROUP BY w)
      |  ORDER BY c DESC, w LIMIT $LearnVocabCap)""".stripMargin
    ctes += "seg0 AS MATERIALIZED (SELECT c, " +
      "regexp_replace(w, '(.)', '·\\1·', 'g') AS s FROM wc)"
    (1 to LearnNumMerges).foreach { k =>
      ctes += s"""p$k AS MATERIALIZED (
        |  SELECT split_part(pr, chr(1), 1) AS a, split_part(pr, chr(1), 2) AS b,
        |         CAST(sum(c) AS BIGINT) AS n
        |  FROM (SELECT c, unnest(list_transform(range(1, len(ts)),
        |          i -> ts[i] || chr(1) || ts[i+1])) AS pr
        |        FROM (SELECT c, string_split(trim(s,'·'),'··') AS ts FROM seg${k - 1}))
        |  GROUP BY 1, 2)""".stripMargin
      ctes += s"m$k AS MATERIALIZED (SELECT a, b FROM p$k " +
        "WHERE n >= 2 ORDER BY n DESC, a, b LIMIT 1)"
      ctes += s"""seg$k AS MATERIALIZED (
        |  SELECT c, replace(s,
        |    coalesce((SELECT '·'||a||'··'||b||'·' FROM m$k), chr(2)),
        |    coalesce((SELECT '·'||a||b||'·' FROM m$k), chr(2))) AS s
        |  FROM seg${k - 1})""".stripMargin
    }
    ctes += (1 to LearnNumMerges)
      .map(k => s"SELECT $k AS r, a, b FROM m$k")
      .mkString("merges AS MATERIALIZED (", "\nUNION ALL ", ")")
    ctes += "alpha AS MATERIALIZED (" +
      "SELECT DISTINCT unnest(string_split(w, '')) AS ch FROM wc)"
    ctes += """vocab AS MATERIALIZED (
      |  SELECT tok, CAST(max(id) AS BIGINT) AS id FROM (
      |    SELECT ch AS tok, row_number() OVER (ORDER BY ch) - 1 AS id FROM alpha
      |    UNION ALL
      |    SELECT a||b, (SELECT count(*) FROM alpha) + r - 1 FROM merges)
      |  GROUP BY tok)""".stripMargin
    ctes += "vm AS MATERIALIZED (SELECT map(list(tok), list(id)) AS m FROM vocab)"
    val chain = (1 to LearnNumMerges)
      .foldLeft("regexp_replace(text, '(.)', '·\\1·', 'g')") { (acc, k) =>
        s"""replace($acc,
          |    coalesce((SELECT '·'||a||'··'||b||'·' FROM m$k), chr(2)),
          |    coalesce((SELECT '·'||a||b||'·' FROM m$k), chr(2)))""".stripMargin
      }
    ctes += s"""dseg AS MATERIALIZED (
      |  SELECT doc_id, len(string_split(text,' '))::BIGINT AS n_words,
      |    md5(text) AS digest,
      |    $chain AS s
      |  FROM documents)""".stripMargin
    ctes += s"""dtok AS MATERIALIZED (
      |  SELECT doc_id, n_words, digest, ${toksSql("s")} AS ts
      |  FROM dseg)""".stripMargin
    "WITH " + ctes.mkString(",\n") + s"""
      |SELECT printf('d%010d', doc_id) AS doc_id, n_words,
      |  len(ts)::BIGINT AS n_tokens,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(ts, t -> CAST(coalesce(m[t][1], -1) AS BIGINT))),
      |    (a, x) -> (a * 31 + (x + ${Hashing.FpMod})) % ${Hashing.FpMod}) AS fp,
      |  1::BIGINT AS exact, digest
      |FROM dtok, vm""".stripMargin
  }
}
