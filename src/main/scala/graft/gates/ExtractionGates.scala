package graft.gates

import graft.corpus.CorpusDerive
import graft.extract.{Html, Warc}
import graft.gates.Gate._
import graft.pipeline.Extraction
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Extraction gates: the span pipeline (ext_*), its front doors (HTML,
  * WARC, PDF streams, grounding markup) and the fixture round trip. The
  * oracles replay the corpus derivation rules (graft.corpus.CorpusDerive)
  * from documents.parquet.
  */
object ExtractionGates {

  /** Extracted spans, exploded: (doc_id, kind, text, media_ref, order). */
  private def extractedSpans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Extraction.pipeline(CorpusDerive.derive(s, dir))
      .select($"doc_id", explode($"spans").as("s"))
      .select($"doc_id", $"s.kind".as("kind"), $"s.text".as("text"),
              $"s.media_ref".as("media_ref"), $"s.order".as("order"))
  }

  /** Paragraph spans the derivation cuts from a doc: one per 12 words
    * after the 3-word heading. */
  private val ParagraphsSql =
    "CAST(ceil(greatest(len(string_split(text,' '))-3,0)/12.0) AS BIGINT)"

  /** Spans of a doc that survive boilerplate strip, for doc id column
    * `id`: the heading, the paragraphs, a table on ids % 3 = 0 and a
    * figure each on ids % 2 = 0 and % 4 = 0. */
  private[gates] def keptSpansSql(id: String): String =
    s"""(1 + $ParagraphsSql
       |     + CASE WHEN $id % 3 = 0 THEN 1 ELSE 0 END
       |     + CASE WHEN $id % 2 = 0 THEN 1 ELSE 0 END
       |     + CASE WHEN $id % 4 = 0 THEN 1 ELSE 0 END)""".stripMargin

  /** The derived span stream the kernel must emit, row by row: `w` has
    * each doc's words and paragraph count `p`; `spans` has (doc_id,
    * kind, text, media_ref, ord) for every kept span. */
  private val derivedSpansCtes =
    s"""w AS (
       |  SELECT doc_id, string_split(text,' ') AS words, $ParagraphsSql AS p
       |  FROM documents),
       |spans AS (
       |  SELECT printf('d%010d', doc_id) AS doc_id, 'heading' AS kind,
       |         '# ' || array_to_string(list_slice(words,1,3),' ') AS text,
       |         '' AS media_ref, 0::BIGINT AS ord
       |  FROM w
       |  UNION ALL
       |  SELECT printf('d%010d', doc_id), 'paragraph',
       |         array_to_string(list_slice(words, 4+(i-1)*12, 3+i*12), ' '),
       |         '', i::BIGINT
       |  FROM (SELECT doc_id, words, unnest(generate_series(1, p)) AS i FROM w)
       |  UNION ALL
       |  SELECT printf('d%010d', doc_id), 'table',
       |         '| k | v |' || chr(10) || '| r' || doc_id || ' | c' || doc_id || ' |',
       |         '', (1 + p)::BIGINT
       |  FROM w WHERE doc_id % 3 = 0
       |  UNION ALL
       |  SELECT printf('d%010d', doc_id), 'figure', '',
       |         'img://' || doc_id || '/0',
       |         (1 + p + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)::BIGINT
       |  FROM w WHERE doc_id % 2 = 0
       |  UNION ALL
       |  SELECT printf('d%010d', doc_id), 'figure', '',
       |         'img://' || doc_id || '/1',
       |         (2 + p + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)::BIGINT
       |  FROM w WHERE doc_id % 4 = 0)""".stripMargin

  /** Closed-form replay of the synthesized-HTML block stream, optionally
    * restricted to a doc_id subset (`where`): `r` has every synthesized
    * block i of a doc with its kind rule k (3 and 4 are boilerplate),
    * `b` every block extraction keeps (a k = 6 table is two cells) with
    * its emitted order `ord`.
    */
  private def htmlBlocksCtes(where: String = ""): String =
    s"""r AS (
       |  SELECT doc_id, i,
       |    ${md5iSql("'hk|' || doc_id || '|' || i")} % 7 AS k,
       |    ${md5iSql("'hl|' || doc_id || '|' || i")} % 3 + 1 AS lvl
       |  FROM (SELECT doc_id,
       |          unnest(generate_series(0, CAST(doc_id % 4 + 2 AS INT))) AS i
       |        FROM documents$where)),
       |b AS (
       |  SELECT *, (row_number() OVER (PARTITION BY doc_id ORDER BY i, cell) - 1)::BIGINT AS ord
       |  FROM (
       |    SELECT doc_id, i, 0 AS cell,
       |      CASE WHEN k = 0 THEN 'heading' WHEN k IN (1, 2) THEN 'paragraph'
       |           WHEN k = 5 THEN 'figure' ELSE 'table' END AS kind,
       |      CASE WHEN k = 0 THEN 'h' || doc_id || '_' || i || ' A&B'
       |           WHEN k = 1 THEN 'p' || doc_id || '_' || i || ' x!'
       |           WHEN k = 2 THEN 'see L' || doc_id || '_' || i || ' t' || i || ' of ordinary running prose end'
       |           WHEN k = 5 THEN 'fig ' || i
       |           ELSE 'c' || doc_id || '_' || i || '_0' END AS text,
       |      CASE WHEN k = 5 THEN 'images/' || doc_id || '_' || i || '.png'
       |           ELSE '' END AS media_ref,
       |      CASE WHEN k = 2 THEN
       |        (1000 * length('L' || doc_id || '_' || i))
       |          // length('see L' || doc_id || '_' || i || ' t' || i || ' of ordinary running prose end')
       |        ELSE 0 END AS den,
       |      CASE WHEN k = 0 THEN lvl ELSE 0 END AS lvl_out
       |    FROM r WHERE k IN (0, 1, 2, 5, 6)
       |    UNION ALL
       |    SELECT doc_id, i, 1, 'table', 'c' || doc_id || '_' || i || '_1', '', 0, 0
       |    FROM r WHERE k = 6))""".stripMargin

  /** The ext_html block rows of the docs `where` selects. */
  private def htmlBlocksOracleSql(where: String): String =
    s"""WITH ${htmlBlocksCtes(where)}
       |SELECT doc_id, kind, text, media_ref,
       |  den::BIGINT AS den_milli, lvl_out::BIGINT AS lvl, ord
       |FROM b""".stripMargin

  /** One row per block Html.extract finds in `html`, in emitted order. */
  private def htmlBlockRows(id: Long, html: String) =
    Html.extract(html).zipWithIndex.map { case (b, pos) =>
      (id, b.kind, b.text, b.mediaRef, b.denMilli, b.level.toLong, pos.toLong)
    }
  private val HtmlBlockCols =
    Seq("doc_id", "kind", "text", "media_ref", "den_milli", "lvl", "ord")

  /** Every doc as one synthesized HTML page: (doc_id, html). */
  private def htmlDocs(s: SparkSession, dir: String): Dataset[(String, String)] = {
    import s.implicits._
    docIds(s, dir).map(id => (id.toString, Html.synthesize(id)))
  }

  /** A doc's synthesized page as a WARC response record. */
  private def warcRecord(id: Long) =
    Warc.Record("response", s"http://synth.test/$id",
      Html.synthesize(id).getBytes("UTF-8"))
  private def uriId(uri: String): Long = uri.substring(uri.lastIndexOf('/') + 1).toLong

  val all: Seq[Gate] = Seq(
    Gate("ext_kind_counts", (s, dir) =>
      extractedSpans(s, dir).groupBy("kind").agg(count(lit(1)).as("cnt")),
      s"""SELECT 'heading' AS kind, count(*)::BIGINT AS cnt FROM documents
         |UNION ALL
         |SELECT 'paragraph', CAST(sum($ParagraphsSql) AS BIGINT) FROM documents
         |UNION ALL
         |SELECT 'table', count(*)::BIGINT FROM documents WHERE doc_id % 3 = 0
         |UNION ALL
         |SELECT 'figure', ((SELECT count(*) FROM documents WHERE doc_id % 2 = 0) + (SELECT count(*) FROM documents WHERE doc_id % 4 = 0))::BIGINT""".stripMargin),

    // THE north-rule gate: full span-sequence equality (kind, text,
    // media_ref, order) for every doc, end-to-end through the salted +
    // range-repartitioned mapPartitions pipeline.
    Gate("ext_spans_full", (s, dir) => {
      import s.implicits._
      extractedSpans(s, dir)
        .select($"doc_id", $"kind", $"text", $"media_ref",
                $"order".cast("long").as("ord"))
    }, s"WITH $derivedSpansCtes\nSELECT * FROM spans"),

    // XY-cut reading-order recovery over 2-D span boxes (SURVEY §7.3(d),
    // the PDF-layout analog of the reference's grid tile reorder): boxes
    // are synthesized per doc on a deterministic 2-column geometry, the
    // recursive cut runs in a narrow kernel, and the oracle replays the
    // resulting order in closed form (column-major (col, y0, idx) — the
    // provable XY-cut outcome on this geometry; XyCutSpec covers layouts
    // where no closed form exists).
    Gate("ext_xycut", (s, dir) => {
      import s.implicits._
      import graft.extract.XyCut
      import graft.functions.Hashing
      docIds(s, dir).flatMap { id =>
        val n = (id % 4 + 3).toInt
        val boxes = (0 until n).map { i =>
          val col = (Hashing.md5i(s"xc|$id|$i") % 2L).toInt
          val y0 = (Hashing.md5i(s"xy|$id|$i") % 900L).toInt
          XyCut.Box(col * 550, y0, col * 550 + 450, y0 + 40)
        }.toIndexedSeq
        XyCut.order(boxes).zipWithIndex.map { case (boxIdx, pos) =>
          (id, boxIdx.toLong, pos.toLong)
        }
      }.toDF("doc_id", "box_i", "ord")
    },
      s"""WITH b AS (
         |  SELECT doc_id, i,
         |    ${md5iSql("'xc|' || doc_id || '|' || i")} % 2 AS col,
         |    ${md5iSql("'xy|' || doc_id || '|' || i")} % 900 AS y0
         |  FROM (SELECT doc_id,
         |          unnest(generate_series(0, CAST(doc_id % 4 + 2 AS INT))) AS i
         |        FROM documents))
         |SELECT doc_id, i::BIGINT AS box_i,
         |  (row_number() OVER (PARTITION BY doc_id ORDER BY col, y0, i) - 1)::BIGINT AS ord
         |FROM b""".stripMargin),

    // PDF content-stream parsing (north-star layout stage): a REAL
    // tokenizer + text-object interpreter (BT/ET, Tm/Td, Tj/TJ with
    // escapes and kerning arrays, bottom-up y flip) over spec-conformant
    // synthesized streams, then XY-cut ordering. The oracle replays ONLY
    // the synthesis rule — hash equality proves the parser inverts it.
    Gate("ext_pdf_stream", (s, dir) => {
      import s.implicits._
      import graft.extract.PdfStream
      docIds(s, dir).flatMap { id =>
        PdfStream.readingOrder(PdfStream.synthesize(id)).map {
          case (r, pos) =>
            (id, r.text, r.x.toLong, (PdfStream.PageH - r.y).toLong, pos.toLong)
        }
      }.toDF("doc_id", "text", "x", "y", "ord")
    },
      s"""WITH r AS (
         |  SELECT doc_id, i,
         |    ${md5iSql("'pc|' || doc_id || '|' || i")} % 2 AS col,
         |    ${md5iSql("'py|' || doc_id || '|' || i")} % 900 AS y0,
         |    ${md5iSql("'pe|' || doc_id || '|' || i")} % 3 = 0 AS esc,
         |    ${md5iSql("'pj|' || doc_id || '|' || i")} % 2 = 0 AS tj
         |  FROM (SELECT doc_id,
         |          unnest(generate_series(0, CAST(doc_id % 4 + 2 AS INT))) AS i
         |        FROM documents)),
         |t AS (
         |  SELECT doc_id, i, col, y0,
         |    (CASE WHEN esc THEN '(' || 'w' || doc_id || '_' || i || ')'
         |          ELSE 'w' || doc_id || '_' || i END)
         |    || (CASE WHEN tj THEN '_tj' ELSE '' END) AS text
         |  FROM r)
         |SELECT doc_id, text,
         |  (col * ${graft.extract.PdfStream.ColPitch})::BIGINT AS x,
         |  y0::BIGINT AS y,
         |  (row_number() OVER (PARTITION BY doc_id ORDER BY col, y0, i) - 1)::BIGINT AS ord
         |FROM t""".stripMargin),

    // Post-decode grounding-markup parsing (capture_baseline.py:762-780
    // analog): extract <|ref|>/<|det|> pairs from synthesized decoded
    // text, rewrite image refs to ![](images/N.jpg) with the running
    // index, order refs by XY-cut over their det boxes. Oracle replays
    // the synthesis rule only.
    Gate("ext_grounding", (s, dir) => {
      import s.implicits._
      import graft.extract.Grounding
      docIds(s, dir).flatMap { id =>
        Grounding.readingOrder(Grounding.synthesize(id)).map {
          case (r, _, pos) =>
            (id, r.text, r.x1.toLong, r.y1.toLong,
             if (r.isImage) 1L else 0L, r.frag, pos.toLong)
        }
      }.toDF("doc_id", "ref_text", "x1", "y1", "is_image", "frag", "ord")
    },
      s"""WITH r AS (
         |  SELECT doc_id, i,
         |    ${md5iSql("'gk|' || doc_id || '|' || i")} % 4 AS kind_i,
         |    ${md5iSql("'gc|' || doc_id || '|' || i")} % 2 AS col,
         |    ${md5iSql("'gy|' || doc_id || '|' || i")} % 900 AS y0
         |  FROM (SELECT doc_id,
         |          unnest(generate_series(0, CAST(doc_id % 3 + 1 AS INT))) AS i
         |        FROM documents)),
         |t AS (
         |  SELECT doc_id, i, col, y0, kind_i,
         |    CASE WHEN kind_i = 2 THEN 'image' ELSE 's' || doc_id || '_' || i END AS ref_text,
         |    coalesce(CAST(sum(CASE WHEN kind_i = 2 THEN 1 ELSE 0 END) OVER (
         |      PARTITION BY doc_id ORDER BY i
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS img_before
         |  FROM r)
         |SELECT doc_id, ref_text,
         |  (col * 550)::BIGINT AS x1, y0::BIGINT AS y1,
         |  (CASE WHEN kind_i = 2 THEN 1 ELSE 0 END)::BIGINT AS is_image,
         |  CASE WHEN kind_i = 2 THEN '![](images/' || img_before || '.jpg)'
         |       ELSE ref_text END AS frag,
         |  (row_number() OVER (PARTITION BY doc_id ORDER BY col, y0, i) - 1)::BIGINT AS ord
         |FROM t""".stripMargin),

    // Streaming HTML/DOM tokenizer + link-density boilerplate strip (the
    // north star's first pillar): synthesize spec-idiom HTML (comments
    // with markup, script raw-text with fake closers, quoted '>' attrs,
    // entities, mixed-case tags), lex it with the REAL single-pass
    // tokenizer, classify blocks into heading/paragraph/table/figure.
    // The oracle replays only the closed-form rule — hash parity proves
    // the lexer inverted the markup.
    Gate("ext_html", (s, dir) => {
      import s.implicits._
      docIds(s, dir).flatMap(id => htmlBlockRows(id, Html.synthesize(id)))
        .toDF(HtmlBlockCols: _*)
    }, htmlBlocksOracleSql("")),

    // WARC front door (ISO 28500 — the framing web corpora arrive in):
    // docs are packed in 64-doc chunks into real `.warc.gz` bytes
    // (Content-Length framing, CRLF headers, one gzip MEMBER per record
    // — CommonCrawl's wire format), then parsed back through the
    // STREAMING iterator parser (one payload live at a time — never a
    // whole partition in memory), and the recovered payloads run the
    // SAME HTML extraction. Output must hash-equal ext_html, proving
    // the payloads survive framing + compression byte-exactly; record
    // count / URI / type invariants are asserted in-kernel, so the
    // oracle is ext_html's. Exchange-free: blobs never cross partitions.
    Gate("ext_warc", (s, dir) => {
      import s.implicits._
      docIds(s, dir).mapPartitions { ids =>
        ids.grouped(64).flatMap { chunk =>
          val gz = Warc.buildGz(chunk.map(warcRecord))
          var n = 0
          val rows = Warc.recordsGz(new java.io.ByteArrayInputStream(gz))
            .flatMap { r =>
              require(r.recordType == "response", s"bad type ${r.recordType}")
              n += 1
              htmlBlockRows(uriId(r.uri), new String(r.payload, "UTF-8"))
            }.toArray // one 64-doc chunk of rows, not the partition
          require(n == chunk.length,
            s"WARC framing lost records: $n != ${chunk.length}")
          rows
        }
      }.toDF(HtmlBlockCols: _*)
    }, htmlBlocksOracleSql("")),

    // CDX point reads into `.warc.gz`: the write path emits a member
    // index (offset/length per record — the cdx sidecar CommonCrawl
    // ships), and point reads slice ONLY the indexed member byte ranges,
    // each an independently-decompressible gzip member — never scanning
    // or inflating the archive. In-kernel accounting proves the skip
    // (bytes read < archive bytes whenever the sample is a strict
    // subset) and each slice must parse to exactly its own record.
    // Oracle: the shared ext_html closed form restricted to the same
    // deterministic sample predicate.
    Gate("ext_warc_cdx", (s, dir) => {
      import s.implicits._
      import graft.functions.Hashing
      docIds(s, dir).mapPartitions { ids =>
        ids.grouped(64).flatMap { chunk =>
          val (gz, idx) = Warc.buildGzIndexed(chunk.map(warcRecord))
          require(idx.map(_.length).sum == gz.length,
            "cdx index must cover the archive exactly")
          val wanted = idx.filter { e =>
            Hashing.md5i("cdx|" + uriId(e.uri)) % 8 == 0
          }
          require(wanted.size == chunk.length ||
              wanted.map(_.length).sum < gz.length,
            "point reads must touch fewer bytes than the archive")
          wanted.iterator.flatMap { e =>
            val slice = java.util.Arrays.copyOfRange(
              gz, e.offset.toInt, (e.offset + e.length).toInt)
            val rs = Warc.recordsGz(
              new java.io.ByteArrayInputStream(slice)).toList
            require(rs.size == 1 && rs.head.uri == e.uri,
              s"member slice mis-framed for ${e.uri}")
            htmlBlockRows(uriId(e.uri), new String(rs.head.payload, "UTF-8"))
          }
        }
      }.toDF(HtmlBlockCols: _*)
    }, htmlBlocksOracleSql(s" WHERE ${md5iSql("'cdx|' || doc_id")} % 8 = 0")),

    // The HTML tokenizer as a DISTRIBUTED pipeline: same salt + sketch-
    // routed range placement + single exchange as the span pipeline
    // (Extraction.pipelineWith), with Html.extract as the narrow kernel.
    // Span-sequence equality (kind, text, media_ref, order) per doc —
    // the north-rule contract over the HTML front door.
    Gate("ext_html_pipeline", (s, dir) => {
      import s.implicits._
      Extraction.pipelineHtml(htmlDocs(s, dir))
        .select($"doc_id", explode($"spans").as("sp"))
        .select($"doc_id", $"sp.kind".as("kind"), $"sp.text".as("text"),
                $"sp.media_ref".as("media_ref"),
                $"sp.order".cast("long").as("ord"))
    },
      s"""WITH ${htmlBlocksCtes()}
         |SELECT doc_id::VARCHAR AS doc_id, kind, text, media_ref, ord
         |FROM b""".stripMargin),

    // Rendered markdown for the HTML pipeline (the result.mmd analog of
    // ext_markdown, over the HTML front door) — every doc, including
    // ones whose blocks are all boilerplate (empty markdown).
    Gate("ext_html_md", (s, dir) => {
      import s.implicits._
      Extraction.pipelineHtml(htmlDocs(s, dir))
        .select($"doc_id", $"markdown".as("md"))
    },
      s"""WITH ${htmlBlocksCtes()}
         |SELECT d.doc_id::VARCHAR AS doc_id,
         |  coalesce(string_agg(
         |    CASE WHEN b.kind = 'figure' THEN '![](' || b.media_ref || ')' ELSE b.text END,
         |    chr(10) || chr(10) ORDER BY b.ord), '') AS md
         |FROM documents d LEFT JOIN b ON b.doc_id = d.doc_id
         |GROUP BY d.doc_id""".stripMargin),

    // Rendered page markdown (analog of result.mmd equality,
    // reference crates/core/tests/baseline.rs:700-705).
    Gate("ext_markdown", (s, dir) => {
      import s.implicits._
      Extraction.pipeline(CorpusDerive.derive(s, dir))
        .select($"doc_id", $"markdown")
    },
      s"""WITH $derivedSpansCtes
         |SELECT doc_id,
         |  string_agg(CASE WHEN kind = 'figure' THEN '![](' || media_ref || ')' ELSE text END,
         |    chr(10) || chr(10) ORDER BY ord) AS markdown
         |FROM spans GROUP BY doc_id""".stripMargin),

    Gate("ext_headings", (s, dir) => {
      import s.implicits._
      extractedSpans(s, dir).filter($"order" === 0)
        .select($"doc_id", $"text")
    },
      """SELECT printf('d%010d', doc_id) AS doc_id,
        |       '# ' || array_to_string(list_slice(string_split(text,' '), 1, 3), ' ') AS text
        |FROM documents""".stripMargin),

    Gate("ext_doc_span_counts", (s, dir) => {
      import s.implicits._
      extractedSpans(s, dir).groupBy($"doc_id")
        .agg(count(lit(1)).cast("long").as("n_spans"),
             max($"order").cast("long").as("max_order"))
    },
      s"""SELECT printf('d%010d', doc_id) AS doc_id,
         |       ${keptSpansSql("doc_id")}::BIGINT AS n_spans,
         |       (${keptSpansSql("doc_id")} - 1)::BIGINT AS max_order
         |FROM documents""".stripMargin),

    // ST coverage for the DOC pipeline: extractStream (3 real
    // micro-batches, AvailableNow) → idempotent batch commits →
    // manifest-listed read-back, with a poisoned batch-0 replay asserted
    // inside the query.
    Gate("ext_stream_counts", (s, dir) =>
      graft.streaming.StreamingExtract.streamExtractCounts(s, dir),
      s"""SELECT printf('d%010d', doc_id) AS doc_id,
         |       ${keptSpansSql("doc_id")}::BIGINT AS n_spans
         |FROM documents""".stripMargin),

    // The HTML front door under continuous ingestion: 3 staged HTML
    // files → 3 real micro-batches through the streaming tokenizer →
    // idempotent commits → manifest read-back (poisoned batch-0 replay
    // asserted in-query).
    Gate("ext_html_stream", (s, dir) =>
      graft.streaming.StreamingExtract.streamHtmlCounts(s, dir),
      s"""WITH ${htmlBlocksCtes()}
         |SELECT d.doc_id::VARCHAR AS doc_id, count(b.doc_id)::BIGINT AS n_spans
         |FROM documents d LEFT JOIN b ON b.doc_id = d.doc_id
         |GROUP BY d.doc_id""".stripMargin),

    // Progress-callback / bench-recorder surface (SURVEY §2.10) under the
    // hash gate: doc/span totals — n_docs, spans_in (derived spans
    // entering the kernel), spans_out (spans surviving boilerplate
    // strip), dropped (= the nav+footer pair/doc). The totals are
    // observed (Dataset.observe) on the one-stage extraction as a noop
    // write runs it: n_docs and spans_in on the kernel's input, spans_out
    // on its output. There is no exchange, so both sit in the result
    // stage, where Spark merges each partition's update exactly once.
    Gate("ext_metrics", (s, dir) => {
      import s.implicits._
      val (in, out) = (Observation(), Observation())
      val spans = coalesce(sum(size($"spans")), lit(0L))
      Extraction.extractDs(CorpusDerive.derive(s, dir)
          .observe(in, count(lit(1)).as("n_docs"), spans.as("spans_in")))
        .observe(out, spans.as("spans_out"))
        .write.format("noop").mode("overwrite").save()
      def got(o: Observation, k: String) = o.get(k).asInstanceOf[Long]
      val (si, so) = (got(in, "spans_in"), got(out, "spans_out"))
      Seq((got(in, "n_docs"), si, so, si - so))
        .toDF("n_docs", "spans_in", "spans_out", "dropped")
    },
      s"""SELECT count(*)::BIGINT AS n_docs,
         |       CAST(sum(2 + ${keptSpansSql("doc_id")}) AS BIGINT) AS spans_in,
         |       CAST(sum(${keptSpansSql("doc_id")}) AS BIGINT) AS spans_out,
         |       (2 * count(*))::BIGINT AS dropped
         |FROM documents""".stripMargin),

    Gate("ext_media_refs", (s, dir) => {
      import s.implicits._
      extractedSpans(s, dir).filter($"kind" === "figure")
        .select($"doc_id", $"media_ref", $"order".cast("long").as("ord"))
    },
      s"""WITH $derivedSpansCtes
         |SELECT doc_id, media_ref, ord FROM spans WHERE kind = 'figure'""".stripMargin),

    // S7 fixture scan end-to-end: golden span fixtures serialized as
    // JSON, read back via spark.read.json with an EXPLICIT schema and a
    // schema_version gate (the reference's fixture loader asserts
    // schema_version == 1 — baselines/README.md:20-21), and digested
    // per doc. The DuckDB oracle recomputes the digest from raw
    // documents, so any corruption in the JSON round-trip hash-fails.
    Gate("fix_roundtrip", (s, dir) => inFreshDir("fixtures") { out =>
      import s.implicits._
      import org.apache.spark.sql.types._
      Extraction.extractDs(CorpusDerive.derive(s, dir))
        .select($"doc_id", $"spans", lit(1).as("schema_version"))
        .write.mode("overwrite").json(out)
      val schema = StructType(Seq(
        StructField("doc_id", StringType),
        StructField("spans", ArrayType(StructType(Seq(
          StructField("kind", StringType),
          StructField("text", StringType),
          StructField("media_ref", StringType),
          StructField("order", IntegerType))))),
        StructField("schema_version", IntegerType)))
      s.read.schema(schema).json(out)
        .filter($"schema_version" === 1)
        .select($"doc_id", size($"spans").cast("long").as("n_spans"),
          md5(array_join(transform($"spans", sp =>
            concat_ws("|", sp("kind"), sp("text"), sp("media_ref"),
              sp("order"))), "\u0001")).as("digest"))
    },
      s"""WITH $derivedSpansCtes
         |SELECT doc_id, count(*)::BIGINT AS n_spans,
         |  md5(string_agg(kind || '|' || text || '|' || media_ref || '|' || ord,
         |                 chr(1) ORDER BY ord)) AS digest
         |FROM spans GROUP BY doc_id""".stripMargin),

    // Native codegen'd Catalyst expression (SparkSessionExtensions tier):
    // normalize noisy text (CRLF + EOS sentinel + padding) back to the
    // clean original — oracle is simply the original column.
    Gate("ext_normalize_expr", (s, dir) => {
      import s.implicits._
      graft.GraftExtensions.registerFunctions(s)
      t(s, dir, "documents").select($"doc_id",
        expr("graft_normalize_text(concat('  ', text, '\r\n', " +
             "'<｜end▁of▁sentence｜>'))").as("norm"))
    }, "SELECT doc_id, text AS norm FROM documents"),
  )
}
