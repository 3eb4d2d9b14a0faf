package graft.extract

import graft.schema.{Doc, ExtractedDoc, ExtractedSpan, Span}

/** Pure, deterministic extraction kernel — the analog of the reference's
  * fused per-image pipeline function (/root/reference/crates/core/src/
  * model/mod.rs:436-471 `process_input_full`), re-expressed as a per-doc
  * tokenize → boilerplate-strip → classify → reading-order → render pass.
  *
  * Zero Spark dependencies: unit-testable stand-alone, invoked from the
  * Dataset pipeline through `mapPartitions`. Determinism rules (SURVEY.md
  * §7.4): no wall-clock, no hash-iteration-order dependence, stable sorts.
  */
object Kernel {

  /** End-of-sequence sentinel stripped by the reference's normalize step
    * (/root/reference/crates/core/src/inference.rs:178-183).
    */
  val EosSentinel = "<｜end▁of▁sentence｜>"

  /** Exact semantics of the reference's `normalize_text`
    * (/root/reference/crates/core/src/inference.rs:178-183):
    * CRLF → LF, strip the EOS sentinel, trim.
    */
  def normalizeText(s: String): String = {
    // fast-path the (overwhelmingly common) no-match cases: String.replace
    // allocates a matcher + copy even when nothing matches
    val a = if (s.contains("\r\n")) s.replace("\r\n", "\n") else s
    val b = if (a.contains(EosSentinel)) a.replace(EosSentinel, "") else a
    b.trim // returns this when already trimmed
  }

  /** Exactly the Java regex `\s` class — NOT Character.isWhitespace,
    * which additionally accepts u001C-u001F and u2028/u2029 and would
    * silently diverge from regex-based oracle semantics on control chars.
    */
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 11.toChar || c == '\f' || c == '\r'

  /** Whitespace tokenizer without regex: String.split("\\s+") compiles a
    * Pattern per CALL (only single-literal-char splits take the JDK fast
    * path), and this runs for every markup span of every document.
    */
  private[extract] def wsTokens(text: String): Array[String] = {
    val out = Array.newBuilder[String]
    val n = text.length
    var i = 0
    while (i < n) {
      while (i < n && isWs(text.charAt(i))) i += 1
      val start = i
      while (i < n && !isWs(text.charAt(i))) i += 1
      if (i > start) out += text.substring(start, i)
    }
    out.result()
  }

  private val BoilerplateWords =
    Set("nav", "navigation", "footer", "copyright", "cookie", "cookies",
        "subscribe", "advertisement", "sponsored")

  /** Lowercased alphabetic chars of `t` — allocation-light replacement
    * for toLowerCase.replaceAll("[^a-z]", "") (which compiled a regex per
    * token); returns `t` itself when already clean lowercase alpha.
    */
  private def lowerAlpha(t: String): String = {
    var i = 0
    val n = t.length
    var clean = true
    while (clean && i < n) {
      val c = t.charAt(i)
      if (c < 'a' || c > 'z') clean = false else i += 1
    }
    if (clean) return t
    val sb = new java.lang.StringBuilder(n)
    i = 0
    while (i < n) {
      val c = Character.toLowerCase(t.charAt(i))
      if (c >= 'a' && c <= 'z') sb.append(c)
      i += 1
    }
    sb.toString
  }

  /** Boilerplate predicate over a normalized raw span. Markup spans whose
    * link density (the share of whitespace tokens that are `[bracketed]`
    * link tokens — the text-density/link-density heuristic of the north
    * rule) is at least 0.5, or that hold a nav/footer/ads keyword,
    * are stripped (analog of the reference's mask filtering + normalize —
    * model/mod.rs:1259-1266, inference.rs:178-183).
    */
  def isBoilerplate(kind: String, text: String): Boolean = {
    if (kind != "markup") false
    else {
      // tokenize once for both the link-density test and the keyword scan
      val toks = wsTokens(text)
      var links = 0
      var i = 0
      while (i < toks.length) {
        val t = toks(i)
        if (t.length >= 2 && t.charAt(0) == '[' && t.charAt(t.length - 1) == ']')
          links += 1
        i += 1
      }
      if (toks.length > 0 && links * 2 >= toks.length) true
      else {
        var found = false
        i = 0
        while (!found && i < toks.length) {
          if (BoilerplateWords.contains(lowerAlpha(toks(i)))) found = true
          i += 1
        }
        found
      }
    }
  }

  private def looksLikeTable(text: String): Boolean = {
    val lines = text.split('\n')
    lines.nonEmpty && lines.forall { l =>
      val t = l.trim; t.startsWith("|") && t.endsWith("|") && t.length >= 2
    }
  }

  /** Region classification — the analog of the reference's grounding
    * post-process (`<|ref|>…<|det|>` → heading/table/figure markdown,
    * /root/reference/scripts/capture_baseline.py:762-776).
    * Returns the output kind, or None for spans that are dropped.
    */
  def classify(span: Span, normText: String): Option[String] = {
    if (span.kind == "media" || span.media_ref.nonEmpty) Some("figure")
    else if (isBoilerplate(span.kind, normText)) None
    else if (normText.isEmpty) None
    else if (span.kind == "markup" && looksLikeTable(normText)) Some("table")
    else if (normText.startsWith("#")) {
      // '#'{1..6} + space → heading (markdown heading discipline)
      val hashes = normText.takeWhile(_ == '#').length
      if (hashes >= 1 && hashes <= 6 &&
          normText.length > hashes && normText(hashes) == ' ') Some("heading")
      else Some("paragraph")
    } else if (span.kind == "markup") None // non-table, non-boiler markup: dropped
    else Some("paragraph")
  }

  /** Reading-order recovery: stable sort by source offset (tie-break by
    * original array index) — the analog of the reference's tile reorder +
    * row-break injection (model/mod.rs:403-434,321-333). Spans never leave
    * their row, so this is shuffle-free per SURVEY.md §7.4(1).
    */
  def extract(doc: Doc): ExtractedDoc = {
    val out = extractSpans(doc)
    ExtractedDoc(doc.doc_id, out, renderMarkdown(out))
  }

  // sort key + payload for one kept span (avoids boxed-tuple comparators
  // in the hot sort)
  private final class Kept(val offset: Int, val idx: Int, val kind: String,
                           val text: String, val ref: String)
  private val KeptOrder = new java.util.Comparator[Kept] {
    def compare(a: Kept, b: Kept): Int = {
      val c = Integer.compare(a.offset, b.offset)
      if (c != 0) c else Integer.compare(a.idx, b.idx)
    }
  }

  /** Span extraction without the rendered markdown — the shuffle-side
    * payload. Markdown duplicates every span's text, so the pipeline
    * renders it AFTER the rebalance shuffle (pure function of spans);
    * shuffling it would roughly double bytes on the wire.
    */
  def extractSpans(doc: Doc): IndexedSeq[ExtractedSpan] = {
    val in = doc.spans
    val kept = new Array[Kept](in.size)
    var n = 0
    var i = 0
    in.foreach { s =>
      val norm = normalizeText(s.text)
      classify(s, norm) match {
        case Some(kind) =>
          kept(n) = new Kept(s.offset, i, kind, norm, s.media_ref)
          n += 1
        case None =>
      }
      i += 1
    }
    java.util.Arrays.sort(kept, 0, n, KeptOrder)
    val out = new Array[ExtractedSpan](n)
    var j = 0
    while (j < n) {
      val k = kept(j)
      out(j) = ExtractedSpan(k.kind, k.text, k.ref, j)
      j += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
  }

  /** Ordered markdown emission — analog of the reference's final decode +
    * grounding rewrite into `result.mmd` (capture_baseline.py:762-780).
    */
  def renderMarkdown(spans: Seq[ExtractedSpan]): String = {
    val sb = new java.lang.StringBuilder
    var first = true
    spans.foreach { s =>
      if (!first) sb.append("\n\n")
      first = false
      if (s.kind == "figure") sb.append("![](").append(s.media_ref).append(')')
      else sb.append(s.text)
    }
    sb.toString
  }

  /** Stable FNV-1a 64-bit over the extracted span sequence, for the
    * per-partition lineage manifest (FIXTURES.md §4).
    */
  def checksum(doc: ExtractedDoc): Long = {
    var h = 0xcbf29ce484222325L
    def mix(s: String): Unit = {
      var i = 0
      while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
      h ^= 0x1e; h *= 0x100000001b3L
    }
    mix(doc.doc_id)
    doc.spans.foreach { s => mix(s.kind); mix(s.text); mix(s.media_ref); mix(s.order.toString) }
    h
  }
}
