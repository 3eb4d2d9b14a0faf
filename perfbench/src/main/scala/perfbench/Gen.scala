package perfbench

import graft.corpus.CorpusDerive
import graft.extract.{Html, Kernel}
import graft.pipeline.Extraction
import graft.schema.{Doc, ExtractedDoc, ExtractedSpan, Span}
import org.apache.spark.sql.{Dataset, SaveMode, SparkSession}

/** Seeded input generator and the independent expected-result computation.
  *
  * Every generated document is a pure function of (seed, docs, index), so
  * the table is the same for any partitioning of the index range and the
  * driver can regenerate any single document without reading the table.
  *
  * Shape of the corpus (what the engine's behaviour depends on):
  *  - words per document follow a capped Pareto tail (alpha 1.5), so a
  *    few documents carry many paragraphs;
  *  - a contiguous run of 1% of the ids (one "hot host") holds heavy
  *    documents, which is the skew the pipeline's salt must spread;
  *  - each document draws its own boilerplate share (0-3 link-dense or
  *    keyword markup spans besides the nav/footer every page has) and
  *    media share (0-2 extra figures);
  *  - every eighth id inside the id range is absent, so point lookups of
  *    absent ids fall between present ones.
  */
object Gen {

  /** splitmix64 finalizer. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Small deterministic stream seeded from (seed, index). */
  final class Rng(seed: Long, index: Long) {
    private var s = mix(seed ^ mix(index + 0x632BE59BD9B4E019L))
    def next(): Long = { s += 0x9E3779B97F4A7C15L; mix(s) }
    def uniform(): Double = (next() >>> 11) * (1.0 / (1L << 53))
    def below(n: Int): Int = java.lang.Long.remainderUnsigned(next(), n.toLong).toInt
  }

  val HotShare = 0.01
  val MaxWords = 1200
  private val Syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "to", "vi",
    "pe", "da", "qu", "or", "en", "al", "is", "um")

  /** First numeric id of the seed's id range (leaves room for 10 digits). */
  def idBase(seed: Long): Long = 1000000L + java.lang.Long.remainderUnsigned(mix(seed), 4000000000L)

  /** Numeric id of document `i`: ids run contiguously except that every
    * eighth value (offset 7 mod 8) is skipped.
    */
  def idOf(seed: Long, i: Long): Long = idBase(seed) + i + i / 7

  /** A numeric id no document has: the skipped value after document `i`'s group. */
  def absentId(seed: Long, i: Long): Long = idBase(seed) + (i / 7) * 8 + 7

  def hotStart(seed: Long, docs: Int): Int = {
    val hot = hotLen(docs)
    new Rng(seed, -1L).below(math.max(1, docs - hot))
  }
  def hotLen(docs: Int): Int = math.max(1, (docs * HotShare).toInt)

  private def isHot(seed: Long, docs: Int, i: Int): Boolean = {
    val h = hotStart(seed, docs)
    i >= h && i < h + hotLen(docs)
  }

  private def words(r: Rng, hot: Boolean): Int =
    if (hot) 400 + r.below(400)
    else math.min(MaxWords, (12.0 / math.pow(1.0 - r.uniform(), 1.0 / 1.5)).toInt)

  private def word(r: Rng): String = {
    val n = 1 + r.below(3)
    val sb = new java.lang.StringBuilder(6)
    var k = 0
    while (k < n) { sb.append(Syllables(r.below(Syllables.length))); k += 1 }
    sb.toString
  }

  private def text(r: Rng, n: Int): String = {
    val sb = new java.lang.StringBuilder(n * 6)
    var k = 0
    while (k < n) { if (k > 0) sb.append(' '); sb.append(word(r)); k += 1 }
    sb.toString
  }

  private val Boiler = Array(
    "[share] [tweet] [mail] [print]",
    "Subscribe to our newsletter for weekly updates",
    "[prev] [next] related [more]")

  /** Document `i` of a `docs`-document corpus for `seed`. */
  def doc(seed: Long, docs: Int, i: Int): Doc = {
    val r = new Rng(seed, i.toLong)
    val id = idOf(seed, i.toLong)
    val base = CorpusDerive.deriveDoc(id, text(r, words(r, isHot(seed, docs, i))))
    val boiler = r.below(4)
    val media = r.below(3)
    val extra = (0 until boiler).map(k => Span("markup", Boiler(k), "", 20 + r.below(8000))) ++
      (0 until media).map(k => Span("media", "", s"img://$id/x$k", 50 + r.below(8000)))
    if (extra.isEmpty) base else Doc(base.doc_id, base.spans ++ extra)
  }

  /** Raw HTML document `i`: the engine's spec-idiom page for the id, with
    * a heavy-tailed number of extra paragraphs, link-farm blocks and
    * figures inserted before the footer.
    */
  def html(seed: Long, docs: Int, i: Int): (String, String) = {
    val r = new Rng(seed, i.toLong)
    val id = idOf(seed, i.toLong)
    val page = Html.synthesize(id)
    val paras = words(r, isHot(seed, docs, i)) / 12
    val sb = new java.lang.StringBuilder(page.length + paras * 80)
    val cut = page.lastIndexOf("<footer")
    sb.append(page, 0, cut)
    var k = 0
    while (k < paras) { sb.append("<p>").append(text(r, 12)).append("</p>\n"); k += 1 }
    k = r.below(4)
    while (k > 0) {
      sb.append("<div><a href=\"#\">s").append(k).append("</a> <a href=\"#\">t</a> x</div>\n")
      k -= 1
    }
    k = r.below(3)
    while (k > 0) {
      sb.append("<figure><img src=\"x/").append(id).append('_').append(k)
        .append(".png\"/></figure>\n")
      k -= 1
    }
    sb.append(page, cut, page.length)
    (CorpusDerive.docIdStr(id), sb.toString)
  }

  /** Totals a correct run must reproduce: documents, spans into and out
    * of the kernel, XOR of the per-document [[Kernel.checksum]], and an
    * order-insensitive hash of the input itself.
    */
  final case class Expected(docs: Long, spansIn: Long, spansOut: Long,
                            xor: Long, mdXor: Long, inputHash: Long) {
    def +(o: Expected): Expected = Expected(docs + o.docs, spansIn + o.spansIn,
      spansOut + o.spansOut, xor ^ o.xor, mdXor ^ o.mdXor, inputHash ^ o.inputHash)
  }
  val NoDocs: Expected = Expected(0, 0, 0, 0, 0, 0)

  private def fnv(h0: Long, s: String): Long = {
    var h = h0
    var i = 0
    while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
    h ^= 0x1f; h * 0x100000001b3L
  }

  def docHash(d: Doc): Long = mix(d.spans.foldLeft(fnv(0xcbf29ce484222325L, d.doc_id)) {
    (h, s) => fnv(fnv(fnv(fnv(h, s.kind), s.text), s.media_ref), s.offset.toString)
  })

  def htmlHash(d: (String, String)): Long =
    mix(fnv(fnv(0xcbf29ce484222325L, d._1), d._2))

  /** Expected totals of one document, computed by calling the kernel
    * directly (no Spark, no routing, no table).
    */
  def expectDoc(d: Doc): Expected = expectSpans(d.doc_id, d.spans.size, Kernel.extractSpans(d), docHash(d))

  def expectHtml(d: (String, String)): Expected =
    expectSpans(d._1, 0, Extraction.htmlSpans(d._2), htmlHash(d))

  private def expectSpans(id: String, spansIn: Int, spans: IndexedSeq[ExtractedSpan],
                          hash: Long): Expected = {
    val md = Kernel.renderMarkdown(spans)
    Expected(1, spansIn, spans.size, Kernel.checksum(ExtractedDoc(id, spans, md)),
      Check.mdHash(id, md), hash)
  }

  /** Folds `one(i)` over [0, docs) on `threads` driver threads. */
  def expectAll(docs: Int, threads: Int)(one: Int => Expected): Expected = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val chunk = (docs + threads * 8 - 1) / (threads * 8)
      val parts = (0 until docs by math.max(1, chunk)).map { from =>
        pool.submit(new java.util.concurrent.Callable[Expected] {
          def call(): Expected = {
            var acc = NoDocs
            var i = from
            val until = math.min(docs, from + chunk)
            while (i < until) { acc = acc + one(i); i += 1 }
            acc
          }
        })
      }
      parts.map(_.get()).foldLeft(NoDocs)(_ + _)
    } finally pool.shutdown()
  }

  def expectDocs(seed: Long, docs: Int, threads: Int): Expected =
    expectAll(docs, threads)(i => expectDoc(doc(seed, docs, i)))

  def expectHtmls(seed: Long, docs: Int, threads: Int): Expected =
    expectAll(docs, threads)(i => expectHtml(html(seed, docs, i)))

  /** The `docs`-document corpus for `seed`, generated in `parts` partitions. */
  def docsDs(spark: SparkSession, seed: Long, docs: Int, parts: Int): Dataset[Doc] = {
    import spark.implicits._
    spark.range(0L, docs.toLong, 1L, parts).as[Long].mapPartitions(_.map(i => doc(seed, docs, i.toInt)))
  }

  /** Writes the `docs`-document table for `seed` as parquet at `path`. */
  def writeDocs(spark: SparkSession, seed: Long, docs: Int, files: Int, path: String): Unit =
    docsDs(spark, seed, docs, files).write.mode(SaveMode.Overwrite).parquet(path)

  def writeHtml(spark: SparkSession, seed: Long, docs: Int, files: Int, path: String): Unit = {
    import spark.implicits._
    spark.range(0L, docs.toLong, 1L, files).as[Long]
      .mapPartitions(_.map(i => html(seed, docs, i.toInt)))
      .toDF("doc_id", "html")
      .write.mode(SaveMode.Overwrite).parquet(path)
  }
}
