package perfbench

import graft.extract.Kernel
import graft.schema.{ExtractedDoc, ExtractedSpan}
import org.apache.spark.sql.{Dataset, Encoders}

/** Totals of a pipeline's or table's output, recomputed from the rows'
  * content: documents, spans, XOR of [[Kernel.checksum]] and XOR of a
  * markdown hash ([[Kernel.checksum]] does not cover the markdown).
  */
final case class Totals(docs: Long, spans: Long, xor: Long, mdXor: Long) {
  def +(o: Totals): Totals = Totals(docs + o.docs, spans + o.spans, xor ^ o.xor, mdXor ^ o.mdXor)
}

object Check {
  val Zero: Totals = Totals(0, 0, 0, 0)

  def mdHash(id: String, markdown: String): Long =
    Gen.mix(Gen.mix(id.hashCode.toLong) ^ markdown.hashCode.toLong * 0x9E3779B97F4A7C15L ^ markdown.length)

  def row(id: String, spans: Seq[ExtractedSpan], markdown: String): Totals =
    Totals(1, spans.size, Kernel.checksum(ExtractedDoc(id, spans, markdown)), mdHash(id, markdown))

  /** What a correct output of `docs` expected documents must total. */
  def expected(e: Gen.Expected): Totals = Totals(e.docs, e.spansOut, e.xor, e.mdXor)

  def totals(ds: Dataset[ExtractedDoc]): Totals = {
    implicit val enc = Encoders.product[Totals]
    ds.mapPartitions { it =>
      var t = Zero
      it.foreach(d => t = t + row(d.doc_id, d.spans, d.markdown))
      Iterator.single(t)
    }.collect().foldLeft(Zero)(_ + _)
  }

  /** Rows through a (possibly truncated) pipeline, with no per-row work. */
  def count[T](ds: Dataset[T]): Long = {
    implicit val enc = Encoders.scalaLong
    ds.mapPartitions(it => Iterator.single(it.size.toLong)).collect().sum
  }
}
