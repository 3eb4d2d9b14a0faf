package perfbench

import graft.schema.{Doc, ExtractedDoc}
import org.apache.spark.sql.Encoders
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  // tests run with the benchmark's directory as working directory
  private val work = Files.createTempDirectory(Files.createDirectories(Paths.get("target")), "spec").toString
  private lazy val spark = Main.session(work, 2)

  override def afterAll(): Unit = {
    spark.stop()
    Files.walk(Paths.get(work)).iterator().asScala.toSeq.reverse.foreach(Files.delete(_))
  }

  /** Order-insensitive hash of a generated input table, read back from parquet. */
  private def tableHash(seed: Long, docs: Int, dir: String): Long = {
    Gen.writeDocs(spark, seed, docs, 3, dir)
    spark.read.parquet(dir).as[Doc](Encoders.product[Doc]).collect()
      .map(Gen.docHash).foldLeft(0L)(_ ^ _)
  }

  test("the same seed gives an identical input hash, another seed a different one") {
    val a = tableHash(7, 3000, s"$work/h7a")
    assert(a == tableHash(7, 3000, s"$work/h7b"))
    assert(a == Gen.expectDocs(7, 3000, 2).inputHash)
    assert(a != tableHash(8, 3000, s"$work/h8"))
    assert(Gen.expectHtmls(7, 500, 2).inputHash == Gen.expectHtmls(7, 500, 2).inputHash)
    assert(Gen.expectHtmls(7, 500, 2).inputHash != Gen.expectHtmls(8, 500, 2).inputHash)
  }

  test("the corpus has its heavy tail, hot run, boilerplate and absent ids") {
    val docs = (0 until 5000).map(Gen.doc(3, 5000, _))
    val spans = docs.map(_.spans.size)
    val hot = Gen.hotStart(3, 5000)
    assert(spans.max > 10 * spans.sorted.apply(spans.size / 2))
    assert((hot until hot + Gen.hotLen(5000)).forall(i => spans(i) > 30))
    assert(docs.count(_.spans.exists(_.text.startsWith("Subscribe"))) > 500)
    val ids = docs.map(_.doc_id).toSet
    assert(ids.size == 5000)
    assert((0 until 5000).forall(i => !ids.contains(graft.corpus.CorpusDerive.docIdStr(Gen.absentId(3, i)))))
  }

  private def args(name: String) = Main.Args(name, 5, 1, trace = false, s"$work/$name", s"$work/$name.json")

  private def errorRate(w: Workload): Double = {
    Main.run(w, args(w.name), new Tracer)("error_rate").asInstanceOf[Double]
  }

  private def html = new HtmlWorkload(spark, 5, s"$work/html", 2, 2000)
  private val victim = Gen.html(5, 2000, 17)._1

  test("an untouched run has error rate 0 on every workload") {
    Workloads.Docs.keys.foreach { name =>
      assert(errorRate(Workloads(name, spark, 5, s"$work/$name", 2, 2000)) == 0.0, name)
    }
  }

  test("a dropped output row raises the error rate") {
    val w = html
    w.tamper = ds => ds.filter((d: ExtractedDoc) => d.doc_id != victim)
    assert(errorRate(w) > 0.0)
  }

  test("a corrupted output row raises the error rate") {
    val w = html
    w.tamper = ds => ds.map((d: ExtractedDoc) =>
      if (d.doc_id == victim) d.copy(spans = d.spans.map(s => s.copy(text = s.text + "!"))) else d
    )(Encoders.product[ExtractedDoc])
    assert(errorRate(w) > 0.0)
  }

  test("a committed row whose content no longer matches its checksum raises the error rate") {
    val w = new CommitWorkload(spark, 5, s"$work/commit-bad", 2, 2000)
    val victim = Gen.doc(5, 2000, 17).doc_id
    w.tamper = ds => ds.map((r: graft.pipeline.Extraction.ExtractedRow) =>
      if (r.doc_id == victim) r.copy(markdown = r.markdown + "!") else r
    )(Encoders.product[graft.pipeline.Extraction.ExtractedRow])
    assert(errorRate(w) > 0.0)
  }

  test("tail is the highest sample with ten beyond it") {
    assert(Stats.tail((1 to 5).map(_.toDouble)) == ((5.0, 100.0, 0)))
    assert(Stats.tail((1 to 100).map(_.toDouble)) == ((90.0, 90.0, 10)))
  }
}
