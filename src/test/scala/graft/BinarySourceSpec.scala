package graft

import graft.operators.MediaOps
import org.scalatest.funsuite.AnyFunSuite

/** S1 source coverage: media payloads round-trip through the
  * `binaryFile` DataSource (the lake-side analog of the reference's
  * per-image file scan, cli/app.rs:95-101) and feed the decode kernel.
  */
class BinarySourceSpec extends AnyFunSuite with TempDirs {

  private lazy val spark = SparkSuite.spark

  test("binaryFile round-trip: files written, scanned, headers decoded") {
    import spark.implicits._
    val dir = tempDir("graft-bin")
    val docs = Seq((2L, "x"), (4L, "y")).toDF("doc_id", "text")
    val items = MediaOps.mediaItems(spark, docs).collect()
    val meta = MediaOps.binaryFileRoundTrip(spark, docs, dir.toString).collect()
    assert(meta.length == items.length)
    assert(meta.map(_.media_ref).toSet == items.map(_.media_ref).toSet)
    // decoded-through-the-file-scan must equal decoded-in-memory
    val direct = MediaOps.decodeMeta(spark, docs).collect()
      .map(m => m.media_ref -> m).toMap
    meta.foreach { m =>
      assert(m == direct(m.media_ref))
      assert(m.width > 0 && m.height > 0 && m.format != "unknown")
    }
    // filename mapping is a clean inverse
    items.foreach { it =>
      assert(MediaOps.refOfFileName(MediaOps.fileName(it)) == it.media_ref)
    }
  }
}
