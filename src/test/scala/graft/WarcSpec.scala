package graft

import graft.extract.Warc
import graft.extract.Warc.Record
import org.scalatest.funsuite.AnyFunSuite

class WarcSpec extends AnyFunSuite {

  private def rec(uri: String, body: String) =
    Record("response", uri, body.getBytes("UTF-8"))

  test("multi-record round trip preserves payload bytes exactly") {
    val records = Seq(
      rec("http://a/1", "hello world"),
      rec("http://a/2", ""),
      Record("metadata", "http://a/3", Array.tabulate[Byte](257)(_.toByte)))
    val parsed = Warc.parse(Warc.build(records))
    assert(parsed.size == 3)
    parsed.zip(records).foreach { case (p, r) =>
      assert(p.recordType == r.recordType && p.uri == r.uri)
      assert(p.payload.sameElements(r.payload))
    }
  }

  test("payload containing WARC magic and CRLFs frames by Content-Length only") {
    // the classic streaming-parser bug: scanning for the next magic
    // instead of honoring Content-Length
    val evil = "WARC/1.0\r\nWARC-Type: response\r\n\r\nnested!\r\n\r\n"
    val records = Seq(rec("http://t/evil", evil), rec("http://t/next", "after"))
    val parsed = Warc.parse(Warc.build(records))
    assert(parsed.size == 2)
    assert(new String(parsed.head.payload, "UTF-8") == evil)
    assert(parsed(1).uri == "http://t/next")
  }

  test("extra headers are tolerated; header names are case-insensitive") {
    val body = "x"
    val blob = ("WARC/1.0\r\n" +
      "warc-type: response\r\n" +
      "WARC-Date: 2026-01-01T00:00:00Z\r\n" +
      "WARC-TARGET-URI: http://z/9\r\n" +
      "content-length: 1\r\n" +
      "\r\n" + body + "\r\n\r\n").getBytes("UTF-8")
    val parsed = Warc.parse(blob)
    assert(parsed.size == 1 && parsed.head.uri == "http://z/9")
    assert(new String(parsed.head.payload, "UTF-8") == body)
  }

  test("corrupt archives fail structured: bad magic, oversized length, no trailer") {
    val good = Warc.build(Seq(rec("http://x/1", "abc")))
    intercept[IllegalArgumentException] {
      Warc.parse("HARC/1.0\r\n\r\n".getBytes("UTF-8"))
    }
    val oversize = new String(good, "UTF-8")
      .replace("Content-Length: 3", "Content-Length: 9999")
    intercept[IllegalArgumentException] { Warc.parse(oversize.getBytes("UTF-8")) }
    intercept[IllegalArgumentException] {
      Warc.parse(java.util.Arrays.copyOf(good, good.length - 2))
    }
  }

  test("fuzz: garbage and mutated blobs terminate with structured errors") {
    val rng = new scala.util.Random(23)
    val valid = Warc.build(Seq(rec("http://f/1", "alpha"), rec("http://f/2", "beta")))
    for (trial <- 0 until 200) {
      val bytes = trial % 3 match {
        case 0 => Array.fill(rng.nextInt(120) + 1)(rng.nextInt(256).toByte)
        case 1 =>
          val b = valid.clone()
          b(rng.nextInt(b.length)) = rng.nextInt(256).toByte
          b
        case _ => java.util.Arrays.copyOf(valid, rng.nextInt(valid.length) + 1)
      }
      try Warc.parse(bytes)
      catch { case _: RuntimeException => () }
    }
  }

  test("every record carries the mandatory headers; distinct URIs get distinct record ids") {
    val records = Seq(rec("http://h/1", "a"), rec("http://h/2", "b"),
      Record("metadata", "http://h/1", "c".getBytes("UTF-8")))
    def ids = records.map { r =>
      val raw = new String(Warc.build(Seq(r)), "UTF-8")
      val headers = raw.substring(0, raw.indexOf("\r\n\r\n")).split("\r\n").toSeq
      assert(headers.head == "WARC/1.0")
      val fields = headers.tail.map { h =>
        val i = h.indexOf(": ")
        h.substring(0, i) -> h.substring(i + 2)
      }.toMap
      assert(Set("WARC-Record-ID", "Content-Length", "WARC-Date", "WARC-Type")
        .subsetOf(fields.keySet), fields)
      assert(fields("WARC-Type") == r.recordType)
      assert(fields("Content-Length") == r.payload.length.toString)
      assert(fields("WARC-Date").matches("\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}Z"))
      val id = fields("WARC-Record-ID")
      assert(id.matches("<urn:uuid:[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}>"), id)
      id
    }
    // one id per (type, URI), and the same id on every build
    val first = ids
    assert(first.distinct.size == records.size)
    assert(ids == first)
    assert(Warc.parse(Warc.build(records)).map(_.uri) == records.map(_.uri))
  }

  test("header values with CR/LF are rejected at build (framing injection)") {
    intercept[IllegalArgumentException] {
      Warc.build(Seq(rec("http://a/1\r\nWARC-Type: injected", "x")))
    }
    intercept[IllegalArgumentException] {
      Warc.build(Seq(Record("res\nponse", "http://a/1", "x".getBytes)))
    }
  }

  test("gzip round trip: one member per record, concatenated members stream back exactly") {
    val records = Seq(
      rec("http://g/1", "hello"),
      rec("http://g/2", ""),
      Record("metadata", "http://g/3", Array.tabulate[Byte](300)(_.toByte)))
    val gz = Warc.buildGz(records)
    // really one gzip member per record: member magic appears 3 times
    val magics = (0 until gz.length - 1).count(i =>
      (gz(i) & 0xff) == 0x1f && (gz(i + 1) & 0xff) == 0x8b)
    assert(magics == 3, s"expected 3 gzip members, saw $magics")
    val back = Warc.recordsGz(new java.io.ByteArrayInputStream(gz)).toSeq
    assert(back.size == 3)
    back.zip(records).foreach { case (p, r) =>
      assert(p.recordType == r.recordType && p.uri == r.uri)
      assert(p.payload.sameElements(r.payload))
    }
  }

  test("cdx index: every member slice decompresses independently to its record") {
    val records = (0 until 9).map(i => rec(s"http://c/$i", s"body-$i-" + "z" * i))
    val (gz, idx) = Warc.buildGzIndexed(records)
    assert(idx.size == 9)
    // the index covers the archive exactly, members are contiguous
    assert(idx.map(_.length).sum == gz.length)
    assert(idx.head.offset == 0)
    idx.sliding(2).foreach { case Seq(a, b) =>
      assert(a.offset + a.length == b.offset)
    }
    // a point read touches ONLY the slice and still yields the record
    idx.zip(records).foreach { case (e, r) =>
      val slice = java.util.Arrays.copyOfRange(
        gz, e.offset.toInt, (e.offset + e.length).toInt)
      val back = Warc.recordsGz(new java.io.ByteArrayInputStream(slice)).toSeq
      assert(back.size == 1 && back.head.uri == r.uri)
      assert(back.head.payload.sameElements(r.payload))
      assert(slice.length < gz.length) // provably a partial read
    }
    // and buildGz is exactly the indexed build's bytes
    assert(Warc.buildGz(records).sameElements(gz))
  }

  test("streaming parser is incremental: one payload live at a time") {
    // a stream whose SECOND record is truncated: taking the first record
    // must succeed (nothing past it was read), draining must fail — the
    // parser provably does not materialize the archive up front
    val good = Warc.build(Seq(rec("http://s/1", "first")))
    val broken = good ++ Warc.build(Seq(rec("http://s/2", "second")))
      .dropRight(9) // cut into the second record's payload + trailer
    val it = Warc.records(new java.io.ByteArrayInputStream(broken))
    assert(new String(it.next().payload, "UTF-8") == "first")
    intercept[RuntimeException] { while (it.hasNext) it.next() }
    // and the per-record allocation cap fails structured before allocating
    val huge = ("WARC/1.0\r\nWARC-Type: response\r\n" +
      "WARC-Target-URI: http://s/3\r\n" +
      s"Content-Length: ${Warc.MaxPayload + 1}\r\n\r\n").getBytes("UTF-8")
    val e = intercept[IllegalArgumentException] {
      Warc.records(new java.io.ByteArrayInputStream(huge)).next()
    }
    assert(e.getMessage.contains("per-record cap"))
  }
}
