package graft

import graft.functions.Hashing
import graft.operators.{DedupOps, MediaOps, SimilarityOps, TextOps}
import org.scalatest.funsuite.AnyFunSuite

/** Unit/invariant suites for the training-data operators (dedup sketches,
  * similarity search, text analysis, multimodal plumbing). Planted
  * near-duplicates verify the sketch math end-to-end through Spark.
  */
class OpsSpec extends AnyFunSuite {

  private lazy val spark = SparkSuite.spark
  import org.apache.spark.sql.functions._

  test("md5i matches Spark's own md5/conv (engine-parity anchor)") {
    import spark.implicits._
    val vals = Seq("a", "0|x y z", "img://42/0", "")
    val fromSpark = vals.toDF("s")
      .select(Hashing.md5iCol(col("s"))).as[Long].collect()
    assert(fromSpark.toSeq == vals.map(Hashing.md5i))
    assert(vals.forall(v => Hashing.md5i(v) >= 0L))
  }

  test("minhash: identical docs collide on every band; planted near-dup found") {
    val base = (1 to 60).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 59).map(i => s"w$i").mkString(" ") + " CHANGED"
    val distinctDoc = (1 to 60).map(i => s"z$i").mkString(" ")
    val sigA = DedupOps.minhashSig(DedupOps.shingles(base).distinct.sorted)
    val sigB = DedupOps.minhashSig(DedupOps.shingles(nearDup).distinct.sorted)
    val sigC = DedupOps.minhashSig(DedupOps.shingles(distinctDoc).distinct.sorted)
    assert(sigA.length == DedupOps.NumHashes)
    // near-dup shares most signature positions; distinct doc shares none
    assert(sigA.zip(sigB).count { case (x, y) => x == y } >= DedupOps.NumHashes / 2)
    assert(sigA.zip(sigC).count { case (x, y) => x == y } == 0)

    import spark.implicits._
    val docs = Seq((1L, base), (2L, nearDup), (3L, distinctDoc))
      .toDF("doc_id", "text")
    val pairs = DedupOps.minhashPairs(spark, docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("simhash: identical text -> equal; near-dup -> small hamming distance") {
    val a = DedupOps.simhash("alpha beta gamma delta epsilon zeta")
    val b = DedupOps.simhash("alpha beta gamma delta epsilon zeta")
    val c = DedupOps.simhash("alpha beta gamma delta epsilon CHANGED")
    val d = DedupOps.simhash("totally different words entirely here now")
    assert(a == b)
    assert(java.lang.Long.bitCount(a ^ c) < java.lang.Long.bitCount(a ^ d))
    assert((a & ~((1L << DedupOps.SimBits) - 1)) == 0L) // only low 48 bits
  }

  test("ngram jaccard: exact within-block pairs above threshold only") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s1", "a b c d e f g h"),
      (2L, "s1", "a b c d e f g X"),    // near-dup of 1
      (3L, "s1", "p q r s t u v w"),    // same block, unrelated
      (4L, "s2", "a b c d e f g h"))    // dup content, different block
      .toDF("doc_id", "source", "text")
    val pairs = DedupOps.ngramJaccardPairs(spark, docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L))) // blocked: (1,4) not compared
  }

  test("exact-substring spans: maximal cross-doc runs, merged and split correctly") {
    import spark.implicits._
    val shared = (1 to 12).map(i => s"c$i").mkString(" ")   // 12-word shared run
    val far = (1 to 20).map(i => s"u$i").mkString(" ")      // > k separator
    val docs = Seq(
      (1L, s"$shared $far $shared"),                 // two islands, gap > k
      (2L, s"x1 x2 x3 $shared"),                     // one island at offset 3
      (3L, "only unique words live here nothing shared at all with others"),
      (4L, "rep rep rep rep rep rep rep rep rep rep")) // within-doc only
      .toDF("doc_id", "text")
    val spans = DedupOps.exactSubstrSpans(spark, docs)
      .as[(Long, Long, Long)].collect().toSet
    // doc 1: words 0..11 and 32..43 duplicated (12+20+12 words total);
    // doc 2: words 3..14; doc 3 nothing; doc 4 repeats only within itself
    assert(spans == Set((1L, 0L, 12L), (1L, 32L, 12L), (2L, 3L, 12L)))
  }

  test("exact-substring spans: adjacent windows merge; viral windows are cut") {
    import spark.implicits._
    // shared run of 9 words with k=8 → duplicated positions 0,1 merge
    // into ONE maximal span of 9
    val run9 = (1 to 9).map(i => s"m$i").mkString(" ")
    val merged = DedupOps.exactSubstrSpans(spark,
      Seq((1L, run9), (2L, run9)).toDF("doc_id", "text"))
      .as[(Long, Long, Long)].collect().toSet
    assert(merged == Set((1L, 0L, 9L), (2L, 0L, 9L)))
    // the same 3-word window in 3 docs with maxOcc=2 → viral, dropped
    val viral = DedupOps.exactSubstrSpans(spark,
      Seq((1L, "v1 v2 v3"), (2L, "v1 v2 v3"), (3L, "v1 v2 v3"))
        .toDF("doc_id", "text"), k = 3, maxOcc = 2)
    assert(viral.count() == 0L)
    // at maxOcc=3 the same corpus yields one span per doc
    val kept = DedupOps.exactSubstrSpans(spark,
      Seq((1L, "v1 v2 v3"), (2L, "v1 v2 v3"), (3L, "v1 v2 v3"))
        .toDF("doc_id", "text"), k = 3, maxOcc = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(kept == Set((1L, 0L, 3L), (2L, 0L, 3L), (3L, 0L, 3L)))
  }

  test("exact-substring spans: a doc_id outside [0, 2^43) fails loudly, naming it") {
    import spark.implicits._
    val text = (1 to 10).map(i => s"w$i").mkString(" ")
    for (bad <- Seq(-5L, 1L << 43)) {
      val e = intercept[Exception](DedupOps.exactSubstrSpans(spark,
        Seq((1L, text), (bad, text)).toDF("doc_id", "text")).collect())
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains(s"doc_id $bad is outside [0, 2^43)")),
        e.getMessage)
    }
    // the largest valid id still pairs with its duplicate
    val top = (1L << 43) - 1
    assert(DedupOps.exactSubstrSpans(spark, Seq((1L, text), (top, text)).toDF("doc_id", "text"))
      .as[(Long, Long, Long)].collect().toSet == Set((1L, 0L, 10L), (top, 0L, 10L)))
  }

  test("exact-substring cut: duplicated runs removed, counts audited, rest untouched") {
    import spark.implicits._
    val shared = (1 to 12).map(i => s"c$i").mkString(" ")
    val far = (1 to 20).map(i => s"u$i").mkString(" ")
    val docs = Seq(
      (1L, s"$shared $far $shared"),
      (2L, s"x1 x2 x3 $shared"),
      (3L, "only unique words live here nothing shared at all with others"))
      .toDF("doc_id", "text")
    val cut = DedupOps.exactSubstrCut(spark, docs)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    assert(cut(0) == ((1L, far, 44L, 24L)))          // both runs cut, middle kept
    assert(cut(1) == ((2L, "x1 x2 x3", 15L, 12L)))   // prefix kept
    assert(cut(2)._2.startsWith("only unique") && cut(2)._4 == 0L)
  }

  test("embedding near-dup + topk: LSH-bucketed candidates, exact cosine verify") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(1.0f, 0.0f, 0.0f), 0),    // identical, same label -> pair
      (2L, Array(0.0f, 1.0f, 0.0f), 0),    // orthogonal
      (3L, Array(1.0f, 0.0f, 0.0f), 1))    // identical, other label -> blocked
      .toDF("vec_id", "embedding", "label")
    val nd = DedupOps.embeddingNearDupPairs(spark, emb)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    // (0,1) collide on every hyperplane (identical) and share the label;
    // (0,3) share the sketch but not the label; (0,2) dot=0 fails verify
    assert(nd == Set((0L, 1L)))
    val topk = SimilarityOps.bruteForceTopK(spark, emb, nQueries = 1, k = 2)
      .select("neighbor_id", "rank").as[(Long, Long)].collect().toMap
    // v1/v3 identical to v0 (cos 1.0) -> ranks 1,2 by id tie-break
    assert(topk == Map(1L -> 1L, 3L -> 2L))
  }

  test("multiprobe embedding dedup: superset of banded, subset of exact truth") {
    import spark.implicits._
    // random unit-ish vectors in 8-d, one label: some true pairs near the
    // 0.4 threshold land in different band buckets and need the probes
    val rnd = new scala.util.Random(11)
    val emb = (0L until 60L).map { i =>
      (i, Array.fill(8)((rnd.nextGaussian() / 3).toFloat), 0)
    }.toDF("vec_id", "embedding", "label")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val banded = pairs(DedupOps.embeddingNearDupPairs(spark, emb))
    val probed = pairs(DedupOps.embeddingNearDupPairs(spark, emb, DedupOps.EmbProbes))
    // exact ground truth: all within-label pairs through the same
    // integer-cosine gate (quantized q, 25·dot² >= 4·na·nb)
    val q = SimilarityOps.quantized(emb)
    val truth = pairs(q.as("a").join(q.as("b"),
        $"a.label" === $"b.label" && $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"),
        SimilarityOps.dot($"a.q", $"b.q").as("dot"),
        $"a.nsq".as("na"), $"b.nsq".as("nb"))
      .filter($"dot" > 0L && lit(25L) * $"dot" * $"dot" >= lit(4L) * $"na" * $"nb"))
    assert(banded.subsetOf(probed), "probes must only ADD candidates")
    assert(probed.subsetOf(truth), "exact verify: no false positives ever")
    // measured on sf0.1: banded 45/88 true pairs, multiprobe 82/88;
    // this seeded corpus must show a strict recall improvement too
    assert(probed.size > banded.size,
      s"banded=${banded.size} probed=${probed.size} truth=${truth.size}")
  }

  test("ivf: planted twin found at rank 1; funnel deterministic; self excluded") {
    import spark.implicits._
    // three axis clusters in 4-d; vec 0 is the query, vec 6 its twin
    val rows = Seq(
      (0L, Array(1.00f, 0.00f, 0f, 0f), 0),
      (1L, Array(0.00f, 1.00f, 0f, 0f), 0),
      (2L, Array(0.00f, 0.00f, 1f, 0f), 0),
      (3L, Array(0.95f, 0.05f, 0f, 0f), 0),
      (4L, Array(0.05f, 0.95f, 0f, 0f), 0),
      (5L, Array(0.00f, 0.05f, 1f, 0f), 0),
      (6L, Array(0.99f, 0.01f, 0f, 0f), 0),  // near-twin of the query
      (7L, Array(0.00f, 0.99f, 0f, 0f), 0),
      (8L, Array(0.01f, 0.00f, 1f, 0f), 0))
    val emb = rows.toDF("vec_id", "embedding", "label")
    val res = SimilarityOps.ivfTopK(spark, emb, nCentroids = 6, nProbe = 2,
        nQueries = 1, k = 2)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Long)].collect().sortBy(_._3)
    assert(res.forall(_._1 == 0L))
    assert(res.forall(_._2 != 0L), "self must be excluded")
    assert(res.map(_._3).toSeq == Seq(1L, 2L), "ranks contiguous from 1")
    // the twin lives in the query's own cell — always probed, rank 1
    assert(res.head._2 == 6L)
    // deterministic: a second full build+probe returns identical rows
    val again = SimilarityOps.ivfTopK(spark, emb, nCentroids = 6, nProbe = 2,
        nQueries = 1, k = 2)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Long)].collect().sortBy(_._3)
    assert(res.toSeq == again.toSeq)
  }

  test("minhash flood: MaxBucket cap emits a linear star, one component") {
    import spark.implicits._
    val n = DedupOps.MaxBucket + 36
    val text = (1 to 20).map(i => s"t$i").mkString(" ")
    val docs = (1L to n.toLong).map(i => (i, text)).toDF("doc_id", "text")
    val pairs = DedupOps.minhashPairs(spark, docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // capped: every member pairs with the representative (min doc_id) only
    assert(pairs.size == n - 1)
    assert(pairs.forall(_._1 == 1L))
    assert(pairs.map(_._2) == (2L to n.toLong).toSet)
    // uncapped comparison: the same flood is quadratic
    val unc = DedupOps.minhashPairs(spark, docs, maxBucket = 10 * n)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(unc.size == n.toLong * (n - 1) / 2)
  }

  test("ngram df cap drops viral-shingle-only candidates") {
    import spark.implicits._
    val docs = (1L to 4L).map(i => (i, "s1", "a b c d e"))
      .toDF("doc_id", "source", "text")
    // every shingle has df=4: with maxDf=3 no candidates survive at all,
    // even though every pair has J=1 — the cap governs candidate discovery
    val capped = DedupOps.ngramJaccardPairs(spark, docs, maxDf = 3).count()
    assert(capped == 0L)
    val full = DedupOps.ngramJaccardPairs(spark, docs).count()
    assert(full == 6L)
  }

  test("bounded collect: exact cap across partial merges; flood stays bounded") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 1000 unique ids under one key spread over 64 partitions: every
    // partial buffer is under the cap, so overflow must fire at MERGE
    // time, not update time — the subtle path
    val wide = spark.range(0, 1000).repartition(64)
      .select(lit(1L).as("k"), $"id")
    val overCap = wide.groupBy($"k")
      .agg(graft.functions.BoundedCollectAgg.column($"id", 999).as("ids"))
      .select($"ids").as[Option[Seq[Long]]].head()
    assert(overCap.isEmpty, "1000 members with cap 999 must overflow")
    val atCap = wide.groupBy($"k")
      .agg(graft.functions.BoundedCollectAgg.column($"id", 1000).as("ids"))
      .select($"ids").as[Option[Seq[Long]]].head()
    assert(atCap.contains((0L until 1000L).toSeq),
      "cap == size must collect everything, sorted")
    // ngram flood: 3000 identical docs -> every shingle df=3000 >> MaxDf,
    // all buckets overflow to NULL inside the aggregate (no 3000-element
    // buffer is ever kept), zero candidates, completes scan-shaped
    val n = 3000L
    val text = (1 to 30).map(i => s"w$i").mkString(" ")
    val flood = spark.range(1, n + 1)
      .select($"id".as("doc_id"), lit("s1").as("source"), lit(text).as("text"))
    assert(DedupOps.ngramJaccardPairs(spark, flood).count() == 0L)
  }

  test("bounded collect SET: duplicates never count toward the cap") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 100 distinct ids, each posted 20 times, across 64 partitions: 2000
    // postings > cap, but duplicates collapse in-buffer and across
    // partial merges
    val dup = spark.range(0, 2000).repartition(64)
      .select(lit(1L).as("k"), ($"id" % 100).as("id"))
    val set = dup.groupBy($"k")
      .agg(graft.functions.BoundedCollectAgg.column($"id", 150).as("ids"))
      .select($"ids").as[Option[Seq[Long]]].head()
    assert(set.contains((0L until 100L).toSeq), "sorted distinct members")
    // overflow fires on DISTINCT size > cap
    val over = dup.groupBy($"k")
      .agg(graft.functions.BoundedCollectAgg.column($"id", 99).as("ids"))
      .select($"ids").as[Option[Seq[Long]]].head()
    assert(over.isEmpty, "100 distinct with cap 99 must overflow")
  }

  test("banded ngram pairs match the unbanded pairs when no band is viral") {
    import spark.implicits._
    // 4 near-dup docs (shared prefix, distinct tails) + noise docs
    val docs = ((1L to 4L).map(i =>
        (i, "s1", (1 to 20).map(j => s"w$j").mkString(" ") + s" tail$i")) ++
      (10L to 20L).map(i =>
        (i, "s1", (1 to 15).map(j => s"n$i-$j").mkString(" "))))
      .toDF("doc_id", "source", "text")
    val a = DedupOps.ngramJaccardPairs(spark, docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val b = DedupOps.ngramJaccardPairs(spark, docs, bandBits = DedupOps.BandBits)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(a.nonEmpty && a == b,
      "band-granular cut must agree when no band is viral")
  }

  test("every pair-emitting dedup operator returns no rows on an empty frame") {
    import spark.implicits._
    val docs = Seq.empty[(Long, String, String)].toDF("doc_id", "source", "text")
    val emb = Seq.empty[(Long, Array[Float], Int)].toDF("vec_id", "embedding", "label")
    val ops = Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "minhashPairs" -> (() => DedupOps.minhashPairs(spark, docs)),
      "ngramJaccardPairs" -> (() => DedupOps.ngramJaccardPairs(spark, docs)),
      "ngramJaccardPairs banded" -> (() =>
        DedupOps.ngramJaccardPairs(spark, docs, bandBits = DedupOps.BandBits)),
      "embeddingNearDupPairs" -> (() => DedupOps.embeddingNearDupPairs(spark, emb)),
      "embeddingNearDupPairs probed" -> (() =>
        DedupOps.embeddingNearDupPairs(spark, emb, DedupOps.EmbProbes)),
      "exactSubstrSpans" -> (() => DedupOps.exactSubstrSpans(spark, docs)),
      "streamingMinhashPairs" -> (() =>
        graft.streaming.StreamDedup.streamingMinhashPairs(spark, docs)))
    for ((name, op) <- ops) assert(op().count() == 0L, name)
  }

  test("lsh sketch: identical vectors identical sketch, deterministic coef") {
    import spark.implicits._
    assert(SimilarityOps.planeCoef(0, 0) == Hashing.md5i("0|0") % 2001L - 1000L)
    val emb = Seq(
      (0L, Array.fill(64)(0.25f), 0),
      (1L, Array.fill(64)(0.25f), 0),
      (2L, Array.tabulate(64)(i => if (i % 2 == 0) 0.4f else -0.4f), 0))
      .toDF("vec_id", "embedding", "label")
    val sketches = SimilarityOps.lshSketch(spark, emb)
    val sk = sketches.as[(Long, Long)].collect().toMap
    assert(sk(0L) == sk(1L))
    // candidate pairs: vectors that share a sketch
    val pairs = sketches.as("a").join(sketches.as("b"),
        $"a.sketch" === $"b.sketch" && $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id", $"b.vec_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("langid: stopword profiles pick the right language; und on no hits") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat is on the mat and a dog"),
      (2L, "el perro y la casa de que los"),
      (3L, "der hund und die katze ist ein"),
      (4L, "xyzzy plugh quux"))
      .toDF("doc_id", "text")
    val out = TextOps.langId(docs).select("doc_id", "pred_lang")
      .as[(Long, String)].collect().toMap
    assert(out == Map(1L -> "en", 2L -> "es", 3L -> "de", 4L -> "und"))
  }

  test("fingerprint: order-sensitive, engine-stable") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "a b c"), (3L, "c b a"))
      .toDF("doc_id", "text")
    val fps = TextOps.fingerprint(docs).as[(Long, Long)].collect().toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
    // cross-check against the pure-Scala fold
    val expect = Hashing.polyFp(Iterator("a", "b", "c").map(Hashing.md5i))
    assert(fps(1L) == expect)
  }

  test("media decode: real header synthesis parses back exactly") {
    import spark.implicits._
    val docs = Seq((2L, "x"), (3L, "y"), (4L, "z")).toDF("doc_id", "text")
    val items = MediaOps.mediaItems(spark, docs).collect()
    assert(items.map(_.media_ref).toSet ==
      Set("img://2/0", "img://4/0", "img://4/1"))
    val meta = MediaOps.decodeMeta(spark, docs).collect()
    meta.foreach { m =>
      // dims parsed from the bytes must equal the derivation rule
      assert(m.width == Hashing.md5i(s"w|${m.media_ref}") % 1920L + 1L)
      assert(m.height == Hashing.md5i(s"h|${m.media_ref}") % 1080L + 1L)
      val expectFmt = (Hashing.md5i(s"t|${m.media_ref}") % 3L) match {
        case 0L => "jpeg"; case 1L => "png"; case _ => "gif"
      }
      assert(m.format == expectFmt)
      val expectLen = expectFmt match {
        case "jpeg" => MediaOps.MediaHeaders.JpegLen
        case "png"  => MediaOps.MediaHeaders.PngLen
        case _      => MediaOps.MediaHeaders.GifLen
      }
      assert(m.n_bytes == expectLen)
    }
    val frames = MediaOps.frameSample(spark, docs)
      .as[(String, Long)].collect()
    assert(frames.forall(_._2 % 10 == 0))
    assert(frames.groupBy(_._1).keySet == items.map(_.media_ref).toSet)
  }

  test("media decode kernel: each container parsed from raw bytes; corrupt safe") {
    import MediaOps.{MediaHeaders, MediaItem, MediaKernel}
    val p = MediaKernel.decode(MediaItem(1L, "r", MediaHeaders.png(1920, 1080)))
    assert((p.width, p.height, p.format) == (1920L, 1080L, "png"))
    val j = MediaKernel.decode(MediaItem(1L, "r", MediaHeaders.jpeg(640, 480)))
    assert((j.width, j.height, j.format) == (640L, 480L, "jpeg"))
    val g = MediaKernel.decode(MediaItem(1L, "r", MediaHeaders.gif(320, 200)))
    assert((g.width, g.height, g.format) == (320L, 200L, "gif"))
    // JPEG parse must WALK markers, not assume fixed offsets: prepend an
    // extra APP1 segment before the SOF0
    val extra = Array(0xff, 0xe1, 0x00, 0x04, 0x41, 0x42).map(_.toByte)
    val jb = MediaHeaders.jpeg(99, 77)
    val shifted = jb.take(2) ++ extra ++ jb.drop(2)
    val js = MediaKernel.decode(MediaItem(1L, "r", shifted))
    assert((js.width, js.height, js.format) == (99L, 77L, "jpeg"))
    // corrupt / truncated bytes never throw
    val u = MediaKernel.decode(MediaItem(1L, "r", Array[Byte](1, 2, 3)))
    assert(u.format == "unknown" && u.width == 0L)
    val t = MediaKernel.decode(MediaItem(1L, "r", MediaHeaders.jpeg(9, 9).take(6)))
    assert(t.format != "png" && t.height == 0L)
  }
}
