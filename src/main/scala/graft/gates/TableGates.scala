package graft.gates

import graft.SparkEntry.PruneHashProbeIds
import graft.corpus.CorpusDerive
import graft.extract.Kernel
import graft.gates.ExtractionGates.keptSpansSql
import graft.gates.Gate._
import graft.pipeline.Extraction.ExtractedRow
import graft.pipeline.{Extraction, TableIO}
import graft.schema.Doc
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Table gates (tio_*): the extracted corpus written through TableIO
  * into a fresh table, read back, and totalled. The oracles recompute
  * bucket membership and span counts from documents.parquet, so the
  * manifest, commit and read layers are oracle-verified.
  */
object TableGates {

  /** The derived corpus extracted into 16 hash buckets. */
  private def rows16(s: SparkSession, dir: String): Dataset[ExtractedRow] =
    Extraction.extractRows(CorpusDerive.derive(s, dir), buckets = 16)

  /** Doc and span totals of a table read, grouped by `key`. */
  private def totals(df: Dataset[_], key: Column*): DataFrame =
    df.groupBy(key: _*).agg(count(lit(1)).as("n_docs"),
      sum(col("span_count")).cast("long").as("n_spans"))

  private def bucketTotals(df: Dataset[_]): DataFrame =
    totals(df, col("bucket").cast("long").as("bucket"))

  /** Per-bucket doc and span totals of the hash layout (bucket = md5i of
    * the padded id mod 16) when doc doc_id holds `spans` spans. */
  private def bucketTotalsOracleSql(spans: String): String =
    s"""WITH w AS (
       |  SELECT ${md5iSql("printf('d%010d', doc_id)")} % 16 AS bucket,
       |    $spans AS n_spans
       |  FROM documents)
       |SELECT bucket::BIGINT AS bucket, count(*)::BIGINT AS n_docs,
       |  CAST(sum(n_spans) AS BIGINT) AS n_spans
       |FROM w GROUP BY bucket""".stripMargin

  val all: Seq[Gate] = Seq(
    // End-to-end resumable-write round-trip: extract → bucketed manifest
    // write (TableIO) → read back COMMITTED buckets only → per-bucket
    // stats.
    Gate("tio_roundtrip", (s, dir) => inFreshDir("tio-verify") { out =>
      TableIO.writeResumable(rows16(s, dir), out)
      bucketTotals(TableIO.readCommitted(s, out))
    }, bucketTotalsOracleSql(keptSpansSql("doc_id"))),

    // Manifest-stats scan pruning (Iceberg file-skipping analog): range-
    // clustered resumable write, then a narrow id-range read that must
    // touch only the overlapping buckets (require(read < total)) while
    // returning exactly the full-scan filter's rows. The oracle: range
    // buckets are monotone in doc_id, so the read set is the buckets
    // whose [min,max] id bounds intersect the middle-fifth range; row
    // totals are the plain filter.
    Gate("tio_prune", (s, dir) => inFreshDir("tio-prune") { out =>
      import s.implicits._
      val maxId = t(s, dir, "documents").agg(max($"doc_id")).as[Long].head()
      val rows = Extraction.extractRowsWith(CorpusDerive.derive(s, dir),
        (_: Doc).doc_id, Kernel.extractSpans, buckets = 16,
        bucketBy = Extraction.rangeBucketOf(_, _, maxId))
      TableIO.writeResumable(rows, out)
      val lo = maxId * 2 / 5; val hi = maxId * 3 / 5
      val (pruned, read, total) = TableIO.readCommittedPruned(
        s, out, f"d$lo%010d", f"d$hi%010d")
      require(read < total, s"pruning must skip buckets ($read/$total read)")
      totals(pruned)
        .withColumn("buckets_read", lit(read.toLong))
        .withColumn("buckets_total", lit(total.toLong))
    },
      s"""WITH mx AS (SELECT max(doc_id) AS mid FROM documents),
         |rng AS (SELECT (mid*2)//5 AS lo, (mid*3)//5 AS hi FROM mx),
         |w AS (SELECT d.doc_id,
         |        least(15, (d.doc_id*16)//(mx.mid+1)) AS bucket,
         |        ${keptSpansSql("d.doc_id")} AS n_spans
         |      FROM documents d, mx),
         |bm AS (SELECT bucket, min(doc_id) AS bmin, max(doc_id) AS bmax
         |       FROM w GROUP BY bucket),
         |rd AS (SELECT count(*)::BIGINT AS buckets_read,
         |              (SELECT count(*) FROM bm)::BIGINT AS buckets_total
         |       FROM bm, rng WHERE bmin <= hi AND bmax >= lo)
         |SELECT
         |  (SELECT count(*) FROM w, rng WHERE w.doc_id BETWEEN lo AND hi)::BIGINT AS n_docs,
         |  (SELECT CAST(sum(n_spans) AS BIGINT) FROM w, rng WHERE w.doc_id BETWEEN lo AND hi) AS n_spans,
         |  buckets_read, buckets_total
         |FROM rd""".stripMargin),

    // Bloom-pruned point reads on the HASH layout (round-4 verdict item
    // 10): min/max bounds can't prune hash buckets (every id range
    // spreads across all of them), so each bucket manifest carries a
    // 64×63-bit doc_id Bloom; a bounded id-set probe reads only the
    // buckets whose Bloom maybe-contains a queried id. False positives
    // are deterministic — the oracle rebuilds every bucket's Bloom words
    // bit-for-bit from the raw documents, probes the spec id set, and
    // predicts buckets_read EXACTLY, FPs included, plus the exact row
    // totals of the matched ids.
    Gate("tio_prune_hash", (s, dir) => inFreshDir("tio-prune-hash") { out =>
      TableIO.writeResumable(rows16(s, dir), out)
      val (pruned, read, total) =
        TableIO.readCommittedPrunedByIds(s, out, PruneHashProbeIds)
      require(read < total,
        s"bloom pruning must skip buckets ($read/$total read)")
      totals(pruned)
        .withColumn("buckets_read", lit(read.toLong))
        .withColumn("buckets_total", lit(total.toLong))
    },
      s"""WITH w AS (
         |  SELECT printf('d%010d', doc_id) AS did,
         |    ${md5iSql("printf('d%010d', doc_id)")} % 16 AS bucket,
         |    ${keptSpansSql("doc_id")} AS n_spans
         |  FROM documents),
         |words AS (
         |  SELECT bucket, p // 63 AS wd, bit_or(1::BIGINT << CAST(p % 63 AS INT)) AS bits
         |  FROM (SELECT bucket,
         |          ${md5iSql("'bf' || t.i || '|' || did")} % 4032 AS p
         |        FROM w, (SELECT unnest([0,1,2]) AS i) t)
         |  GROUP BY 1, 2),
         |q AS (SELECT unnest([${PruneHashProbeIds.map(id => s"'$id'").mkString(",")}]) AS qid),
         |qp AS (SELECT qid,
         |         ${md5iSql("'bf' || t.i || '|' || qid")} % 4032 AS p
         |       FROM q, (SELECT unnest([0,1,2]) AS i) t),
         |buckets AS (SELECT DISTINCT bucket FROM w),
         |hit AS (
         |  SELECT b.bucket, q.qid,
         |    sum(CASE WHEN ((coalesce(wd.bits, 0) >> CAST(q.p % 63 AS INT)) & 1) = 1
         |        THEN 1 ELSE 0 END) AS nb
         |  FROM buckets b CROSS JOIN qp q
         |  LEFT JOIN words wd ON wd.bucket = b.bucket AND wd.wd = q.p // 63
         |  GROUP BY 1, 2),
         |readb AS (SELECT DISTINCT bucket FROM hit WHERE nb = 3)
         |SELECT
         |  (SELECT count(*) FROM w WHERE did IN (SELECT qid FROM q))::BIGINT AS n_docs,
         |  (SELECT CAST(sum(n_spans) AS BIGINT) FROM w WHERE did IN (SELECT qid FROM q)) AS n_spans,
         |  (SELECT count(*) FROM readb)::BIGINT AS buckets_read,
         |  (SELECT count(*) FROM buckets)::BIGINT AS buckets_total""".stripMargin),

    // Upsert / MERGE-on-read (Iceberg v2 equality-delete analog): base
    // batch + an upsert batch rewriting every doc_id % 3 == 0 row down
    // to one span; latest-batch-wins read, poisoned-replay no-op,
    // batch-id time travel, and a merged view that compaction + expiry
    // leave unchanged all asserted in-query. The oracle: upserted keys
    // count exactly 1 span; everything else keeps the tio_roundtrip
    // closed form.
    Gate("tio_upsert", (s, dir) => inFreshDir("tio-upsert") { out =>
      import s.implicits._
      val rows = rows16(s, dir)
      require(TableIO.appendBatchIdempotent(rows, out, 0L))
      val upd = rows
        .filter(substring($"doc_id", 2, 10).cast("long") % 3 === 0)
        .map(r => r.copy(spans = r.spans.take(1), span_count = 1))
      require(TableIO.appendBatchIdempotent(upd, out, 1L))
      // poisoned replay: a second commit of batch 1 is a no-op
      require(!TableIO.appendBatchIdempotent(upd, out, 1L))
      // time travel: as-of batch 0 shows the pre-upsert span totals
      val pre = TableIO.readMerged(s, out, asOfBatch = 0L)
        .agg(sum($"span_count")).as[Long].head()
      val post = TableIO.readMerged(s, out)
        .agg(sum($"span_count")).as[Long].head()
      require(pre > post, s"upsert must shrink span totals ($pre -> $post)")
      // compaction keeps every batch version: the merged view and its
      // batch-id time travel survive compact + expiry unchanged
      val merged = bucketTotals(TableIO.readMerged(s, out)).collect().toSet
      TableIO.compact(s, out)
      TableIO.expireSnapshots(out)
      require(TableIO.readMerged(s, out, asOfBatch = 0L)
        .agg(sum($"span_count")).as[Long].head() == pre,
        "time travel to batch 0 must survive compaction")
      require(bucketTotals(TableIO.readMerged(s, out)).collect().toSet == merged,
        "compaction must not change the merged view")
      bucketTotals(TableIO.readMerged(s, out))
    }, bucketTotalsOracleSql(s"CASE WHEN doc_id % 3 = 0 THEN 1 ELSE ${keptSpansSql("doc_id")} END")),

    // Compaction lifecycle (Iceberg rewrite_data_files/expire_snapshots
    // analog) under the hash gate: stream-style commits (3 tiny + 1 bulk)
    // → binpack folds ONLY the small tail → full rewrite supersedes all →
    // snapshot expiry physically removes dead state. Row-equality is
    // asserted at every stage in-query; the returned per-bucket totals
    // must still match the same closed form as tio_roundtrip, so any
    // row lost or duplicated across the rewrites hash-fails.
    Gate("tio_compact", (s, dir) => inFreshDir("tio-compact") { out =>
      val rows = rows16(s, dir)
      val slice = (i: Int) =>
        rows.filter(expr(s"CAST(substring(doc_id, 2) AS BIGINT) % 100 = $i"))
      (0 until 3).foreach(i =>
        TableIO.appendBatchIdempotent(slice(i), out, i.toLong))
      TableIO.appendBatchIdempotent(
        rows.filter(expr("CAST(substring(doc_id, 2) AS BIGINT) % 100 >= 3")),
        out, 3L)
      val nBefore = TableIO.readTable(s, out).count()
      val filesBefore = TableIO.visibleDataFiles(out).size
      // threshold = the bulk batch's on-disk size: strictly-smaller (the
      // tiny commits) folds, the bulk batch itself does not — robust to
      // the sf under test
      val bulkBytes = TableIO.dirBytes(java.nio.file.Paths.get(out, "data", "batch=3"))
      val snap1 = TableIO.compactSmall(s, out, smallBytes = bulkBytes)
        .getOrElse(sys.error("binpack found no small tail to fold"))
      val folded = TableIO.compactions(out)
        .find(_.snapshot == snap1).get.supersededBatches.sorted
      require(folded == Seq(0L, 1L, 2L),
        s"binpack must fold exactly the tiny commits, got $folded")
      require(TableIO.readTable(s, out).count() == nBefore,
        "rows changed across binpack")
      require(TableIO.visibleDataFiles(out).size < filesBefore,
        "binpack must shrink the visible file count")
      // time travel to the pre-binpack state still sees the raw batches
      require(TableIO.readTable(s, out, asOfSnapshot = snap1 - 1)
        .count() == nBefore, "time travel to pre-binpack state broken")
      val snap2 = TableIO.compact(s, out)
      require(snap2 > snap1, "full rewrite must advance the snapshot")
      require(TableIO.readTable(s, out).count() == nBefore,
        "rows changed across full compaction")
      require(TableIO.expireSnapshots(out) > 0,
        "expiry must remove superseded state")
      require(TableIO.committedBatches(out).isEmpty,
        "all batch dirs were superseded; expiry must drop their manifests")
      bucketTotals(TableIO.readTable(s, out))
    }, bucketTotalsOracleSql(keptSpansSql("doc_id"))),

    // Schema evolution lifecycle (Iceberg add-column analog) under the
    // hash gate: v1 batch (base schema) → evolveAddColumn("lang") → v2
    // batch written WITH the column → full compaction. In-query
    // invariants: time travel to the pre-evolution snapshot keeps the
    // old shape; a post-evolution write missing the column is rejected;
    // compaction preserves the evolved column. The returned per-lang
    // totals make v1 rows surface as NULL-lang ('none') and v2 rows
    // carry their written values — any loss of the column across the
    // rewrite, or evolved values bleeding into old rows, hash-fails.
    Gate("tio_evolve", (s, dir) => inFreshDir("tio-evolve") { out =>
      val rows = rows16(s, dir)
      val idNum = expr("CAST(substring(doc_id, 2) AS BIGINT)")
      TableIO.appendBatchIdempotent(rows.filter(idNum % 2 === 0), out, 0L)
      val preSnap = TableIO.currentSnapshot(out)
      val evoSnap = TableIO.evolveAddColumn(out, "lang", "string")
      require(evoSnap > preSnap, "evolution must advance the snapshot")
      val v2 = rows.filter(idNum % 2 === 1).toDF()
        .withColumn("lang", when(idNum % 3 === 0, lit("en")).otherwise(lit("xx")))
      TableIO.appendBatchIdempotent(v2, out, 1L)
      require(!TableIO.readTableDf(s, out, asOfSnapshot = preSnap)
        .columns.contains("lang"),
        "time travel to pre-evolution snapshot must keep the old schema")
      require(scala.util.Try(
        TableIO.appendBatchIdempotent(rows.limit(1), out, 9L)).isFailure,
        "post-evolution write missing the evolved column must be rejected")
      TableIO.compact(s, out)
      val df = TableIO.readTableDf(s, out)
      require(df.columns.contains("lang"),
        "compaction must preserve the evolved column")
      totals(df, coalesce(col("lang"), lit("none")).as("lang"))
    },
      s"""WITH w AS (
         |  SELECT CASE WHEN doc_id % 2 = 0 THEN 'none'
         |              WHEN doc_id % 3 = 0 THEN 'en' ELSE 'xx' END AS lang,
         |    ${keptSpansSql("doc_id")} AS n_spans
         |  FROM documents)
         |SELECT lang, count(*)::BIGINT AS n_docs,
         |  CAST(sum(n_spans) AS BIGINT) AS n_spans
         |FROM w GROUP BY lang""".stripMargin),
  )
}
