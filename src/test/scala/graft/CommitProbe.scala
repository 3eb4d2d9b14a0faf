package graft

import graft.corpus.CorpusDerive
import graft.pipeline.{Extraction, TableIO}
import org.apache.spark.sql.SparkSession

/** One table operation per JVM, so a host-level count (`tools/forks.sh`)
  * covers exactly that operation plus the session start.
  *  - `commit`: the corpus at `sfDir` → [[Extraction.extractRows]] →
  *    [[TableIO.writeResumable]] into a 64-bucket table at `outDir`; a
  *    fresh commit on a new dir, the idempotent rerun on a committed one.
  *  - `lookup`: [[TableIO.readCommittedPrunedByIds]] of 8 ids of that
  *    table, 4 of them absent, collected.
  * Run: `Test/runMain graft.CommitProbe commit|lookup <sfDir> <outDir>`
  */
object CommitProbe {
  def main(args: Array[String]): Unit = {
    val Array(op, sfDir, outDir) = args
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    op match {
      case "commit" =>
        val rows = Extraction.extractRows(CorpusDerive.derive(spark, sfDir), 64)
        println(s"COMMIT buckets_written=${TableIO.writeResumable(rows, outDir)}")
      case "lookup" =>
        val ids = TableIO.readCommitted(spark, outDir).select("doc_id")
          .head(4).map(_.getString(0)).toSeq
        val (ds, read, total) = TableIO.readCommittedPrunedByIds(spark, outDir,
          ids ++ ids.map(_ + "-absent"))
        println(s"LOOKUP rows=${ds.collect().length} buckets_read=$read/$total")
    }
    spark.stop()
  }
}
