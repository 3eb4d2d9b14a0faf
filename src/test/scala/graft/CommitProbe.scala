package graft

import graft.corpus.CorpusDerive
import graft.pipeline.{Extraction, TableIO}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One table operation per JVM, so a host-level count (`tools/forks.sh`)
  * covers exactly that operation plus the session start.
  *  - `commit`: the corpus at `sfDir` → [[Extraction.extractRows]] →
  *    [[TableIO.writeResumable]] into a 64-bucket table at `outDir`; a
  *    fresh commit on a new dir, the idempotent rerun on a committed one.
  *    Prints the Spark jobs and SQL queries the write ran (a rerun of a
  *    committed table: `jobs=0 queries=0`).
  *  - `lookup`: [[TableIO.readCommittedPrunedByIds]] of 8 ids of that
  *    table, 4 of them absent, collected.
  * Run: `Test/runMain graft.CommitProbe commit|lookup <sfDir> <outDir>`
  */
object CommitProbe {
  /** What `body` ran on `spark`: its result, the analyzed plan of each SQL
    * query it executed, and the number of Spark jobs it started. Events of
    * earlier actions are drained first; a running stream would add its own.
    */
  def counted[A](spark: SparkSession)(body: => A): (A, Seq[String], Int) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val queryListener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.analyzed.toString)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plans.add(qe.analyzed.toString)
    }
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(queryListener)
    spark.sparkContext.addSparkListener(jobListener)
    try {
      val r = body
      ListenerBusDrain(spark.sparkContext)
      (r, plans.toArray(Array.empty[String]).toSeq, jobs.get())
    } finally {
      spark.listenerManager.unregister(queryListener)
      spark.sparkContext.removeSparkListener(jobListener)
    }
  }

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
        val (written, queries, jobs) = counted(spark)(TableIO.writeResumable(rows, outDir))
        println(s"COMMIT buckets_written=$written jobs=$jobs queries=${queries.size}")
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
