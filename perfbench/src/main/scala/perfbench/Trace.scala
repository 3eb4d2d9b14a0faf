package perfbench

import graft.schema.ExtractedSpan
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.util.LongAccumulator

import scala.collection.mutable.ArrayBuffer

/** One traced interval: name, start and end (ns, driver clock), the
  * index of the span that contains it (-1 for none) and the run it
  * belongs to.
  */
final case class SpanRec(name: String, start: Long, end: Long, parent: Int, run: String)

/** In-memory span recorder around the benchmark's own calls into each
  * layer; written out once, when the benchmark ends.
  */
final class Tracer {
  private val spans = ArrayBuffer.empty[SpanRec]
  private var open: List[Int] = Nil
  private var run = ""

  def startRun(id: String): Unit = run = id

  def span[T](name: String)(f: => T): T = {
    val idx = spans.length
    val start = System.nanoTime()
    spans += SpanRec(name, start, start, open.headOption.getOrElse(-1), run)
    open = idx :: open
    try f
    finally {
      open = open.tail
      spans(idx) = spans(idx).copy(end = System.nanoTime())
    }
  }

  /** Records a child of the innermost open span whose duration was
    * measured elsewhere (a query listener); it is laid out back to back
    * after the previous such child, starting at `from`.
    */
  def child(name: String, from: Long, durNs: Long): Long = {
    spans += SpanRec(name, from, from + durNs, open.headOption.getOrElse(-1), run)
    from + durNs
  }

  /** Self time of every span named `name` in run `run`: its duration
    * minus the part of it that child spans cover.
    */
  def selfNs(name: String, run: String): Seq[Long] =
    spans.indices.filter(i => spans(i).name == name && spans(i).run == run).map { i =>
      val s = spans(i)
      val kids = spans.filter(_.parent == i).map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter(k => k._2 > k._1).sortBy(_._1)
      var covered = 0L; var upTo = s.start
      kids.foreach { case (a, b) =>
        val from = math.max(a, upTo)
        if (b > from) { covered += b - from; upTo = b }
      }
      (s.end - s.start) - covered
    }.toSeq

  def wallNs(name: String, run: String): Seq[Long] =
    spans.filter(s => s.name == name && s.run == run).map(s => s.end - s.start).toSeq

  def jsonLines: Iterator[String] = spans.iterator.map(s =>
    Json.write(Map("name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end,
      "parent" -> s.parent, "run" -> s.run)))
}

/** Task metrics of one finished task, as the listener bus reports them. */
final case class TaskRec(stage: Int, runMs: Long, gcMs: Long, inputBytes: Long,
                         shuffleWrite: Long, shuffleRead: Long, fetchWaitMs: Long,
                         spillBytes: Long, failed: Boolean)

/** Listener the benchmark registers: collects every task's metrics and
  * every query action's duration, until [[take]] hands them over.
  */
final class Tally extends SparkListener with QueryExecutionListener {
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val queries = ArrayBuffer.empty[(String, Long)]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val failed = e.reason != org.apache.spark.Success
    tasks += (if (m == null) TaskRec(e.stageId, 0, 0, 0, 0, 0, 0, 0, failed)
      else TaskRec(e.stageId, m.executorRunTime, m.jvmGCTime, m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled, failed))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { queries += ((Tally.kind(qe), durationNs)) }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { queries += (("failed", 0L)) }

  /** Everything recorded since the last call, once the bus is drained. */
  def take(sc: SparkContext): (Seq[TaskRec], Seq[(String, Long)]) = {
    org.apache.spark.BusDrain(sc)
    synchronized {
      val out = (tasks.toSeq, queries.toSeq)
      tasks.clear(); queries.clear()
      out
    }
  }
}

object Tally {
  /** The TableIO pass a query belongs to, told from its plan: the data
    * write, the stats aggregation (bit_xor of checksums) or the Bloom
    * aggregation (bit_or of bit positions); anything else is "query".
    */
  def kind(qe: QueryExecution): String = {
    val plan = qe.analyzed.toString
    if (plan.contains("InsertIntoHadoopFsRelationCommand")) "write"
    else if (plan.contains("bit_xor")) "stats"
    else if (plan.contains("bit_or")) "bloom"
    else "query"
  }

  /** Shuffle, spill, GC and skew figures of one operation's tasks. */
  def exchange(tasks: Seq[TaskRec]): Map[String, Double] = {
    val mb = 1024.0 * 1024.0
    val post = tasks.filter(_.shuffleRead > 0).groupBy(_.stage)
    val skew =
      if (post.isEmpty) 1.0
      else {
        val stage = post.maxBy(_._2.map(_.shuffleRead).sum)._2.map(_.runMs.toDouble)
        stage.max / math.max(1.0, Stats.median(stage))
      }
    Map(
      "exchange.shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / mb,
      "exchange.shuffle_read_mb" -> tasks.map(_.shuffleRead).sum / mb,
      "exchange.spill_mb" -> tasks.map(_.spillBytes).sum / mb,
      "exchange.fetch_wait_s" -> tasks.map(_.fetchWaitMs).sum / 1000.0,
      "exchange.task_skew" -> skew,
      "spark.gc_s" -> tasks.map(_.gcMs).sum / 1000.0,
      "spark.tasks_failed" -> tasks.count(_.failed).toDouble)
  }
}

/** Counters around a kernel function: busy time, documents, spans in and
  * out. The wrapped function is what the benchmark passes to
  * `pipelineWith` / `extractRowsWith` in a traced run.
  */
final class KernelProbe(sc: SparkContext, name: String) extends Serializable {
  val busyNs: LongAccumulator = sc.longAccumulator(s"$name.busy_ns")
  val docs: LongAccumulator = sc.longAccumulator(s"$name.docs")
  val spansIn: LongAccumulator = sc.longAccumulator(s"$name.spans_in")
  val spansOut: LongAccumulator = sc.longAccumulator(s"$name.spans_out")

  def wrap[T](kernel: T => IndexedSeq[ExtractedSpan], spansOf: T => Int): T => IndexedSeq[ExtractedSpan] = {
    val (b, d, si, so) = (busyNs, docs, spansIn, spansOut)
    (doc: T) => {
      val t0 = System.nanoTime()
      val out = kernel(doc)
      b.add(System.nanoTime() - t0)
      d.add(1L); si.add(spansOf(doc).toLong); so.add(out.size.toLong)
      out
    }
  }

  def reset(): Unit = Seq(busyNs, docs, spansIn, spansOut).foreach(_.reset())
}
