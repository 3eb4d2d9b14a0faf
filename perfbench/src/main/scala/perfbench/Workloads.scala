package perfbench

import graft.corpus.CorpusDerive
import graft.extract.Kernel
import graft.pipeline.{Extraction, TableIO}
import graft.schema.{Doc, ExtractedDoc, ExtractedSpan}
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Tracing state of a traced run: the span recorder, the listener and
  * the counters around the kernel.
  */
final case class Traced(tracer: Tracer, tally: Tally, kernel: KernelProbe)

/** One timed operation: its whole wall, the wall of its first pass (the
  * figure `docs_per_s` is taken from) and, in a traced run, its layer
  * figures.
  */
final case class Op(ok: Boolean, wallNs: Long, firstNs: Long, layers: Map[String, Double] = Map.empty,
                    note: String = "")

/** A benchmark workload. `setup(k)` builds the k-th copy of the inputs
  * from the seed (the last one built is the one operations use); `op(i)`
  * runs and checks operation i; `probe` runs the truncated variants a
  * traced run derives self times from.
  */
abstract class Workload(val spark: SparkSession, val seed: Long, val work: String, val cores: Int,
                        val docs: Int) {
  def name: String
  /** Documents (or ids) one operation's first pass handles. */
  def unit: Int = docs
  /** Untimed operations run before timing starts. */
  def warmOps: Int
  def setup(k: Int): Unit
  def op(i: Int, traced: Option[Traced]): Op
  def probe(t: Traced): Map[String, Double] = Map.empty
  /** Per-layer self times from medians of ops and probes, in seconds. */
  def selfTimes(ops: Map[String, Double], probes: Map[String, Double]): Map[String, Double]
  def inputHash: Long

  val sc = spark.sparkContext
  protected def files: Int = cores * 4
  protected def now: Long = System.nanoTime()
  protected def secs(ns: Long): Double = ns / 1e9

  /** Wall of `f` in ns, and its value. */
  protected def timed[T](f: => T): (Long, T) = { val t0 = now; val v = f; (now - t0, v) }

  protected def readDocs(path: String): Dataset[Doc] =
    spark.read.parquet(path).as[Doc](Encoders.product[Doc])

  protected def deleteTree(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root))
      Files.walk(root).iterator().asScala.toSeq.reverse.foreach(Files.delete(_))
  }

  /** Deletes the k-th copy of the inputs once a later one has been built. */
  def dropSetup(k: Int): Unit = Seq("input", "table").foreach(p => deleteTree(s"$work/$p-$k"))

  /** Runs a pipeline truncated after `stage` and counts what comes out. */
  protected def truncated(stage: String)(run: => Dataset[ExtractedDoc]): Long = {
    spark.conf.set(Extraction.StagesConf, stage)
    try Check.count(run) finally spark.conf.unset(Extraction.StagesConf)
  }
}

object Workloads {
  /** Input documents per workload (for `lookup`, the committed table's size). */
  val Docs: Map[String, Int] = Map("commit" -> 20000, "lookup" -> 10000, "html" -> 20000)

  def apply(name: String, spark: SparkSession, seed: Long, work: String, cores: Int,
            docs: Int): Workload = name match {
    case "commit" => new CommitWorkload(spark, seed, work, cores, docs)
    case "lookup" => new LookupWorkload(spark, seed, work, cores, docs)
    case "html" => new HtmlWorkload(spark, seed, work, cores, docs)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${Docs.keys.toSeq.sorted.mkString(", ")})")
  }

  /** Manifest totals of a committed table, parsed independently of TableIO:
    * (buckets, docs, spans, XOR of bucket checksums, data files).
    */
  def manifests(out: String): (Int, Long, Long, Long, Seq[String]) = {
    val dir = Paths.get(out, "manifests")
    val ms = Files.list(dir).iterator().asScala.toSeq
      .filter(p => p.getFileName.toString.matches("bucket-\\d+\\.json"))
      .map(p => Json.read(Files.readString(p)))
    (ms.size, ms.map(_.get("doc_count").asLong).sum, ms.map(_.get("span_count").asLong).sum,
      ms.map(_.get("span_checksum").asLong).foldLeft(0L)(_ ^ _),
      ms.flatMap(_.get("files").elements().asScala.map(_.asText)))
  }
}

/** Documents → extraction → resumable, manifest-committed table, then the
  * same job resubmitted on the same input (the idempotent retry).
  */
class CommitWorkload(spark: SparkSession, seed: Long, work: String, cores: Int, docs: Int)
    extends Workload(spark, seed, work, cores, docs) {
  val name = "commit"
  val warmOps = 2
  val Buckets = 64
  private var input = ""
  private var expected: Gen.Expected = Gen.NoDocs
  /** Rewrites the table's rows before the write; only tests set it. */
  var tamper: Dataset[Extraction.ExtractedRow] => Dataset[Extraction.ExtractedRow] = identity

  def inputHash: Long = expected.inputHash

  def setup(k: Int): Unit = {
    input = s"$work/input-$k"
    Gen.writeDocs(spark, seed, docs, files, input)
    expected = Gen.expectDocs(seed, docs, cores)
  }

  private def rows(traced: Option[Traced]): Dataset[Extraction.ExtractedRow] = tamper(traced match {
    case None => Extraction.extractRows(readDocs(input), Buckets)
    case Some(t) => Extraction.extractRowsWith(readDocs(input), (_: Doc).doc_id,
      t.kernel.wrap(Kernel.extractSpans, (_: Doc).spans.size), Buckets)
  })

  def op(i: Int, traced: Option[Traced]): Op = {
    val out = s"$work/commit-$i"
    var tasks = Seq.empty[TaskRec]
    try {
      val (firstNs, written) = traced match {
        case None => timed(TableIO.writeResumable(rows(None), out))
        case Some(t) => timed(t.tracer.span("tableio.writeResumable") {
          val from = now
          val n = TableIO.writeResumable(rows(traced), out)
          val (ts, queries) = t.tally.take(sc)
          tasks = ts
          queries.foldLeft(from) { case (at, (kind, ns)) => t.tracer.child(s"tableio.$kind", at, ns) }
          n
        })
      }
      val kernelNs = traced.map(_.kernel.busyNs.sum).getOrElse(0L)
      val keep = traced.map(t => t.kernel.spansOut.sum.toDouble / math.max(1L, t.kernel.spansIn.sum))
      val kernelDocs = traced.map(_.kernel.docs.sum).getOrElse(0L)
      traced.foreach(_.kernel.reset())
      val (rerunNs, again) = traced match {
        case None => timed(TableIO.writeResumable(rows(None), out))
        case Some(t) => timed(t.tracer.span("tableio.rerun")(TableIO.writeResumable(rows(traced), out)))
      }
      traced.foreach(t => tasks ++= t.tally.take(sc)._1)
      val (buckets, mDocs, mSpans, mXor, dataFiles) = Workloads.manifests(out)
      val paths = dataFiles.map(f => s"$out/data/$f")
      val got = Check.totals(spark.read.option("basePath", s"$out/data").parquet(paths: _*)
        .select("doc_id", "spans", "markdown").as[ExtractedDoc](Encoders.product[ExtractedDoc]))
      val want = Check.expected(expected)
      // every bucket that received documents is committed once; the rerun commits none
      val ok = written == buckets && again == 0 && buckets > 0 &&
        mDocs == expected.docs && mSpans == expected.spansOut && mXor == expected.xor && got == want
      val layers = traced.map { t =>
        t.tally.take(sc)
        val bytes = paths.map(p => Files.size(Paths.get(p))).sum
        Map("kernel.busy_s" -> secs(kernelNs),
          "kernel.ns_per_doc" -> kernelNs.toDouble / math.max(1L, kernelDocs),
          "kernel.keep_ratio" -> keep.get,
          "tableio.files" -> paths.size.toDouble,
          "tableio.rerun_docs_extracted" -> t.kernel.docs.sum.toDouble,
          "tableio.bytes_per_doc" -> bytes.toDouble / docs,
          "tableio.rerun_s" -> secs(rerunNs)) ++
          Seq("write", "stats", "bloom").map(k => s"tableio.${k}_q" ->
            secs(t.tracer.wallNs(s"tableio.$k", s"commit/op/$i").sum)) ++
          Map("tableio.commit_s" -> secs(t.tracer.selfNs("tableio.writeResumable", s"commit/op/$i").sum)) ++
          Tally.exchange(tasks)
      }.getOrElse(Map.empty)
      traced.foreach(_.kernel.reset())
      Op(ok, firstNs + rerunNs, firstNs, layers,
        if (ok) "" else s"buckets=$written/$again/$buckets docs=$mDocs spans=$mSpans got=$got want=$want")
    } finally deleteTree(out)
  }

  override def probe(t: Traced): Map[String, Double] = {
    t.tally.take(sc)
    val (scanNs, n1) = timed(Check.count(Extraction.extractRowsWith(readDocs(input), (_: Doc).doc_id,
      (_: Doc) => IndexedSeq.empty[ExtractedSpan], Buckets)))
    val (scanTasks, _) = t.tally.take(sc)
    val (kernelNs, n2) = timed(Check.count(Extraction.extractRows(readDocs(input), Buckets)))
    t.tally.take(sc)
    require(n1 == docs && n2 == docs, s"probe counted $n1/$n2 of $docs docs")
    Map("probe.scan" -> secs(scanNs), "probe.kernel" -> secs(kernelNs),
      "scan.mb" -> scanTasks.map(_.inputBytes).sum / 1048576.0)
  }

  def selfTimes(ops: Map[String, Double], probes: Map[String, Double]): Map[String, Double] = Map(
    "scan.s" -> probes("probe.scan"),
    "kernel.s" -> (probes("probe.kernel") - probes("probe.scan")),
    "tableio.write_s" -> (ops("tableio.write_q") - probes("probe.kernel")),
    "tableio.stats_s" -> ops("tableio.stats_q"),
    "tableio.bloom_s" -> ops("tableio.bloom_q"),
    "tableio.commit_s" -> ops("tableio.commit_s"),
    "tableio.rerun_s" -> ops("tableio.rerun_s"))
}

/** Raw HTML pages → streaming tokenizer + boilerplate strip → boundary
  * sample → one routed exchange → markdown render → checking aggregate;
  * nothing is written.
  */
class HtmlWorkload(spark: SparkSession, seed: Long, work: String, cores: Int, docs: Int)
    extends Workload(spark, seed, work, cores, docs) {
  val name = "html"
  val warmOps = 10
  private var input = ""
  private var expected: Gen.Expected = Gen.NoDocs
  /** Rewrites the pipeline's output before the check; only tests set it. */
  var tamper: Dataset[ExtractedDoc] => Dataset[ExtractedDoc] = identity

  private def read(): Dataset[(String, String)] =
    spark.read.parquet(input).as[(String, String)](Encoders.tuple(Encoders.STRING, Encoders.STRING))
  private val idOf: ((String, String)) => String = _._1
  private val kernel: ((String, String)) => IndexedSeq[ExtractedSpan] = d => Extraction.htmlSpans(d._2)

  def inputHash: Long = expected.inputHash

  def setup(k: Int): Unit = {
    input = s"$work/input-$k"
    Gen.writeHtml(spark, seed, docs, files, input)
    expected = Gen.expectHtmls(seed, docs, cores)
  }

  def op(i: Int, traced: Option[Traced]): Op = {
    var sampleTasks = Seq.empty[TaskRec]
    val t0 = now
    val got = traced match {
      case None => Check.totals(tamper(Extraction.pipelineHtml(read())))
      case Some(t) =>
        val out = t.tracer.span("plan") {
          val from = now
          val ds = Extraction.pipelineWith(read(), idOf, t.kernel.wrap(kernel, (_: (String, String)) => 0))
          val (ts, queries) = t.tally.take(sc)
          sampleTasks = ts
          queries.foldLeft(from) { case (at, (_, ns)) => t.tracer.child("sample", at, ns) }
          ds
        }
        t.tracer.span("exec")(Check.totals(tamper(out)))
    }
    val wall = now - t0
    val want = Check.expected(expected)
    val layers = traced.map { t =>
      val tasks = sampleTasks ++ t.tally.take(sc)._1
      val busy = t.kernel.busyNs.sum
      val m = Map("html.busy_s" -> secs(busy),
        "html.ns_per_doc" -> busy.toDouble / math.max(1L, t.kernel.docs.sum),
        "sample.s" -> secs(t.tracer.wallNs("sample", s"$name/op/$i").sum)) ++ Tally.exchange(tasks)
      t.kernel.reset()
      m
    }.getOrElse(Map.empty)
    Op(got == want, wall, wall, layers, if (got == want) "" else s"got=$got want=$want")
  }

  override def probe(t: Traced): Map[String, Double] = {
    t.tally.take(sc)
    val stages = Extraction.Stages.map { s =>
      val (ns, n) = timed(truncated(s)(Extraction.pipelineWith(read(), idOf, kernel)))
      require(n == docs, s"stage $s counted $n of $docs docs")
      val (tasks, _) = t.tally.take(sc)
      (s, ns, tasks)
    }
    stages.map { case (s, ns, _) => s"probe.$s" -> secs(ns) }.toMap +
      ("scan.mb" -> stages.head._3.map(_.inputBytes).sum / 1048576.0)
  }

  def selfTimes(ops: Map[String, Double], probes: Map[String, Double]): Map[String, Double] = Map(
    "scan.s" -> probes("probe.scan"),
    "html.s" -> (probes("probe.kernel") - probes("probe.scan")),
    "sample.s" -> ops("sample.s"),
    "exchange.s" -> (probes("probe.route") - probes("probe.kernel") - ops("sample.s")),
    "render.s" -> (probes("probe.all") - probes("probe.route")),
    "check.s" -> (ops("op.wall_s") - probes("probe.all")))
}

/** One client sending point lookups of small id sets, half of them
  * absent, against a table committed during setup.
  */
class LookupWorkload(spark: SparkSession, seed: Long, work: String, cores: Int, docs: Int)
    extends Workload(spark, seed, work, cores, docs) {
  val name = "lookup"
  val warmOps = 80
  val Buckets = 64
  val Present = 4
  val Absent = 4
  override def unit: Int = Present + Absent
  private var table = ""
  private var hash = 0L

  def inputHash: Long = hash

  def setup(k: Int): Unit = {
    table = s"$work/table-$k"
    TableIO.writeResumable(Extraction.extractRows(Gen.docsDs(spark, seed, docs, files), Buckets), table)
    val e = Gen.expectDocs(seed, docs, cores)
    val (buckets, mDocs, mSpans, mXor, _) = Workloads.manifests(table)
    require(buckets > 0 && mDocs == e.docs && mSpans == e.spansOut && mXor == e.xor,
      s"setup table does not match its input: $buckets buckets, $mDocs docs, $mSpans spans")
    hash = e.inputHash
  }

  /** The id set of lookup `i`: present ids with their expected totals, and absent ids. */
  private def ids(i: Int): (Map[String, Totals], Seq[String]) = {
    val r = new Gen.Rng(seed, 1000000000L + i)
    val present = Seq.fill(Present)(r.below(docs)).distinct.map { j =>
      val d = Gen.doc(seed, docs, j)
      val e = Gen.expectDoc(d)
      d.doc_id -> Totals(1, e.spansOut, e.xor, e.mdXor)
    }.toMap
    val absent = Seq.fill(Absent)(CorpusDerive.docIdStr(Gen.absentId(seed, r.below(docs))))
    (present, absent)
  }

  def op(i: Int, traced: Option[Traced]): Op = {
    val (present, absent) = ids(i)
    val query = (present.keys.toSeq ++ absent).sorted
    val manifestNs = traced.map(_ => timed(TableIO.committedManifests(table))._1).getOrElse(0L)
    def plan() = TableIO.readCommittedPrunedByIds(spark, table, query)
    val t0 = now
    val (rows, read, total) = traced.fold(plan())(_.tracer.span("plan")(plan()))
    val t1 = now
    def exec() = rows.collect()
    val got = traced.fold(exec())(_.tracer.span("exec")(exec()))
    val t2 = now
    val seen = got.map(r => r.doc_id -> Check.row(r.doc_id, r.spans, r.markdown)).toMap
    val storedOk = got.forall(r => present.get(r.doc_id).exists(_.xor == r.checksum))
    val ok = got.length == present.size && seen == present && storedOk
    val layers = traced.map { t =>
      val (tasks, _) = t.tally.take(sc)
      Map("tableio.manifest_read_ms" -> manifestNs / 1e6,
        "tableio.lookup_plan_ms" -> (t1 - t0 - manifestNs) / 1e6,
        "tableio.lookup_exec_ms" -> (t2 - t1) / 1e6,
        "tableio.buckets_read_ratio" -> read.toDouble / total,
        "scan.mb" -> tasks.map(_.inputBytes).sum / 1048576.0) ++ Tally.exchange(tasks)
    }.getOrElse(Map.empty)
    Op(ok, t2 - t0, t2 - t0, layers, if (ok) "" else s"ids=$query got=${seen.keys.toSeq.sorted}")
  }

  def selfTimes(ops: Map[String, Double], probes: Map[String, Double]): Map[String, Double] = Map(
    "tableio.manifest_read_s" -> ops("tableio.manifest_read_ms") / 1e3,
    "tableio.lookup_plan_s" -> ops("tableio.lookup_plan_ms") / 1e3,
    "tableio.lookup_exec_s" -> ops("tableio.lookup_exec_ms") / 1e3)
}
