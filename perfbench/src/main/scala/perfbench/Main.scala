package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer

/** Benchmark entry point (launched by `perfbench/run.py`, which builds the
  * classpath and adds the process-level figures):
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --out ARTIFACT.json
  *
  * Closed loop, one client: each operation starts when the previous one
  * has returned and been checked. Inputs are built from the seed before
  * any timing starts, `SetupReps` times, and `setup_s` is their median.
  */
object Main {
  val SetupReps = 3
  /** Fewest operations (or traced cycles) a run times, however long they take. */
  val MinOps = 3
  val MinTracedOps = 3

  /** Every per-layer metric with its unit; layers a workload does not run read 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "scan.s" -> "s", "scan.mb" -> "MB",
    "kernel.s" -> "s", "kernel.busy_s" -> "s", "kernel.ns_per_doc" -> "ns/doc", "kernel.keep_ratio" -> "ratio",
    "html.s" -> "s", "html.busy_s" -> "s", "html.ns_per_doc" -> "ns/doc",
    "sample.s" -> "s", "exchange.s" -> "s", "render.s" -> "s", "check.s" -> "s",
    "exchange.shuffle_write_mb" -> "MB", "exchange.shuffle_read_mb" -> "MB", "exchange.spill_mb" -> "MB",
    "exchange.fetch_wait_s" -> "s", "exchange.task_skew" -> "ratio",
    "tableio.write_s" -> "s", "tableio.stats_s" -> "s", "tableio.bloom_s" -> "s",
    "tableio.commit_s" -> "s", "tableio.rerun_s" -> "s", "tableio.files" -> "count",
    "tableio.rerun_docs_extracted" -> "count", "tableio.bytes_per_doc" -> "B/doc",
    "tableio.manifest_read_ms" -> "ms", "tableio.lookup_plan_ms" -> "ms", "tableio.lookup_exec_ms" -> "ms",
    "tableio.buckets_read_ratio" -> "ratio",
    "spark.gc_s" -> "s", "spark.tasks_failed" -> "count",
    "trace.untraced_wall_s" -> "s", "trace.traced_wall_s" -> "s",
    "trace.layer_sum_ratio" -> "ratio", "trace.overhead" -> "ratio")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String, out: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = get("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val a = Args(get("workload"), get("seed").toLong, get("seconds").toInt, trace, get("work"), get("out"))
    require(a.seconds > 0, "--seconds must be positive")
    a
  }

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores * 2)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = math.min(Runtime.getRuntime.availableProcessors, 4)
    val spark = session(a.work, cores)
    val tracer = new Tracer
    try {
      val docs = Workloads.Docs.getOrElse(a.workload, 0)
      val w = Workloads(a.workload, spark, a.seed, a.work, cores, docs)
      val artifact = run(w, a, tracer) ++ ListMap("env" -> env(spark, cores))
      Files.writeString(Paths.get(a.out), Json.write(artifact))
    } finally {
      spark.stop()
      Files.write(Paths.get(a.out + ".spans.jsonl"),
        tracer.jsonLines.map(_ + "\n").mkString.getBytes("UTF-8"))
    }
  }

  private def env(spark: SparkSession, cores: Int): ListMap[String, Any] = ListMap(
    "cores_used" -> cores,
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
    "java" -> System.getProperty("java.version"),
    "spark" -> spark.version,
    "spark_conf" -> ListMap.from(spark.sparkContext.getConf.getAll.sortBy(_._1)))

  /** Runs `op` with failures counted, never retried. */
  private def attempt(w: Workload, i: Int, traced: Option[Traced], failures: ArrayBuffer[String]): Op = {
    val op = try w.op(i, traced) catch {
      case e: Throwable => Op(ok = false, 0L, 0L, note = s"${e.getClass.getName}: ${e.getMessage}")
    }
    if (!op.ok) failures += s"op $i: ${op.note}"
    op
  }

  def run(w: Workload, a: Args, tracer: Tracer): ListMap[String, Any] = {
    val failures = ArrayBuffer.empty[String]
    val t0 = System.nanoTime()
    // the first set-up is also the JVM's first pass over the write path;
    // the median keeps its cold start out of setup_s
    val setupNs = (0 until SetupReps).map { k =>
      val s0 = System.nanoTime(); w.setup(k); System.nanoTime() - s0
    }
    (0 until SetupReps - 1).foreach(w.dropSetup)
    // a fixed number of full-size operations, checked and counted but left
    // out of the figures, so that every run starts timing with the JIT as
    // far along as any other, however fast the machine is at the moment
    val t1 = System.nanoTime()
    val warmOps = ArrayBuffer.empty[Op]
    while (warmOps.length < w.warmOps) warmOps += attempt(w, warmOps.length, None, failures)
    val t2 = System.nanoTime()
    val deadline = t2 + a.seconds * 1000000000L
    val ops = ArrayBuffer.empty[Op]
    val traced = ArrayBuffer.empty[Op]
    val probes = ArrayBuffer.empty[Map[String, Double]]
    var probeFailures = 0
    def next = warmOps.length + ops.length + traced.length
    if (!a.trace) {
      while (ops.length < MinOps || System.nanoTime() < deadline) ops += attempt(w, next, None, failures)
    } else {
      // each cycle runs an untraced operation (the overhead baseline, with no
      // listener registered) and a traced one followed by a round of truncated
      // probes, alternating which comes first
      val tally = new Tally
      val t = Traced(tracer, tally, new KernelProbe(w.sc, w.name))
      def tracedCycle(i: Int): Unit = {
        org.apache.spark.BusDrain(w.sc)
        w.sc.addSparkListener(tally)
        w.spark.listenerManager.register(tally)
        tracer.startRun(s"${w.name}/op/$i")
        traced += tracer.span("op")(attempt(w, i, Some(t), failures))
        tracer.startRun(s"${w.name}/probe/$i")
        try probes += tracer.span("probe")(w.probe(t))
        catch { case e: Exception => probeFailures += 1; failures += s"probe $i: ${e.getMessage}" }
        tally.take(w.sc)
        w.sc.removeSparkListener(tally)
        w.spark.listenerManager.unregister(tally)
      }
      while (traced.length < MinTracedOps || System.nanoTime() < deadline) {
        if (traced.length % 2 == 0) { ops += attempt(w, next, None, failures); tracedCycle(next) }
        else { tracedCycle(next); ops += attempt(w, next, None, failures) }
      }
    }
    val timed = ops.filter(_.ok)

    val attempted = warmOps.length + ops.length + traced.length + (if (a.trace) traced.length else 0)
    val failed = (warmOps ++ ops ++ traced).count(!_.ok) + probeFailures
    def med(xs: scala.collection.Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val wallMs = timed.map(_.wallNs / 1e6)
    val (tail, tailPct, beyond) = if (wallMs.isEmpty) (0.0, 0.0, 0) else Stats.tail(wallMs)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", med(setupNs.map(_ / 1e9)), "s"),
        ("docs_per_s", if (timed.isEmpty) 0.0 else w.unit / (med(timed.map(_.firstNs.toDouble)) / 1e9), "docs/s"),
        ("p50_ms", med(wallMs), "ms"))
      else {
        val good = traced.filter(_.ok)
        val opLayers = (good.flatMap(_.layers.keys).distinct.map(k =>
          k -> med(good.flatMap(_.layers.get(k))))).toMap ++
          Map("op.wall_s" -> med(good.map(_.wallNs / 1e9)))
        val probeMed = probes.flatMap(_.keys).distinct.map(k => k -> med(probes.flatMap(_.get(k)))).toMap
        // a layer whose probes all failed has no self time; the failures are already counted
        val self = scala.util.Try(w.selfTimes(opLayers, probeMed)).getOrElse(Map.empty[String, Double])
        val untraced = med(timed.map(_.wallNs / 1e9))
        val tracedWall = opLayers("op.wall_s")
        val derived = Map(
          "trace.untraced_wall_s" -> untraced,
          "trace.traced_wall_s" -> tracedWall,
          "trace.layer_sum_ratio" -> (if (untraced > 0) self.values.sum / untraced else 0.0),
          "trace.overhead" -> (if (untraced > 0) tracedWall / untraced - 1 else 0.0))
        PerLayer.map { case (k, unit) =>
          (k, derived.get(k).orElse(self.get(k)).orElse(opLayers.get(k)).orElse(probeMed.get(k)).getOrElse(0.0), unit)
        }
      }
    ListMap(
      "workload" -> w.name,
      "seed" -> a.seed,
      "seconds" -> a.seconds,
      "trace" -> (if (a.trace) 1 else 0),
      "input" -> ListMap("docs" -> w.docs, "docs_per_op" -> w.unit, "hash" -> f"${w.inputHash}%016x"),
      "correct" -> (failed == 0 && attempted > 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "error_rate" -> failed.toDouble / math.max(1, attempted),
      "metrics" -> ListMap.from(metrics.map { case (k, v, u) => k -> ListMap("value" -> v, "unit" -> u) }),
      "tail" -> ListMap("value_ms" -> tail, "percentile" -> tailPct, "samples_beyond" -> beyond,
        "samples" -> wallMs.size),
      "samples" -> ListMap(
        "setup_s" -> setupNs.map(_ / 1e9),
        "op_ms" -> ops.map(_.wallNs / 1e6),
        "first_pass_ms" -> ops.map(_.firstNs / 1e6),
        "traced_op_ms" -> traced.map(_.wallNs / 1e6),
        "warm_op_ms" -> warmOps.map(_.wallNs / 1e6)),
      "phases_s" -> ListMap("setup" -> (t1 - t0) / 1e9, "warm_up" -> (t2 - t1) / 1e9,
        "measure" -> (System.nanoTime() - t2) / 1e9),
      "failures" -> failures.take(20).toSeq)
  }
}
