package wlbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Workload benchmark entry point (launched by run.py):
  *
  *   wlbench.Main --workload dag_cycles|read_api|curate --seed N
  *     --seconds S --trace 0|1 --work DIR [--fault]
  *
  * Set-up (session start, input generation, warm-up, table builds) is
  * timed as `setup_s`; then the workload runs for at least `seconds`,
  * and for at least `MinEpochs` epochs or `MinPasses` passes. With
  * `--trace 1` it runs the timed phase three times, untraced, traced
  * and untraced again, and reports per-layer figures from the traced
  * phase plus its difference from the last, untraced one as tracing
  * overhead. `--fault` corrupts one observed output after the
  * program produced it, to show that the checks fail the run. The last
  * stdout line is one JSON record. */
object Main {

  // Workload sizes, fixed so that every commit runs the same inputs.
  val GamesPerDelivery = 25000
  val BaseCycles = 1
  val EpochCycles = 1
  val ApiGamesPerDelivery = 8000
  val ApiBuildCycles = 1
  val ApiRate = 6.0
  val ApiWarmSeconds = 6.0
  val ApiBurstSeconds = 8.0
  val WarmEpochs = 1
  val MinEpochs = 3
  val MinPasses = 2
  val CorpusDocs = 3000
  val CurateWarmPasses = 1

  val Spans = Seq("ingest.parse", "ingest.merge", "clean.validate",
    "enrich.profiles", "enrich.mark", "enrich.openings", "api",
    "text.gate", "dedup.exact", "dedup.minhash", "dedup.cc",
    "text.passage", "text.decontam", "sampling.split")
  val SpanCounters = Seq("jobs", "tasks", "plan_s", "shuffle_write_bytes",
    "spill_bytes", "peak_exec_mem_bytes")
  val DagLayers = Seq("pgn.split_mb_per_s", "ingest.parse_s",
    "ingest.merge_s", "ingest.rows_written_per_row_delivered",
    "clean.validate_s", "clean.rows_scanned_per_row_fixed",
    "enrich.profiles_s", "enrich.lookups_per_new_user", "enrich.mark_s",
    "enrich.openings_s")
  val ApiLayers = ReadLoad.Ops.map(o => s"api.${o}_p50_ms") ++ Seq(
    "api.plan_ms", "api.exec_ms", "api.jobs_per_request",
    "api.rows_read_per_row_returned", "api.generator_late_ms")
  val CurateLayers = Seq("text.gate_s", "dedup.exact_s", "dedup.minhash_s",
    "dedup.cc_s", "text.passage_s", "text.decontam_s", "sampling.split_s",
    "dedup.candidates_per_planted_pair")
  val OtherLayers = Seq("jvm.peak_heap_mb", "jvm.gc_s", "root.self_s",
    "trace.overhead_throughput_pct", "trace.overhead_latency_p50_pct")
  /** Every per-layer metric, in the order BENCHMARK.json lists them. */
  val LayerMetrics: Seq[String] = DagLayers ++ ApiLayers ++ CurateLayers ++
    Spans.flatMap(s => SpanCounters.map(c => s"$s.$c"))
      .filterNot(Set("api.jobs", "api.plan_s")) ++ OtherLayers

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, cpus: Int, fault: Boolean)

  /** Figures of one timed phase. */
  final case class Phase(throughput: Double, p50ms: Double, attempted: Int,
      failed: Int, layers: Map[String, Double],
      p95ms: Option[Double] = None, values: Seq[Double] = Nil)

  /** Set-up steps and their seconds, for the result record. */
  val setupSteps = mutable.LinkedHashMap.empty[String, Double]

  def step[A](name: String)(body: => A): A = {
    val (a, s) = Util.timed(body)
    setupSteps(name) = setupSteps.getOrElse(name, 0.0) + s
    a
  }

  def parse(a: Array[String]): Args = {
    val m = a.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k -> v
    }.toMap
    // two cores are left to the driver thread, the JIT compiler and GC:
    // on 4 cores, a third task thread made cycles and passes at most 5%
    // faster and widened the run-to-run spread, and a fourth let the JIT
    // warm-up stretch into the timed phase
    val cpus = math.max(1, Runtime.getRuntime.availableProcessors() - 2)
    Args(m("--workload"), m("--seed").toLong, m("--seconds").toDouble,
      m.getOrElse("--trace", "0") == "1", Paths.get(m("--work")), cpus,
      a.contains("--fault"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1000.0
    Files.createDirectories(args.work)
    setupSteps("jvm_start") = System.currentTimeMillis() / 1000.0 - jvmStart
    val spark = step("spark_session")(SparkSession.builder()
      .master(s"local[${args.cpus}]")
      .appName("wlbench")
      .config("spark.sql.shuffle.partitions", args.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")
    val checks = new Checks
    val result = mutable.LinkedHashMap.empty[String, Any]
    var code = 0
    try {
      val w: Workload = args.workload match {
        case "dag_cycles" => new DagWorkload(spark, args, checks)
        case "read_api" => new ReadWorkload(spark, args, checks)
        case "curate" => new CurateWorkload(spark, args, checks)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      w.setup()
      val setupS = System.currentTimeMillis() / 1000.0 - jvmStart
      val off = new Tracer(spark, enabled = false)
      val plain = w.timed(args.seconds, off)
      val traced =
        if (args.trace) {
          val on = new Tracer(spark, enabled = true)
          val jvm = new JvmWatch
          jvm.start()
          val p = w.timed(args.seconds, on)
          val jvmFigures = Map("jvm.peak_heap_mb" -> jvm.peakHeapMb,
            "jvm.gc_s" -> jvm.gcSeconds)
          on.detach()
          // the overhead is measured against an untraced phase run after
          // the traced one: the first untraced phase is still warming up
          // (its cycles and passes ran 5-15% slower than both later ones)
          val after = w.timed(args.seconds, off)
          on.writeSpans(args.work.resolve(s"spans-${args.workload}-${args.seed}.jsonl"))
          Some((Seq(p, after), layerMetrics(on, p, after) ++ jvmFigures))
        } else None
      val phases = plain +: traced.map(_._1).getOrElse(Nil)
      val attempted = phases.map(_.attempted).sum
      val failed = phases.map(_.failed).sum
      result ++= Seq(
        "correct" -> (checks.failed == 0),
        "attempted" -> attempted,
        "failed" -> failed,
        "end_to_end" -> Map("setup_s" -> setupS,
          "throughput_per_s" -> plain.throughput,
          "latency_p50_ms" -> plain.p50ms),
        "setup_steps_s" -> setupSteps,
        "latency_p95_ms" -> plain.p95ms,
        "sample_values" -> plain.values,
        "per_layer" -> traced.map(_._2).getOrElse(Map.empty),
        "traced_end_to_end" -> traced.map { case (ps, _) =>
          Map("throughput_per_s" -> ps.head.throughput,
            "latency_p50_ms" -> ps.head.p50ms)
        },
        "untraced_after_end_to_end" -> traced.map { case (ps, _) =>
          Map("throughput_per_s" -> ps.last.throughput,
            "latency_p50_ms" -> ps.last.p50ms)
        },
        "checks_passed" -> checks.passedCount,
        "check_failures" -> checks.messages.take(20),
        "provenance" -> (provenance(spark, args) ++ w.inputs))
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        code = 3
    } finally {
      spark.stop()
    }
    if (code == 0) println(Util.json(result))
    System.out.flush()
    sys.exit(code)
  }

  /** Per-layer figures of the traced phase; metrics of layers the
    * workload does not run are 0 (the layer did no work). The overhead
    * compares the traced phase with the untraced phase after it. */
  def layerMetrics(t: Tracer, traced: Phase,
      untraced: Phase): Map[String, Double] = {
    val m = mutable.HashMap.empty[String, Double]
    LayerMetrics.foreach(n => m(n) = 0.0)
    val spans = t.allSpans
    val instances = spans.groupBy(s =>
      if (s.name.startsWith("api.")) "api" else s.name).map {
      case (k, ss) => k -> ss.size }
    val groups = t.groupStats().toSeq.groupBy { case (g, _) =>
      if (g.startsWith("api.")) "api" else g }
    groups.foreach { case (span, gs) if Spans.contains(span) =>
      val n = instances.getOrElse(span, 1).max(1).toDouble
      val st = gs.map(_._2)
      m(s"$span.jobs") = st.map(_.jobs).sum / n
      m(s"$span.tasks") = st.map(_.tasks).sum / n
      m(s"$span.plan_s") = st.map(_.planMs).sum / 1000.0 / n
      m(s"$span.shuffle_write_bytes") = st.map(_.shuffleWriteBytes).sum / n
      m(s"$span.spill_bytes") = st.map(_.spillBytes).sum / n
      m(s"$span.peak_exec_mem_bytes") = st.map(_.peakExecMem).max.toDouble
    case _ =>
    }
    val self = t.selfTimes()
    val roots = spans.filter(_.parent.isEmpty)
    if (roots.nonEmpty)
      m("root.self_s") = self.filter { case (k, _) =>
        roots.exists(_.name == k) }.values.sum / roots.size
    m("trace.overhead_throughput_pct") =
      (traced.throughput - untraced.throughput) / untraced.throughput * 100
    m("trace.overhead_latency_p50_pct") =
      (traced.p50ms - untraced.p50ms) / untraced.p50ms * 100
    traced.layers.foreach { case (k, v) => m(k) = v }
    scala.collection.immutable.ListMap(LayerMetrics.map(n => n -> m(n)): _*)
  }

  def provenance(spark: SparkSession, a: Args): Map[String, Any] = Map(
    "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
    "trace" -> a.trace, "nproc" -> Runtime.getRuntime.availableProcessors(),
    "spark_master" -> spark.sparkContext.master,
    "spark_version" -> spark.version,
    "spark_confs" -> spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k.startsWith("spark.default") ||
        k == "spark.master" || k == "spark.driver.memory"
    },
    "jdk" -> s"${sys.props("java.vm.name")} ${sys.props("java.runtime.version")}",
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024))
}

/** A workload: set-up (untimed by the phase, timed as setup_s), then
  * timed phases that each run for a number of seconds. */
trait Workload {
  def setup(): Unit
  def timed(seconds: Double, tracer: Tracer): Main.Phase
  /** Provenance of the generated inputs (rows, bytes, digest). */
  def inputs: Map[String, Any]
}
