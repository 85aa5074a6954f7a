package wlbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.pgn.PgnParser

/** Median duration (seconds) of each named span. */
private object SpanMedians {
  def apply(t: Tracer, names: Seq[String]): Map[String, Double] = {
    val by = t.allSpans.groupBy(_.name)
    names.flatMap(n => by.get(n).map(ss => n -> Util.median(ss.map(_.dur))))
      .toMap
  }
}

/** dag_cycles: epochs of `EpochCycles` cycles, each epoch starting from
  * the same base tables built in set-up, so every epoch repeats the
  * same table sizes and deliveries and the cycle medians compare
  * across commits whatever their speed. */
final class DagWorkload(spark: SparkSession, a: Main.Args, checks: Checks)
    extends Workload {
  private val cycles = Main.BaseCycles + Main.EpochCycles
  private val world = new ChessWorld(a.seed, Main.GamesPerDelivery, cycles)
  private val root = a.work.resolve("dag")
  private val base = root.resolve("base")
  private var dag: DagCycles = _
  private var baseModel: ChessWorld.Model = _
  private var digest = ""
  private var epoch = 0

  def setup(): Unit = {
    Util.deleteTree(root)
    dag = new DagCycles(spark, world, checks)
    digest = Main.step("inputs")(InputDigest.chess(world, checks))
    baseModel = new ChessWorld.Model(world)
    val off = new Tracer(spark, enabled = false)
    (0 until Main.BaseCycles).foreach(c => Main.step(s"base_cycle_$c")(
      dag.runCycle(c, base, baseModel, s"base.c$c", off)))
    (0 until Main.WarmEpochs).foreach(e => Main.step(s"warm_epoch_$e")(
      runEpoch(off)((_, _) => ())))
  }

  /** One epoch: copy the base tables, run the epoch's cycles on them and
    * check the final table; `atEnd` sees the tables before they are
    * removed. Returns the cycles and how many of them failed a check. */
  private def runEpoch(tracer: Tracer)(
      atEnd: (Path, ChessWorld.Model) => Unit): (Seq[DagCycles.CycleObs], Int) = {
    val dir = root.resolve(s"e$epoch")
    Util.copyTree(base, dir)
    val model = baseModel.copy()
    var failed = 0
    val obs = (Main.BaseCycles until cycles).map { c =>
      val n0 = checks.failed
      val o = dag.runCycle(c, dir, model, s"e$epoch.c$c", tracer)
      if (checks.failed > n0) failed += 1
      o
    }
    val n0 = checks.failed
    // the fault goes into the first timed epoch
    dag.checkTable(dir, model, dropOneRow = a.fault && epoch == Main.WarmEpochs)
    if (checks.failed > n0 && failed == 0) failed = 1
    atEnd(dir, model)
    Util.deleteTree(dir)
    epoch += 1
    (obs, failed)
  }

  def timed(seconds: Double, tracer: Tracer): Main.Phase = {
    val obs = mutable.ArrayBuffer.empty[DagCycles.CycleObs]
    var failed = 0
    var apiLayers = Map.empty[String, Double]
    var done = 0
    val t0 = Util.now()
    while (Util.now() - t0 < seconds || done < Main.MinEpochs) {
      val (o, f) = runEpoch(tracer) { (dir, model) =>
        if (tracer.enabled && Util.now() - t0 >= seconds &&
          done + 1 >= Main.MinEpochs)
          apiLayers = readBurst(dir, model, tracer)
      }
      obs ++= o
      failed += f
      done += 1
    }
    val layers =
      if (!tracer.enabled) Map.empty[String, Double]
      else {
        val m = SpanMedians(tracer, Seq("ingest.parse", "ingest.merge",
          "clean.validate", "enrich.profiles", "enrich.mark",
          "enrich.openings")).map { case (k, v) => s"${k}_s" -> v }
        // rows the merge's writes wrote and the clean pass's scans read,
        // from the listener's counts for the two spans' job groups
        val g = tracer.groupStats()
        def of(span: String)(f: GroupStats => Long): Double =
          g.get(span).map(f).getOrElse(0L).toDouble
        m ++ Map(
          "pgn.split_mb_per_s" -> splitMbPerS(),
          "ingest.rows_written_per_row_delivered" ->
            of("ingest.merge")(_.recordsWritten) /
              obs.map(_.expect.delivered.toDouble).sum,
          "clean.rows_scanned_per_row_fixed" ->
            of("clean.validate")(_.scanRows) /
              obs.map(_.expect.touched.toDouble).sum,
          "enrich.lookups_per_new_user" -> obs.map(_.lookups.toDouble).sum /
            math.max(1.0, obs.map(_.expect.newUsers.toDouble).sum)) ++
          apiLayers
      }
    val secs = obs.map(_.seconds).toSeq
    Main.Phase(obs.map(_.expect.delivered.toDouble).sum / secs.sum,
      Util.median(secs) * 1000, obs.size, failed, layers, values = secs)
  }

  /** Traced runs only: the read API's open loop against the last
    * epoch's tables, so the read layers are measured on this workload
    * too (outside the cycle timings; read_api is its own workload). */
  private def readBurst(dir: Path, model: ChessWorld.Model,
      tracer: Tracer): Map[String, Double] = {
    val load = new ReadLoad(spark, world, model,
      spark.read.parquet(dir.resolve("games").toString),
      spark.read.parquet(dir.resolve("users").toString), a.cpus)
    load.run(Main.ApiWarmSeconds, 2 * Main.ApiRate, 1000000,
      new Tracer(spark, enabled = false), checks, swapOnePage = false)
    ReadLoad.layers(load.run(Main.ApiBurstSeconds, Main.ApiRate, 0, tracer,
      checks, swapOnePage = false), tracer)
  }

  /** Driver-side `PgnParser.splitBlocks` throughput over the timed
    * deliveries, repeated for at least half a second. */
  private def splitMbPerS(): Double = {
    val docs = (Main.BaseCycles until cycles).flatMap(dag.docs)
    val bytes = docs.map(_.length.toLong).sum
    var reps = 0
    var games = 0L
    val t0 = Util.now()
    while (Util.now() - t0 < 0.5) {
      docs.foreach(d => games += PgnParser.splitBlocks(d).size)
      reps += 1
    }
    checks.eq("splitBlocks games per pass",
      (Main.BaseCycles until cycles).map(world.plan(_).size.toLong).sum,
      games / reps)
    bytes * reps / 1e6 / (Util.now() - t0)
  }

  def inputs: Map[String, Any] = Map(
    "input_rows" -> world.plan.map(_.size).sum,
    "input_bytes" -> dag.docs.flatten.map(_.length.toLong).sum,
    "input_sha256" -> digest,
    "games_per_delivery" -> Main.GamesPerDelivery,
    "base_cycles" -> Main.BaseCycles, "epoch_cycles" -> Main.EpochCycles)
}

/** read_api: tables built in set-up by the dag_cycles functions, then
  * the open-loop request mix. */
final class ReadWorkload(spark: SparkSession, a: Main.Args, checks: Checks)
    extends Workload {
  private val world = new ChessWorld(a.seed, Main.ApiGamesPerDelivery,
    Main.ApiBuildCycles)
  private val root = a.work.resolve("read")
  private var load: ReadLoad = _
  private var digest = ""
  private var faultLeft = a.fault

  def setup(): Unit = {
    Util.deleteTree(root)
    val dag = Main.step("inputs")(new DagCycles(spark, world, checks))
    digest = Main.step("inputs")(InputDigest.chess(world, checks))
    val model = new ChessWorld.Model(world)
    val off = new Tracer(spark, enabled = false)
    Main.step("table_build")((0 until Main.ApiBuildCycles).foreach(c =>
      dag.runCycle(c, root, model, s"build.c$c", off)))
    load = new ReadLoad(spark, world, model,
      spark.read.parquet(root.resolve("games").toString),
      spark.read.parquet(root.resolve("users").toString), a.cpus)
    // warm-up: the open loop at twice the rate, on requests outside the
    // timed schedule
    Main.step("warm_up")(load.run(Main.ApiWarmSeconds, 2 * Main.ApiRate,
      1000000, off, checks, swapOnePage = false))
  }

  def timed(seconds: Double, tracer: Tracer): Main.Phase = {
    val t0 = Util.now()
    val s = load.run(seconds, Main.ApiRate, 0, tracer, checks, faultLeft)
    faultLeft = false
    val n = s.size
    val layers =
      if (tracer.enabled) ReadLoad.layers(s, tracer) else Map.empty[String, Double]
    // a p95 needs at least ten samples beyond it
    val p95 = if (n >= 200) Some(Util.quantile(s.map(_.latency), 0.95) * 1000)
      else None
    Main.Phase(n / (s.map(_.end).max - t0),
      Util.median(s.map(_.latency)) * 1000, n, s.count(!_.ok), layers, p95,
      values = s.sortBy(_.end).map(_.latency))
  }

  def inputs: Map[String, Any] = Map(
    "input_rows" -> world.plan.map(_.size).sum,
    "input_bytes" -> world.plan.indices.flatMap(world.documents)
      .map(_.length.toLong).sum,
    "input_sha256" -> digest,
    "api_rate_per_s" -> Main.ApiRate, "api_threads" -> a.cpus,
    "games_per_delivery" -> Main.ApiGamesPerDelivery,
    "build_cycles" -> Main.ApiBuildCycles)
}

/** curate: whole passes of the curation chain over one seeded corpus. */
final class CurateWorkload(spark: SparkSession, a: Main.Args,
    checks: Checks) extends Workload {
  private val root = a.work.resolve("curate")
  private val world = new CorpusWorld(a.seed, Main.CorpusDocs)
  private val curate = new Curate(spark, world, root.resolve("input"))
  private var digest = ""
  private var passes = 0

  def setup(): Unit = {
    Util.deleteTree(root)
    Main.step("inputs") {
      digest = InputDigest.corpus(world, checks)
      curate.writeInputs()
    }
    // warm-up: checked passes over the same inputs, untimed
    (0 until Main.CurateWarmPasses).foreach { i =>
      val dir = root.resolve(s"warm$i")
      Main.step(s"warm_pass_$i")(
        curate.pass(dir, new Tracer(spark, enabled = false), s"warm$i"))
      Main.step("warm_checks") {
        curate.check(dir, checks, dropOneFlag = false)
        Util.deleteTree(dir)
      }
    }
  }

  def timed(seconds: Double, tracer: Tracer): Main.Phase = {
    val times = mutable.ArrayBuffer.empty[Double]
    var cands = 0L
    var failed = 0
    val t0 = Util.now()
    while (Util.now() - t0 < seconds || times.size < Main.MinPasses) {
      val dir = root.resolve(s"p$passes")
      times += curate.pass(dir, tracer, s"p$passes")
      val n0 = checks.failed
      curate.check(dir, checks, dropOneFlag = a.fault && passes == 0)
      if (checks.failed > n0) failed += 1
      cands += curate.candidates(dir)
      Util.deleteTree(dir)
      passes += 1
    }
    val layers =
      if (!tracer.enabled) Map.empty[String, Double]
      else SpanMedians(tracer, Seq("text.gate", "dedup.exact",
        "dedup.minhash", "dedup.cc", "text.passage", "text.decontam",
        "sampling.split")).map { case (k, v) => s"${k}_s" -> v } +
        ("dedup.candidates_per_planted_pair" ->
          cands.toDouble / times.size / world.nearPairs.size)
    Main.Phase(world.docs.size * times.size / times.sum,
      Util.median(times.toSeq) * 1000, times.size, failed, layers,
      values = times.toSeq)
  }

  def inputs: Map[String, Any] = Map(
    "input_rows" -> world.docs.size,
    "input_bytes" -> world.docs.map(_._2.length.toLong).sum,
    "input_parquet_bytes" -> curate.inputBytes,
    "input_sha256" -> digest,
    "planted_exact_groups" -> world.exactGroups.size,
    "planted_near_pairs" -> world.nearPairs.size)
}

/** Input digests and the same-seed reproducibility self-check. */
object InputDigest {
  def chess(w: ChessWorld, checks: Checks): String = {
    def of(x: ChessWorld) =
      Util.sha256(x.plan.indices.iterator.flatMap(x.documents))
    val d = of(w)
    checks.eq("same seed generates byte-identical deliveries", d,
      of(new ChessWorld(w.seed, w.gamesPerDelivery, w.cycles, w.nUsers)))
    checks.ok("another seed generates other deliveries",
      Util.sha256(w.documents(0).iterator) != Util.sha256(
        new ChessWorld(w.seed + 1, w.gamesPerDelivery, w.cycles, w.nUsers)
          .documents(0).iterator))
    d
  }

  def corpus(w: CorpusWorld, checks: Checks): String = {
    def of(x: CorpusWorld) =
      Util.sha256((x.docs.iterator ++ x.evalDocs.iterator).map {
        case (id, t) => s"$id\t$t\n" })
    val d = of(w)
    checks.eq("same seed generates a byte-identical corpus", d,
      of(new CorpusWorld(w.seed, w.nBase)))
    checks.ok("another seed generates another corpus",
      of(new CorpusWorld(w.seed, 50)) != of(new CorpusWorld(w.seed + 1, 50)))
    d
  }
}
