package wlbench

import java.time.LocalDate
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.ReadApi

/** The read API (the reference's Flask endpoints) under an open-loop
  * load: requests are due at a fixed rate whatever the service does,
  * at most `threads` run at once, and each latency is timed from the
  * request's due time, so a stall also charges the requests queued
  * behind it. Users are Zipf-skewed (the world's player skew). */
final class ReadLoad(spark: SparkSession, world: ChessWorld,
    model: ChessWorld.Model, games: DataFrame, users: DataFrame,
    threads: Int) {
  import ReadLoad._

  val pageSize = 20

  /** Expected game rows per user in page order (date desc, id asc). */
  private val byUser: Map[String, IndexedSeq[G]] = {
    val rows = model.present.toSeq.map { case (i, v) =>
      val b = world.base(i)
      G(world.gameId(i), b.date, b.white, b.black,
        world.version(i, v).result, b.eloW, b.eloB,
        ChessWorld.Openings(b.opening)._2)
    }
    rows.flatMap(g => Seq(g.white -> g, g.black -> g)).groupBy(_._1)
      .map { case (u, gs) => u -> gs.map(_._2).sortWith { (a, b) =>
        if (a.date != b.date) a.date.isAfter(b.date) else a.id < b.id
      }.toIndexedSeq }
  }

  private val topExpected: Seq[(String, Long)] =
    model.present.keys.toSeq
      .map(i => ChessWorld.Openings(world.base(i).opening)._2)
      .groupBy(identity).map { case (n, xs) => (n, xs.size.toLong) }.toSeq
      .sortBy { case (n, c) => (-c, n) }.take(10)

  private val zipf = new Zipf(world.nUsers, 1.1)

  /** Request `i` of the seeded schedule. */
  def request(i: Int): Req = {
    val r = new java.util.SplittableRandom(Util.mix(world.seed ^ 0x5eedL, i))
    val u = world.userName(zipf.sample(r.nextDouble()))
    val pages = math.max(1,
      math.min(4, (byUser.getOrElse(u, Vector.empty).size + pageSize - 1) /
        pageSize))
    val x = r.nextDouble()
    val op =
      if (x < 0.30) "game_history"
      else if (x < 0.55) "game_history_after"
      else if (x < 0.70) "games_with_profiles"
      else if (x < 0.90) "player_stats"
      else "top_openings"
    Req(i, op, u, r.nextInt(pages))
  }

  private def page(u: String, p: Int): IndexedSeq[G] =
    byUser.getOrElse(u, Vector.empty).slice(p * pageSize, (p + 1) * pageSize)

  /** Runs one request through the public read functions and collects
    * the response, as the API layer serializes it. */
  def execute(q: Req): Array[Row] = q.op match {
    case "game_history" =>
      ReadApi.gameHistory(games, q.user, q.page, pageSize).collect()
    case "game_history_after" =>
      val cursor = if (q.page == 0) None else page(q.user, q.page - 1)
        .lastOption.map(g => (java.sql.Date.valueOf(g.date), g.id))
      ReadApi.gameHistoryAfter(games, q.user, cursor, pageSize).collect()
    case "games_with_profiles" =>
      ReadApi.gamesWithProfiles(
        ReadApi.gameHistory(games, q.user, q.page, pageSize), users).collect()
    case "player_stats" =>
      ReadApi.playerStats(games).filter(col("id_user") === q.user).collect()
    case "top_openings" =>
      ReadApi.topOpenings(games, 10).collect()
  }

  /** Checks a response: page size and order on every response, the
    * expected ids on every page, and whole rows on every 8th request. */
  def check(q: Req, rows: Array[Row], checks: Checks): Unit = {
    val tag = s"api request ${q.i} (${q.op} ${q.user} page ${q.page})"
    val full = q.i % 8 == 0
    q.op match {
      case "player_stats" =>
        val gs = byUser.getOrElse(q.user, Vector.empty)
        def won(g: G) = (g.white == q.user && g.result == "1-0") ||
          (g.black == q.user && g.result == "0-1")
        def lost(g: G) = (g.white == q.user && g.result == "0-1") ||
          (g.black == q.user && g.result == "1-0")
        val expect =
          if (gs.isEmpty) Nil
          else List((q.user, gs.size.toLong, gs.count(won).toLong,
            gs.count(lost).toLong, gs.count(_.result == "1/2-1/2").toLong,
            gs.map(g => if (g.white == q.user) g.eloB else g.eloW)
              .map(_.toDouble).sum / gs.size))
        checks.eq(tag, expect, rows.toList.map(r => (r.getAs[String]("id_user"),
          r.getAs[Long]("n_games"), r.getAs[Long]("n_wins"),
          r.getAs[Long]("n_losses"), r.getAs[Long]("n_draws"),
          r.getAs[Double]("avg_opponent_elo"))))
      case "top_openings" =>
        checks.eq(tag, topExpected, rows.toSeq.map(r =>
          (r.getAs[String]("val_opening_name"), r.getAs[Long]("n_games"))))
      case _ =>
        val expect = page(q.user, q.page)
        val got = rows.toIndexedSeq.map(r => (r.getAs[String]("id_game"),
          r.getAs[java.sql.Date]("dt_game").toLocalDate))
        val ordered = got.zip(got.drop(1)).forall { case ((i1, d1), (i2, d2)) =>
          d1.isAfter(d2) || (d1 == d2 && i1 < i2) }
        checks.ok(s"$tag page size and order",
          got.size <= pageSize && ordered, got.map(_._1).mkString(","))
        checks.eq(s"$tag page ids", expect.map(_.id), got.map(_._1))
        if (full) {
          checks.eq(s"$tag rows", expect.map(g => (g.id, g.white, g.black,
            g.result, g.eloW, g.eloB, g.opening)),
            rows.toIndexedSeq.map(r => (r.getAs[String]("id_game"),
              r.getAs[String]("id_user_white"), r.getAs[String]("id_user_black"),
              r.getAs[String]("val_result"), r.getAs[Int]("val_elo_white"),
              r.getAs[Int]("val_elo_black"),
              r.getAs[String]("val_opening_name"))))
          if (q.op == "games_with_profiles") {
            def prof(u: String) = if (model.users(u)) u else null
            checks.eq(s"$tag profiles", expect.map(g =>
              (prof(g.white), prof(g.black))),
              rows.toIndexedSeq.map(r => (r.getAs[String]("w_id_user"),
                r.getAs[String]("b_id_user"))))
          }
        }
    }
  }

  /** Open-loop run for `seconds` at `rate` requests per second, on the
    * schedule from request `first`. Returns one sample per request. */
  def run(seconds: Double, rate: Double, first: Int, tracer: Tracer,
      checks: Checks, swapOnePage: Boolean): Seq[Sample] = {
    val pool = Executors.newFixedThreadPool(threads)
    val out = new ConcurrentLinkedQueue[Sample]()
    val swapped = new java.util.concurrent.atomic.AtomicBoolean(!swapOnePage)
    val t0 = Util.now()
    var i = 0
    var due = t0
    try {
      while (due - t0 < seconds) {
        val wait = due - Util.now()
        if (wait > 0) Thread.sleep((wait * 1000).toLong, ((wait * 1e9) % 1e6).toInt)
        val late = Util.now() - due
        val q = request(first + i)
        val dueAt = due
        pool.execute(() => {
          val start = Util.now()
          val res = try Right(tracer.span("api." + q.op, "request",
              s"r${q.i}")(execute(q)))
            catch { case e: Exception => Left(e) }
          val end = Util.now()
          val ok = res match {
            case Right(rows0) =>
              val rows =
                if (rows0.length >= 2 && q.op.startsWith("game_history") &&
                  swapped.compareAndSet(false, true))
                  rows0.updated(0, rows0(1)).updated(1, rows0(0))
                else rows0
              val n0 = checks.failed
              check(q, rows, checks)
              checks.failed == n0
            case Left(e) =>
              checks.ok(s"api request ${q.i} (${q.op})", cond = false,
                e.toString)
          }
          out.add(Sample(q.op, end - dueAt, end - start, late, ok,
            res.map(_.length).getOrElse(0), end))
        })
        i += 1
        due = t0 + i / rate
      }
    } finally {
      pool.shutdown()
      pool.awaitTermination(10, TimeUnit.MINUTES)
    }
    out.asScala.toSeq
  }
}

object ReadLoad {
  final case class G(id: String, date: LocalDate, white: String,
      black: String, result: String, eloW: Int, eloB: Int, opening: String)
  final case class Req(i: Int, op: String, user: String, page: Int)
  /** latency from due time, service time, dispatch lateness (seconds). */
  final case class Sample(op: String, latency: Double, service: Double,
      late: Double, ok: Boolean, rows: Int, end: Double)
  val Ops = Seq("game_history", "game_history_after", "games_with_profiles",
    "player_stats", "top_openings")

  /** Per-layer figures of one traced open-loop run. */
  def layers(s: Seq[Sample], tracer: Tracer): Map[String, Double] = {
    val n = s.size
    val g = tracer.groupStats().filter(_._1.startsWith("api.")).values
    val planMs = g.map(_.planMs).sum / n
    Ops.flatMap { op =>
      val xs = s.filter(_.op == op).map(_.service * 1000)
      if (xs.isEmpty) None else Some(s"api.${op}_p50_ms" -> Util.median(xs))
    }.toMap ++ Map(
      "api.plan_ms" -> planMs,
      "api.exec_ms" -> (Util.mean(s.map(_.service)) * 1000 - planMs),
      "api.jobs_per_request" -> g.map(_.jobs).sum.toDouble / n,
      "api.rows_read_per_row_returned" ->
        g.map(_.scanRows).sum.toDouble / math.max(1, s.map(_.rows).sum),
      "api.generator_late_ms" -> Util.mean(s.map(_.late)) * 1000)
  }
}
