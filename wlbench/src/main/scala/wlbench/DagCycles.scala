package wlbench

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops.{Cleaning, Enrich, Upsert}
import graft.sources.TableSwap
import graft.streaming.MicroBatchIngest

/** The paper's DAG, health_check >> ingest >> clean >> enrich, as one
  * cycle over a games table and a users table:
  *   - ingest: `MicroBatchIngest.parseBatch` + `mergeIntoTable`;
  *   - clean: `Cleaning.needsFix` with its default full revalidation ->
  *     `Cleaning.validateAndClean`, the survivors replacing the table;
  *   - profiles: `Enrich.distinctUsers` -> `lookupPartitioned` against
  *     the in-process profile service -> `flattenProfiles` ->
  *     `Upsert.firstWriteWins` into users -> `markProfileDone`;
  *   - openings: `unenrichedGames` -> the in-process export service ->
  *     `scrapeTags` -> `applyOpeningBackfill`.
  * Every step's output is written (and so forced) before the next
  * starts; the table writes go through `TableSwap.replace`. */
final class DagCycles(spark: SparkSession, val world: ChessWorld,
    checks: Checks) {
  import spark.implicits._
  import DagCycles.CycleObs

  /** Delivery documents per cycle, generated once in set-up. */
  val docs: IndexedSeq[IndexedSeq[String]] =
    (0 until world.cycles).map(world.documents)

  private def read(p: Path): DataFrame = spark.read.parquet(p.toString)

  def runCycle(c: Int, dir: Path, model: ChessWorld.Model, unit: String,
      tracer: Tracer): CycleObs = {
    val games = dir.resolve("games")
    val users = dir.resolve("users")
    val w = world
    val ts = new Timestamp((1700000000L + c * 7200L) * 1000L)
    val acc = spark.sparkContext.longAccumulator("profile_lookups")
    val t0 = Util.now()

    val batch = tracer.span("ingest.parse", "cycle", unit) {
      val b = MicroBatchIngest.parseBatch(spark, docs(c), ts)
        .persist(StorageLevel.MEMORY_ONLY)
      b.count()
      b
    }
    val merged = tracer.span("ingest.merge", "cycle", unit) {
      MicroBatchIngest.mergeIntoTable(spark, batch, games.toString)
    }
    batch.unpersist(blocking = false)

    tracer.span("clean.validate", "cycle", unit) {
      val r = Cleaning.validateAndClean(Cleaning.needsFix(read(games)))
      TableSwap.replace(spark, r.cleaned, games.toString)
    }

    tracer.span("enrich.profiles", "cycle", unit) {
      val keys = Enrich.distinctUsers(read(games))
      val bodies = Enrich.lookupPartitioned(keys, () => { (u: String) =>
        acc.add(1L); w.profileJson(u)
      })
      val fresh = Enrich.flattenProfiles(bodies)
      val all =
        if (Files.exists(users))
          Upsert.firstWriteWins(read(users), fresh, "id_user", "tm_created")
        else fresh
      TableSwap.replace(spark, all, users.toString)
    }

    tracer.span("enrich.mark", "cycle", unit) {
      TableSwap.replace(spark,
        Enrich.markProfileDone(read(games), read(users)), games.toString)
    }

    tracer.span("enrich.openings", "cycle", unit) {
      val g = read(games)
      val exports = Enrich.unenrichedGames(g).as[String]
        .map(id => (id, w.exportPgn(id))).toDF("id_game", "pgn_text")
      TableSwap.replace(spark,
        Enrich.applyOpeningBackfill(g, Enrich.scrapeTags(exports)),
        games.toString)
    }
    val t1 = Util.now()
    tracer.record(Span("cycle", "", unit, t0, t1))

    val expect = model.step(c)
    val obs = CycleObs(t1 - t0, merged, acc.value, expect)
    checkCycle(c, dir, obs)
    obs
  }

  /** After-cycle checks against the model: merge count, rows, unique
    * ids, rejects, lookups, users and profile flags, and that no game
    * is left without an opening. */
  private def checkCycle(c: Int, dir: Path, o: CycleObs): Unit = {
    val e = o.expect
    val r = read(dir.resolve("games")).agg(
      count(lit(1)), countDistinct(col("id_game")),
      sum(when(col("ind_profile_updated"), 1).otherwise(0)),
      sum(when(col("val_opening_name").isNull ||
        col("val_opening_name") === "?" ||
        col("val_opening_eco_code").isNull, 1).otherwise(0))).head()
    val nUsers = read(dir.resolve("users")).count()
    val tag = s"dag cycle $c"
    checks.eq(s"$tag merged rows", e.mergedRows, o.merged)
    checks.eq(s"$tag table rows", e.cleanRows, r.getLong(0))
    checks.eq(s"$tag distinct id_game", r.getLong(0), r.getLong(1))
    checks.eq(s"$tag rejected", e.rejected, o.merged - r.getLong(0))
    checks.eq(s"$tag profile lookups", e.lookups, o.lookups)
    checks.eq(s"$tag users", e.usersTotal, nUsers)
    checks.eq(s"$tag flagged games", e.flagged, r.getLong(2))
    checks.eq(s"$tag games lacking an opening", 0L, r.getLong(3))
  }

  /** Full comparison of the games table with the model: every id
    * present, with its last-write-wins version and backfilled opening. */
  def checkTable(dir: Path, model: ChessWorld.Model,
      dropOneRow: Boolean): Unit = {
    var rows = read(dir.resolve("games")).select("id_game", "val_result",
      "val_moves_pgn", "val_opening_name", "val_opening_eco_code",
      "val_elo_white", "ind_validated", "ind_profile_updated").collect()
      .toSeq
    if (dropOneRow) rows = rows.drop(1)
    checks.eq("dag final table rows", model.present.size.toLong,
      rows.size.toLong)
    val byId = rows.map(r => r.getString(0) -> r).toMap
    checks.eq("dag final distinct ids", rows.size.toLong, byId.size.toLong)
    var wrong = 0L
    model.present.foreach { case (i, v) =>
      byId.get(world.gameId(i)) match {
        case None => wrong += 1
        case Some(r) =>
          val b = world.base(i)
          val ver = world.version(i, v)
          val (eco, name) = ChessWorld.Openings(b.opening)
          val flag = model.users(b.white) || model.users(b.black)
          if (r.getString(1) != ver.result || r.getString(2) != ver.moves ||
            r.getString(3) != name || r.getString(4) != eco ||
            r.getInt(5) != b.eloW || !r.getBoolean(6) ||
            r.getBoolean(7) != flag) wrong += 1
      }
    }
    checks.eq("dag final rows differing from the model", 0L, wrong)
  }
}

object DagCycles {
  /** What one cycle took and counted, with the model's expectations. */
  final case class CycleObs(seconds: Double, merged: Long, lookups: Long,
      expect: ChessWorld.CycleExpect)
}
