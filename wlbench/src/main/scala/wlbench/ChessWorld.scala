package wlbench

import java.time.LocalDate

import scala.collection.mutable

/** Seeded generator for the chess workloads and the plain-Scala model
  * of what the pipeline must produce from it.
  *
  * A game's fixed attributes (players, date, opening, ratings) are a
  * pure function of (seed, game index), so the in-process export and
  * profile services below can answer from an id alone, inside Spark
  * tasks. Each delivery of a game is a numbered version; a version
  * fixes the result, termination, move text and whether the Opening
  * tag was known at delivery time.
  *
  * Delivery mix per cycle: about a quarter re-delivers earlier games
  * (last-write-wins), about 3% of versions carry an invalid result
  * (the cleaner rejects them), players are Zipf-skewed, and about 10%
  * of versions arrive with ECO and Opening "?" (the opening backfill
  * repairs them). */
final class ChessWorld(val seed: Long, val gamesPerDelivery: Int,
    val cycles: Int, val nUsers: Int = 3000) extends Serializable {
  import ChessWorld._

  val gamesPerDoc = 100
  private val zipf = new Zipf(nUsers, 1.1)

  def userName(rank: Int): String = f"u$rank%05d"
  def gameId(idx: Int): String = f"g$idx%07d"
  def gameIdx(id: String): Int = id.substring(1).toInt

  /** Fixed attributes of game `idx`. */
  def base(idx: Int): Base = {
    val r = new java.util.SplittableRandom(Util.mix(seed, idx.toLong))
    val w = zipf.sample(r.nextDouble())
    var b = zipf.sample(r.nextDouble())
    while (b == w) b = zipf.sample(r.nextDouble())
    val op = r.nextInt(Openings.size)
    Base(idx, userName(w), userName(b), Day0.plusDays(r.nextInt(400)),
      1200 + r.nextInt(1400), 1200 + r.nextInt(1400), op,
      f"${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d")
  }

  /** Per-delivery attributes of version `v` of game `idx`. */
  def version(idx: Int, v: Int): Version = {
    val r = new java.util.SplittableRandom(
      Util.mix(Util.mix(seed, idx.toLong), 1000003L + v))
    val result =
      if (r.nextDouble() < 0.03) "*"
      else ValidResults(r.nextInt(ValidResults.size))
    val nMoves = 20 + r.nextInt(40)
    val moves = new StringBuilder
    var i = 0
    while (i < nMoves) {
      if (i % 2 == 0) moves.append(i / 2 + 1).append(". ")
      moves.append(Sans(r.nextInt(Sans.size))).append(' ')
      i += 1
    }
    moves.append("{v").append(v).append("} ").append(result)
    Version(v, result, Terminations(r.nextInt(Terminations.size)),
      moves.toString, openingKnown = r.nextDouble() >= 0.10)
  }

  /** The delivery plan: per cycle, (game index, version) in delivery
    * order. Sequential in one seeded stream, so it is reproducible. */
  @transient lazy val plan: IndexedSeq[IndexedSeq[(Int, Int)]] = {
    val r = new java.util.SplittableRandom(Util.mix(seed, 77L))
    val delivered = mutable.ArrayBuffer.empty[Int]
    val lastV = mutable.HashMap.empty[Int, Int]
    var next = 0
    (0 until cycles).map { _ =>
      (0 until gamesPerDelivery).map { _ =>
        val idx =
          if (delivered.nonEmpty && r.nextDouble() < 0.25)
            delivered(r.nextInt(delivered.size))
          else { val i = next; next += 1; delivered += i; i }
        val v = lastV.getOrElse(idx, 0) + 1
        lastV(idx) = v
        (idx, v)
      }
    }
  }

  def pgn(b: Base, v: Version): String = {
    val known = v.openingKnown
    val (eco, name) = Openings(b.opening)
    val sb = new StringBuilder
    def tag(k: String, x: Any) = sb.append('[').append(k).append(" \"")
      .append(x).append("\"]\n")
    tag("Event", "Rated blitz game")
    tag("Site", "https://lichess.org/" + gameId(b.idx))
    tag("Date", b.date.format(PgnDate))
    tag("White", b.white)
    tag("Black", b.black)
    tag("Result", v.result)
    tag("UTCDate", b.date.format(PgnDate))
    tag("UTCTime", b.time)
    tag("WhiteElo", b.eloW)
    tag("BlackElo", b.eloB)
    tag("Variant", "Standard")
    tag("TimeControl", "180+0")
    tag("ECO", if (known) eco else "?")
    tag("Opening", if (known) name else "?")
    tag("Termination", v.termination)
    sb.append('\n').append(v.moves).append("\n\n")
    sb.toString
  }

  /** Delivery `c` as PGN documents of `gamesPerDoc` games each. */
  def documents(c: Int): IndexedSeq[String] =
    plan(c).grouped(gamesPerDoc).map(_.map { case (i, v) =>
      pgn(base(i), version(i, v))
    }.mkString).toIndexedSeq

  /** The game-export service: full PGN headers of a game by id. */
  def exportPgn(id: String): String = {
    val b = base(gameIdx(id))
    val (eco, name) = Openings(b.opening)
    s"""[Site "https://lichess.org/$id"]
       |[WhiteElo "${b.eloW}"]
       |[BlackElo "${b.eloB}"]
       |[ECO "$eco"]
       |[Opening "$name"]
       |""".stripMargin
  }

  /** The profile service: about 3% of accounts are closed (None). */
  def profileJson(user: String): Option[String] = {
    val h = Util.mix(seed, user.hashCode.toLong)
    if (java.lang.Math.floorMod(h, 33L) == 0L) None
    else {
      val rating = 1000 + java.lang.Math.floorMod(h >>> 8, 1800L)
      val games = java.lang.Math.floorMod(h >>> 20, 5000L)
      Some(s"""{"id":"$user","username":"${user.toUpperCase}",""" +
        s""""createdAt":${1500000000000L + java.lang.Math.floorMod(h, 1000000000L)},""" +
        s""""seenAt":1700000000000,"patron":"false",""" +
        s""""profile":{"location":"none","bio":"player $user","flag":"NO"},""" +
        s""""perfs":{"blitz":{"rating":"$rating"},"bullet":{"rating":"${rating - 50}"}},""" +
        s""""count":{"all":"$games","rated":"$games"}}""")
    }
  }
}

object ChessWorld {
  final case class Base(idx: Int, white: String, black: String,
      date: LocalDate, eloW: Int, eloB: Int, opening: Int, time: String)
  final case class Version(v: Int, result: String, termination: String,
      moves: String, openingKnown: Boolean)

  val Day0: LocalDate = LocalDate.of(2024, 1, 1)
  val PgnDate = java.time.format.DateTimeFormatter.ofPattern("yyyy.MM.dd")
  val ValidResults = IndexedSeq("1-0", "0-1", "1/2-1/2")
  val Terminations = IndexedSeq("Normal", "Time forfeit", "Unterminated",
    "Abandoned", "Normal", "Normal")
  val Sans = IndexedSeq("e4", "e5", "Nf3", "Nc6", "Bb5", "a6", "d4", "d5",
    "c4", "c5", "Nc3", "Nf6", "Bg5", "Be7", "O-O", "Qd2", "Rd1", "exd5",
    "Bxc6", "h3", "g6", "Bg7", "Re1", "Kh1", "f4", "Qxd8+", "Rxe8#")
  val Openings: IndexedSeq[(String, String)] = IndexedSeq(
    "B01" -> "Scandinavian Defense", "C50" -> "Italian Game",
    "C60" -> "Ruy Lopez", "B20" -> "Sicilian Defense",
    "C00" -> "French Defense", "B10" -> "Caro-Kann Defense",
    "D06" -> "Queens Gambit", "A40" -> "Queens Pawn Game",
    "E60" -> "Kings Indian Defense", "A00" -> "Van't Kruijs Opening",
    "C42" -> "Russian Game", "B07" -> "Pirc Defense",
    "A45" -> "Indian Defense", "C41" -> "Philidor Defense",
    "D00" -> "Queens Pawn Game: Accelerated London System",
    "B00" -> "Nimzowitsch Defense", "A04" -> "Zukertort Opening",
    "C44" -> "Scotch Game", "A10" -> "English Opening",
    "C20" -> "Kings Pawn Game: Wayward Queen Attack")

  /** Expected table state after each step of one cycle. */
  final case class CycleExpect(delivered: Int, touched: Int, mergedRows: Long,
      rejected: Long, cleanRows: Long, lookups: Long, newUsers: Long,
      usersTotal: Long, flagged: Long)

  /** The model: replays the delivery plan through the pipeline's
    * documented semantics. `present` maps each game in the cleaned
    * table to its winning version. */
  final class Model(w: ChessWorld) {
    val present = mutable.HashMap.empty[Int, Int]
    val users = mutable.HashSet.empty[String]

    def step(c: Int): CycleExpect = {
      val delivery = w.plan(c)
      // last write wins: in-batch, the later delivery of an id wins
      val latest = mutable.LinkedHashMap.empty[Int, Int]
      delivery.foreach { case (i, v) => latest(i) = v }
      latest.foreach { case (i, v) => present(i) = v }
      val merged = present.size.toLong
      val bad = latest.collect {
        case (i, v) if w.version(i, v).result == "*" => i
      }
      bad.foreach(present.remove)
      val inTable = present.keys.iterator.flatMap { i =>
        val b = w.base(i); Iterator(b.white, b.black)
      }.toSet
      val before = users.size
      inTable.foreach(u => if (w.profileJson(u).isDefined) users += u)
      val flagged = present.keys.count { i =>
        val b = w.base(i); users(b.white) || users(b.black)
      }
      CycleExpect(delivery.size, latest.size, merged, bad.size.toLong,
        present.size.toLong, inTable.size.toLong,
        (users.size - before).toLong, users.size.toLong, flagged.toLong)
    }

    def copy(): Model = {
      val m = new Model(w)
      m.present ++= present
      m.users ++= users
      m
    }
  }
}
