package wlbench

import scala.collection.mutable

/** Seeded corpus for the curation chain, with planted cases the model
  * knows by construction:
  *   - short documents that fail the quality gate;
  *   - exact copies (1-2 extra copies of a source document);
  *   - near copies (one copy with 10% of its words replaced);
  *   - shared boilerplate passages inserted into several documents;
  *   - documents carrying a passage from a small eval set, whose words
  *     come from a vocabulary disjoint from the corpus vocabulary, so
  *     exactly the planted documents share shingles with it.
  * Roles are disjoint: a document is at most one of these. Words are
  * lowercase letters joined by single spaces. */
final class CorpusWorld(val seed: Long, val nBase: Int) {
  import CorpusWorld._

  private val rnd = new java.util.SplittableRandom(Util.mix(seed, 5L))

  private def word(len: Int, prefix: String): String = {
    val sb = new StringBuilder(prefix)
    while (sb.length < len) sb += ('a' + rnd.nextInt(26)).toChar
    sb.toString
  }

  private val vocab: Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < 5000) {
      val w = word(3 + rnd.nextInt(7), "")
      if (!w.startsWith("zq")) seen += w
    }
    seen.toArray
  }
  private val zipf = new Zipf(vocab.length, 1.0)
  private def words(n: Int): Array[String] =
    Array.fill(n)(vocab(zipf.sample(rnd.nextDouble())))

  val evalDocs: IndexedSeq[(Long, String)] = {
    val ev = Array.fill(800)(word(5 + rnd.nextInt(4), "zq"))
    (0 until 60).map(i =>
      (i.toLong, Array.fill(80)(ev(rnd.nextInt(ev.length))).mkString(" ")))
  }
  private val boilerplates = IndexedSeq.fill(6)(words(30).mkString(" "))

  /** (id, text) with ids a seeded permutation, so canonical (minimum)
    * ids are not always the source document. */
  private val built: (IndexedSeq[(Long, String)], Map[Long, Role]) = {
    val texts = mutable.ArrayBuffer.empty[(String, Role)]
    var nContam = 0
    (0 until nBase).foreach { i =>
      val u = rnd.nextDouble()
      val body = words(150 + rnd.nextInt(200))
      def insert(passage: String): String = {
        val at = rnd.nextInt(body.length)
        (body.take(at) ++ Array(passage) ++ body.drop(at)).mkString(" ")
      }
      if (u < 0.05) texts += ((words(8 + rnd.nextInt(12)).mkString(" "), Short))
      else if (u < 0.09) {
        val t = body.mkString(" ")
        texts += ((t, ExactSrc(i)))
        (0 until 1 + rnd.nextInt(2)).foreach(_ => texts += ((t, ExactCopy(i))))
      } else if (u < 0.14) {
        texts += ((body.mkString(" "), NearSrc(i)))
        val edited = body.map(w =>
          if (rnd.nextDouble() < 0.10) vocab(zipf.sample(rnd.nextDouble()))
          else w)
        texts += ((edited.mkString(" "), NearCopy(i)))
      } else if (u < 0.24) {
        val b = rnd.nextInt(boilerplates.size)
        texts += ((insert(boilerplates(b)), Boiler(b)))
      } else if (u < 0.27 && nContam < evalDocs.size * 2) {
        val (_, ev) = evalDocs(nContam / 2)
        val evWords = ev.split(" ")
        val from = if (nContam % 2 == 0) 0 else 40
        nContam += 1
        texts += ((insert(evWords.slice(from, from + 30).mkString(" ")),
          Contam))
      } else texts += ((body.mkString(" "), Plain))
    }
    val ids = Array.tabulate(texts.size)(i => 1000L + i)
    var k = ids.length - 1
    while (k > 0) {
      val j = rnd.nextInt(k + 1)
      val t = ids(k); ids(k) = ids(j); ids(j) = t
      k -= 1
    }
    (texts.indices.map(i => (ids(i), texts(i)._1)),
      texts.indices.map(i => ids(i) -> texts(i)._2).toMap)
  }
  val docs: IndexedSeq[(Long, String)] = built._1
  val roles: Map[Long, Role] = built._2

  def idsWhere(p: Role => Boolean): Set[Long] =
    roles.collect { case (id, r) if p(r) => id }.toSet

  /** Planted exact-copy groups as (canonical id, copies, sorted ids). */
  def exactGroups: Set[(Long, Long, Seq[Long])] =
    roles.toSeq.collect {
      case (id, ExactSrc(g)) => g -> id
      case (id, ExactCopy(g)) => g -> id
    }.groupBy(_._1).values.map { m =>
      val ids = m.map(_._2).sorted
      (ids.head, ids.size.toLong, ids)
    }.toSet

  /** Planted near-duplicate pairs (source id, copy id). */
  def nearPairs: Seq[(Long, Long)] = {
    val src = roles.collect { case (id, NearSrc(g)) => g -> id }
    roles.toSeq.collect { case (id, NearCopy(g)) => (src(g), id) }
  }

  def boilerOf(id: Long): Option[Int] = roles.get(id).collect {
    case Boiler(b) => b
  }
}

object CorpusWorld {
  sealed trait Role
  case object Plain extends Role
  case object Short extends Role
  case object Contam extends Role
  final case class ExactSrc(g: Int) extends Role
  final case class ExactCopy(g: Int) extends Role
  final case class NearSrc(g: Int) extends Role
  final case class NearCopy(g: Int) extends Role
  final case class Boiler(b: Int) extends Role
}
