package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.text.{PassageDedup, Tokens}

/** Duplicated-passage detection/removal: every island-merge branch on
  * hand-built corpora, a randomized equivalence check of the
  * two-phase (hash-prefilter) duplicate finder against a naive
  * single-phase reference, row-for-row equivalence of the per-document
  * cut with the relational token-explode removal, and the executed
  * plan's exchange shape. */
class PassageDedupSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** The relational removal the per-document cut replaced, kept as the
    * reference: explode every token, anti-join the covered (doc, idx)
    * set, regroup the survivors in index order. */
  private def referenceRemove(df: DataFrame, idCol: String,
      textCol: String, p: DataFrame, k: Int): DataFrame = {
    val base = df.select(col(idCol).as("doc_id"), Tokens.ws(textCol).as("__ts"))
    val covered = p
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("idx"))
      .distinct()
    val tokens = base.select(col("doc_id"), posexplode(col("__ts")))
      .withColumnRenamed("pos", "idx")
      .withColumnRenamed("col", "tok")
    val kept = tokens.join(covered, Seq("doc_id", "idx"), "left_anti")
    val reasm = kept.groupBy("doc_id")
      .agg(count(lit(1)).as("__n_kept"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("idx"), col("tok")))),
          s => s.getField("tok"))).as("__clean"))
    base.select(col("doc_id"), size(col("__ts")).as("n_tokens"))
      .join(reasm, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__n_kept"), lit(0L)))
          .cast("int").as("n_removed"),
        coalesce(col("__clean"), lit("")).as("clean_text"))
  }

  /** Asserts the production removal equals the reference row for row
    * (and column for column, names and types) on (df, p). */
  private def assertSameRemoval(df: DataFrame, p: DataFrame, k: Int): Unit = {
    val got = PassageDedup.removeFromPositions(df, "doc_id", "text", p, k)
    val want = referenceRemove(df, "doc_id", "text", p, k)
    assert(got.schema.map(f => (f.name, f.dataType)) ===
      want.schema.map(f => (f.name, f.dataType)))
    def rows(d: DataFrame): Seq[Row] =
      d.collect().toSeq.sortBy(_.getLong(0))
    val (g, w) = (rows(got), rows(want))
    assert(g.size === w.size)
    g.zip(w).foreach { case (a, b) => assert(a === b) }
  }

  private def positions(ps: (Long, Int)*): DataFrame =
    ps.toDF("doc_id", "pos")

  private def corpus(rows: (Long, String)*): DataFrame =
    rows.toDF("doc_id", "text")

  private def spans(df: DataFrame, k: Int): Set[(Long, Int, Int, Int)] =
    PassageDedup.duplicateSpans(df, "doc_id", "text", k)
      .as[(Long, Int, Int, Int)].collect().toSet

  private def clean(df: DataFrame, k: Int): Map[Long, (Int, Int, String)] =
    PassageDedup.removeDuplicatePassages(df, "doc_id", "text", k)
      .as[(Long, Int, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

  test("cross-document shared k-gram marks both sides") {
    val df = corpus(
      1L -> "a b c d e f",
      2L -> "x y a b c z",
      3L -> "p q r s")
    assert(spans(df, 3) === Set((1L, 0, 2, 3), (2L, 2, 4, 3)))
    val c = clean(df, 3)
    assert(c(1L) === ((6, 3, "d e f")))
    assert(c(2L) === ((6, 3, "x y z")))
    assert(c(3L) === ((4, 0, "p q r s")))   // untouched, re-spaced join
  }

  test("overlapping duplicated windows merge into one maximal span") {
    // "a b c d" shared → grams at pos 0 and 1 both duplicated → [0,3]
    val df = corpus(1L -> "a b c d p q", 2L -> "r s a b c d")
    assert(spans(df, 3) === Set((1L, 0, 3, 4), (2L, 2, 5, 4)))
  }

  test("adjacent spans (gap 0) fuse; interior unique grams survive") {
    // d1: "a b c" dup via d2, "d e f" dup via d3, middle grams unique
    // → covered [0,2] and [3,5] touch → one span [0,5], full husk
    val df = corpus(
      1L -> "a b c d e f",
      2L -> "a b c z1 z2 z3",
      3L -> "y1 y2 y3 d e f")
    val s1 = spans(df, 3).filter(_._1 == 1L)
    assert(s1 === Set((1L, 0, 5, 6)))
    assert(clean(df, 3)(1L) === ((6, 6, "")))
  }

  test("separated spans stay separate") {
    // dup at [0,2] and [4,6] with an uncovered token 3 between
    val df = corpus(
      1L -> "a b c m d e f",
      2L -> "a b c z1 z2 z3",
      3L -> "y1 y2 y3 d e f")
    assert(spans(df, 3).filter(_._1 == 1L) ===
      Set((1L, 0, 2, 3), (1L, 4, 6, 3)))
    assert(clean(df, 3)(1L) === ((7, 6, "m")))
  }

  test("within-document repetition is found without a second document") {
    val df = corpus(1L -> "m n o m n o", 2L -> "unrelated text here")
    assert(spans(df, 3) === Set((1L, 0, 5, 6)))
    assert(clean(df, 3)(1L) === ((6, 6, "")))
  }

  test("documents shorter than k and empty documents pass through") {
    val df = corpus(1L -> "a b", 2L -> "   ", 3L -> "a b")
    assert(spans(df, 3).isEmpty)   // 2-token docs have no 3-grams
    val c = clean(df, 3)
    assert(c(1L) === ((2, 0, "a b")))
    assert(c(2L) === ((0, 0, "")))
  }

  test("positionsMatching cuts only reference windows (span decontamination)") {
    val corpus = this.corpus(
      1L -> "x y a b c d z w",     // ref gram "a b c" at pos 2
      2L -> "no overlap at all")
    val ref = Seq("a b c", "q r s").toDF("gram")
    val pos = PassageDedup
      .positionsMatching(corpus, "doc_id", "text", 3, ref)
      .as[(Long, Int)].collect().toSet
    assert(pos === Set((1L, 2)))
    val cleaned = PassageDedup
      .removeFromPositions(corpus, "doc_id", "text",
        PassageDedup.positionsMatching(corpus, "doc_id", "text", 3, ref), 3)
      .as[(Long, Int, Int, String)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    assert(cleaned(1L) === ((3, "x y d z w")))
    assert(cleaned(2L) === ((0, "no overlap at all")))
  }

  test("two-phase finder ≡ naive single-phase on a random corpus") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "d", "e")
    val docs = (0L until 40L).map { i =>
      val n = 5 + rnd.nextInt(20)
      i -> Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val df = corpus(docs: _*)
    val twoPhase = PassageDedup
      .duplicatedPositions(df, "doc_id", "text", 4)
      .as[(Long, Int)].collect().toSet
    // naive reference: group every gram occurrence by raw text once
    val grams = docs.flatMap { case (id, t) =>
      val ts = t.split(" +").filter(_.nonEmpty)
      ts.sliding(4).zipWithIndex.collect {
        case (w, i) if w.length == 4 => (id, i, w.mkString(" "))
      }
    }
    val dupTexts = grams.groupBy(_._3).filter(_._2.size > 1).keySet
    val naive = grams.collect {
      case (id, pos, g) if dupTexts(g) => (id, pos)
    }.toSet
    assert(naive.nonEmpty, "fixture must contain duplicates")
    assert(twoPhase === naive)
  }

  test("per-document cut ≡ relational removal on the edge shapes") {
    // k = 4; ids name the case
    val df = Seq[(Long, String)](
      1L -> "",                            // empty
      2L -> "     ",                       // whitespace-only
      3L -> "a b",                         // shorter than k
      4L -> "a b c d e f",                 // fully covered (0 and 2)
      5L -> "a b c d e f g h i j",         // overlapping (1, 3)
      6L -> "a b c d e f g h i j",         // adjacent (0, 4)
      7L -> "a b c d e f g",               // window ends on the last token
      8L -> "  a   b    c d  e   f g   ",  // runs of spaces, one cut
      9L -> "a b c d e f g h",             // no positions at all
      10L -> "a b c d e f",                // duplicate starts
      11L -> "a b c d e")                  // start past the end
      .toDF("doc_id", "text")
      .unionByName(Seq((12L, None: Option[String])).toDF("doc_id", "text"))
    val p = positions(
      4L -> 0, 4L -> 2,
      5L -> 1, 5L -> 3,
      6L -> 0, 6L -> 4,
      7L -> 3,
      8L -> 2,
      10L -> 1, 10L -> 1,
      11L -> 7,
      3L -> 0,                             // a start the short doc can hold
      99L -> 0)                            // no such document
    assertSameRemoval(df, p, 4)
    val got = PassageDedup.removeFromPositions(df, "doc_id", "text", p, 4)
      .as[(Long, Option[Int], Option[Int], String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L) === ((Some(0), Some(0), "")))
    assert(got(4L) === ((Some(6), Some(6), "")))
    assert(got(5L) === ((Some(10), Some(6), "a h i j")))
    assert(got(6L) === ((Some(10), Some(8), "i j")))
    assert(got(7L) === ((Some(7), Some(4), "a b c")))
    assert(got(8L) === ((Some(7), Some(4), "a b g")))
    assert(got(9L) === ((Some(8), Some(0), "a b c d e f g h")))
    assert(got(11L) === ((Some(5), Some(0), "a b c d e")))
    assert(got(12L)._3 === "")
    assert(!got.contains(99L))
  }

  test("per-document cut ≡ relational removal on seeded random corpora") {
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    val seps = Vector(" ", " ", " ", "  ", "   ")
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val docs = (0L until 60L).map { i =>
        val n = rnd.nextInt(26)
        val body = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
          .map(_ + seps(rnd.nextInt(seps.size))).mkString
        i -> ((if (rnd.nextBoolean()) " " else "") + body)
      }
      val df = docs.toDF("doc_id", "text")
      for (k <- Seq(1, 3, 5)) {
        // the real producer's positions, and arbitrary start sets that
        // overlap, touch, repeat and run past the end
        assertSameRemoval(df,
          PassageDedup.duplicatedPositions(df, "doc_id", "text", k), k)
        val random = docs.flatMap { case (id, _) =>
          Seq.fill(rnd.nextInt(5))(id -> (rnd.nextInt(30) - 2))
        }
        assertSameRemoval(df, positions(random: _*), k)
      }
    }
  }

  test("passage_cut: generated code ≡ interpreted eval ≡ the hand sweep") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.IntegerType
    def cut(ts: Seq[String], starts: Seq[Int], k: Int): (Int, String) = {
      val e = graft.functions.PassageCut(
        Literal.create(ts, ArrayType(StringType)),
        Literal.create(starts, ArrayType(IntegerType)), k)
      val interpreted = e.eval().asInstanceOf[InternalRow]
      // no interpreted fallback here: a codegen compile error throws
      val generated = GenerateUnsafeProjection.generate(Seq(e))
        .apply(InternalRow.empty).getStruct(0, 2)
      val r = (interpreted.getInt(0), interpreted.getUTF8String(1).toString)
      assert((generated.getInt(0), generated.getUTF8String(1).toString) === r)
      r
    }
    val ts = Seq("a", "b", "c", "d", "e", "f")
    assert(cut(ts, Nil, 3) === ((0, "a b c d e f")))
    assert(cut(ts, Seq(1), 3) === ((3, "a e f")))
    assert(cut(ts, Seq(3, 0), 3) === ((6, "")))
    assert(cut(ts, Seq(-2, 5), 3) === ((2, "b c d e")))
    assert(cut(ts, Seq(6, Int.MaxValue, Int.MinValue), 3) ===
      ((0, "a b c d e f")))
    // a null token counts as kept and is skipped by the join
    assert(cut(Seq("a", null, "b", "c"), Seq(2), 1) === ((1, "a c")))
  }

  // force execution so AQE finalizes, then flatten the physical plan
  // through the materialized query stages
  private def executedNodes(df: DataFrame): Seq[SparkPlan] = {
    df.collect()
    def flatten(p: SparkPlan): Seq[SparkPlan] =
      p.collect { case n => n }.flatMap {
        case a: AdaptiveSparkPlanExec => a +: flatten(a.executedPlan)
        case q: QueryStageExec => q +: flatten(q.plan)
        case r: ReusedExchangeExec => r +: flatten(r.child)
        case n => Seq(n)
      }
    flatten(df.queryExecution.executedPlan)
  }

  private def hasString(t: DataType): Boolean = t match {
    case StringType => true
    case ArrayType(e, _) => hasString(e)
    case MapType(kt, vt, _) => hasString(kt) || hasString(vt)
    case s: StructType => s.fields.exists(f => hasString(f.dataType))
    case _ => false
  }

  test("plan shape: hash-only probe, per-document cut, __h-led confirm") {
    // own session with broadcast joins off, so every join shows its
    // shuffle and the conf cannot leak into other suites
    val s: SparkSession = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s.implicits._
    val k = 4
    val shared = (0 until 8).map(j => s"s$j")
    val docs = (0L until 30L).map { i =>
      val own = (0 until 20).map(j => s"w${i}_$j")
      val ts =
        if (i < 10) own.take(i.toInt) ++ shared ++ own.drop(i.toInt)
        else own
      i -> ts.mkString(" ")
    }
    val df = docs.toDF("doc_id", "text")
    val nodes = executedNodes(
      PassageDedup.removeDuplicatePassages(df, "doc_id", "text", k))
    val shuffles = nodes.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.nonEmpty)
    def keys(e: ShuffleExchangeExec): Seq[String] =
      e.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          h.expressions.flatMap(_.references.map(_.name))
        case _ => Nil
      }
    assert(!shuffles.exists(e => keys(e).contains("idx")),
      shuffles.map(keys).mkString("; "))
    // per-position exchanges: rows keyed by a token position. The only
    // one allowed to carry text is the confirm's, keyed (__h, gram)
    val perPosition = shuffles.filter(
      _.output.exists(a => a.name == "pos" || a.name == "idx"))
    assert(perPosition.nonEmpty)
    val (confirm, probe) = perPosition.partition(keys(_).contains("gram"))
    probe.foreach { e =>
      assert(!e.output.exists(a => hasString(a.dataType)),
        s"per-position exchange carries text: ${e.output} keyed ${keys(e)}")
    }
    assert(confirm.size === 1)
    assert(keys(confirm.head).headOption === Some("__h"))
    // ...and it carries candidates only: exactly the duplicated
    // positions (the shared run's k-grams in each of its 10 hosts),
    // not the corpus
    val totalPositions = docs.map { case (_, t) =>
      t.split(" ").length - k + 1 }.sum
    val written = confirm.head.metrics("shuffleRecordsWritten").value
    assert(written === 10L * (shared.size - k + 1))
    assert(written < totalPositions / 5)
    val confirmWindow = nodes.collect {
      case w: WindowExec
          if w.partitionSpec.flatMap(_.references.map(_.name))
            .contains("gram") => w
    }
    assert(confirmWindow.size === 1)
    assert(confirmWindow.head.partitionSpec.head.references.map(_.name)
      .toSet === Set("__h"))
  }
}
