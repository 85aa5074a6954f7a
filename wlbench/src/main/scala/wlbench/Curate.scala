package wlbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.sampling.Sampling
import graft.text.{Decontam, PassageDedup, TextAnalysis}

/** The LLM-data curation chain over a seeded corpus:
  * `TextAnalysis.qualityGate` -> `Dedup.exactGroups` -> `Dedup.shingles`
  * + `minhashCandidatesProd` -> `connectedComponents` ->
  * `PassageDedup.removeDuplicatePassages` -> `Decontam.buildState` +
  * `flagContaminated` -> `Sampling.hashSplit`. Each stage's output is
  * written to parquet, which forces it and is what the next stage
  * reads, as a staged curation pipeline does. */
final class Curate(spark: SparkSession, val world: CorpusWorld,
    inputDir: Path) {
  import spark.implicits._
  import CorpusWorld._

  val passageK = 12
  val trainFrac = 0.9

  private val corpusPath = inputDir.resolve("corpus").toString
  private val evalPath = inputDir.resolve("eval").toString

  /** Writes the generated corpus and eval set as the chain's input. */
  def writeInputs(): Unit = {
    world.docs.toDF("id", "text").repartition(4)
      .write.mode("overwrite").parquet(corpusPath)
    world.evalDocs.toDF("id", "text").coalesce(1)
      .write.mode("overwrite").parquet(evalPath)
  }

  def inputBytes: Long = Util.treeBytes(inputDir)

  private def read(dir: Path, name: String): DataFrame =
    spark.read.parquet(dir.resolve(name).toString)
  private def write(df: DataFrame, dir: Path, name: String): Unit =
    df.write.mode("overwrite").parquet(dir.resolve(name).toString)

  /** One pass of the chain into `dir`; returns its wall time. */
  def pass(dir: Path, tracer: Tracer, unit: String): Double = {
    val t0 = Util.now()
    tracer.span("text.gate", "pass", unit) {
      write(TextAnalysis.qualityGate(spark.read.parquet(corpusPath))
        .filter(col("keep")).select("id", "text"), dir, "gated")
    }
    tracer.span("dedup.exact", "pass", unit) {
      write(Dedup.exactGroups(read(dir, "gated"), "id", "text")
        .select("canonical_id", "n_copies", "member_ids"), dir, "exact")
      val extra = read(dir, "exact")
        .select(explode(col("member_ids")).as("id"), col("canonical_id"))
        .filter(col("id") =!= col("canonical_id")).select("id")
      write(read(dir, "gated").join(extra, Seq("id"), "left_anti"),
        dir, "exact_kept")
    }
    tracer.span("dedup.minhash", "pass", unit) {
      val sh = Dedup.shingles(read(dir, "exact_kept"), "id", "text")
      write(Dedup.minhashCandidatesProd(sh), dir, "candidates")
    }
    tracer.span("dedup.cc", "pass", unit) {
      write(Dedup.connectedComponents(read(dir, "candidates")),
        dir, "clusters")
      val extra = read(dir, "clusters")
        .filter(col("id") =!= col("cluster_id")).select("id")
      write(read(dir, "exact_kept").join(extra, Seq("id"), "left_anti"),
        dir, "near_kept")
    }
    tracer.span("text.passage", "pass", unit) {
      write(PassageDedup.removeDuplicatePassages(read(dir, "near_kept"),
        "id", "text", passageK), dir, "passage")
    }
    tracer.span("text.decontam", "pass", unit) {
      val state = Decontam.buildState(spark.read.parquet(evalPath), "id",
        "text", passageK, expectedItems = 8000L)
      write(Decontam.flagContaminated(cleaned(dir), "id", "text", state),
        dir, "flags")
    }
    tracer.span("sampling.split", "pass", unit) {
      val flagged = read(dir, "flags").filter(col("contaminated"))
        .select("id")
      write(Sampling.hashSplit(
        cleaned(dir).join(flagged, Seq("id"), "left_anti"), "id", trainFrac)
        .select("id", "split"), dir, "split")
    }
    val t1 = Util.now()
    tracer.record(Span("pass", "", unit, t0, t1))
    graft.CacheScope.releaseAll(spark)
    t1 - t0
  }

  private def cleaned(dir: Path): DataFrame = read(dir, "passage")
    .select(col("doc_id").as("id"), col("clean_text").as("text"))

  def candidates(dir: Path): Long = read(dir, "candidates").count()

  /** Checks one pass's outputs against the planted cases. */
  def check(dir: Path, checks: Checks, dropOneFlag: Boolean): Unit = {
    val tag = "curate"
    val gated = read(dir, "gated").select("id").as[Long].collect().toSet
    checks.eq(s"$tag gate keeps exactly the non-short docs",
      world.idsWhere(_ != Short), gated)

    val groups = read(dir, "exact").as[(Long, Long, Seq[Long])].collect()
      .map { case (c, n, m) => (c, n, m.toList) }.toSet
    checks.eq(s"$tag exact groups", world.exactGroups.map {
      case (c, n, m) => (c, n, m.toList) }, groups)

    val cluster = read(dir, "clusters").as[(Long, Long)].collect().toMap
    val pairs = world.nearPairs
    val hits = pairs.count { case (a, b) =>
      cluster.get(a).exists(c => cluster.get(b).contains(c)) }
    checks.ok(s"$tag near-duplicate recall >= 0.8",
      hits >= 0.8 * pairs.size, s"$hits of ${pairs.size} planted pairs")

    val passage = read(dir, "passage")
      .select("doc_id", "n_tokens", "n_removed", "clean_text")
      .as[(Long, Int, Int, String)].collect()
    val survivors = passage.map(_._1).toSet
    val text = world.docs.toMap
    val boilerCount = survivors.toSeq.flatMap(world.boilerOf)
      .groupBy(identity).map { case (b, xs) => b -> xs.size }
    var bad = 0
    passage.foreach { case (id, n, removed, clean) =>
      val kept = if (clean.isEmpty) 0 else clean.split(" ").length
      val shared = world.boilerOf(id).exists(b => boilerCount(b) >= 2)
      if (n != text(id).split(" ").length || kept != n - removed ||
        (world.roles(id) == Plain && removed != 0) ||
        (shared && removed < 30)) bad += 1
    }
    checks.eq(s"$tag passage rows inconsistent with planted passages",
      0, bad)

    var flagged = read(dir, "flags").filter(col("contaminated"))
      .select("id").as[Long].collect().toSet
    if (dropOneFlag) flagged = flagged.drop(1)
    val contam = world.idsWhere(_ == Contam).intersect(survivors)
    checks.ok(s"$tag contaminated docs reach decontamination",
      contam.nonEmpty)
    checks.eq(s"$tag flagged docs", contam, flagged)

    val split = read(dir, "split").as[(Long, String)].collect()
    checks.eq(s"$tag split ids", survivors -- flagged,
      split.map(_._1).toSet)
    val threshold = f"${(trainFrac * 65536).toInt}%04x"
    val wrong = split.count { case (id, s) =>
      val train = Util.md5Hex("split" + id.toString).take(4) < threshold
      s != (if (train) "train" else "test")
    }
    checks.eq(s"$tag split assignments differing from md5 rule", 0, wrong)
    val share = split.count(_._2 == "train").toDouble / split.length
    checks.ok(s"$tag train share within 0.9 +- 0.05",
      math.abs(share - trainFrac) <= 0.05, f"$share%.4f")
  }
}
