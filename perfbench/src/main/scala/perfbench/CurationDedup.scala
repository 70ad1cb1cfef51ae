package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SaveMode

import graft.operators.Dedup

/** `curation_dedup`: the LLM-data curation chain over a seeded corpus with
  * planted duplicates. Each operation runs `Dedup.exact` →
  * `Dedup.minhashLshPairs(withEstimate = false)` → `Dedup.dedupByClusters`,
  * writing every stage's output to parquet and reading it back as the next
  * stage's input, the way a curation pipeline chains stages. */
final class CurationDedup(ctx: Ctx) extends Workload {
  import CurationDedup._
  private val spark = ctx.spark
  import spark.implicits._

  private val dir = ctx.work.resolve("curation")
  private def path(stage: String): String = dir.resolve(stage).toString
  private var corpus: Gen.Corpus = _
  private var exactLosers: Set[Long] = Set.empty
  private var nearEdits: Set[Long] = Set.empty
  private var text: Map[Long, String] = Map.empty
  // shingle sets of the documents seen in candidate pairs; the pairs
  // repeat from pass to pass, so each set is built once
  private val shingles = mutable.HashMap.empty[Long, Set[String]]
  private var firstKept: Option[Int] = None

  override def setup(): Unit = {
    corpus = Gen.corpus(ctx.seed, Docs)
    exactLosers = corpus.exactGroups.flatMap(_.sorted.tail).toSet
    nearEdits = corpus.nearClusters.flatMap(_.sorted.tail).toSet
    text = corpus.docs.toMap
    shingles.clear()
    corpus.docs.toDF("id", "text").repartition(4)
      .write.mode(SaveMode.Overwrite).parquet(path("corpus"))
  }

  override def teardown(): Unit = ()

  override def op(i: Int): OpResult = {
    val t0 = System.nanoTime()
    def since = (System.nanoTime() - t0) / 1e9
    ctx.timed("dedup.exact_s", Layer.Operators) {
      Dedup.exact(spark.read.parquet(path("corpus")), "text", "id")
        .write.mode(SaveMode.Overwrite).parquet(path("exact"))
    }
    val exactAt = since
    ctx.timed("dedup.lsh_pairs_s", Layer.Operators) {
      Dedup.minhashLshPairs(spark.read.parquet(path("exact")), "text", "id",
        withEstimate = false).write.mode(SaveMode.Overwrite).parquet(path("pairs"))
    }
    val pairsAt = since
    // connected components run eagerly inside dedupByClusters; the
    // anti-join that keeps one document per cluster runs at the write
    val kept = ctx.timed("dedup.components_s", Layer.Operators) {
      Dedup.dedupByClusters(spark.read.parquet(path("exact")), "id",
        spark.read.parquet(path("pairs")))
    }
    ctx.timed("dedup.keep_s", Layer.Operators) {
      kept.write.mode(SaveMode.Overwrite).parquet(path("kept"))
    }
    OpResult(Docs, Seq(exactAt, pairsAt, since), attempted = 3, failed = 0)
  }

  override def check(i: Int, r: OpResult): Checked = {
    val errs = mutable.ArrayBuffer.empty[String]
    def ids(stage: String): Set[Long] =
      spark.read.parquet(path(stage)).select("id").as[Long].collect().toSet
    val all = corpus.docs.map(_._1).toSet
    val afterExact = ids("exact")
    if (afterExact != all -- exactLosers)
      errs += s"pass $i: exact dedup kept ${afterExact.size} docs, expected " +
        s"${all.size - exactLosers.size} (${(afterExact -- (all -- exactLosers)).size} " +
        s"copies survived, ${((all -- exactLosers) -- afterExact).size} originals lost)"
    val kept = ids("kept")
    val removed = afterExact -- kept
    val wrong = removed -- nearEdits
    if (wrong.nonEmpty) errs += s"pass $i: ${wrong.size} documents outside planted clusters removed"
    val recall = (removed & nearEdits).size.toDouble / nearEdits.size
    if (recall < RecallFloor) errs += s"pass $i: near-duplicate recall $recall < $RecallFloor"
    val keptHash = kept.toSeq.sorted.hashCode
    if (firstKept.exists(_ != keptHash)) errs += s"pass $i: kept set differs from pass 0"
    if (firstKept.isEmpty) {
      firstKept = Some(keptHash)
      System.err.println(f"perfbench: kept set ${kept.size} docs, hash $keptHash%08x")
    }

    val pairs = spark.read.parquet(path("pairs")).as[(Long, Long)].collect()
    // connectedComponents takes its driver-local tier while 2 × edges stays
    // within its local edge cap; the corpus is sized to stay there
    val localTier = 2L * pairs.length <= LocalEdgeCap
    if (!localTier) errs += s"pass $i: ${pairs.length} pairs leave the local components tier"
    val truePairs = pairs.count { case (a, b) =>
      val x = shingles.getOrElseUpdate(a, Gen.shingles(text(a)))
      val y = shingles.getOrElseUpdate(b, Gen.shingles(text(b)))
      (x & y).size.toDouble / (x | y).size >= JaccardThreshold
    }
    Checked(errs.toSeq, Map(
      "dedup.candidate_pairs" -> pairs.length.toDouble,
      "dedup.true_pairs" -> truePairs.toDouble,
      "dedup.docs_removed" -> (all.size - kept.size).toDouble,
      "dedup.cc_edges" -> pairs.length.toDouble,
      "dedup.cc_local_tier" -> (if (localTier) 1.0 else 0.0)))
  }

  override def finalCheck(): Seq[String] = Nil
}

object CurationDedup {
  val Docs = 20000
  val RecallFloor = 0.95
  val JaccardThreshold = 0.5
  // Dedup.connectedComponents' default localEdgeCap
  val LocalEdgeCap = 2000000L
}
