package perfbench

import graft.ext.CorpusPipeline
import org.apache.spark.sql.SparkSession

/** `corpus_prep`: `CorpusPipeline.prepare` over a generated corpus with
  * planted exact and near duplicates and an eval set that overlaps a
  * known set of documents. Text kernels, n-gram decontamination and
  * near-duplicate pairing take nearly all the time. */
final class CorpusPrep(spark: SparkSession, probe: Probe, seed: Long, scale: Double) extends Workload {
  import spark.implicits._

  private val docs = math.max(200, (2000 * scale).round.toInt)
  private val evalDocs = 40
  private val overlapping = 16

  private var docsPath = ""
  private var evalPath = ""
  private var facts: Gen.CorpusFacts = _
  private val recalls = scala.collection.mutable.ArrayBuffer.empty[Double]

  def setup(dir: String): Unit = {
    val (corpus, eval, planted) = Gen.corpus(seed, docs, evalDocs, overlapping)
    Gen.writeFacts(s"$dir/inputs", planted)
    facts = Gen.readFacts(s"$dir/inputs", classOf[Gen.CorpusFacts])
    docsPath = s"$dir/inputs/docs"
    evalPath = s"$dir/inputs/eval"
    val parts = Runtime.getRuntime.availableProcessors
    corpus.toDF("doc_id", "text").repartition(parts).write.parquet(docsPath)
    eval.toDF("doc_id", "text").coalesce(1).write.parquet(evalPath)
    recalls.clear()
  }

  def op(i: Int): OpResult = {
    val out = probe.span("ext", "prepare") {
      CorpusPipeline.prepare(spark.read.parquet(docsPath), spark.read.parquet(evalPath))
        .localCheckpoint(true)
    }
    val kept = out.select("doc_id").as[Long].collect().toSet
    val exact = facts.exactDups.filter(p => kept(p.b))
    val contaminated = facts.overlaps.filter(p => kept(p.a))
    if (exact.nonEmpty || contaminated.nonEmpty)
      throw new IllegalStateException(s"prepare kept ${exact.size} planted exact duplicates " +
        s"and ${contaminated.size} eval-overlapping documents")
    recalls += facts.nearDups.count(p => !(kept(p.a) && kept(p.b))).toDouble / math.max(facts.nearDups.size, 1)
    OpResult("prepare", facts.docs.toDouble)
  }

  // the exact-duplicate and overlap checks run inside every op, so a
  // violation fails that op; nothing is left to check afterwards
  def check(): Seq[(String, Boolean)] = Nil

  def named(r: Harness.Loop): Seq[(String, Double, String)] =
    Seq(("corpus.docs_per_s", throughput(r), "1/s"))

  override def layerExtras(): Map[String, Double] =
    Map("dedup.planted_recall" -> Stats.median(recalls.toSeq))
}
