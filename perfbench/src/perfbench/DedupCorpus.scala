package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.Dedup

/** `dedup_corpus`: each op is `Dedup.dedupNearBy(docs, "doc_id", "text",
  * priority = n_chars)` followed by `count()` over a seeded corpus with
  * GenSf1's distribution, read from parquet (not cached) on every op.
  * Execution-bound: MinHash kernels, band-key shuffle and skew, the verify
  * join, clustering and survivor selection, with negligible translation.
  *
  * Checks: survivors are unique input ids and their number equals
  * `count()`; no planted exact copy survives beside its base; and the share
  * of planted 0%/2%-edit variants deduplicated against their base
  * (`dedup_recall`) is reported. The traced run composes `dedupNearBy` from
  * its four public calls and materializes each call's output, so every
  * phase's work lands in its own span. */
final class DedupCorpus(spark: SparkSession, seed: Long, workDir: String, corpusDocs: Long)
    extends Workload {
  import DedupCorpus._

  val name = "dedup_corpus"
  private val corpusPath = s"$workDir/corpus.parquet"
  private var truth: Array[(Long, Long, Int)] = Array.empty // (variant, base, pct)
  private var nDocs = 0L
  private var opCount = 0

  def prepare(): Map[String, Double] = {
    Gen.corpus(spark, seed, corpusDocs).repartition(4)
      .write.mode("overwrite").parquet(corpusPath)
    val written = spark.read.parquet(corpusPath)
    nDocs = written.count()
    truth = written.filter(col("base_id").isNotNull)
      .select("doc_id", "base_id", "pct").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    Map.empty
  }

  // the first ops after set-up run up to 40% slower than later ones
  def warmup(tr: Tracer): Unit = (1 to 3).foreach { _ => val op = next(); op.run(tr); op.check() }

  def next(): Op = new Op {
    val kind = "dedupNearBy"
    private val id = { opCount += 1; opCount }
    private var survivors: DataFrame = _
    private var n = 0L
    private var traced: Option[(Set[String], DataFrame, DataFrame)] = None

    def run(tr: Tracer): Unit = {
      val docs = spark.read.parquet(corpusPath).select("doc_id", "text", "n_chars")
      if (!tr.enabled) {
        survivors = Dedup.dedupNearBy(docs, "doc_id", "text", priority = col("n_chars"))
        n = survivors.count()
      } else {
        val scratch = s"$workDir/traced-$id"
        val candBefore = candidateDirs()
        val sig = tr.span("dedup.sign") {
          Dedup.signatureTable(docs, "doc_id", "text")
            .write.mode("overwrite").option("parquet.enable.dictionary", "false")
            .parquet(s"$scratch/sig")
          spark.read.parquet(s"$scratch/sig")
        }
        val pairs = tr.span("dedup.pairs") {
          Dedup.minhashPairsFromSignatures(sig, sig, Bands, NumHashes / Bands, Threshold,
            selfPairs = true, "id_a", "id_b", materializeCandidates = true)
            .write.mode("overwrite").parquet(s"$scratch/pairs")
          spark.read.parquet(s"$scratch/pairs")
        }
        val clusters = tr.span("dedup.cluster")(Dedup.clusterPairs(pairs))
        survivors = tr.span("dedup.survivor")(
          Dedup.keepBestPerCluster(docs, "doc_id", clusters, col("n_chars")))
        n = tr.span("exec.collect")(survivors.count())
        traced = Some((candBefore, pairs, clusters))
      }
    }

    def check(): Option[String] = {
      val ids = tamper(survivors.select("doc_id").collect().toSeq.map(r => Seq(r.getLong(0))))
        .map(_.head.asInstanceOf[Long])
      val kept = ids.toSet
      lastRecall = recall(kept)
      if (ids.length.toLong != n) Some(s"count() = $n but ${ids.length} survivor rows")
      else if (kept.size != ids.length) Some(s"${ids.length - kept.size} duplicate survivor ids")
      else if (ids.exists(i => i < 0 || i >= nDocs)) Some("survivor id outside the input")
      else truth.collectFirst {
        case (v, b, 0) if kept(v) && kept(b) => s"exact copy $v of $b survived beside it"
      }
    }

    override def counters(): Map[String, Double] = traced.fold(Map.empty[String, Double]) {
      case (candBefore, pairs, clusters) =>
        val cand = (candidateDirs() -- candBefore).toSeq
          .map(d => spark.read.parquet(d).count()).sum.toDouble
        val verified = pairs.count().toDouble
        Map(
          "dedup.candidate_pairs" -> cand,
          "dedup.verified_pairs" -> verified,
          "dedup.verify_yield" -> (if (cand > 0) verified / cand else 0.0),
          "dedup.clusters" -> clusters.select("cluster").distinct().count().toDouble,
          "driver.result_rows" -> 1.0)
    }
  }

  /** Recall of the most recent checked op; the report's `dedup_recall`. */
  var lastRecall: Double = Double.NaN

  /** Share of planted 0%/2%-edit variants that do not survive beside their
    * base: both sit in one cluster, so at most one of them is kept. */
  def recall(kept: Set[Long]): Double = {
    val planted = truth.filter(_._3 <= 2)
    planted.count { case (v, b, _) => !(kept(v) && kept(b)) }.toDouble / planted.length
  }

  private def candidateDirs(): Set[String] = {
    val root = new java.io.File(spark.conf.get("spark.graft.scratchDir"))
    Option(root.listFiles()).fold(Set.empty[String])(_.filter(_.getName.startsWith("graft-minhash-cand"))
      .map(_.getPath).toSet)
  }
}

object DedupCorpus {
  val CorpusDocs = 30000L
  // dedupNearBy's defaults, spelled out for the traced composition
  val NumHashes = 64
  val Bands = 16
  val Threshold = 0.8
}
