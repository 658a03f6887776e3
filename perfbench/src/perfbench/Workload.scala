package perfbench

import org.apache.spark.sql.{Row, SparkSession}

/** One operation of a closed loop: the client draws it, runs it, waits for
  * the result, then checks it untimed. */
trait Op {
  /** Template or mutation kind, for the per-kind breakdown. */
  def kind: String
  /** The timed part: what a caller pays for this operation. */
  def run(tr: Tracer): Unit
  /** Compares the result against a reference that bypasses graft's
    * translator. `None` when correct, else what differs. Untimed. */
  def check(): Option[String]
  /** Per-op counts taken beside the op (untimed), only in the traced run. */
  def counters(): Map[String, Double] = Map.empty
  /** Applied to the result before `check` compares it; the self-test sets
    * it to corrupt a result and confirm that the check catches it. */
  var tamper: Seq[Seq[Any]] => Seq[Seq[Any]] = identity
}

trait Workload {
  def name: String
  /** Generate, load and cache this workload's inputs from the seed. Runs
    * several times at set-up (the median is reported); each call replaces
    * the inputs of the previous one. Returns named sub-timings in ms. */
  def prepare(): Map[String, Double]
  /** Untimed ops that fill caches and JIT before the timed loop. */
  def warmup(tr: Tracer): Unit
  /** The next op of the seeded op stream. */
  def next(): Op
  /** The timed loop ends on a multiple of this many ops, so that every run
    * holds the same mix of op kinds. */
  def round: Int = 1
  /** Called once, after the timed loop; releases inputs. */
  def close(): Unit = ()
}

object Workload {
  def apply(name: String, spark: SparkSession, seed: Long, workDir: String): Workload = name match {
    case "pipeline_mix"    => new PipelineMix(spark, seed)
    case "live_collection" => new LiveCollection(spark, seed)
    case "dedup_corpus"    => new DedupCorpus(spark, seed, workDir, DedupCorpus.CorpusDocs)
    case other             => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Result comparison with numeric tolerance: every number compares as a
  * double within a relative 1e-6 (sums over 600k rows differ in the last
  * bits between summation orders), strings and nulls exactly. */
object Check {
  def canon(v: Any): Any = v match {
    case null                   => null
    case n: java.lang.Number    => n.doubleValue
    case d: java.math.BigDecimal => d.doubleValue
    case t: java.sql.Timestamp  => t.getTime.toDouble
    case s: String              => s
    case other                  => other.toString
  }

  def row(r: Row): Seq[Any] = r.toSeq.map(canon)

  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || math.abs(x - y) <= 1e-6 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case _ => a == b
  }

  /** `None` when `got` equals `want`. Unordered results are sorted by their
    * first `keyLen` fields, which the caller guarantees unique. */
  def same(got: Seq[Seq[Any]], want: Seq[Seq[Any]], ordered: Boolean, keyLen: Int): Option[String] = {
    def sorted(rs: Seq[Seq[Any]]) =
      if (ordered) rs else rs.sortBy(_.take(keyLen).map(String.valueOf).mkString("\u0001"))
    if (got.size != want.size) Some(s"row count ${got.size} != reference ${want.size}")
    else sorted(got).zip(sorted(want)).zipWithIndex.collectFirst {
      case ((g, w), i) if g.size != w.size || !g.zip(w).forall { case (a, b) => close(a, b) } =>
        s"row $i: ${g.mkString("(", ", ", ")")} != reference ${w.mkString("(", ", ", ")")}"
    }
  }
}
