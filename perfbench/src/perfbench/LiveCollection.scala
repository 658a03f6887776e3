package perfbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}

import graft.Aggo
import graft.model.PipelineParser
import graft.streaming.StreamingCollection

/** `live_collection`: a `StreamingCollection` of about 10^4 documents with
  * three registered pipelines. Each op is one seeded mutation — an
  * `addBulk` of 10-40 new documents, or, once the collection has grown
  * `Slack` documents past its target size, a `removeWhere` of the oldest —
  * and every mutation recomputes all three pipelines, whose results an
  * `onUpdate` listener collects. Identical pipeline texts are re-planned
  * over small driver-held data, so translation and planning dominate.
  *
  * The reference is a plain-Scala recomputation of the three pipelines over
  * the benchmark's own mirror of the documents. */
final class LiveCollection(spark: SparkSession, seed: Long) extends Workload {
  import LiveCollection._

  val name = "live_collection"
  private var coll: StreamingCollection = _
  private var tracer: Tracer = new Tracer(false)
  private val mirror = ArrayBuffer.empty[Gen.LiveDoc]
  private val results = scala.collection.mutable.Map.empty[String, Array[Row]]
  private var recomputes = 0
  private var nextSeq = 0L
  private var rand: SplittableRandom = _

  def prepare(): Map[String, Double] = {
    rand = new SplittableRandom(seed ^ 0x9b05688c2b3e6c1fL)
    mirror.clear()
    nextSeq = 0L
    val initial = Seq.fill(Target)(newDoc())
    coll = Aggo.createStreamingCollection(spark, Gen.LiveSchema)
    coll.addBulk(initial.map(_.toRow))
    Pipelines.foreach { case (n, p) => coll.stream(n, p) }
    coll.onUpdate { (n, df) =>
      tracer.span("streaming.recompute") {
        tracer.span("catalyst.plan")(df.queryExecution.executedPlan)
        results(n) = tracer.span("exec.collect")(df.collect())
      }
      recomputes += 1
    }
    Map.empty
  }

  private def newDoc(): Gen.LiveDoc = {
    val d = Gen.liveDoc(rand, nextSeq)
    nextSeq += 1
    mirror += d
    d
  }

  // ops keep getting faster for about 45 mutations, most steeply over the first 20
  def warmup(tr: Tracer): Unit = (1 to 20).foreach { _ => val op = next(); op.run(tr); op.check() }

  def next(): Op = {
    val removeOldest = mirror.size >= Target + Slack
    // the mirror mutates now, the collection when the op runs
    val (kindName, mutate): (String, StreamingCollection => Unit) =
      if (removeOldest) {
        val cut = mirror(mirror.size - Target + rand.nextInt(20)).seq
        mirror.filterInPlace(_.seq >= cut)
        ("removeWhere", c => c.removeWhere(s"""{"seq": {"$$lt": $cut}}"""))
      } else {
        val batch = Seq.fill(10 + rand.nextInt(31))(newDoc()).map(_.toRow)
        ("addBulk", c => c.addBulk(batch))
      }
    val expected = Pipelines.map { case (n, _) => n -> reference(n, mirror.toSeq) }.toMap
    new Op {
      val kind: String = kindName
      private var before = 0
      def run(tr: Tracer): Unit = {
        tracer = tr
        results.clear()
        before = recomputes
        tr.span("streaming.mutate")(mutate(coll))
      }
      def check(): Option[String] =
        if (coll.size != mirror.size) Some(s"collection holds ${coll.size} docs, mirror ${mirror.size}")
        else Pipelines.iterator.map { case (n, _) =>
          results.get(n) match {
            case None => Some(s"no recompute of $n")
            case Some(rows) =>
              val (ordered, keyLen) = Shapes(n)
              Check.same(tamper(rows.toSeq.map(r => extract(n, r))), expected(n), ordered, keyLen)
                .map(m => s"$kindName/$n: $m")
          }
        }.collectFirst { case Some(m) => m }
      override def counters(): Map[String, Double] = {
        // toDF, parse and translate run inside the library's recompute,
        // before the listener sees the frame; replay them beside the op
        val (df, todfNs) = timed(coll.toDF)
        val parseAndTranslate = Pipelines.map { case (_, p) =>
          val (stages, parseNs) = timed(PipelineParser.parse(p))
          val (out, translateNs) = timed(Aggo.aggregateParsed(df, stages, Map.empty))
          (parseNs, translateNs, out.queryExecution.analyzed.collect { case x => x }.size)
        }
        val n = recomputes - before
        Map(
          "streaming.recomputes" -> n.toDouble,
          "streaming.collection_rows" -> coll.size.toDouble,
          "streaming.todf_ms" -> n * todfNs / 1e6,
          "model.parse_ms" -> parseAndTranslate.map(_._1).sum / 1e6,
          "stages.translate_ms" -> parseAndTranslate.map(_._2).sum / 1e6,
          "stages.analyzed_nodes" -> parseAndTranslate.map(_._3).sum.toDouble,
          "driver.result_rows" -> results.values.map(_.length).sum.toDouble)
      }
    }
  }
}

object LiveCollection {
  val Target = 10000
  val Slack = 120

  val Pipelines: Seq[(String, String)] = Seq(
    "dashboard" -> """[{"$match": {"kind": {"$in": ["a", "b"]}}},
                     | {"$group": {"_id": "$user", "total": {"$sum": "$amount"}, "n": {"$sum": 1}}}]""".stripMargin,
    "tags" -> """[{"$unwind": "$tags"}, {"$group": {"_id": "$tags", "n": {"$sum": 1}}}]""",
    "top" -> """[{"$sort": {"amount": -1, "seq": 1}}, {"$limit": 5}, {"$project": {"seq": 1, "amount": 1}}]""")

  /** (ordered, key length) of each pipeline's result. */
  val Shapes: Map[String, (Boolean, Int)] = Map("dashboard" -> (false, 1), "tags" -> (false, 1), "top" -> (true, 1))

  def extract(pipeline: String, r: Row): Seq[Any] = pipeline match {
    case "dashboard" => Seq("_id", "total", "n").map(f => Check.canon(r.getAs[Any](f)))
    case "tags"      => Seq("_id", "n").map(f => Check.canon(r.getAs[Any](f)))
    case "top"       => Seq("seq", "amount").map(f => Check.canon(r.getAs[Any](f)))
  }

  def reference(pipeline: String, docs: Seq[Gen.LiveDoc]): Seq[Seq[Any]] = pipeline match {
    case "dashboard" =>
      docs.filter(d => d.kind == "a" || d.kind == "b").groupBy(_.user).toSeq
        .map { case (u, ds) => Seq(u, ds.map(_.amount).sum, ds.size.toDouble) }
    case "tags" =>
      docs.flatMap(_.tags).groupBy(identity).toSeq.map { case (t, ts) => Seq(t, ts.size.toDouble) }
    case "top" =>
      docs.sortBy(d => (-d.amount, d.seq)).take(5).map(d => Seq(d.seq.toDouble, d.amount))
  }

  private def timed[T](body: => T): (T, Long) = {
    val t0 = System.nanoTime()
    val out = body
    (out, System.nanoTime() - t0)
  }
}
