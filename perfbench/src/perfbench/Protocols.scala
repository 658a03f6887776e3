package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import graft.Aggo

/** BASELINE's three shapes timed under two protocols in one session:
  *
  *  - plan-once: the physical plan is built once (`queryExecution.toRdd`,
  *    outside the timer) and each timed iteration re-runs `rdd.count()`;
  *    with AQE the shuffle map stages already ran inside `toRdd`, so an
  *    iteration only re-reads their shuffle output;
  *  - fresh plan: each iteration is `Aggo.aggregate(...)` plus `collect()`
  *    of the same pipeline text, and, as in `pipeline_mix`, of the
  *    template with freshly drawn constants.
  *
  * Prints a markdown table of median (and min) latency with the stages and
  * tasks each iteration ran. */
object Protocols {
  val Shapes: Seq[(String, String)] = Seq(
    "simpleFilter" ->
      """[{"$match": {"l_returnflag": "R", "l_linestatus": "F", "l_quantity": {"$gte": 10}}}]""",
    "groupAndAggregate" ->
      """[{"$group": {"_id": "$l_returnflag",
        |  "revenue": {"$sum": {"$multiply": ["$l_extendedprice", {"$subtract": [1, "$l_discount"]}]}},
        |  "avg_price": {"$avg": "$l_extendedprice"}, "n": {"$sum": 1}}},
        | {"$sort": {"revenue": -1}}]""".stripMargin,
    "complexPipeline" ->
      """[{"$match": {"l_quantity": {"$gte": 5}}},
        | {"$project": {"l_returnflag": 1, "l_linestatus": 1,
        |   "revenue": {"$multiply": ["$l_extendedprice", {"$subtract": [1, "$l_discount"]}]},
        |   "m": {"$month": "$l_shipdate"}}},
        | {"$group": {"_id": {"rf": "$l_returnflag", "m": "$m"}, "rev": {"$sum": "$revenue"}, "n": {"$sum": 1}}},
        | {"$sort": {"rev": -1}}, {"$limit": 10}]""".stripMargin)

  private final class StageCounter extends SparkListener {
    val stagesOf = mutable.Map.empty[String, mutable.Set[Int]]
    val tasksOf = mutable.Map.empty[String, Int].withDefaultValue(0)
    private val groupOfStage = mutable.Map.empty[Int, String]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .foreach(g => e.stageIds.foreach(groupOfStage(_) = g))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      groupOfStage.get(e.stageId).foreach { g =>
        stagesOf.getOrElseUpdate(g, mutable.Set.empty) += e.stageId
        tasksOf(g) += 1
      }
    }
  }

  def compare(spark: SparkSession, seed: Long): Unit = {
    val pm = new PipelineMix(spark, seed)
    pm.prepare()
    val li = spark.table("lineitem")
    val counter = new StageCounter
    spark.sparkContext.addSparkListener(counter)
    val sc = spark.sparkContext
    def timed(group: String)(body: => Unit): Double = {
      sc.setJobGroup(group, group)
      val t0 = System.nanoTime()
      body
      val ms = (System.nanoTime() - t0) / 1e6
      sc.clearJobGroup()
      ms
    }
    val rows = Shapes.map { case (name, pipeline) =>
      val t0 = System.nanoTime()
      val rdd = Aggo.aggregate(li, pipeline).queryExecution.toRdd
      val toRddMs = (System.nanoTime() - t0) / 1e6
      (1 to 3).foreach(_ => rdd.count())
      val old = (1 to 5).map(k => timed(s"old-$name-$k")(rdd.count()))
      (1 to 3).foreach(_ => Aggo.aggregate(li, pipeline).collect())
      val fresh = (1 to 5).map(k => timed(s"fresh-$name-$k")(Aggo.aggregate(li, pipeline).collect()))
      val template = PipelineMix.Templates.find(_.name == name).get
      val r = new SplittableRandom(seed)
      val drawn = (1 to 5).map { k =>
        val q = template.draw(r)
        timed(s"mix-$name-$k")(Aggo.aggregate(li, q.pipeline).collect())
      }
      (name, toRddMs, old, fresh, drawn)
    }
    new EventLog().drain(spark)
    spark.sparkContext.removeSparkListener(counter)
    def med(xs: Seq[Double]) = { val s = xs.sorted; (s((s.size - 1) / 2) + s(s.size / 2)) / 2 }
    def per(prefix: String, name: String): String = {
      val gs = (1 to 5).map(k => s"$prefix-$name-$k")
      val st = gs.map(g => counter.stagesOf.get(g).fold(0)(_.size))
      val tk = gs.map(counter.tasksOf)
      s"${med(st.map(_.toDouble)).toInt} / ${med(tk.map(_.toDouble)).toInt}"
    }
    def f(d: Double) = String.format(java.util.Locale.ROOT, "%.1f", Double.box(d))
    println("| shape | plan-once `toRdd` ms | plan-once `count()` ms, median (min) | stages / tasks | " +
      "fresh plan, same text, ms | stages / tasks | fresh plan, drawn constants, ms | stages / tasks |")
    println("|---|---|---|---|---|---|---|---|")
    rows.foreach { case (name, toRddMs, old, fresh, drawn) =>
      println(s"| $name | ${f(toRddMs)} | ${f(med(old))} (${f(old.min)}) | ${per("old", name)} | " +
        s"${f(med(fresh))} | ${per("fresh", name)} | ${f(med(drawn))} | ${per("mix", name)} |")
    }
    pm.close()
  }
}
