package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, month}

import graft.Aggo
import graft.model.PipelineParser

/** `pipeline_mix`: each op is a fresh `Aggo.aggregate(coll, json)` plus
  * `collect()`, the call a user of graft makes. Ops cycle through eight
  * templates in seeded blocks (every block runs each template once, in a
  * seeded order, so each run has the same template mix) and every op draws
  * new constants, so no two ops share a pipeline text: translation,
  * Catalyst planning and codegen run in full on every op, next to a real
  * scan and shuffle over the cached sf0.1 `lineitem`. Constants are drawn
  * from narrow ranges, so that an op's text is new but the amount of work
  * it selects stays about the same from seed to seed.
  *
  * Each template carries a plain-Scala reference over a driver-held copy of
  * the same inputs (the nested documents straight from the generator, with
  * their explicit presence), run untimed after the op: it bypasses graft's
  * translator and Spark's planner alike, and costs milliseconds instead of
  * a second query per op. */
final class PipelineMix(spark: SparkSession, seed: Long) extends Workload {
  import PipelineMix._

  val name = "pipeline_mix"
  private val cpus = spark.sparkContext.defaultParallelism
  private var tables: Map[String, DataFrame] = Map.empty
  private var docs: Vector[Gen.Doc] = Vector.empty
  private val stream = opStream(seed)
  // every set-up generates the same inputs from the seed, so one copy serves
  private lazy val ref: Ref = Ref(tables("lineitem"), tables("orders"), docs)

  def prepare(): Map[String, Double] = {
    tables.values.foreach(_.unpersist(blocking = true))
    val li = Gen.lineitem(spark, seed).repartition(math.max(4, math.min(cpus, 16))).cache()
    val od = Gen.orders(spark, seed).repartition(math.max(2, cpus / 2)).cache()
    li.count(); od.count()
    docs = Gen.docs(seed, DocCount)
    val lines = docs.map(_.toJson)
    val t0 = System.nanoTime()
    val coll = Aggo.fromJSONL(spark, lines, preserveMissing = true).cache()
    coll.count()
    val ingestMs = (System.nanoTime() - t0) / 1e6
    tables = Map("lineitem" -> li, "orders" -> od, "docs" -> coll)
    Seq("lineitem", "orders").foreach(t => tables(t).createOrReplaceTempView(t))
    Map("sources.ingest_ms" -> ingestMs)
  }

  def warmup(tr: Tracer): Unit = {
    val r = new SplittableRandom(seed ^ 0x510e527fade682d1L)
    // ops keep getting faster for several blocks as the JIT warms
    (1 to WarmupBlocks).foreach(_ => Templates.foreach(t => mkOp(t, t.draw(r)).run(tr)))
  }

  override def round: Int = Templates.size

  def next(): Op = { val (t, q) = stream.next(); mkOp(t, q) }

  override def close(): Unit = tables.values.foreach(_.unpersist(blocking = true))

  private def mkOp(t: Template, q: Query): Op = {
    val input = tables(t.input)
    new Op {
      val kind: String = t.name
      private var rows: Array[Row] = Array.empty
      private var df: DataFrame = _
      def run(tr: Tracer): Unit =
        if (!tr.enabled) rows = Aggo.aggregate(input, q.pipeline, Map("orders" -> tables("orders"))).collect()
        else {
          val stages = tr.span("model.parse")(PipelineParser.parse(q.pipeline))
          df = tr.span("stages.translate")(
            Aggo.aggregateParsed(input, stages, Map("orders" -> tables("orders"))))
          tr.span("catalyst.plan")(df.queryExecution.executedPlan)
          rows = tr.span("exec.collect")(df.collect())
        }
      def check(): Option[String] = {
        val got = scala.util.Try(tamper(rows.toSeq.flatMap(q.extract)))
        got.failed.toOption.map(e => s"unexpected result shape: $e").orElse(
          Check.same(got.get, q.reference(ref), q.ordered, q.keyLen))
          .map(m => s"${t.name} ${q.pipeline}: $m")
      }
      override def counters(): Map[String, Double] = Map(
        "driver.result_rows" -> rows.length.toDouble,
        "stages.analyzed_nodes" -> Option(df).fold(0)(_.queryExecution.analyzed.collect { case n => n }.size).toDouble)
    }
  }
}

object PipelineMix {
  val DocCount = 20000
  val WarmupBlocks = 3

  /** Driver-held copy of the inputs, column by column, for the references.
    * `orders` maps an order key to its priority and total price. */
  final case class Ref(orderkey: Array[Long], linenumber: Array[Int], quantity: Array[Double],
                       price: Array[Double], discount: Array[Double], returnflag: Array[String],
                       linestatus: Array[String], shipMonth: Array[Int],
                       orders: Map[Long, (String, Double)], docs: Vector[Gen.Doc]) {
    def rows: Range = orderkey.indices
  }

  object Ref {
    def apply(lineitem: DataFrame, orders: DataFrame, docs: Vector[Gen.Doc]): Ref = {
      val li = lineitem.select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"), col("l_returnflag"), col("l_linestatus"),
        month(col("l_shipdate"))).collect()
      Ref(li.map(_.getLong(0)), li.map(_.getInt(1)), li.map(_.getDouble(2)), li.map(_.getDouble(3)),
        li.map(_.getDouble(4)), li.map(_.getString(5)), li.map(_.getString(6)), li.map(_.getInt(7)),
        orders.select("o_orderkey", "o_orderpriority", "o_totalprice").collect()
          .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap,
        docs)
    }
  }

  /** One drawn instance of a template. `extract` flattens a graft result
    * row into comparable tuples; `reference` computes the expected tuples
    * in plain Scala. */
  final case class Query(pipeline: String, extract: Row => Seq[Seq[Any]],
                         reference: Ref => Seq[Seq[Any]], ordered: Boolean, keyLen: Int)

  final case class Template(name: String, input: String, draw: SplittableRandom => Query)

  private def f2(d: Double): String = String.format(java.util.Locale.ROOT, "%.2f", Double.box(d))
  private def f4(d: Double): String = String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))
  private def between(r: SplittableRandom, lo: Int, hi: Int): Int = lo + r.nextInt(hi - lo)
  private def price(r: SplittableRandom, lo: Int, hi: Int): String = f2(between(r, lo * 100, hi * 100) / 100.0)

  private def fields(r: Row, names: String*): Seq[Any] = names.map(n => Check.canon(r.getAs[Any](n)))

  /** Group-by of the reference: per key, the sums of `values` over the
    * selected items (a count is a sum of ones), in first-seen key order. */
  private def sums[A, K](items: Iterable[A], key: A => K, values: (A => Double)*): Seq[(K, Array[Double])] = {
    val m = mutable.LinkedHashMap.empty[K, Array[Double]]
    items.foreach { a =>
      val acc = m.getOrElseUpdate(key(a), new Array[Double](values.size))
      values.indices.foreach(j => acc(j) += values(j)(a))
    }
    m.toSeq
  }
  private val one: Any => Double = _ => 1.0

  /** The seeded op stream: blocks of all templates in a seeded order, each
    * op with freshly drawn constants. */
  def opStream(seed: Long): Iterator[(Template, Query)] = {
    val r = new SplittableRandom(seed ^ 0x3c6ef372fe94f82bL)
    Iterator.continually {
      val a = Templates.toArray
      for (i <- a.length - 1 to 1 by -1) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t }
      a.toSeq
    }.flatten.map(t => (t, t.draw(r)))
  }

  val Templates: Seq[Template] = Seq(
    // BASELINE simpleFilter: a filter whose matching rows all come back
    Template("simpleFilter", "lineitem", { r =>
      val rf = Seq("R", "A")(r.nextInt(2)); val ls = Seq("F", "O")(r.nextInt(2))
      val q = 40; val p = price(r, 20000, 20100)
      Query(
        s"""[{"$$match": {"l_returnflag": "$rf", "l_linestatus": "$ls", "l_quantity": {"$$gte": $q}, "l_extendedprice": {"$$gte": $p}}}]""",
        row => Seq(fields(row, "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")),
        l => l.rows.filter(i => l.returnflag(i) == rf && l.linestatus(i) == ls && l.quantity(i) >= q &&
          l.price(i) >= p.toDouble).map(i =>
          Seq[Any](l.orderkey(i).toDouble, l.linenumber(i).toDouble, l.quantity(i), l.price(i))),
        ordered = false, keyLen = 2)
    }),
    // BASELINE groupAndAggregate
    Template("groupAndAggregate", "lineitem", { r =>
      val p = price(r, 1000, 1100)
      Query(
        s"""[{"$$match": {"l_extendedprice": {"$$gte": $p}}},
           | {"$$group": {"_id": "$$l_returnflag",
           |   "revenue": {"$$sum": {"$$multiply": ["$$l_extendedprice", {"$$subtract": [1, "$$l_discount"]}]}},
           |   "avg_price": {"$$avg": "$$l_extendedprice"}, "n": {"$$sum": 1}}},
           | {"$$sort": {"revenue": -1}}]""".stripMargin,
        row => Seq(fields(row, "_id", "revenue", "avg_price", "n")),
        l => sums[Int, String](l.rows.filter(l.price(_) >= p.toDouble), l.returnflag(_),
          i => l.price(i) * (1 - l.discount(i)), l.price(_), one)
          .sortBy(-_._2(0)).map { case (rf, a) => Seq[Any](rf, a(0), a(1) / a(2), a(2)) },
        ordered = true, keyLen = 1)
    }),
    // BASELINE complexPipeline
    Template("complexPipeline", "lineitem", { r =>
      val q = between(r, 5, 10); val f = f4(0.9 + r.nextInt(2000) / 10000.0); val k = between(r, 5, 21)
      Query(
        s"""[{"$$match": {"l_quantity": {"$$gte": $q}}},
           | {"$$project": {"l_returnflag": 1, "l_linestatus": 1,
           |   "revenue": {"$$multiply": ["$$l_extendedprice", {"$$subtract": [1, "$$l_discount"]}, $f]},
           |   "m": {"$$month": "$$l_shipdate"}}},
           | {"$$group": {"_id": {"rf": "$$l_returnflag", "m": "$$m"}, "rev": {"$$sum": "$$revenue"}, "n": {"$$sum": 1}}},
           | {"$$sort": {"rev": -1}}, {"$$limit": $k}]""".stripMargin,
        { row =>
          val id = row.getAs[Row]("_id")
          Seq(fields(id, "rf", "m") ++ fields(row, "rev", "n"))
        },
        l => sums[Int, (String, Int)](l.rows.filter(l.quantity(_) >= q), i => (l.returnflag(i), l.shipMonth(i)),
          i => l.price(i) * (1 - l.discount(i)) * f.toDouble, one)
          .sortBy(-_._2(0)).take(k).map { case ((rf, m), a) => Seq[Any](rf, m.toDouble, a(0), a(1)) },
        ordered = true, keyLen = 2)
    }),
    Template("lookupOrders", "lineitem", { r =>
      val a = between(r, 1, 130000); val b = a + 20000; val q = between(r, 10, 13)
      Query(
        s"""[{"$$match": {"l_orderkey": {"$$gte": $a, "$$lt": $b}, "l_quantity": {"$$gte": $q}}},
           | {"$$lookup": {"from": "orders", "localField": "l_orderkey", "foreignField": "o_orderkey", "as": "o"}},
           | {"$$unwind": "$$o"},
           | {"$$group": {"_id": "$$o.o_orderpriority", "n": {"$$sum": 1}, "qty": {"$$sum": "$$l_quantity"},
           |   "tp": {"$$sum": "$$o.o_totalprice"}}},
           | {"$$sort": {"_id": 1}}]""".stripMargin,
        row => Seq(fields(row, "_id", "n", "qty", "tp")),
        l => sums[(Int, (String, Double)), String](
          l.rows.filter(i => l.orderkey(i) >= a && l.orderkey(i) < b && l.quantity(i) >= q)
            .flatMap(i => l.orders.get(l.orderkey(i)).map(i -> _)),
          _._2._1, one, { case (i, _) => l.quantity(i) }, _._2._2)
          .sortBy(_._1).map { case (prio, s) => Seq[Any](prio, s(0), s(1), s(2)) },
        ordered = true, keyLen = 1)
    }),
    Template("facet", "lineitem", { r =>
      val p = price(r, 50000, 50100); val k = between(r, 5, 21)
      Query(
        s"""[{"$$match": {"l_extendedprice": {"$$gte": $p}}},
           | {"$$facet": {
           |   "byFlag": [{"$$group": {"_id": "$$l_returnflag", "n": {"$$sum": 1}}}, {"$$sort": {"_id": 1}}],
           |   "top": [{"$$sort": {"l_extendedprice": -1, "l_orderkey": 1, "l_linenumber": 1}}, {"$$limit": $k},
           |           {"$$project": {"l_orderkey": 1, "l_linenumber": 1, "l_extendedprice": 1}}]}}]""".stripMargin,
        { row =>
          row.getSeq[Row](row.fieldIndex("byFlag")).map(b => "byFlag" +: fields(b, "_id", "n")) ++
            row.getSeq[Row](row.fieldIndex("top")).map(t =>
              "top" +: fields(t, "l_orderkey", "l_linenumber", "l_extendedprice"))
        },
        { l =>
          val sel = l.rows.filter(l.price(_) >= p.toDouble)
          // the k highest prices bound the candidates, so the tie-broken sort stays small
          val prices = sel.map(l.price(_)).toArray.sorted
          val cut = if (prices.length > k) prices(prices.length - k) else Double.MinValue
          val top = Ordering.by[Int, (Double, Long, Int)](i => (-l.price(i), l.orderkey(i), l.linenumber(i)))
          sums[Int, String](sel, l.returnflag(_), one).sortBy(_._1)
            .map { case (rf, s) => Seq[Any]("byFlag", rf, s(0)) } ++
            sel.filter(l.price(_) >= cut).sorted(top).take(k).map(i =>
              Seq[Any]("top", l.orderkey(i).toDouble, l.linenumber(i).toDouble, l.price(i)))
        },
        ordered = true, keyLen = 2)
    }),
    Template("windowCumQty", "lineitem", { r =>
      val a = between(r, 1, 145000); val b = a + 5000; val c = between(r, 60, 71)
      Query(
        s"""[{"$$match": {"l_orderkey": {"$$gte": $a, "$$lt": $b}}},
           | {"$$setWindowFields": {"partitionBy": "$$l_orderkey", "sortBy": {"l_linenumber": 1},
           |   "output": {"cumQty": {"$$sum": "$$l_quantity", "window": {"documents": ["unbounded", "current"]}}}}},
           | {"$$match": {"cumQty": {"$$gte": $c}}},
           | {"$$project": {"l_orderkey": 1, "l_linenumber": 1, "cumQty": 1}}]""".stripMargin,
        row => Seq(fields(row, "l_orderkey", "l_linenumber", "cumQty")),
        l => l.rows.filter(i => l.orderkey(i) >= a && l.orderkey(i) < b).groupBy(l.orderkey(_)).values
          .flatMap { lines =>
            val byLine = lines.sortBy(l.linenumber(_))
            byLine.zip(byLine.scanLeft(0.0)(_ + l.quantity(_)).tail).collect {
              case (i, cum) if cum >= c => Seq[Any](l.orderkey(i).toDouble, l.linenumber(i).toDouble, cum)
            }
          }.toSeq,
        ordered = false, keyLen = 2)
    }),
    // nested JSONL collection: array unwinding and grouping on a sub-field
    Template("unwindGroup", "docs", { r =>
      val s = between(r, 200, 211); val k = between(r, 5, 31)
      Query(
        s"""[{"$$match": {"score": {"$$gte": $s}}}, {"$$unwind": "$$items"},
           | {"$$group": {"_id": "$$items.sku", "qty": {"$$sum": "$$items.qty"},
           |   "rev": {"$$sum": {"$$multiply": ["$$items.qty", "$$items.price"]}}, "n": {"$$sum": 1}}},
           | {"$$sort": {"qty": -1, "_id": 1}}, {"$$limit": $k}]""".stripMargin,
        row => Seq(fields(row, "_id", "qty", "rev", "n")),
        l => sums[Gen.Item, String](l.docs.filter(_.score >= s).flatMap(_.items), _.sku,
          _.qty.toDouble, it => it.qty * it.price, one)
          .sortBy { case (sku, a) => (-a(0), sku) }.take(k)
          .map { case (sku, a) => Seq[Any](sku, a(0), a(1), a(2)) },
        ordered = true, keyLen = 1)
    }),
    // nested JSONL collection: missing vs null (`$exists`) and `$ifNull`
    Template("existsIfNull", "docs", { r =>
      val e = r.nextBoolean(); val t = Gen.Tiers(r.nextInt(3)); val s = price(r, 500, 510)
      Query(
        s"""[{"$$match": {"promo": {"$$exists": $e}, "user.tier": "$t", "score": {"$$lt": $s}}},
           | {"$$project": {"code": {"$$ifNull": ["$$promo", "none"]}, "score": 1}},
           | {"$$group": {"_id": "$$code", "n": {"$$sum": 1}, "avg": {"$$avg": "$$score"}}},
           | {"$$sort": {"_id": 1}}]""".stripMargin,
        row => Seq(fields(row, "_id", "n", "avg")),
        l => sums[Gen.Doc, String](
          l.docs.filter(d => d.promo.isDefined == e && d.tier == t && d.score < s.toDouble),
          _.promo.flatten.getOrElse("none"), one, _.score.toDouble)
          .sortBy(_._1).map { case (code, a) => Seq[Any](code, a(0), a(1) / a(0)) },
        ordered = true, keyLen = 1)
    }))
}
