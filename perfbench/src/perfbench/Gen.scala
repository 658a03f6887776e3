package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every input a workload hands to graft comes
  * from here and is a pure function of the seed: Spark-side tables derive
  * each value from `xxhash64(seed, tag, row id)` (independent of
  * partitioning), driver-side inputs from a `SplittableRandom(seed)`.
  * `digest` functions let the self-test prove that one seed gives
  * byte-identical inputs and another seed different ones.
  */
object Gen {

  /** sf0.1 row counts of the TPC-H tables the BASELINE shapes run over. */
  val LineitemRows = 600000L
  val OrderRows = 150000L

  private def h(seed: Long, tag: String, id: Column): Column =
    xxhash64(lit(seed), lit(tag), id)

  /** `lineitem` at sf0.1: four lines per order, TPC-H-like value ranges. */
  def lineitem(spark: SparkSession, seed: Long): DataFrame = {
    val id = col("id")
    val flag = pmod(h(seed, "rf", id), lit(100))
    spark.range(LineitemRows).select(
      (id / 4 + 1).cast("long").as("l_orderkey"),
      (pmod(h(seed, "pk", id), lit(20000L)) + 1).as("l_partkey"),
      (pmod(h(seed, "sk", id), lit(1000L)) + 1).as("l_suppkey"),
      (pmod(id, lit(4)) + 1).cast("int").as("l_linenumber"),
      (pmod(h(seed, "q", id), lit(50L)) + 1).cast("double").as("l_quantity"),
      round((pmod(h(seed, "ep", id), lit(10000000L)) + 90000L) / 100.0, 2).as("l_extendedprice"),
      (pmod(h(seed, "d", id), lit(11L)) / 100.0).as("l_discount"),
      (pmod(h(seed, "t", id), lit(9L)) / 100.0).as("l_tax"),
      when(flag < 25, "R").when(flag < 50, "A").otherwise("N").as("l_returnflag"),
      when(pmod(h(seed, "ls", id), lit(100)) < 50, "F").otherwise("O").as("l_linestatus"),
      timestamp_seconds(lit(694224000L) + pmod(h(seed, "sd", id), lit(2556L)) * 86400L)
        .as("l_shipdate"))
  }

  val Priorities: Seq[String] = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  def orders(spark: SparkSession, seed: Long): DataFrame = {
    val id = col("id")
    spark.range(OrderRows).select(
      (id + 1).as("o_orderkey"),
      (pmod(h(seed, "ck", id), lit(15000L)) + 1).as("o_custkey"),
      round((pmod(h(seed, "tp", id), lit(50000000L)) + 100000L) / 100.0, 2).as("o_totalprice"),
      element_at(array(Priorities.map(lit): _*), pmod(h(seed, "op", id), lit(5)).cast("int") + 1)
        .as("o_orderpriority"))
  }

  // ---------------------------------------------------------------------
  // Nested JSONL collection (schemaless: missing vs null fields)
  // ---------------------------------------------------------------------

  final case class Item(sku: String, qty: Long, price: Double)

  /** One nested document. `promo` is three-valued: `Some(Some(code))`
    * present with a value, `Some(None)` present as an explicit null, `None`
    * missing from the document. The references read the presence from
    * here, so they never depend on graft's presence tracking. */
  final case class Doc(id: Long, name: String, tier: String, score: Long,
                       tags: Seq[String], items: Seq[Item], promo: Option[Option[String]]) {
    def toJson: String = {
      val sb = new StringBuilder
      sb.append(s"""{"_id":$id,"user":{"name":"$name","tier":"$tier"},"score":$score,"tags":[""")
      sb.append(tags.map(t => s""""$t"""").mkString(","))
      sb.append("""],"items":[""")
      sb.append(items.map(i => s"""{"sku":"${i.sku}","qty":${i.qty},"price":${i.price}}""").mkString(","))
      sb.append("]")
      promo match {
        case Some(Some(p)) => sb.append(s""","promo":"$p"""")
        case Some(None)    => sb.append(""","promo":null""")
        case None          =>
      }
      sb.append("}")
      sb.toString
    }
  }

  val Tiers: Seq[String] = Seq("gold", "silver", "bronze")

  def docs(seed: Long, n: Int): Vector[Doc] = {
    val r = new SplittableRandom(seed ^ 0x6a09e667f3bcc909L)
    Vector.tabulate(n) { i =>
      val items = Seq.fill(r.nextInt(5)) {
        Item(s"s${r.nextInt(500)}", 1L + r.nextInt(9), (1 + r.nextInt(9999)) / 100.0)
      }
      val promo = r.nextInt(10) match {
        case 0 | 1 | 2 => None
        case 3         => Some(None)
        case _         => Some(Some(s"P${r.nextInt(12)}"))
      }
      Doc(i.toLong, s"u${r.nextInt(5000)}", Tiers(r.nextInt(3)), r.nextInt(1000).toLong,
        Seq.fill(r.nextInt(4))(s"t${r.nextInt(20)}").distinct, items, promo)
    }
  }

  // ---------------------------------------------------------------------
  // Live collection mutation stream
  // ---------------------------------------------------------------------

  final case class LiveDoc(seq: Long, user: String, kind: String, amount: Double, tags: Seq[String]) {
    def toRow: Row = Row(seq, user, kind, amount, tags)
  }

  val LiveSchema: StructType = StructType(Seq(
    StructField("seq", LongType), StructField("user", StringType),
    StructField("kind", StringType), StructField("amount", DoubleType),
    StructField("tags", ArrayType(StringType))))

  def liveDoc(r: SplittableRandom, seq: Long): LiveDoc =
    LiveDoc(seq, s"u${r.nextInt(50)}", Seq("a", "b", "c", "d")(r.nextInt(4)),
      (1 + r.nextInt(1000000)) / 100.0, Seq.fill(r.nextInt(4))(s"t${r.nextInt(20)}").distinct)

  // ---------------------------------------------------------------------
  // Near-duplicate corpus (GenSf1's distribution, seeded, with ground truth)
  // ---------------------------------------------------------------------

  /** Edit tiers of the planted variants, in percent of tokens rewritten.
    * 0 and 2 are the duplicates recall is measured on; 10 sits near the
    * 0.8 Jaccard threshold; 35 is far below it. */
  val EditTiers: Seq[Int] = Seq(0, 2, 10, 35)

  /** (doc_id, text, n_chars, base_id, pct): 70% base documents (base_id
    * null) with log-uniform token draws over a 50k vocabulary and 20-80
    * tokens, 30% variants rewriting `pct`% of a hash-chosen base's tokens;
    * 5% of documents draw from a 20-token vocabulary (repetition-heavy). */
  def corpus(spark: SparkSession, seed: Long, nDocs: Long): DataFrame = {
    val nBase = nDocs * 7 / 10
    val id = col("id")
    val docVocab = when(pmod(h(seed, "rep", id), lit(20)) === 0, lit(20)).otherwise(lit(50000))
    val len = (pmod(h(seed, "len", id), lit(61)) + 20).cast("int")
    val baseText = array_join(transform(sequence(lit(0), len - 1), i =>
      concat(lit("w"), floor(pow(docVocab.cast("double"),
        pmod(xxhash64(lit(seed), lit("tok"), id, i), lit(1000000L)) / lit(1000000.0)))
        .cast("long").cast("string"))), " ")
    val base = spark.range(nBase).select(id.as("doc_id"), baseText.as("text"))
    val vid = col("doc_id")
    val variants = spark.range(nBase, nDocs)
      .select(id.as("doc_id"),
        pmod(h(seed, "base", id), lit(nBase)).as("base_id"),
        element_at(array(EditTiers.map(lit): _*),
          pmod(h(seed, "tier", id), lit(EditTiers.size)).cast("int") + 1).as("pct"))
      .join(base.select(col("doc_id").as("base_id"), col("text").as("base_text")), "base_id")
      .select(vid,
        array_join(transform(split(col("base_text"), " "), (t, i) =>
          when(pmod(xxhash64(lit(seed), vid, i, t), lit(100)) < col("pct"),
            concat(lit("w"), pmod(xxhash64(lit(seed), t, vid), lit(50000L)).cast("string")))
            .otherwise(t)), " ").as("text"),
        col("base_id"), col("pct"))
    base.select(col("doc_id"), col("text"), lit(null).cast("long").as("base_id"),
        lit(null).cast("int").as("pct"))
      .unionByName(variants)
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  // ---------------------------------------------------------------------
  // Digests for the determinism self-test
  // ---------------------------------------------------------------------

  /** Order-independent digest of a frame: row count plus the sum of a
    * 64-bit hash of every row's values. */
  def frameDigest(df: DataFrame): String = {
    val r = df.select(count(lit(1)), sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
      .head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  def sha256(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l => md.update(l.getBytes("UTF-8")); md.update('\n'.toByte) }
    md.digest().map(b => f"$b%02x").mkString
  }
}
