package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Benchmark program. Runs one workload for a fixed measured time and
  * writes a raw record (JSON) that `run.py` turns into metrics:
  *
  * {{{
  *   perfbench.Main run --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
  *   perfbench.Main compare-protocols --seed N --work DIR
  *   perfbench.Main selftest --work DIR
  * }}}
  *
  * A run is a closed loop with one client: draw an op, run it, wait for
  * its result, check the result untimed, repeat until the ops' summed
  * latency reaches S seconds and the op count is a multiple of the
  * workload's `round`. Set-up (input generation, load, cache fill)
  * runs `SetupRepeats` times and is reported per repeat. With `--trace 1`
  * rounds of ops alternate between untraced and traced (spans, job groups,
  * counters; the listeners stay installed throughout), so the record also
  * gives the tracing overhead between ops in the same state of warm-up.
  */
object Main {
  val SetupRepeats = 3

  def session(workDir: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.graft.scratchDir", s"$workDir/scratch")
      .config("spark.hadoop.hadoop.tmp.dir", s"$workDir/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workDir = opts.getOrElse("work", sys.error("--work is required"))
    args.headOption match {
      case Some("run")               => run(opts, workDir)
      case Some("compare-protocols") => Protocols.compare(session(workDir), opts("seed").toLong)
      case Some("selftest")          => sys.exit(SelfTest.run(session(workDir), workDir))
      case other                     => sys.error(s"unknown mode $other")
    }
  }

  private def run(opts: Map[String, String], workDir: String): Unit = {
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val spark = session(workDir)
    val sessionS = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val w = Workload(opts("workload"), spark, seed, workDir)

    val prepares = (1 to SetupRepeats).map { _ =>
      val t0 = System.nanoTime()
      val sub = w.prepare()
      ((System.nanoTime() - t0) / 1e9, sub)
    }
    val off = new Tracer(false)
    val tw = System.nanoTime()
    w.warmup(off)
    val warmupS = (System.nanoTime() - tw) / 1e9

    val ops = ArrayBuffer.empty[JValue]
    val recalls = ArrayBuffer.empty[Double]
    var opId = 0
    val tracer = new Tracer(true)
    val events = new EventLog
    def loop(budgetNs: Double): Unit = {
      var spent = 0L
      while (spent < budgetNs || opId % w.round != 0) {
        val tr = if (traced && (opId / w.round) % 2 == 1) tracer else off
        val op = w.next()
        tr.op = opId
        if (tr.enabled) spark.sparkContext.setJobGroup(s"op-$opId", op.kind)
        val c0 = if (tr.enabled) Counters.sample() else Map.empty[String, Double]
        val t0 = System.nanoTime()
        val res = scala.util.Try(tr.span("op")(op.run(tr)))
        val dt = System.nanoTime() - t0
        val c1 = if (tr.enabled) Counters.sample() else Map.empty[String, Double]
        if (tr.enabled) spark.sparkContext.clearJobGroup()
        val err = res.failed.toOption.map(e => s"op failed: $e")
          .orElse(scala.util.Try(op.check()).fold(e => Some(s"check failed: $e"), identity))
        val counters = if (!tr.enabled || res.isFailure) Map.empty[String, Double]
          else c1.map { case (k, v) => k -> (v - c0(k)) } ++ op.counters()
        w match { case d: DedupCorpus if err.isEmpty => recalls += d.lastRecall; case _ => }
        ops += JObject("id" -> JInt(opId), "kind" -> JString(op.kind), "ms" -> JDouble(dt / 1e6),
          "traced" -> JBool(tr.enabled), "error" -> err.fold[JValue](JNull)(JString(_)),
          "counters" -> JObject(counters.toList.sorted.map { case (k, v) => k -> JDouble(v) }))
        err.foreach(e => System.err.println(s"[perfbench] op $opId ${op.kind}: $e"))
        spent += dt
        opId += 1
      }
    }

    val clock = (System.currentTimeMillis(), System.nanoTime())
    if (traced) events.install(spark)
    loop(seconds * 1e9)
    if (traced) events.uninstall(spark)
    val heapAfterGc = Counters.heapAfterGcMb
    w.close()

    val record = JObject(
      "workload" -> JString(w.name), "seed" -> JLong(seed), "trace" -> JBool(traced),
      "seconds" -> JDouble(seconds),
      "nproc" -> JInt(Runtime.getRuntime.availableProcessors),
      "heap_max_mb" -> JLong(Runtime.getRuntime.maxMemory / 1048576),
      "spark_version" -> JString(spark.version),
      "setup" -> JObject(
        "session_s" -> JDouble(sessionS),
        "prepare_s" -> JArray(prepares.map(p => JDouble(p._1)).toList),
        "prepare_sub_ms" -> JArray(prepares.map(p =>
          JObject(p._2.toList.map { case (k, v) => k -> JDouble(v) })).toList),
        "warmup_s" -> JDouble(warmupS)),
      "ops" -> JArray(ops.toList),
      "dedup_recall" -> JArray(recalls.map(JDouble(_)).toList),
      "heap_after_gc_mb" -> JDouble(heapAfterGc),
      "clock" -> JObject("epoch_ms" -> JLong(clock._1), "nano" -> JLong(clock._2)),
      "spans" -> tracer.toJson,
      "events" -> events.toJson)
    val out = opts("out")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      JsonMethods.compact(JsonMethods.render(record)).getBytes("UTF-8"))
    spark.stop()
  }
}
