package perfbench

import java.util.SplittableRandom

/** Self-test of the benchmark's Spark-side logic:
  *
  *  - generator determinism: one seed gives byte-identical inputs (frames,
  *    JSONL lines, op and mutation streams), another seed different ones;
  *  - each workload's check passes on a real result and fails on a
  *    deliberately corrupted one.
  *
  * Returns the process exit code: 0 when every case passes. */
object SelfTest {
  def run(spark: org.apache.spark.sql.SparkSession, workDir: String): Int = {
    var failures = 0
    def expect(name: String)(ok: => Boolean): Unit = {
      val pass = scala.util.Try(ok).fold({ e => System.err.println(e); false }, identity)
      println(s"${if (pass) "PASS" else "FAIL"} $name")
      if (!pass) failures += 1
    }
    def deterministic(name: String)(digest: Long => String): Unit =
      expect(s"generator determinism: $name") {
        val (a, b, c) = (digest(7L), digest(7L), digest(8L))
        a == b && a != c
      }

    deterministic("lineitem")(s => Gen.frameDigest(Gen.lineitem(spark, s)))
    deterministic("orders")(s => Gen.frameDigest(Gen.orders(spark, s)))
    deterministic("dedup corpus with ground truth")(s => Gen.frameDigest(Gen.corpus(spark, s, 3000L)))
    deterministic("nested JSONL lines")(s => Gen.sha256(Gen.docs(s, 3000).iterator.map(_.toJson)))
    deterministic("pipeline op stream")(s =>
      Gen.sha256(PipelineMix.opStream(s).take(64).map(_._2.pipeline)))
    deterministic("live mutation documents") { s =>
      val r = new SplittableRandom(s)
      Gen.sha256(Iterator.tabulate(3000)(i => Gen.liveDoc(r, i.toLong).toString))
    }
    expect("pipeline op stream runs every template once per block") {
      PipelineMix.opStream(3L).take(PipelineMix.Templates.size * 4).grouped(PipelineMix.Templates.size)
        .forall(_.map(_._1.name).toSet.size == PipelineMix.Templates.size)
    }

    // Corrupt the first number of the first row by 0.1%: far above the
    // check's 1e-6 tolerance, far below anything a row-count check sees.
    val perturb: Seq[Seq[Any]] => Seq[Seq[Any]] = rows => {
      val i = rows.indexWhere(_.exists(_.isInstanceOf[Double]))
      if (i < 0) rows ++ rows.take(1)
      else rows.updated(i, {
        val r = rows(i); val j = r.indexWhere(_.isInstanceOf[Double])
        r.updated(j, r(j).asInstanceOf[Double] * 1.001 + 1e-3)
      })
    }
    def checksCatchCorruption(w: Workload, ops: Int, tamper: Seq[Seq[Any]] => Seq[Seq[Any]]): Unit = {
      w.prepare()
      val off = new Tracer(false)
      (1 to ops).foreach { k =>
        val op = w.next()
        op.run(off)
        expect(s"${w.name} op $k (${op.kind}) passes its check")(op.check().isEmpty)
        op.tamper = tamper
        expect(s"${w.name} op $k (${op.kind}) corrupted result fails its check")(op.check().isDefined)
      }
      w.close()
    }
    checksCatchCorruption(new PipelineMix(spark, 11L), PipelineMix.Templates.size, perturb)
    checksCatchCorruption(new LiveCollection(spark, 11L), 6, perturb)
    val dedup = new DedupCorpus(spark, 11L, workDir, 3000L)
    checksCatchCorruption(dedup, 1, rows => rows ++ rows.take(1))
    expect("dedup_corpus: recall over planted 0%/2%-edit variants is above 0.5")(dedup.lastRecall > 0.5)

    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    if (failures == 0) 0 else 1
  }
}
