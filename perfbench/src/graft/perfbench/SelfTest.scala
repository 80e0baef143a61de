package graft.perfbench

import java.nio.file.{Files, Path}

/** The benchmark's own checks, at tiny sizes:
  *  1. each workload runs (untraced and traced) with every check passing;
  *  2. every metric BENCHMARK.json names is printed with its unit and a
  *     sample count;
  *  3. a deliberately wrong expected value flips an operation to failed;
  *  4. the generator is byte-identical for one seed, different for another.
  */
object SelfTest {

  /** (name, unit) of every metric in one list of BENCHMARK.json. */
  def declared(json: String, list: String): Seq[(String, String)] = {
    val start = json.indexOf("\"" + list + "\"")
    val body = json.substring(json.indexOf('[', start), json.indexOf(']', start))
    "\"name\"\\s*:\\s*\"([^\"]+)\"\\s*,\\s*\"unit\"\\s*:\\s*\"([^\"]+)\"".r
      .findAllMatchIn(body).map(m => m.group(1) -> m.group(2)).toSeq
  }

  def run(work: Path, benchmarkJson: Path): Int = {
    val json = new String(Files.readAllBytes(benchmarkJson), "UTF-8")
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def expect(ok: Boolean, what: String): Unit = {
      println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += what
    }

    // 4. generator identity
    val corpus = Gen.Corpus(tokensPerDay = 30000L, firstDay = 3, days = 2, hot = Some(Gen.Hot(0.3)))
    def fp(seed: Long) = Gen.fingerprint((3 to 4).iterator.flatMap(d => Gen.docs(seed, corpus, d)))
    def fpE(seed: Long) = Gen.fingerprint(Iterator.range(0, 20).map(Gen.epoch(seed, Gen.Epochs(20, 256), _)))
    expect(fp(7) == fp(7) && fpE(7) == fpE(7), "generator: same seed gives byte-identical inputs")
    expect(fp(7) != fp(8) && fpE(7) != fpE(8), "generator: another seed gives different inputs")

    Files.createDirectories(work)
    val spark = Session.build(Runtime.getRuntime.availableProcessors, work)
    try {
      val dfSeed = Gen.corpus(spark, 7, corpus).collect().map(r =>
        graft.gen.TokenGen.Doc(r.getAs[String]("doc_id"), r.getSeq[Int](1).toArray,
          r.getAs[Int]("n_tok"), r.getAs[String]("source"), r.getAs[java.sql.Timestamp]("event_time")))
      expect(Gen.fingerprint(dfSeed.sortBy(_.doc_id).iterator) ==
        Gen.fingerprint((3 to 4).iterator.flatMap(d => Gen.docs(7, corpus, d)).toSeq.sortBy(_.doc_id).iterator),
        "generator: parallel generation equals the sequential stream")

      // 1 + 2. every workload, untraced and traced, prints every metric
      val e2e = declared(json, "end_to_end")
      val layer = declared(json, "per_layer")
      expect(e2e.nonEmpty && layer.nonEmpty, "BENCHMARK.json lists end-to-end and per-layer metrics")
      for (name <- Seq("backfill", "daily", "extract"); traced <- Seq(false, true)) {
        val c = new Ctx(spark, work.resolve(s"$name-$traced"), 11L, traced, tiny = true)
        val o = Main.measure(Main.workload(name, tiny = true), c, 0.0, None)
        Main.report(name, o)
        println(Main.resultJson(o))
        expect(o.correct && o.failed == 0 && o.attempted >= 2,
          s"$name (traced=$traced) runs with every check passing")
        val printed = o.metrics.filter(_.gated).map(m => m.name -> m.unit).toMap
        val want = if (traced) layer else e2e
        val missing = want.filterNot { case (n, u) => printed.get(n).contains(u) }
        expect(missing.isEmpty && printed.size == want.size,
          s"$name (traced=$traced) prints every declared metric with its unit" +
            (if (missing.nonEmpty) s"; missing ${missing.mkString(", ")}" else ""))
        expect(o.metrics.forall(_.samples >= 0) && (traced || o.metrics.forall(_.samples >= 1)),
          s"$name (traced=$traced) reports a sample count for every metric")
        Harness.deleteTree(c.work)
      }

      // 3. a wrong expected value fails the operation instead of timing it
      for (w <- Seq(new Extract(tiny = true, wrongExpected = true),
                    new Backfill(tiny = true, wrongExpected = true))) {
        val c = new Ctx(spark, work.resolve(s"${w.name}-wrong"), 11L, traced = false, tiny = true)
        val o = Main.measure(w, c, 0.0, None)
        expect(o.failed >= 1 && !o.correct,
          s"${w.name}: a wrong expected value counts the operation as failed")
        Harness.deleteTree(c.work)
      }
    } finally spark.stop()
    println(s"[selftest] ${if (failures.isEmpty) "PASS" else s"FAIL (${failures.size})"}")
    if (failures.isEmpty) 0 else 1
  }
}
