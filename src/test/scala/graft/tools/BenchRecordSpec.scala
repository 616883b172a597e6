package graft.tools

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.{Bench, SparkEntry}

/** The bench's sustained-load self-correction (VERDICT r13 "what's
  * wrong" #1). The motivating fixture: r13's driver run sampled q49 at
  * 20.3/24.8/30.5 s under a load burst — 1.5× intra-run spread, so the
  * wide-spread trigger never fired — while the committed quiet record
  * said 2.19 s. These specs pin the three pieces the in-run fix is made
  * of: record parsing, newest-matching-record selection (sf must match,
  * so a 1000× sweep never compares against an sf0.1 record), and the
  * 3×-and-material trigger itself. */
class BenchRecordSpec extends AnyFunSuite {

  private def writeRecord(dir: java.nio.file.Path, name: String, sf: String,
      queries: (String, Double)*): java.nio.file.Path = {
    val qs = queries.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    val json =
      s"""{"metric":"total","value":1.0,"unit":"sec","queries":{$qs},"runs_per_query":3,"sf":"$sf"}"""
    val p = dir.resolve(name)
    Files.write(p, (json + "\n").getBytes("UTF-8"))
    p
  }

  test("readBenchRecord parses sf + per-query medians; malformed/missing → None") {
    val dir = Files.createTempDirectory("graft_benchrec")
    val p = writeRecord(dir, "bench_r12_sf01_quiet.json", "/root/testdata/sf0.1",
      "q49" -> 2.19, "q50" -> 1.19)
    val parsed = Bench.readBenchRecord(p)
    assert(parsed.isDefined)
    val (sf, qs) = parsed.get
    assert(sf == "/root/testdata/sf0.1")
    assert(qs("q49") == 2.19 && qs("q50") == 1.19)
    // missing file and non-JSON content both degrade to None, never throw
    assert(Bench.readBenchRecord(dir.resolve("nope.json")).isEmpty)
    val bad = dir.resolve("bench_r1_bad.json")
    Files.write(bad, "not json".getBytes("UTF-8"))
    assert(Bench.readBenchRecord(bad).isEmpty)
  }

  test("latestMatchingRecord picks the highest round WITH a matching sf — " +
      "a newer record at a different scale is skipped, not mismatched") {
    val dir = Files.createTempDirectory("graft_benchrec")
    writeRecord(dir, "bench_r10_sf01_final.json", "/root/testdata/sf0.1",
      "q1" -> 1.0)
    writeRecord(dir, "bench_r12_sf01_quiet.json", "/root/testdata/sf0.1",
      "q1" -> 2.0)
    // round 13 ran at a different sf: must not be selected for sf0.1
    writeRecord(dir, "bench_r13_1000x_sweep.json", "target/sfprobe/sf1000rg",
      "q1" -> 99.0)
    val hit = Bench.latestMatchingRecord(dir, "/root/testdata/sf0.1")
    assert(hit.isDefined)
    assert(hit.get._1.getFileName.toString == "bench_r12_sf01_quiet.json")
    assert(hit.get._2("q1") == 2.0)
    // no record at this sf at all → None (the pass is simply skipped)
    assert(Bench.latestMatchingRecord(dir, "/root/testdata/sf9.9").isEmpty)
    // nonexistent records dir → None
    assert(Bench.latestMatchingRecord(dir.resolve("absent"), "x").isEmpty)
  }

  test("latestMatchingRecord merges same-round ties PER QUERY (minimum " +
      "positive median), not per record — a loaded sweep record cannot " +
      "displace its own quiet re-measure for any single query") {
    val dir = Files.createTempDirectory("graft_benchrec")
    // same round, same sf: the 1000x-sweep-under-load shape (r14
    // records). Each record holds the quieter sample of a DIFFERENT
    // query, so any whole-record pick would lose one of them.
    writeRecord(dir, "bench_r14_1000x_sweep.json", "target/sfprobe/sf1000rg",
      "q86" -> 809.0, "q113" -> 343.7)
    writeRecord(dir, "bench_r14_1000x_quiet86.json", "target/sfprobe/sf1000rg",
      "q86" -> 524.0, "q113" -> 455.5)
    val hit = Bench.latestMatchingRecord(dir, "target/sfprobe/sf1000rg")
    assert(hit.isDefined)
    assert(hit.get._2("q86") == 524.0 && hit.get._2("q113") == 343.7)
    // a NEWER round still wins over a quieter older one
    writeRecord(dir, "bench_r15_1000x_x.json", "target/sfprobe/sf1000rg",
      "q86" -> 600.0)
    assert(Bench.latestMatchingRecord(dir, "target/sfprobe/sf1000rg")
      .get._2 == Map("q86" -> 600.0))
  }

  test("an all-refused record (every median a -1 marker) contributes no " +
      "baselines and cannot win the tie — the refusals ledger must not " +
      "disable the sustained-load re-measure (ADVICE r15)") {
    val dir = Files.createTempDirectory("graft_benchrec")
    writeRecord(dir, "bench_r15_1000x_real.json", "target/sfprobe/sf1000rg",
      "q86" -> 524.0, "q113" -> 343.7)
    // the refusals ledger: all -1 markers; sum of non-negatives = 0,
    // which the old whole-record tie-break ranked "quietest"
    writeRecord(dir, "bench_r15_1000x_refusals.json", "target/sfprobe/sf1000rg",
      "q16" -> -1.0, "q41" -> -1.0, "q58" -> -1.0)
    val hit = Bench.latestMatchingRecord(dir, "target/sfprobe/sf1000rg")
    assert(hit.isDefined)
    assert(hit.get._1.getFileName.toString == "bench_r15_1000x_real.json")
    assert(hit.get._2 == Map("q86" -> 524.0, "q113" -> 343.7))
    // ONLY all-refused records at the newest round → no baseline at all
    val dir2 = Files.createTempDirectory("graft_benchrec")
    writeRecord(dir2, "bench_r15_1000x_refusals.json", "target/sfprobe/sf1000rg",
      "q16" -> -1.0)
    assert(Bench.latestMatchingRecord(dir2, "target/sfprobe/sf1000rg").isEmpty)
  }

  test("isDesignedRefusal: only the dedicated GuardRefusal type counts — " +
      "a genuine bug surfacing as a bare IllegalArgumentException is a " +
      "FAILURE, not a refusal (ADVICE r15)") {
    assert(Bench.isDesignedRefusal(new graft.GuardRefusal(
      "semanticDedup with fixed nlist=16 ...")))
    assert(Bench.isDesignedRefusal(intercept[Throwable](
      graft.GuardRefusal.check(ok = false, "over budget"))))
    // the broad-IAE mis-filing this replaces: library-path IAEs are real
    assert(!Bench.isDesignedRefusal(new IllegalArgumentException(
      "Unsupported class file major version")))
    assert(!Bench.isDesignedRefusal(new RuntimeException("executor lost")))
    assert(!Bench.isDesignedRefusal(
      new org.apache.spark.SparkException("job cancelled")))
    // GuardRefusal.check passes silently when the budget fits
    graft.GuardRefusal.check(ok = true, sys.error("message must stay lazy"))
  }

  test("sustainedLoadSuspect: fires only above 3x AND a material (0.5 s) " +
      "excess — the r13 q49 fixture trips it, noise-band movement does not") {
    // the motivating case: 24.8 s recorded vs 2.19 s quiet
    assert(Bench.sustainedLoadSuspect(median = 24.8, quiet = 2.19))
    // exactly 3x is NOT suspect (strict >); exact-binary values so the
    // boundary is tested as written, not through rounding
    assert(!Bench.sustainedLoadSuspect(median = 6.0, quiet = 2.0))
    assert(Bench.sustainedLoadSuspect(median = 6.5, quiet = 2.0))
    // above 3x but immaterial in absolute terms (0.10 -> 0.45 s): skip —
    // re-running every jittery fast query would double a sweep
    assert(!Bench.sustainedLoadSuspect(median = 0.45, quiet = 0.10))
    // noise-band movement on a slow query: 2.85 -> 3.01 s (r13 q143)
    assert(!Bench.sustainedLoadSuspect(median = 3.01, quiet = 2.85))
    // a query with no quiet value (<= 0 marker) can never be suspect
    assert(!Bench.sustainedLoadSuspect(median = 100.0, quiet = -1.0))
    assert(!Bench.sustainedLoadSuspect(median = 100.0, quiet = 0.0))
  }

  test("ledgerFields prices each artifact and the up-front table resolution " +
      "outside the query total; a failed (-1) artifact stays out of its total") {
    val json = "{" + Bench.ledgerFields(Seq("knn5" -> 3.5, "pairs" -> -1.0), 0.75) + "}"
    val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
    assert(node.path("artifacts").path("knn5").asDouble == 3.5)
    assert(node.path("artifacts").path("pairs").asDouble == -1.0)
    assert(node.path("artifacts_total").asDouble == 3.5)
    assert(node.path("tables_resolve_s").isNumber)
    assert(node.path("tables_resolve_s").asDouble == 0.75)
  }

  test("bench knobs reject malformed or out-of-range values, naming the variable") {
    assert(Bench.knob("SPARK_GRAFT_BENCH_RUNS", "5", _.toIntOption, 1) == 5)
    assert(Bench.knob("SPARK_GRAFT_BENCH_WARMUP", "0", _.toIntOption, 0) == 0)
    assert(Bench.knob("SPARK_GRAFT_BENCH_TIMEOUT_SEC", "600", _.toLongOption, 1L) == 600L)
    assert(Bench.knob("SPARK_GRAFT_BENCH_WARM_RERUN_SEC", "2.5", _.toDoubleOption, 0.0) == 2.5)
    val bad = Seq(
      ("SPARK_GRAFT_BENCH_RUNS", "three", (_: String).toIntOption, 1),
      ("SPARK_GRAFT_BENCH_RUNS", "0", (_: String).toIntOption, 1),
      ("SPARK_GRAFT_BENCH_WARMUP", "-1", (_: String).toIntOption, 0),
      ("SPARK_GRAFT_BENCH_WARMUP", "", (_: String).toIntOption, 0))
    for ((name, raw, parse, min) <- bad) {
      val e = intercept[IllegalArgumentException](Bench.knob(name, raw, parse, min))
      assert(e.getMessage.contains(name) && e.getMessage.contains(s"'$raw'"), e.getMessage)
    }
    for (raw <- Seq("10s", "-5", "9999999999999999999")) {
      val e = intercept[IllegalArgumentException](
        Bench.knob("SPARK_GRAFT_BENCH_TIMEOUT_SEC", raw, _.toLongOption, 1L))
      assert(e.getMessage.contains("SPARK_GRAFT_BENCH_TIMEOUT_SEC") && e.getMessage.contains(raw))
    }
    for (raw <- Seq("-0.5", "NaN", "1,5")) {
      val e = intercept[IllegalArgumentException](
        Bench.knob("SPARK_GRAFT_BENCH_WARM_RERUN_SEC", raw, _.toDoubleOption, 0.0))
      assert(e.getMessage.contains("SPARK_GRAFT_BENCH_WARM_RERUN_SEC") && e.getMessage.contains(raw))
    }
  }

  test("query-name filters throw, naming the source and every pattern that matches no query") {
    assert(SparkEntry.select("SPARK_GRAFT_BENCH_ONLY", Seq("q14_", "q49_"), _.contains(_)).keySet ==
      Set("q14_dedup_ngram_jaccard", "q49_jaccard_prefix_filter"))
    assert(SparkEntry.select("queryPrefix", Seq("q1_"), _.startsWith(_)).keySet == Set("q1_lookup_basic"))
    // "lookup_basic" is inside q1's name, not at its start
    val e = intercept[IllegalArgumentException](
      SparkEntry.select("queryPrefix", Seq("q1_", "lookup_basic", "q999"), _.startsWith(_)))
    assert(e.getMessage.contains("queryPrefix") && e.getMessage.contains("lookup_basic") &&
      e.getMessage.contains("q999") && !e.getMessage.contains("q1_"), e.getMessage)
    val none = intercept[IllegalArgumentException](
      SparkEntry.select("SPARK_GRAFT_BENCH_ONLY", Seq.empty, _.contains(_)))
    assert(none.getMessage.contains("SPARK_GRAFT_BENCH_ONLY"), none.getMessage)
  }
}
