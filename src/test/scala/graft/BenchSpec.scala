package graft

/** Harness-discipline specs (r9 verdict items 2 + 3): the bench/probe
  * mutual-exclusion lock, and failure-reason capture in the timing
  * loop. Neither touches query semantics — they exist so an OFFICIAL
  * bench record can never again be silently contaminated (r9's was run
  * concurrently with a probe chain: +50% total and a spurious failure
  * with no recorded reason).
  */
class BenchSpec extends SparkSpec {

  test("bench lock: second acquirer fails fast with a named refusal") {
    val root = java.nio.file.Files
      .createTempDirectory("graft-lock-spec").toString
    val held = BenchProtocol.acquireBenchLock(root)
    try {
      // a dummy holder is live → a second harness must be REFUSED, not
      // queued and not silently co-scheduled
      val e = intercept[IllegalStateException] {
        BenchProtocol.acquireBenchLock(root)
      }
      assert(e.getMessage.contains("HELD"))
      assert(e.getMessage.contains(".graft_bench_lock"))
      // the refusal names the holder pid for diagnosis
      assert(e.getMessage.contains("pid="))
    } finally held.close()
    // released → the next harness acquires normally
    val again = BenchProtocol.acquireBenchLock(root)
    again.close()
  }

  test("bench lock: locks under different roots are independent") {
    val r1 = java.nio.file.Files.createTempDirectory("graft-lock-a").toString
    val r2 = java.nio.file.Files.createTempDirectory("graft-lock-b").toString
    val a = BenchProtocol.acquireBenchLock(r1)
    val b = BenchProtocol.acquireBenchLock(r2) // different box-scope: fine
    a.close(); b.close()
  }

  test("timeQuery records the failure reason as <class>: <message>") {
    val t = Bench.timeQuery(spark, nRuns = 1, gcMode = "off")(() =>
      throw new RuntimeException("boom: stage 3 lost"))
    assert(t.times.isEmpty)
    assert(t.err === Some("java.lang.RuntimeException: boom: stage 3 lost"))
    // multiline Spark messages flatten to one line, bounded length
    val t2 = Bench.timeQuery(spark, nRuns = 1, gcMode = "off")(() =>
      throw new IllegalStateException("line1\nline2\n" + "x" * 500))
    val err2 = t2.err.get
    assert(err2.startsWith("java.lang.IllegalStateException: line1 line2"))
    assert(err2.length <= "java.lang.IllegalStateException: ".length + 300)
    // a healthy query times normally and carries no err
    val ok = Bench.timeQuery(spark, nRuns = 2, gcMode = "off")(() =>
      spark.range(10).toDF("id"))
    assert(ok.times.size === 2 && ok.err.isEmpty)
  }

  test("contract line stays valid JSON under a comma-decimal default locale") {
    val saved = java.util.Locale.getDefault
    val line = try {
      java.util.Locale.setDefault(java.util.Locale.GERMANY)
      Bench.contractLine(total = 174.9, calib = 2.5, calibIo = 1.25,
        calibs = Seq(2.5, 2.4375), sweeps = 2, source = "driver", nFailed = 0,
        io = Seq("x12_scd2_snapshot"), top = Seq("x2b" -> 4.8765, "x64" -> 3.25),
        omitted = 162, sfDir = "/data/sf0.1")
    } finally java.util.Locale.setDefault(saved)
    val rec = new com.fasterxml.jackson.databind.ObjectMapper().readTree(line)
    assert(rec.get("queries").get("x2b").asDouble() === 4.877)
    assert(rec.get("calibs").get(1).asDouble() === 2.4375)
    assert(rec.get("n").asInt() === 164)
    assert(rec.get("value_calib").asDouble() === 174.9 / 2.5)
  }

  test("jsonEscape keeps failure messages one-line-JSON safe") {
    assert(Bench.jsonEscape("""say "hi"\ now""") === """say \"hi\"\\ now""")
    assert(Bench.jsonEscape("a\nb\tc\rd") === "a\\nb\\tc\\rd")
    assert(Bench.jsonEscape("ctrl:" + 1.toChar) === "ctrl:\\u0001")
  }
}
