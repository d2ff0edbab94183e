package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the self-defending-bench arithmetic (round-6: the round-5 official
  * map misreported a 2.1x regression that was host stall; the contamination
  * index is what lets the artifact defend itself without a judge re-run). */
class BenchSpec extends AnyFunSuite {

  test("medianOf: odd and even sample counts") {
    assert(Bench.medianOf(List(3.0, 1.0, 2.0)) == 2.0)
    assert(Bench.medianOf(List(4.0, 1.0, 2.0, 3.0)) == 2.5)
    assert(Bench.medianOf(List(0.5)) == 0.5)
  }

  test("isStalled: min<<median signature needs both ratio and absolute gap") {
    // classic stall: 0.45 s steady state, two samples stalled to 2 s
    assert(Bench.isStalled(0.45, 2.0))
    // sub-0.1 s scheduler jitter: ratio trips but the absolute floor holds
    assert(!Bench.isStalled(0.05, 0.15))
    // agreeing samples: neither condition trips
    assert(!Bench.isStalled(1.0, 1.1))
    // large absolute gap but <2x ratio (a genuinely slow query warming)
    assert(!Bench.isStalled(3.0, 4.0))
  }

  test("drift limit marks a loaded host but tolerates normal probe jitter") {
    val base = 0.05
    assert(0.12 > Bench.DriftLimit * base)   // 2.4x probe => contaminated
    assert(!(0.09 > Bench.DriftLimit * base)) // 1.8x probe => clean
  }

  test("isCleanRun: canonical-map bar needs low drift AND zero stalls") {
    assert(Bench.isCleanRun(1.0, 0))
    assert(Bench.isCleanRun(1.49, 0))
    assert(!Bench.isCleanRun(1.5, 0))   // at the limit is NOT clean
    assert(!Bench.isCleanRun(1.0, 1))   // any stalled query disqualifies
    assert(!Bench.isCleanRun(9.22, 7))  // the committed round-7 map
    // absolute excursion floor: a 60 ms probe blip over a 90 ms baseline
    // is ratio-1.67 "drift" but cannot have moved any min materially
    assert(Bench.isCleanRun(1.7, 0, probeExcursion = 0.06))
    assert(!Bench.isCleanRun(1.7, 1, probeExcursion = 0.06)) // stalls still bar
    assert(!Bench.isCleanRun(3.0, 0, probeExcursion = 0.4))  // real load: both high
  }

  test("fileIsClean: reads the contamination block; unreadable is not clean") {
    import java.nio.file.{Files, Paths}
    def mapWith(drift: String, stalled: Int): String =
      s"""{"metric":"total","value":10.0,"unit":"sec","queries":{"q1":10.0},""" +
      s""""contamination":{"stalled_queries":$stalled,"n_queries":1,""" +
      s""""calib_baseline":0.1,"calib_max":0.2,"calib_drift":$drift,""" +
      s""""resampled":0,"stalled":[]},"sf":"x"}"""
    val clean = Files.createTempFile("bench_clean", ".json")
    Files.writeString(clean, mapWith("1.05", 0))
    val dirty = Files.createTempFile("bench_dirty", ".json")
    Files.writeString(dirty, mapWith("9.22", 7))
    val noBlock = Files.createTempFile("bench_noblock", ".json")
    Files.writeString(noBlock, """{"metric":"total","value":10.0}""")
    try {
      assert(Bench.fileIsClean(clean))
      assert(!Bench.fileIsClean(dirty))
      // a map without a contamination block cannot vouch for itself
      assert(!Bench.fileIsClean(noBlock))
      assert(!Bench.fileIsClean(Paths.get("/nonexistent/bench.json")))
    } finally Seq(clean, dirty, noBlock).foreach(Files.deleteIfExists)
  }

  test("fileIsClean(code): protection is scoped to the code that " +
    "produced the map — stale or untagged maps are replaceable") {
    import java.nio.file.Files
    def mapWith(code: Option[String]): String =
      s"""{"metric":"total","value":10.0,"unit":"sec","queries":{"q1":10.0},""" +
      s""""contamination":{"stalled_queries":0,"n_queries":1,""" +
      s""""calib_baseline":0.1,"calib_max":0.11,"calib_drift":1.1,""" +
      s""""resampled":0,"stalled":[]}""" +
      code.map(c => s""","code":"$c"""").getOrElse("") + ""","sf":"x"}"""
    val tagged = Files.createTempFile("bench_code", ".json")
    Files.writeString(tagged, mapWith(Some("5:100")))
    val untagged = Files.createTempFile("bench_nocode", ".json")
    Files.writeString(untagged, mapWith(None))
    try {
      assert(Bench.fileIsClean(tagged, "5:100"))     // same code: protected
      assert(!Bench.fileIsClean(tagged, "6:200"))    // stale code: replaceable
      assert(!Bench.fileIsClean(untagged, "5:100"))  // pre-tag map: replaceable
      // the code-agnostic check is unchanged
      assert(Bench.fileIsClean(untagged))
    } finally Seq(tagged, untagged).foreach(Files.deleteIfExists)
  }

  test("a lane that throws is listed as failed and kept out of the times") {
    val spark = GraftTestSession.spark
    val boom: Bench.Lane = (_, _) => throw new IllegalStateException("boom")
    val ok: Bench.Lane = (s, _) => s.range(10).toDF("id")
    assert(Bench.runOnce(spark, "unused", boom) == Left("boom"))
    assert(Bench.runOnce(spark, "unused", ok).isRight)
    // a lane that fails only on its third run still has no time
    var calls = 0
    val flaky: Bench.Lane = (s, d) => {
      calls += 1
      if (calls == 3) throw new RuntimeException("flaky") else ok(s, d)
    }
    // a huge calibration baseline: no segment reads as drifted
    val m = Bench.measure(spark, "unused",
      Seq("q_boom" -> boom, "q_flaky" -> flaky, "q_ok" -> ok), 1e9)
    assert(m.failed == Seq("q_boom" -> "boom", "q_flaky" -> "flaky"))
    assert(m.times.map(_._1) == Seq("q_ok"))
    assert(m.times.head._2.size == 3)
    assert(calls == 3) // no run after the failure
    assert(Bench.failedField(m.failed.map(_._1)) ==
      "\"failed\":[\"q_boom\",\"q_flaky\"]")
    assert(Bench.failedField(Nil) == "\"failed\":[]")
  }

  test("fileIsClean: a map that lists failed lanes earns no protection") {
    import java.nio.file.Files
    def mapWith(failed: String): String =
      s"""{"metric":"total","value":10.0,"unit":"sec","queries":{"q1":10.0},""" +
      s""""contamination":{"stalled_queries":0,"n_queries":1,""" +
      s""""calib_baseline":0.1,"calib_max":0.11,"calib_drift":1.1,""" +
      s""""resampled":0,"stalled":[]},"failed":[$failed],"sf":"x"}"""
    val none = Files.createTempFile("bench_nofail", ".json")
    Files.writeString(none, mapWith(""))
    val some = Files.createTempFile("bench_fail", ".json")
    Files.writeString(some, mapWith("\"q2\""))
    try {
      assert(Bench.fileIsClean(none))
      assert(!Bench.fileIsClean(some))
    } finally Seq(none, some).foreach(Files.deleteIfExists)
  }

  test("Verify writes every lane that runs and returns the ones that threw") {
    val spark = GraftTestSession.spark
    val out = java.nio.file.Files.createTempDirectory("verify_lanes").toString
    val ok: Bench.Lane = (s, _) => s.range(3).toDF("id")
    val boom: Bench.Lane = (_, _) => throw new IllegalStateException("boom")
    val failed = Verify.writeLanes(spark, "unused", out,
      Seq("q_ok" -> ok, "q_boom" -> boom))
    assert(failed == Seq("q_boom" -> "boom"))
    assert(spark.read.parquet(s"$out/q_ok").count() == 3)
    assert(!new java.io.File(s"$out/q_boom").exists())
    assert(Verify.summaryLine(2, failed.map(_._1)) ==
      "[verify] 1/2 lanes failed: q_boom")
    assert(Verify.summaryLine(2, Nil) == "[verify] all 2 lanes written")
  }

  test("codeFingerprint is stable within a build and non-trivial") {
    val fp = Bench.codeFingerprint()
    assert(fp == Bench.codeFingerprint())
    assert(fp != "unknown" && fp.contains(":"))
  }
}
