package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench suite's trust rules (VERDICT r4 next #1) without a host:
  * a reading is SICK when any bracketing stamp — alloc (2.0 GB/s floor) or
  * fixed-work CPU (0.25 Gops floor) — is below its floor, and the kept
  * reading per query is the healthy retry when one exists, else the first
  * reading (quarantined if sick). These rules decide which wall times enter
  * BENCH_r{N}.json — four rounds of bench-evidence bugs say they deserve a
  * pin. No SparkSession needed.
  */
class BenchSpec extends AnyFunSuite {
  private def q(sec: Double, before: Double, after: Double,
      err: Option[String] = None, cpuBefore: Double = 0.5, cpuAfter: Double = 0.5) =
    Bench.QRun(sec, before, after, err, cpuBefore, cpuAfter)

  test("a reading is sick if EITHER bracketing alloc stamp is below the floor") {
    assert(!q(1.0, 2.5, 2.5).sick)
    assert(q(1.0, 1.9, 2.5).sick, "window closing mid-query must taint it")
    assert(q(1.0, 2.5, 1.9).sick, "window opening mid-query must taint it")
    assert(q(1.0, 0.1, 0.1).sick)
  }

  test("a reading is sick if EITHER bracketing CPU stamp is below the floor") {
    // The r5 q14 incident: 92.8s under healthy ALLOC stamps — scheduler
    // steal is invisible to the memory-path probe. The fixed-work CPU stamp
    // (healthy ~0.5 Gops on this box) must taint such a reading on its own.
    assert(q(92.8, 6.2, 4.2, cpuBefore = 0.08, cpuAfter = 0.45).sick,
      "steal window closing mid-query must taint it")
    assert(q(92.8, 6.2, 4.2, cpuBefore = 0.45, cpuAfter = 0.08).sick,
      "steal window opening mid-query must taint it")
    assert(!q(1.0, 2.5, 2.5, cpuBefore = 0.26, cpuAfter = 0.48).sick)
  }

  test("a healthy CPU-stamped retry lifts a CPU-sick quarantine") {
    val k = Bench.keptReading(
      q(92.8, 6.2, 4.2, cpuBefore = 0.08, cpuAfter = 0.45),
      Some(q(15.5, 5.0, 5.1)))
    assert(k == Bench.Kept(15.5, "retry", None, sick = false))
  }

  test("healthy first reading is kept as-is, never quarantined") {
    val k = Bench.keptReading(q(3.0, 2.5, 2.6), retry = None)
    assert(k == Bench.Kept(3.0, "first", None, sick = false))
  }

  test("sick first reading with no retry window stays, but quarantined") {
    val k = Bench.keptReading(q(30.0, 0.5, 2.5), retry = None)
    assert(k.sec == 30.0 && k.src == "first" && k.sick,
      "a contaminated reading without a retry must be NAMED, not laundered")
  }

  test("healthy retry replaces a sick first reading and lifts quarantine") {
    val k = Bench.keptReading(q(30.0, 0.5, 2.5), Some(q(3.0, 2.5, 2.6)))
    assert(k == Bench.Kept(3.0, "retry", None, sick = false))
  }

  test("still-sick retry keeps the FIRST reading and the quarantine") {
    // keeping the first reading keeps suite totals comparable across runs;
    // the full JSON carries both readings either way
    val k = Bench.keptReading(q(30.0, 0.5, 2.5), Some(q(40.0, 1.0, 2.5)))
    assert(k.sec == 30.0 && k.src == "first" && k.sick)
  }

  test("two healthy readings keep the FASTER one (heavy-redundancy rule)") {
    // The alloc stamp sees only the memory path; a CPU-side degradation can
    // inflate a reading under healthy stamps (observed r5: q14 92.8s inside
    // the suite, 15-17s in isolation). Contamination only ever inflates, so
    // with two stamp-healthy readings min is the better estimator.
    val slowFirst = Bench.keptReading(q(92.8, 6.2, 4.2), Some(q(15.5, 5.0, 5.1)))
    assert(slowFirst == Bench.Kept(15.5, "retry", None, sick = false))
    val slowRetry = Bench.keptReading(q(15.5, 6.2, 4.2), Some(q(92.8, 5.0, 5.1)))
    assert(slowRetry == Bench.Kept(15.5, "first", None, sick = false))
  }

  test("healthy first reading is never displaced by a sick retry") {
    val k = Bench.keptReading(q(15.5, 6.2, 4.2), Some(q(3.0, 1.0, 5.1)))
    assert(k == Bench.Kept(15.5, "first", None, sick = false))
  }

  test("retry's error status travels with the retry reading") {
    val k = Bench.keptReading(
      q(3.0, 2.5, 2.5, Some("AnalysisException: x")),
      Some(q(2.0, 2.5, 2.5, None)))
    assert(k.err.isEmpty, "a query fixed by the fresh session is not failed")
    val k2 = Bench.keptReading(
      q(3.0, 2.5, 2.5, Some("AnalysisException: x")),
      Some(q(2.0, 2.5, 2.5, Some("OOM"))))
    assert(k2.err.contains("OOM"), "both failed: the fresh-session failure is the one kept")
  }

  test("a FAILED healthy retry never displaces a SICK successful first reading either") {
    // The query demonstrably works (the sick run succeeded); reporting it
    // failed because a fresh session hit a transient error would be wrong
    // on both axes. Keep the sick success, quarantined — named, not
    // laundered into a failure.
    val k = Bench.keptReading(
      q(30.0, 0.5, 2.5, None),
      Some(q(2.0, 2.5, 2.5, Some("OOM"))))
    assert(k == Bench.Kept(30.0, "first", None, sick = true))
  }

  test("a FAILED healthy retry never displaces a healthy successful first reading") {
    // A transient fresh-session failure (e.g. OOM after 2s) is not a faster
    // measurement of the same work: keeping it would report a working query
    // as failed AND shrink the suite total.
    val k = Bench.keptReading(
      q(15.5, 6.2, 4.2, None),
      Some(q(2.0, 5.0, 5.1, Some("OOM"))))
    assert(k == Bench.Kept(15.5, "first", None, sick = false))
  }

  test("the queries line holds every kept reading but the failed ones") {
    val kept = Seq(
      "q01_a" -> Bench.Kept(1.23456, "first", None, sick = false),
      "q02_b" -> Bench.Kept(12.0, "retry", None, sick = false),
      "q03_c" -> Bench.Kept(0.5, "first", Some("OOM"), sick = false),
      "q04_d" -> Bench.Kept(30.0, "first", None, sick = true))
    assert(Bench.queriesJson(kept) == """{"q01_a":1.235,"q02_b":12.000,"q04_d":30.000}""")
    assert(Bench.queriesJson(Nil) == "{}")
  }

  test("the final line stays under the 1,500-char tail budget at its widest") {
    // Widest realistic parts: four scaling levels with wide figures, the
    // longest query name in a deadline skip, and a full-length run error.
    val names = SparkEntry.queries.keys.toSeq
    val host = """"host_probe":{"copy_gbps_start":12.34,"alloc_gbps_start":12.34,"cpu_gops_start":12.34,"copy_gbps_end":12.34,"alloc_gbps_end":12.34,"cpu_gops_end":12.34}"""
    val levels = Seq(2, 8, 16, 32).map(c =>
      s""""cores_$c":{"sec":1234.56,"pairs_per_sec":12345678,"alloc_gbps_at_launch":12.34,"cpu_gops_at_launch":12.34}""")
      .mkString("{", ",", "}")
    val scaling = s"""{"pages":12345678,"pairs_scored":1234567890,"protocol":"local[8] vs local[32] (N vs 4N cores), fresh JVM per level, 64 shuffle parts; BASELINE.md scaling","n_lo":8,"n_hi":32,"lo_sec":1234.56,"hi_sec":1234.56,"pairs_per_sec_lo":12345678,"pairs_per_sec_hi":12345678,"levels":$levels,"scaling_efficiency":1.234}"""
    val gated = List("info_level_32", "info_level_16", s"suite_from_${names.maxBy(_.length)}")
    val line = Bench.finalLine(sf = "/data/testdata/sf0.1", host = host, scaling = scaling,
      gatedRev = gated, error = "SparkOutOfMemoryError: " + "x" * 120)
    assert(line.length <= 1500, s"final line is ${line.length} chars")
    assert(line.startsWith("""{"metric":"total","value":"""))
    assert(!line.contains("\"queries\""), "per-query seconds go on their own line")
  }

  test("a successful healthy retry replaces a FAILED first reading even when slower") {
    val k = Bench.keptReading(
      q(3.0, 2.5, 2.5, Some("AnalysisException: x")),
      Some(q(5.0, 2.5, 2.5, None)))
    assert(k == Bench.Kept(5.0, "retry", None, sick = false),
      "success beats failure regardless of wall time")
  }
}
