package graft

/** graft.Profile: its query mode on the shared test session (which it must
  * leave open), and the sweep's N->4N efficiency arithmetic on fixed
  * numbers, without launching child JVMs. */
class ProfileSpec extends SparkSpec {

  test("query mode times q40_match_audit, records its stages and writes its plan") {
    val planDir = java.nio.file.Files.createTempDirectory("graft-profile-plans").toFile
    try {
      val Seq(p) = Profile.queries(spark, "/root/testdata/sf0.001", planDir.getPath,
        Seq("q40_match_audit"))
      assert(p.name == "q40_match_audit")
      assert(p.sec >= 0.0)
      assert(p.stages.nonEmpty, "no stage was recorded")
      val plan = java.nio.file.Files.readString(planDir.toPath.resolve("q40_match_audit.txt"))
      assert(plan.contains("isFinalPlan=true"), plan.take(400))
    } finally Bench.deleteTree(planDir)
  }

  test("sweep efficiency is thr(4N) / thr(N) / 4 for every N whose 4N level ran") {
    val eff = Profile.efficiencies(
      Seq(1 -> 100.0, 2 -> 190.0, 4 -> 360.0, 8 -> 608.0, 16 -> 1008.0))
    assert(eff.map(_._1) == Seq(1, 2, 4))
    eff.map(_._2).zip(Seq(0.9, 0.8, 0.7)).foreach { case (got, want) =>
      assert(math.abs(got - want) < 1e-12, s"$got != $want")
    }
    assert(Profile.efficiencies(Seq(2 -> 50.0, 4 -> 90.0)).isEmpty, "no N->4N pair among 2,4")
  }
}
