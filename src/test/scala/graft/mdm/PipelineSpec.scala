package graft.mdm

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {

  private def pages40 = PageGen.pagesWithTruth(spark, 40)
    .select("url", "warc_ts", "html", "text", "lang")

  private def counter(store: SnapshotStore, stage: String, key: String): Long =
    s""""$key":(\\d+)""".r.findFirstMatchIn(store.manifest(stage).get).get.group(1).toLong

  private val isEdge = col("match_decision").isin("auto_merge", "human_review")

  /** Spark jobs `body` runs, counted by a listener on the job group it runs
    * under. A sentinel job submitted after `body` drains the asynchronous
    * listener bus before the count is read. */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val drained = new java.util.concurrent.CountDownLatch(1)
    var sentinel = -1
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "pin")) jobs.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == sentinel) drained.countDown()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("pin", "jobs per runCheckpointed")
      try body finally sc.clearJobGroup()
      val probe = sc.parallelize(Seq(1), 1)
      sentinel = sc.submitJob[Int, Unit, Unit](probe, _ => (), Seq(0), (_, _) => (), ()).jobIds.head
      assert(drained.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not drain")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  test("generator is deterministic and respects the per-url text invariant") {
    val p1 = PageGen.pagesWithTruth(spark, 40)
    val p2 = PageGen.pagesWithTruth(spark, 40)
    assert(p1.exceptAll(p2).isEmpty && p2.exceptAll(p1).isEmpty)
    // invariant: text is a pure function of url
    val violations = p1.groupBy("url").agg(countDistinct("text").as("n"))
      .where(col("n") > 1).count()
    assert(violations == 0L)
  }

  test("end-to-end pipeline: golden count plausible, F1 >= 0.99 (BASELINE metric)") {
    val n = 120 // mirrors the reference demo scale: 120 seed -> 284 records
    val m = Evaluate.evalOnGenerated(spark, n)
    info(s"tp=${m.tp} fp=${m.fp} fn=${m.fn} precision=${m.precision} recall=${m.recall} f1=${m.f1}")
    assert(m.f1 >= 0.99, s"pairwise F1 ${m.f1} below 0.99 (p=${m.precision}, r=${m.recall})")
  }

  test("byte-identical text per url survives the pipeline (input_hint invariant)") {
    val pt = PageGen.pagesWithTruth(spark, 40)
    val pages = pt.select("url", "warc_ts", "html", "text", "lang")
    val res = Pipeline.run(pages)
    // every (url, text_md5) in clean matches the input's md5 for that url
    val in = pages.select(col("url"), md5(col("text")).as("h_in")).distinct()
    val out = res.clean.select(col("url"), col("text_md5").as("h_out")).distinct()
    val bad = in.join(out, Seq("url")).where(col("h_in") =!= col("h_out")).count()
    assert(bad == 0L)
    // and golden master_text is byte-identical to the chosen master record's input text
    val gbad = res.golden
      .join(in.withColumnRenamed("url", "u2"),
        md5(col("master_text")) === col("h_in"), "left_anti").count()
    assert(gbad == 0L, "golden master_text not byte-identical to any input text")
  }

  test("skewed hot domain still completes and stays correct") {
    val m = Evaluate.evalOnGenerated(spark, 80, hotEntities = 30,
      cfg = MatchConfig(maxBlockSize = 40)) // force triangle-splitting
    info(s"hot-domain f1=${m.f1} (p=${m.precision}, r=${m.recall})")
    assert(m.f1 >= 0.99)
  }

  test("snapshot pipeline resumes without recomputation and matches in-memory run") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snap").toString
    val pt = PageGen.pagesWithTruth(spark, 40)
    val pages = pt.select("url", "warc_ts", "html", "text", "lang")
    val store = new SnapshotStore(dir)
    val r1 = Pipeline.runCheckpointed(pages, store)
    val golden1 = r1.golden.orderBy("master_id").collect().map(_.toString)
    // resume: second run must reuse committed snapshots (same ids, same rows)
    val store2 = new SnapshotStore(dir)
    val r2 = Pipeline.runCheckpointed(pages, store2)
    val golden2 = r2.golden.orderBy("master_id").collect().map(_.toString)
    assert(golden1.sameElements(golden2))
    assert(store2.manifest("scored").exists(_.contains("candidates_generated")))
    // the clean snapshot is date-partitioned (reference PARTITION BY advice)
    val snapDirs = java.nio.file.Files.list(
      store2.latestFor("standardize").get.resolve("data")).iterator()
    assert(scala.jdk.CollectionConverters.IteratorHasAsScala(snapDirs).asScala
      .exists(_.getFileName.toString.startsWith("capture_date=")))
    // matches the in-memory pipeline
    val mem = Pipeline.run(pages).golden.orderBy("master_id").collect().map(_.toString)
    assert(golden1.sameElements(mem))
  }

  test("lineage counters taken from the scored write equal independent counts") {
    val pages = pages40
    val cfg = MatchConfig()
    val store = new SnapshotStore(java.nio.file.Files.createTempDirectory("graft-counters").toString)
    Pipeline.runCheckpointed(pages, store, cfg)
    val withSig = Blocking.withSignature(Standardize(pages), cfg)
      .select(Scoring.attachColumns.map(col): _*)
    val cands = Pairs.candidates(Blocking.blockKeysFromSig(withSig, cfg), cfg).count()
    assert(counter(store, "scored", "candidates_generated") == cands)
    val edges = store.read(spark, "scored").where(isEdge).count()
    assert(edges > 0)
    assert(counter(store, "clusters", "merge_edges") == edges)
    assert(counter(store, "scored", "rows") == store.read(spark, "scored").count())

    // resumed from a store holding only the standardize and scored
    // snapshots, the merge-edge count comes from the fallback scan
    Seq("clusters", "golden").foreach { st =>
      val d = store.latestFor(st).get
      java.nio.file.Files.walk(d).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.delete(p))
    }
    val resumed = new SnapshotStore(store.rootPath)
    Pipeline.runCheckpointed(pages, resumed, cfg)
    assert(counter(resumed, "clusters", "merge_edges") == edges)
  }

  test("a corpus with no candidate pair commits zero candidates and edges") {
    // No candidate means the attach joins can be dropped at run time, and
    // the candidate count observed below them with it.
    val store = new SnapshotStore(java.nio.file.Files.createTempDirectory("graft-single").toString)
    Pipeline.runCheckpointed(pages40.limit(1), store)
    assert(counter(store, "standardize", "rows") == 1L)
    assert(counter(store, "scored", "candidates_generated") == 0L)
    assert(counter(store, "clusters", "merge_edges") == 0L)
    assert(counter(store, "golden", "rows") == 1L)
  }

  test("one runCheckpointed stays within its pinned Spark job count") {
    // Pinned at the count once every lineage counter is observed on the
    // write that commits it: a counting action added back fails here.
    val pinned = 31
    val store = new SnapshotStore(java.nio.file.Files.createTempDirectory("graft-jobs").toString)
    val jobs = jobsOf(Pipeline.runCheckpointed(pages40, store))
    info(s"jobs per runCheckpointed on the 40-entity corpus: $jobs")
    assert(jobs <= pinned, s"$jobs jobs > pinned $pinned")
  }
}
