package graft.streaming

import graft.SparkSpec
import graft.mdm._
import org.apache.spark.sql.functions._

class IncrementalMdmSpec extends SparkSpec {

  private def goldenKey(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select("master_id", "canonical_url", "source_record_count")
      .orderBy("master_id").collect().map(_.toString).toSeq

  test("incremental micro-batches converge to the same golden records as the batch run") {
    // Batch/streaming alignment is a headline reference property
    // (mdm_unified_implementation.md:185-186: same standardization, same
    // scoring, stable ids across paths). The incremental path re-clusters
    // only the CLUSTER-REP graph each batch, so equality here proves the
    // rep-graph CC telescopes to the full-history CC.
    val pt = PageGen.pagesWithTruth(spark, 60).cache()
    val pages = pt.select("url", "warc_ts", "html", "text", "lang").cache()

    val batchGolden = goldenKey(Pipeline.run(pages).golden)

    val dir = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val inc = new IncrementalMdm(new SnapshotStore(dir))
    // 3 micro-batches in warc_ts order (crawl-time arrival)
    val withBatch = pages.withColumn("b", ntile(3).over(
      org.apache.spark.sql.expressions.Window.orderBy(col("warc_ts"), col("url"))))
    (1 to 3).foreach { b =>
      inc.processBatch(withBatch.where(col("b") === b).drop("b"))
    }
    val store = new SnapshotStore(dir)
    assert(goldenKey(new IncrementalMdm(store).golden(spark)) == batchGolden)
    // each batch's materialized rep graph is sized for what it is, so its
    // CC is resolved on the driver, not by the distributed loop
    val ccIters = store.snapshots("state").map(_.counters("cc_iterations"))
    assert(ccIters == Seq(0L, 0L, 0L), s"cc_iterations per batch: $ccIters")

    // per-batch work bound: clean/keys parts are DELTAS — their union is
    // exactly the full record set, with no per-batch rewrite of history
    val cleanLog = store.readPartAll(spark, "state", "clean")
    assert(cleanLog.count() == Standardize(pages).count())
    assert(cleanLog.select("record_id").distinct().count() == cleanLog.count())
    pt.unpersist(); pages.unpersist()
  }

  test("reliable-checkpoint retention is O(one batch): scope deleted after every commit") {
    // df.checkpoint(true) files are never freed by the ContextCleaner
    // (cleanCheckpoints defaults false) — an unmanaged dir on a long-running
    // stream grows O(batches) forever. Pin the fix: every batch's reliable
    // checkpoints (cut() + CC rounds) land in a per-batch scope dir that is
    // deleted right after commitMany, so ZERO files remain between batches,
    // and the checkpointDir-backed run still converges to the batch golden.
    val pt = PageGen.pagesWithTruth(spark, 40).cache()
    val pages = pt.select("url", "warc_ts", "html", "text", "lang").cache()
    val batchGolden = goldenKey(Pipeline.run(pages).golden)

    val dir = java.nio.file.Files.createTempDirectory("graft-stream-ck").toString
    val ckRoot = java.nio.file.Files.createTempDirectory("graft-incr-ck").toString
    val inc = new IncrementalMdm(new SnapshotStore(dir),
      MatchConfig(checkpointDir = Some(ckRoot)))
    val withBatch = pages.withColumn("b", ntile(2).over(
      org.apache.spark.sql.expressions.Window.orderBy(col("warc_ts"), col("url"))))
    // CC's rounds checkpoint only in the distributed loop: force it
    withCcLoop((1 to 2).foreach { b =>
      inc.processBatch(withBatch.where(col("b") === b).drop("b"))
      val leaked = java.nio.file.Files.walk(java.nio.file.Paths.get(ckRoot))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(leaked == 0, s"$leaked reliable-checkpoint files leaked after batch $b")
    })
    assert(goldenKey(new IncrementalMdm(new SnapshotStore(dir)).golden(spark)) == batchGolden)
    pt.unpersist(); pages.unpersist()
  }

  test("hot-key history salting (tiny maxBlockSize) still converges to the batch golden") {
    // Force the salted new-vs-history join into MULTI-GROUP territory: with
    // maxBlockSize=3 every shared block key larger than 3 members splits the
    // history side into several salt groups and explodes the new side across
    // them. The candidate pair SET must be unchanged (every new-vs-all pair
    // within a key still meets in exactly one (key, salt) cell), so the
    // incremental goldens must equal the batch run under the same config.
    val cfg = MatchConfig(maxBlockSize = 3)
    val pages = PageGen.pages(spark, 40).cache()
    val batchGolden = goldenKey(Pipeline.run(pages, cfg).golden)
    val dir = java.nio.file.Files.createTempDirectory("graft-salt").toString
    val inc = new IncrementalMdm(new SnapshotStore(dir), cfg)
    val withBatch = pages.withColumn("b", ntile(3).over(
      org.apache.spark.sql.expressions.Window.orderBy(col("warc_ts"), col("url"))))
    (1 to 3).foreach { b =>
      inc.processBatch(withBatch.where(col("b") === b).drop("b"))
    }
    val store = new SnapshotStore(dir)
    assert(goldenKey(new IncrementalMdm(store).golden(spark)) == batchGolden)
    pages.unpersist()
  }

  test("batch REPLAY after a simulated crash is idempotent and state stays crash-consistent") {
    val pages = PageGen.pages(spark, 40).cache()
    val withBatch = pages.withColumn("b", ntile(2).over(
      org.apache.spark.sql.expressions.Window.orderBy(col("warc_ts"), col("url"))))
    val dir = java.nio.file.Files.createTempDirectory("graft-crash").toString
    val store = new SnapshotStore(dir)
    val inc = new IncrementalMdm(store)

    inc.processBatch(withBatch.where(col("b") === 1).drop("b"))
    val g1 = goldenKey(new IncrementalMdm(store).golden(spark))

    // simulate a crash DURING a commit: a leftover temp dir must be ignored
    // by readers and GC'd by the next commit
    val tmp = java.nio.file.Paths.get(dir, ".tmp-state-99")
    java.nio.file.Files.createDirectories(tmp)
    assert(goldenKey(new IncrementalMdm(store).golden(spark)) == g1)

    inc.processBatch(withBatch.where(col("b") === 2).drop("b"))
    val g2 = goldenKey(new IncrementalMdm(store).golden(spark))
    assert(!java.nio.file.Files.exists(tmp)) // gc'd by commitMany

    // foreachBatch retry semantics: replaying an already-committed batch
    // must not change the golden state (deterministic ids, old wins)
    inc.processBatch(withBatch.where(col("b") === 2).drop("b"))
    assert(goldenKey(new IncrementalMdm(store).golden(spark)) == g2)
    pages.unpersist()
  }

  test("G6 drift stream (80% new / 20% re-crawl) converges to the batch golden of the union") {
    val stream = PageGen.driftStream(spark, 30, nBatches = 3).cache()
    val allPages = stream.select("url", "warc_ts", "html", "text", "lang").cache()
    val batchGolden = goldenKey(Pipeline.run(allPages).golden)

    val dir = java.nio.file.Files.createTempDirectory("graft-drift").toString
    val inc = new IncrementalMdm(new SnapshotStore(dir))
    (0 until 3).foreach { b =>
      inc.processBatch(stream.where(col("batch") === b)
        .select("url", "warc_ts", "html", "text", "lang"))
    }
    val got = goldenKey(new IncrementalMdm(new SnapshotStore(dir)).golden(spark))
    assert(got == batchGolden)
    // drift mix sanity: some batches beyond the first contain re-crawls
    assert(stream.where(col("batch") > 0 && col("url").contains("drift=recrawl")).count() > 0)
    stream.unpersist(); allPages.unpersist()
  }

  test("audit log and S7 JSON staging parts are committed atomically with golden") {
    val pages = PageGen.pages(spark, 25)
    val dir = java.nio.file.Files.createTempDirectory("graft-audit").toString
    val store = new SnapshotStore(dir)
    new IncrementalMdm(store).processBatch(pages)

    // audit: every scored pair with per-strategy scores + decision + timing
    // (match_results schema incl. processing_time_ms,
    // spanner_utils.py:269-284; streaming_processor.py:755-809)
    val audit = store.readPartAll(spark, "state", "audit")
    assert(audit.columns.toSet.contains("exact_score"))
    assert(audit.columns.toSet.contains("match_decision"))
    assert(audit.columns.toSet.contains("processing_time_ms"))
    assert(audit.where(col("processing_time_ms") < 0).count() == 0)
    assert(audit.where(col("batch_seq") === 0).count() == audit.count())
    // timing is also recorded in the manifest lineage counters
    assert(store.snapshots("state").last.counters.contains("batch_wall_ms"))

    // S7 staging: golden payload as JSON; round-trips through from_json
    val staging = store.readPartAll(spark, "state", "staging")
    assert(staging.count() > 0)
    val parsed = staging.select(col("master_id"),
      get_json_object(col("golden_record_data"), "$.master_id").as("mid2"))
    assert(parsed.where(col("master_id") =!= col("mid2")).count() == 0)
  }

  test("per-batch history scan stays O(batch-touched keys), not O(history) (VERDICT r2 #4)") {
    val pages = PageGen.pages(spark, 50).cache()
    val withBatch = pages.withColumn("b", ntile(2).over(
      org.apache.spark.sql.expressions.Window.orderBy(col("warc_ts"), col("url"))))
    val b1 = withBatch.where(col("b") === 1).drop("b").cache()
    val b2 = withBatch.where(col("b") === 2).drop("b").cache()
    val dir = java.nio.file.Files.createTempDirectory("graft-scan").toString
    val store = new SnapshotStore(dir)
    val cfg = MatchConfig()
    val inc = new IncrementalMdm(store, cfg)
    inc.processBatch(b1)

    // expected scan volume: HISTORY key rows under block keys that batch 2's
    // NEW records actually touch — computed here from the same public
    // building blocks the engine uses
    val histKeys = store.readPartAll(spark, "state", "keys").cache()
    val histTotal = histKeys.count()
    val prevClean = store.readPartAll(spark, "state", "clean")
    val newClean = Standardize(b2).dropDuplicates("record_id")
      .join(prevClean.select("record_id"), Seq("record_id"), "left_anti")
    val b2Keys = Blocking.blockKeys(newClean, cfg).select("block_key").distinct()
    val expected = histKeys.join(b2Keys, Seq("block_key"), "left_semi").count()

    inc.processBatch(b2)
    val scanned = store.snapshots("state").last.counters("history_rows_scanned")
    assert(scanned == expected, s"scanned=$scanned expected=$expected")
    assert(scanned <= histTotal)
    histKeys.unpersist(); b1.unpersist(); b2.unpersist(); pages.unpersist()
  }

  test("bucket-partitioned key log gets parquet partition pruning on filtered reads") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-bucket").toString
    val store = new SnapshotStore(dir)
    def keysDf(ids: Range) = ids.map(i => (s"r$i", s"k${i % 7}", i % 4))
      .toDF("record_id", "block_key", "key_bucket")
    store.commitMany(Seq("keys" -> keysDf(0 until 40)), "s",
      partitionByPart = Map("keys" -> Seq("key_bucket")))
    store.commitMany(Seq("keys" -> keysDf(40 until 80)), "s",
      partitionByPart = Map("keys" -> Seq("key_bucket")))
    val read = store.readPartAll(spark, "s", "keys").where(col("key_bucket") === 3)
    // the filter lands in the scan's PartitionFilters -> directory pruning,
    // the mechanism that bounds streaming history scans at scale
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("key_bucket"),
      s"expected partition pruning on key_bucket:\n$plan")
    assert(read.count() == (0 until 80).count(_ % 4 == 3))
    assert(read.columns.toSet == Set("record_id", "block_key", "key_bucket"))

    // two-level (assign) layout: a filter on EITHER bucket column lands in
    // PartitionFilters — the edge-endpoint lookup prunes on rec_bucket, the
    // renamed-members read on cluster_bucket, over the same written part
    def asgDf(ids: Range) = ids.map(i => (s"r$i", s"c${i % 5}", i % 4, i % 3))
      .toDF("record_id", "cluster_id", "cluster_bucket", "rec_bucket")
    store.commitMany(Seq("assign" -> asgDf(0 until 60)), "s",
      partitionByPart = Map("assign" -> Seq("cluster_bucket", "rec_bucket")))
    Seq("cluster_bucket" -> 2L, "rec_bucket" -> 1L).foreach { case (c, v) =>
      val r = store.readPartAll(spark, "s", "assign").where(col(c) === v)
      val plan = r.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [") && plan.contains(c),
        s"expected partition pruning on $c:\n$plan")
    }
    assert(store.readPartAll(spark, "s", "assign")
      .where(col("rec_bucket") === 1).count() == (0 until 60).count(_ % 3 == 1))
  }

  test("F11 streaming weight preset keeps reference proportions and thresholds") {
    val c = MatchConfig.streaming
    assert(math.abs(c.wExact - 0.33) < 1e-9 && math.abs(c.wFuzzy - 0.28) < 1e-9 &&
      math.abs(c.wVector - 0.22) < 1e-9 && math.abs(c.wBusiness - 0.17) < 1e-9 && c.wAi == 0.0)
    assert(c.autoMergeThreshold == 0.8 && c.reviewThreshold == 0.6)
    // runs end-to-end with the preset
    val dir = java.nio.file.Files.createTempDirectory("graft-w4").toString
    val store = new SnapshotStore(dir)
    new IncrementalMdm(store, MatchConfig.streaming).processBatch(PageGen.pages(spark, 15))
    assert(new IncrementalMdm(store).golden(spark).count() > 0)
  }

  test("A7: per-record score combine keeps only the argmax candidate at/above review threshold") {
    import spark.implicits._
    val scored = Seq(
      // new record "n1" has two candidates: c2 wins on combined score
      ("c1", "n1", 0.0, 0.9, 0.0, 0.5, 0.0),
      ("c2", "n1", 1.0, 0.9, 0.0, 0.5, 0.0),
      // new record "n2" has only a weak candidate (below review threshold)
      ("c3", "n2", 0.0, 0.2, 0.0, 0.2, 0.0))
      .toDF("record1_id", "record2_id", "exact_score", "fuzzy_score",
        "vector_score", "business_score", "ai_score")
    val newIds = Seq("n1", "n2").toDF("record_id")
    val cfg = MatchConfig()
    val best = Scoring.bestMatchPerRecord(scored, newIds, cfg)
      .select("record_id", "best_match_id").as[(String, String)].collect().toMap
    assert(best == Map("n1" -> "c2")) // argmax only; n2 filtered (below 0.6)
  }

  test("foreachBatch wiring processes a file stream end-to-end") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-fstream")
    val srcDir = tmp.resolve("src").toString
    val ckDir = tmp.resolve("ck").toString
    val pages = PageGen.pages(spark, 20)
    pages.write.mode("overwrite").parquet(srcDir)

    val storeDir = tmp.resolve("store").toString
    val inc = new IncrementalMdm(new SnapshotStore(storeDir))
    val stream = spark.readStream
      .schema(pages.schema)
      .option("maxFilesPerTrigger", "2")
      .parquet(srcDir)
    val q = inc.start(stream, ckDir)
    q.awaitTermination(120000)

    val golden = new IncrementalMdm(new SnapshotStore(storeDir)).golden(spark)
    assert(golden.count() > 0)
    // every input record is accounted for in lineage
    val lineage = golden.select(explode(col("source_record_ids"))).count()
    val cleanCount = Standardize(pages).count()
    assert(lineage == cleanCount)
  }

  test("golden/assign parts are touched-entity DELTAS: per-batch write ~ touched clusters (VERDICT r3 #3)") {
    // A small tail batch after a bulk batch must WRITE rows proportional to
    // the clusters it touches, not to the whole corpus — the reference's
    // touched-entity-only streaming writes (streaming_processor.py:515-674).
    val pages = PageGen.pages(spark, 60).cache()
    val ordered = pages.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy(col("warc_ts"), col("url"))))
    val n = ordered.count()
    val b1 = ordered.where(col("rn") <= n - 5).drop("rn").cache()
    val b2 = ordered.where(col("rn") > n - 5).drop("rn").cache()
    val dir = java.nio.file.Files.createTempDirectory("graft-delta").toString
    val store = new SnapshotStore(dir)
    val inc = new IncrementalMdm(store)
    inc.processBatch(b1)
    inc.processBatch(b2)
    val m2 = store.snapshots("state")(1).counters
    val goldenWritten = m2("rows_golden")
    val assignWritten = m2("rows_assign")
    val totalClusters = inc.golden(spark).count()
    val totalRecords = store.readPartAll(spark, "state", "clean").count()
    // 5 new records touch at most 5 clusters (+ their members' renames and
    // merged-away tombstones) — strictly below any O(corpus) rewrite
    assert(goldenWritten < totalClusters / 2,
      s"golden delta wrote $goldenWritten rows vs $totalClusters clusters — not a delta")
    assert(assignWritten < totalRecords / 2,
      s"assign delta wrote $assignWritten rows vs $totalRecords records — not a delta")
    assert(goldenWritten > 0)
    b1.unpersist(); b2.unpersist(); pages.unpersist()
  }

  test("per-batch assign-log READ stays O(batch-touched), not O(corpus) (VERDICT r4 #2)") {
    // Mirror of the history-scan pin and the delta-WRITE pin: a small tail
    // batch after a bulk batch must READ assign rows proportional to what it
    // touches (edge-endpoint records + renamed clusters' members), not
    // re-assemble the full latest-wins assignment. The counter sums the two
    // pruned reads' row counts AFTER rec_bucket/cluster_bucket directory
    // pruning + exact semi-join — i.e. exactly the rows the lookups consume.
    val pages = PageGen.pages(spark, 60).cache()
    val ordered = pages.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy(col("warc_ts"), col("url"))))
    val n = ordered.count()
    val b1 = ordered.where(col("rn") <= n - 5).drop("rn").cache()
    val b2 = ordered.where(col("rn") > n - 5).drop("rn").cache()
    val dir = java.nio.file.Files.createTempDirectory("graft-aread").toString
    val store = new SnapshotStore(dir)
    val inc = new IncrementalMdm(store)
    inc.processBatch(b1)
    inc.processBatch(b2)
    val m2 = store.snapshots("state")(1).counters
    val scanned = m2("assign_rows_scanned")
    val logRows = store.readPartAll(spark, "state", "assign").count()
    val corpus = store.readPartAll(spark, "state", "clean").count()
    // 5 new records touch at most 5 clusters' worth of endpoints + members;
    // the batch-1 log alone holds ~(corpus-5) rows, so any full latest-wins
    // assembly would read ≈ the whole log. Strictly below both.
    assert(scanned < corpus / 2,
      s"assign read scanned $scanned rows vs $corpus records — not O(touched)")
    assert(scanned < logRows,
      s"assign read scanned $scanned of $logRows log rows — full-log assembly")
    b1.unpersist(); b2.unpersist(); pages.unpersist()
  }

  test("rotating compaction is stamped per group, bounds the log read, and preserves golden state") {
    val pages = PageGen.pages(spark, 40).cache()
    val withBatch = pages.withColumn("b", ntile(3).over(
      org.apache.spark.sql.expressions.Window.orderBy(col("warc_ts"), col("url"))))
    val batchGolden = goldenKey(Pipeline.run(pages).golden)

    val dir = java.nio.file.Files.createTempDirectory("graft-compact").toString
    val store = new SnapshotStore(dir)
    val inc = new IncrementalMdm(store, compactEvery = 2)
    (1 to 3).foreach { b => inc.processBatch(withBatch.where(col("b") === b).drop("b")) }
    // every batch with history rotates ONE group (batchSeq % compactEvery);
    // batch 0 has no history (its delta IS a full write of everything) and
    // must never be stamped "compacted":1 (pre-r6 readers would mis-anchor)
    val stamps = store.snapshots("state").map(_.counters.get("compact_group"))
    assert(stamps == Seq(None, Some(1L), Some(0L)), s"stamps=$stamps")
    assert(store.snapshots("state").forall(!_.counters.get("compacted").contains(1L)))
    // rotated full groups supersede older deltas; state equals the batch run
    assert(goldenKey(inc.golden(spark)) == batchGolden)
    // a replayed batch still converges (no-op delta; rotation skipped)
    inc.processBatch(withBatch.where(col("b") === 3).drop("b")) // replay: no-op delta
    assert(goldenKey(inc.golden(spark)) == batchGolden)
    pages.unpersist()
  }

  test("N > 2x compaction cadence: the rotation window stays bounded and converges (VERDICT r4 #7)") {
    // 6 batches at compactEvery=2 drive MULTIPLE full rotations; readers
    // must anchor at the OLDEST per-group LATEST full write and state must
    // still equal the batch run.
    val pages = PageGen.pages(spark, 48).cache()
    val nB = 6
    val withBatch = pages.withColumn("b", ntile(nB).over(
      org.apache.spark.sql.expressions.Window.orderBy(col("warc_ts"), col("url"))))
    val batchGolden = goldenKey(Pipeline.run(pages).golden)
    val dir = java.nio.file.Files.createTempDirectory("graft-multicompact").toString
    val store = new SnapshotStore(dir)
    val inc = new IncrementalMdm(store, compactEvery = 2)
    (1 to nB).foreach { b => inc.processBatch(withBatch.where(col("b") === b).drop("b")) }
    // rotation stamps: seq 0 exempt (prevExists=false), then 1,0,1,0,1
    val snaps = store.snapshots("state")
    val stamps = snaps.map(_.counters.get("compact_group"))
    assert(stamps == Seq(None, Some(1L), Some(0L), Some(1L), Some(0L), Some(1L)),
      s"stamps=$stamps")
    assert(goldenKey(inc.golden(spark)) == batchGolden)
    // the bounded window: union from the oldest per-group latest full write
    // (group 0 last rotated at snap 4, group 1 at snap 5 -> window starts at
    // 4) holds every current record in its latest-wins view, with strictly
    // fewer raw rows than the whole log — re-derived here independently of
    // the engine's own rotation window
    val latestPerGroup = (0 until 2).map { g =>
      snaps.filter(_.counters.get("compact_group").contains(g.toLong)).last.snapshot_id
    }
    val from = latestPerGroup.min
    assert(from == 4L, s"window start=$from")
    val pruned = store.readPartAll(spark, "state", "assign", from)
    val whole = store.readPartAll(spark, "state", "assign")
    assert(pruned.count() < whole.count())
    assert(pruned.select("record_id").distinct().count() ==
      store.readPartAll(spark, "state", "clean").count())
    pages.unpersist()
  }

  test("reopening a store with a smaller compaction cadence keeps every live row") {
    // Written at cadence 8, batch 1 rotates group 1 = buckets with
    // b % 8 == 1. Read at cadence 2 that stamp would claim group 1 =
    // every odd bucket, anchoring the window past batch 0's only rows of
    // buckets 3, 5, 7, ... A stamp of another cadence must not anchor.
    val pages = PageGen.pages(spark, 48).cache()
    val withBatch = pages.withColumn("b", ntile(3).over(
      org.apache.spark.sql.expressions.Window.orderBy(col("warc_ts"), col("url"))))
    val batchGolden = goldenKey(Pipeline.run(pages).golden)
    val dir = java.nio.file.Files.createTempDirectory("graft-recadence").toString
    val at8 = new IncrementalMdm(new SnapshotStore(dir), compactEvery = 8)
    (1 to 2).foreach { b => at8.processBatch(withBatch.where(col("b") === b).drop("b")) }
    val at2 = new IncrementalMdm(new SnapshotStore(dir), compactEvery = 2)
    at2.processBatch(withBatch.where(col("b") === 3).drop("b"))
    assert(goldenKey(at2.golden(spark)) == batchGolden)
    pages.unpersist()
  }

  test("data arriving in phase with the cadence rotates every group: window stays bounded") {
    // Data every compactEvery-th call, no-op batches in between: every
    // data batch has the same batchSeq % compactEvery. A rotation turn
    // taken from batchSeq rotates that one group forever, the other
    // group's anchor stays at snapshot 0, and the log window grows with
    // the stream. The oldest-anchor turn rotates both. (No-op snapshots
    // inside the window count too, so the window is read right after each
    // data batch.)
    val compactEvery = 2
    val pages = PageGen.pages(spark, 48).cache()
    val nData = 4
    val withBatch = pages.withColumn("b", ntile(nData).over(
      org.apache.spark.sql.expressions.Window.orderBy(col("warc_ts"), col("url"))))
    val batchGolden = goldenKey(Pipeline.run(pages).golden)
    val dir = java.nio.file.Files.createTempDirectory("graft-inphase").toString
    val store = new SnapshotStore(dir)
    val inc = new IncrementalMdm(store, compactEvery = compactEvery)
    // the window the stamps bound: from the oldest per-group latest full
    // write (the first snapshot is a full write of every group)
    def window(): Int = {
      val ms = store.snapshots("state")
      val anchors = (0 until compactEvery).map { g =>
        ms.filter(_.counters.get("compact_group").contains(g.toLong)).lastOption
          .fold(ms.head.snapshot_id)(_.snapshot_id)
      }
      ms.count(_.snapshot_id >= anchors.min)
    }
    val windows = (1 to nData).map { b =>
      if (b > 1) (1 until compactEvery).foreach(_ =>
        inc.processBatch(withBatch.where(lit(false)).drop("b")))
      inc.processBatch(withBatch.where(col("b") === b).drop("b"))
      window()
    }
    assert(store.snapshots("state").size == (nData - 1) * compactEvery + 1)
    assert(windows.forall(_ <= compactEvery + 1),
      s"log window after each data batch: $windows snapshots; bound ${compactEvery + 1}")
    assert(goldenKey(inc.golden(spark)) == batchGolden)
    pages.unpersist()
  }

  test("rotation kills the compaction spike: NO batch writes more than ~max(touched, corpus/CompactEvery) state rows (VERDICT r5 #3)") {
    // The r5 scheme wrote the FULL corpus every CompactEvery-th batch; with
    // rotation every post-bulk batch writes its touched rows plus ONE
    // rotation group (2 of 16 rec_buckets / 8 of 64 cid_buckets at the
    // default cadence ~ corpus/8 expected) — far below any full rewrite.
    val pages = PageGen.pages(spark, 60).cache()
    val ordered = pages.withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy(col("warc_ts"), col("url"))))
    val n = ordered.count()
    val dir = java.nio.file.Files.createTempDirectory("graft-rotspike").toString
    val store = new SnapshotStore(dir)
    val inc = new IncrementalMdm(store) // default CompactEvery = 8
    inc.processBatch(ordered.where(col("rn") <= n - 6).drop("rn")) // bulk
    (0 until 3).foreach { i => // three 2-record tail batches
      inc.processBatch(
        ordered.where(col("rn") > n - 6 + 2 * i && col("rn") <= n - 6 + 2 * (i + 1))
          .drop("rn"))
    }
    val corpus = store.readPartAll(spark, "state", "clean").count()
    val clusters = inc.golden(spark).count()
    store.snapshots("state").drop(1).foreach { m =>
      val id = m.snapshot_id
      val a = m.counters("rows_assign")
      val g = m.counters("rows_golden")
      assert(a < corpus / 2, s"snap $id wrote $a assign rows vs $corpus records — spike")
      assert(g < clusters / 2 + 6, s"snap $id wrote $g golden rows vs $clusters clusters — spike")
    }
    // and the state is still exactly the batch-run state
    assert(goldenKey(inc.golden(spark)) == goldenKey(Pipeline.run(pages).golden))
    // an EMPTY (idle-stream) batch skips rotation entirely: zero state rows
    // written, no compact_group stamp, state unchanged
    val before = goldenKey(inc.golden(spark))
    inc.processBatch(pages.limit(0))
    val mEmpty = store.snapshots("state").last
    assert(mEmpty.counters("rows_assign") == 0 && mEmpty.counters("rows_golden") == 0,
      s"idle batch wrote state rows: $mEmpty")
    assert(!mEmpty.counters.contains("compact_group"), s"idle batch stamped rotation: $mEmpty")
    assert(goldenKey(inc.golden(spark)) == before)
    pages.unpersist()
  }

  test("resuming a store with an incompatible (pre-v2) state format fails loudly (ADVICE r3)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-oldfmt").toString
    val store = new SnapshotStore(dir)
    // fabricate an old-format snapshot: parts exist, manifest has no
    // format_version stamp (r3 layout)
    store.commitMany(Seq("golden" -> Seq(("m1", "c1")).toDF("master_id", "cluster_id")), "state")
    val e = intercept[IllegalArgumentException] {
      new IncrementalMdm(store).processBatch(PageGen.pages(spark, 5))
    }
    assert(e.getMessage.contains("format"))
    // a stamp that only starts with the expected version's digits is
    // another version
    val other = new SnapshotStore(java.nio.file.Files.createTempDirectory("graft-otherfmt").toString)
    other.commitMany(Seq("golden" -> Seq(("m1", "c1")).toDF("master_id", "cluster_id")), "state",
      Map("format_version" -> (IncrementalMdm.FormatVersion * 10 + 1)))
    val e2 = intercept[IllegalArgumentException] {
      new IncrementalMdm(other).processBatch(PageGen.pages(spark, 5))
    }
    assert(e2.getMessage.contains("format_version=31"), e2.getMessage)
  }

  test("an empty batch on a store without state commits nothing, and the next batch starts it") {
    val pages = PageGen.pages(spark, 12).cache()
    val store = new SnapshotStore(java.nio.file.Files.createTempDirectory("graft-idle").toString)
    val inc = new IncrementalMdm(store)
    val idle = inc.processBatch(pages.limit(0))
    assert(idle.isEmpty && store.snapshots("state").isEmpty)
    val golden = inc.processBatch(pages)
    assert(golden.columns.toSet == idle.columns.toSet)
    assert(goldenKey(golden) == goldenKey(Pipeline.run(pages).golden))
    pages.unpersist()
  }

  test("an instance's first batch sweeps the un-keyed legacy checkpoint root, never another store's keyed root") {
    import java.nio.file.Files
    val ckRoot = Files.createTempDirectory("graft-legacy-ck")
    val legacy = ckRoot.resolve("graft-incr-ckpt/batch-3/rdd-1")
    val sibling = ckRoot.resolve("graft-incr-ckpt-0badc0de/batch-0/rdd-1")
    def plant(d: java.nio.file.Path): Unit = {
      Files.createDirectories(d)
      Files.write(d.resolve("part-00000"), Array[Byte](1))
    }
    Seq(legacy, sibling).foreach(plant)
    val dir = Files.createTempDirectory("graft-legacy").toString
    val pages = PageGen.pages(spark, 10).cache()
    val incr = new IncrementalMdm(new SnapshotStore(dir),
      MatchConfig(checkpointDir = Some(ckRoot.toString)))
    incr.processBatch(pages)
    assert(!Files.exists(ckRoot.resolve("graft-incr-ckpt")))
    assert(Files.isRegularFile(sibling.resolve("part-00000")))
    // The sweep is a one-time cleanup, not a delete on every batch.
    plant(legacy)
    incr.processBatch(pages)
    assert(Files.isRegularFile(legacy.resolve("part-00000")))
    pages.unpersist()
  }

  test("seeded mixes of no-op, replay, burst and reopen batches keep the golden and the window bound") {
    // Adversarial schedule: no-op and replayed batches commit snapshots
    // without rotating, bursts send one or two new chunks, and a reopen
    // switches the cadence, which leaves stamps of other cadences in the
    // log. The final state must equal the batch run over the union, and
    // once every group has rotated at the current cadence, the window from
    // the oldest group anchor holds at most compactEvery + 1 snapshots that
    // wrote rows (no-op snapshots inside it write none).
    val nChunks = 6
    val pages = PageGen.pages(spark, 36).cache()
    val chunked = pages.withColumn("b", ntile(nChunks).over(
      org.apache.spark.sql.expressions.Window.orderBy(col("warc_ts"), col("url")))).cache()
    def chunks(from: Int, to: Int) = chunked.where(col("b").between(from, to)).drop("b")
    val batchGolden = goldenKey(Pipeline.run(pages).golden)
    def wroteRows(m: SnapshotStore.SnapshotManifest): Boolean =
      m.counters.exists { case (k, v) => k.startsWith("rows_") && v > 0 }
    var windowsChecked = 0
    Seq(7L, 8L).foreach { seed =>
      val rng = new scala.util.Random(seed)
      val dir = java.nio.file.Files.createTempDirectory(s"graft-mix-$seed").toString
      val store = new SnapshotStore(dir)
      var every = 2
      var inc = new IncrementalMdm(store, compactEvery = every)
      var reopenedAt = 0L // first snapshot id committed at the current cadence
      var sent = 0 // chunks 1..sent have been sent
      val log = scala.collection.mutable.ArrayBuffer[String]()
      def run(df: org.apache.spark.sql.DataFrame): Unit =
        try inc.processBatch(df)
        catch { case e: Exception => fail(s"seed $seed: ${log.mkString(",")}", e) }
      while (sent < nChunks) rng.nextInt(4) match {
        case 0 =>
          log += "noop"
          run(chunks(1, 1).limit(0))
        case 1 if sent > 0 =>
          val c = 1 + rng.nextInt(sent)
          log += s"replay$c"
          run(chunks(c, c))
        case 2 =>
          every = Seq(1, 2, 3).filterNot(_ == every)(rng.nextInt(2))
          log += s"reopen@$every"
          inc = new IncrementalMdm(new SnapshotStore(dir), compactEvery = every)
          reopenedAt = store.snapshots("state").size.toLong
        case _ =>
          val to = math.min(nChunks, sent + 1 + rng.nextInt(2))
          log += s"burst${sent + 1}-$to"
          run(chunks(sent + 1, to))
          sent = to
          val ms = store.snapshots("state")
          val anchors = (0 until every).map { g =>
            ms.filter(m => m.snapshot_id >= reopenedAt &&
              m.counters.get("compact_groups_of").contains(every.toLong) &&
              m.counters.get("compact_group").contains(g.toLong)).lastOption.map(_.snapshot_id)
          }
          if (anchors.forall(_.isDefined)) {
            val window = ms.count(m => m.snapshot_id >= anchors.flatten.min && wroteRows(m))
            assert(window <= every + 1,
              s"seed $seed after ${log.mkString(",")}: $window row-writing snapshots in the window")
            windowsChecked += 1
          }
      }
      info(s"seed $seed: ${log.mkString(",")}")
      assert(goldenKey(inc.golden(spark)) == batchGolden, s"seed $seed: ${log.mkString(",")}")
    }
    assert(windowsChecked > 0, "no schedule rotated every group at its cadence")
    chunked.unpersist(); pages.unpersist()
  }
}
