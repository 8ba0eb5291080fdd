package graft

import graft.SparkSpec
import graft.mdm._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the plans must be the ones we'd want at 100 TB,
  * not just ones that pass (builder brief: pushdown, broadcast, no cartesian
  * products, codegen on hot paths).
  */
class PlanQualitySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** AQE's final plan of `df`: the frame is run first, so the walk sees
    * the joins and exchanges that ran, not the never-executed initial plan. */
  private def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private def broadcastJoins(p: SparkPlan): Seq[BroadcastHashJoinExec] =
    PlanQualitySpec.collect(p) { case j: BroadcastHashJoinExec => j }

  /** Whether `p` holds a round-robin exchange: `Queries.spread`'s repartition. */
  private def spreads(p: SparkPlan): Boolean =
    PlanQualitySpec.collect(p) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] => e
    }.nonEmpty

  /** The ten queries built on `Queries.blockSelfPairs`, each with its block key. */
  private val blockedPairQueries: Seq[(String, String)] = Seq(
    "q13_blocked_paircount" -> "nk", "q14_levenshtein_pairs" -> "nk",
    "q23_business_rules" -> "nk", "q24_ensemble_decision" -> "nk",
    "q38_record_fuzzy_soundex" -> "nk", "q40_match_audit" -> "nk",
    "q41_best_match_combine" -> "blk", "q42_vector_strategy" -> "nk",
    "q34_prefix_block_join" -> "blk", "er_jaro_winkler" -> "nk")

  /** The pair joins of a final plan: joins keyed on the block key alone. */
  private def pairJoins(p: SparkPlan, key: String): Seq[BroadcastHashJoinExec] =
    broadcastJoins(p).filter(_.leftKeys.flatMap(_.references.map(_.name)) == Seq(key))

  /** Count Md5 EXPRESSION INSTANCES in the physical plan tree (ADVICE r4:
    * counting literal "md5(" occurrences in the plan STRING was hostage to
    * print-format changes — casing, aliasing, partial-aggregate reprints —
    * across Spark versions; the expression tree is the stable anchor). Each
    * plan node's expressions are walked recursively, so a re-inlined md5
    * pipeline (the q18 r2 regression: CollapseProject copying the whole
    * shingle+md5 chain into every band-key reference) still multiplies the
    * count, while a pure printing change cannot move it. `df` is executed
    * first and AQE's final plan walked through its query stages, where a
    * reused exchange is a leaf; a walk that stops at the AQE root counts 0,
    * so a count of 0 fails. */
  private def md5ExprCount(df: org.apache.spark.sql.DataFrame): Int = {
    val n = PlanQualitySpec.collect(finalPlan(df)) { case node =>
      node.expressions.map(_.collect {
        case m: org.apache.spark.sql.catalyst.expressions.Md5 => m
      }.size).sum
    }.sum
    assert(n > 0, "no Md5 expression found: the walk did not reach the plan")
    n
  }

  /** Every TextMinHashExpr in `df`'s physical plan (AQE's plan included),
    * each tagged with whether it sits in a Filter or under a higher-order
    * function's lambda — the two places that re-run the kernel per row. */
  private def minhashSites(df: org.apache.spark.sql.DataFrame): Seq[(Boolean, Boolean)] = {
    import org.apache.spark.sql.catalyst.expressions.{Expression, LambdaFunction}
    def sites(e: Expression, inLambda: Boolean): Seq[Boolean] = e match {
      case m: graft.functions.TextMinHashExpr => inLambda +: m.children.flatMap(sites(_, inLambda))
      case l: LambdaFunction => l.children.flatMap(sites(_, inLambda = true))
      case other => other.children.flatMap(sites(_, inLambda))
    }
    PlanQualitySpec.collect(df.queryExecution.executedPlan) { case node =>
      val inFilter = node.isInstanceOf[org.apache.spark.sql.execution.FilterExec]
      node.expressions.flatMap(sites(_, inLambda = false)).map(inFilter -> _)
    }.flatten
  }

  test("filters and column pruning reach the parquet scan (q02)") {
    val p = plan(Queries.q02_filter_pushdown(spark, dir))
    assert(p.contains("PushedFilters: ["), s"no pushed filters in:\n$p")
    assert(p.contains("LessThan(l_shipdate") || p.contains("l_shipdate"), p)
    // projection pruning: untouched wide columns must not be read
    assert(!p.contains("l_comment") && !p.contains("l_returnflag"),
      "scan reads columns the query never uses")
  }

  test("small dimensions broadcast (q04)") {
    val p = plan(Queries.q04_broadcast_join(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "dimension join fell back to sort-merge: Spark's size rule should broadcast it")
  }

  test("blocked pair generation is an equi-join, never a cartesian product") {
    val clean = Standardize(PageGen.pages(spark, 30))
    val keys = Blocking.blockKeys(clean, MatchConfig())
    val p = plan(Pairs.candidates(keys, MatchConfig()))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pair generation degenerated to a cross join:\n$p")
  }

  test("scoring stage stays inside whole-stage codegen (no UDF black boxes)") {
    // AQE hides codegen spans until the final plan; disable it for the
    // assertion so the executed plan string is concrete.
    withConf("spark.sql.adaptive.enabled", "false") {
      val cfg = MatchConfig()
      val clean = Standardize(PageGen.pages(spark, 30))
      val withSig = Blocking.withSignature(clean, cfg)
      val cands = Pairs.candidates(Blocking.blockKeys(clean, cfg), cfg)
      val scored = Scoring(Pairs.attach(cands, withSig), cfg)
      val p = plan(scored)
      // codegen'd operators print with a "*(stageId)" prefix
      assert(p.contains("*("), s"no whole-stage-codegen spans in scoring plan:\n$p")
      assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
        "scoring plan contains non-codegen UDF nodes")
    }
  }

  test("set-similarity queries are equi-joins on inverted-index keys, never cartesian (q16)") {
    val p = plan(Queries.q16_jaccard_shingles(spark, dir))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q16 degenerated to a cross join:\n$p")
  }

  test("dedup band joins route through skew-split candidates (no raw key self-join)") {
    import graft.ops.Dedup
    val docs = Standardize(PageGen.pages(spark, 30))
      .select(col("record_id").as("id"), col("text"))
    val p = plan(Dedup.minhashPairs(docs, "text", "id"))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the triangle-split explodes members into cells before the pair join
    assert(p.toLowerCase.contains("generate"), // explode of cells / band keys
      s"expected cell/band explode in dedup plan:\n$p")
  }

  test("ANN top-k is a heap aggregate (ObjectHashAggregate), not a window sort") {
    import graft.ops.SimilaritySearch
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val q = e.where(col("vec_id") < 5)
    val p = plan(SimilaritySearch.bruteForceTopK(q, e, "embedding", "vec_id", 3))
    assert(p.contains("ObjectHashAggregate"),
      s"topk_by should run as ObjectHashAggregate:\n$p")
    assert(!p.contains("Window"),
      s"ANN top-k fell back to a window sort:\n$p")
  }

  test("q18 minhash bands: md5 pipeline computed once in the aggregate, not re-inlined (VERDICT r2 #2)") {
    // The r2 form (array_min over transform, referenced by later band-key
    // projections) let CollapseProject inline the whole shingle+md5 pipeline
    // into every reference — its plan string carried dozens of md5 calls.
    // The explode -> agg-min form computes each slot md5 exactly once; the
    // plan must stay bounded: 4 slot-md5s (x2 for partial+final agg
    // nodes) + 2 band md5s, once, since the second join side reads a
    // reused exchange: 10 at sf0.001 (16 when each side runs its own final
    // aggregate).
    val df = Queries.q18_lsh_band_pairs(spark, dir)
    val p = plan(df)
    val md5Count = md5ExprCount(df)
    assert(md5Count <= 16, s"q18 plan re-inlined the md5 pipeline ($md5Count Md5 exprs):\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q46 end-to-end pipeline: equi-joins throughout, md5 sig computed once") {
    // The e2e oracle twin chains blocking -> Pairs.candidates -> scoring;
    // its plan must carry the same guarantees as the production pipeline:
    // no cartesian/nested-loop pair generation, and the shingle+md5 minhash
    // computed once in the aggregate (q18 lesson) — not re-inlined per
    // band-key/sig reference.
    val df = Queries.q46_pipeline_e2e_golden(spark, dir)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"q46 degenerated to a cross join:\n$p")
    val md5Count = md5ExprCount(df)
    // 1 at sf0.001 (the output master_text_md5: its minhash is the native
    // text_minhash now); the collapsed md5 form from r2 carried dozens
    assert(md5Count <= 20, s"q46 plan re-inlined the md5 minhash ($md5Count Md5 exprs):\n$p")
  }

  test("scored write computes the minhash kernel once per clean-snapshot scan, never per band") {
    // A `transform` lambda over the signature let CollapseProject inline
    // text_minhash into it (once per band), and a filter inferred for an
    // exploded key column copied the whole key expression again; both
    // happened in every block-key scan of Pairs.candidates.
    val cfg = MatchConfig()
    val store = new SnapshotStore(java.nio.file.Files.createTempDirectory("graft-minhash").toString)
    val clean = store.commit(Standardize(PageGen.pages(spark, 30))
      .withColumn("capture_date", to_date(col("warc_ts"))), "standardize",
      partitionBy = Seq("capture_date"))
    // the frame Pipeline.runCheckpointed writes as its scored snapshot
    val withSig = Blocking.withSignature(clean, cfg).select(Scoring.attachColumns.map(col): _*)
    val scored = Scoring(Pairs.attach(
      Pairs.candidates(Blocking.blockKeysFromSig(withSig, cfg), cfg), withSig), cfg)
    val sites = minhashSites(scored)
    val cleanScans = PlanQualitySpec.collect(scored.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.size
    info(s"${sites.size} text_minhash instances over $cleanScans clean-snapshot scans")
    assert(sites.nonEmpty)
    assert(!sites.exists(_._2), "text_minhash under a lambda runs once per band")
    assert(!sites.exists(_._1), "text_minhash copied into a Filter")
    assert(sites.size <= cleanScans, s"${sites.size} text_minhash for $cleanScans scans")
  }

  test("aggregates are partial+final hash aggregates (map-side combine)") {
    val p = plan(Queries.q01_agg_lineitem(spark, dir))
    assert(p.contains("HashAggregate"), p)
    assert(p.split("HashAggregate").length >= 3,
      "expected partial + final aggregation stages")
  }

  test("r6 pair-audit family: probe side spread, build side broadcast (q40)") {
    // The round-6 local-scale fix (OPTIMIZATION_r06.md): tiny single-file
    // scans cannot split, so the pair-exploding per-pair-scoring chain fused
    // onto ONE task. The query spreads the probe side (round-robin exchange
    // to the session's shuffle parallelism — scale-adaptive, not a
    // constant) and broadcasts the small build side. Pin both so the shape
    // cannot silently regress to a single-task sort-merge plan.
    val p = plan(Queries.q40_match_audit(spark, dir))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast pair join:\n$p")
    assert(p.contains("RoundRobinPartitioning"), s"expected spread exchange:\n$p")
    assert(!p.contains("SortMergeJoin"),
      "pair audit fell back to sort-merge despite broadcast hint")
  }

  test("blocked pair queries: Spark's size rule broadcasts the unspread side, the probe side is spread") {
    // Both sides of the blocked self-join are built from the same columns,
    // so their size estimates tie and the tie builds on the right, unspread,
    // side. q34 and q41 return no row at sf0.001: AQE would replace their final plans, joins
    // included, by an empty relation.
    withConf("spark.sql.adaptive.optimizer.excludedRules",
        "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation") {
      blockedPairQueries.foreach { case (name, key) =>
        val p = finalPlan(SparkEntry.queries(name)(spark, dir))
        // q41 scores its pairs in both directions: two copies of one join
        val joins = pairJoins(p, key)
        assert(joins.nonEmpty, s"$name: no broadcast pair join on $key:\n$p")
        joins.foreach { j =>
          assert(j.buildSide == BuildRight, s"$name: pair join builds on the spread side:\n$p")
          assert(spreads(j.left), s"$name: probe side not spread:\n$p")
          assert(!spreads(j.right), s"$name: build side spread before its broadcast:\n$p")
        }
      }
    }
  }

  test("with broadcast off, the blocked pair queries plan no broadcast join") {
    // A hand-placed hint would force the broadcast whatever the threshold:
    // the path that runs out of memory once the build side is a full table.
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      blockedPairQueries.foreach { case (name, _) =>
        val p = finalPlan(SparkEntry.queries(name)(spark, dir))
        assert(broadcastJoins(p).isEmpty, s"$name: broadcast planned with broadcast off:\n$p")
        assert(!p.toString.contains("CartesianProduct") &&
          !p.toString.contains("BroadcastNestedLoopJoin"), s"$name:\n$p")
      }
    }
  }

  test("a scan that already splits to the shuffle parallelism is not spread again; a join is") {
    // customer and embeddings as 8 files each: each scan splits into at
    // least spark.sql.shuffle.partitions read partitions on its own.
    val split = java.nio.file.Files.createTempDirectory("graft-split").toString
    Seq("customer", "embeddings").foreach { name =>
      spark.read.parquet(s"$dir/$name.parquet").repartition(8)
        .write.parquet(s"$split/$name.parquet")
      val parts = spark.read.parquet(s"$split/$name.parquet").rdd.getNumPartitions
      assert(parts >= spark.sessionState.conf.numShufflePartitions, s"$name scan reads $parts partitions")
    }
    val q13 = Queries.q13_blocked_paircount(spark, split)
    assert(!spreads(finalPlan(q13)), s"split scan spread again:\n${q13.queryExecution.executedPlan}")
    assert(q13.collect().toSeq == Queries.q13_blocked_paircount(spark, dir).collect().toSeq)
    // q42 pairs customer semi-joined to embeddings: two split scans, whose
    // partitions sum to the parallelism, but a join's own split is not known
    // without running it, so the pair side is still spread.
    val q42 = Queries.q42_vector_strategy(spark, split)
    val joins = pairJoins(finalPlan(q42), "nk")
    assert(joins.nonEmpty && joins.forall(j => spreads(j.left)),
      s"joined pair side not spread:\n${q42.queryExecution.executedPlan}")
    assert(q42.collect().toSeq == Queries.q42_vector_strategy(spark, dir).collect().toSeq)
  }
}

object PlanQualitySpec extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
