package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution
import org.apache.spark.sql.execution.FileSourceScanExec
import graft.functions.GraftFunctions
import graft.functions.GraftFunctions._

/** Driver-contract queries: one named query per implemented operator family
  * from SURVEY.md §2, each with a DuckDB oracle in `Queries.oracle`.
  * Column names are aligned 1:1 with the oracle SQL (the driver compare
  * sorts columns by name before hashing). Every query output is a
  * deterministic SET (unique sort keys where ordering matters).
  */
object Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame = {
    GraftFunctions.register(s) // idempotent; custom expressions used below
    s.read.parquet(s"$dir/$name.parquet")
  }

  /** Parallelism spread for compute-exploding stages fed by tiny scans
    * (optimization guide §2.5 "input skew … repartition immediately after
    * the read", §2.2 partition sizing). Each test table is one
    * single-row-group parquet file, so its scan cannot split and every
    * narrow chain fused onto it (explode+hash pipelines, pair generation +
    * per-pair scoring) runs in ONE task; AQE coalesces by BYTES, the wrong
    * signal when a few hundred KB of keys fan out into millions of pairs.
    * Size rule: the frame keeps its own split, with no extra shuffle, only
    * when it is a narrow chain (no join, aggregate or other required
    * distribution) over ONE file scan that already plans at least
    * spark.sql.shuffle.partitions read partitions, as multi-file input does
    * at real scale; the count is read from the planned scan without a job.
    * Every other frame (a join, whose parallelism is not its scans' sum;
    * generated or checkpointed data) is round-robin repartitioned to that
    * parallelism. Only row-to-task placement changes: no caller does
    * order-sensitive floating-point accumulation. */
  private def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    val plan = df.queryExecution.sparkPlan
    val narrow = !plan.exists(n => n.children.size > 1 ||
      n.requiredChildDistribution.exists(_ != UnspecifiedDistribution))
    val split = plan.collectLeaves() match {
      case Seq(scan: FileSourceScanExec) if narrow => scan.inputRDD.getNumPartitions
      case _ => 0
    }
    if (split >= target) df else df.repartition(target)
  }

  /** The blocked self-join (J1, bigquery_utils.py:330-332): the `k1 < k2`
    * pairs of `id` among rows of `c` sharing `key`, each `(name, column)`
    * carried as `<name>1` / `<name>2`. Both sides have the same columns, so
    * on a size tie Spark's broadcast builds on the second, unspread, one. */
  private def blockSelfPairs(c: DataFrame, key: (String, Column), id: Column,
      cols: (String, Column)*): DataFrame = {
    def side(i: Int) = c.select(key._2.as(key._1) +: id.as(s"k$i") +:
      cols.map { case (name, e) => e.as(s"$name$i") }: _*)
    spread(side(1)).join(side(2), Seq(key._1)).where(col("k1") < col("k2"))
  }

  /** Exact decimal sum of a money expression, returned as double — identical
    * bits on Spark and DuckDB regardless of accumulation order. */
  private def moneySum(c: Column): Column =
    sum(c.cast("decimal(18,4)")).cast("double")

  // ---------------------------------------------------------------------
  // Relational core (scan/filter/agg/join/window/setops — SURVEY.md §2.1-2.7)
  // ---------------------------------------------------------------------

  def q01_agg_lineitem(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).cast("long").as("sum_qty"),
        count(lit(1)).as("n_rows"),
        moneySum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        round(avg(col("l_discount")), 4).as("avg_disc"))
      .orderBy("l_returnflag", "l_linestatus")

  def q02_filter_pushdown(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .where(col("l_shipdate") < to_timestamp(lit("1996-01-01")) &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(
        moneySum(col("l_extendedprice") * col("l_discount")).as("revenue"),
        count(lit(1)).as("n_rows"))

  def q03_join_agg(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders").join(t(s, dir, "customer"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(moneySum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
      .orderBy("c_mktsegment")

  def q04_broadcast_join(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).cast("long").as("sum_qty"))
      .orderBy("n_name")

  def q05_left_join_nullfill(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").join(t(s, dir, "orders"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("n_orders"))
      .orderBy("c_custkey")

  def q06_anti_join(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").where(col("o_totalprice") > 450000),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey").orderBy("c_custkey")

  def q07_semi_join(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer")
      .join(t(s, dir, "orders").where(col("o_orderstatus") === "F"),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey").orderBy("c_custkey")

  def q08_window_topk(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 2)
      .select(col("o_custkey"), col("o_orderkey"), col("rn"))
      .orderBy("o_custkey", "rn")
  }

  def q09_survivorship_recency(s: SparkSession, dir: String): DataFrame = {
    // A2 most-recent-wins survivorship (reference ARRAY_AGG ... ORDER BY
    // processed_at DESC LIMIT 1, bigquery_utils.py:728-731)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    t(s, dir, "events")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("last_type"),
        col("value").as("last_value"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"))
      .orderBy("user_id")
  }

  def q10_survivorship_completeness(s: SparkSession, dir: String): DataFrame = {
    // A1 most-complete-wins (ORDER BY LENGTH(x) DESC, bigquery_utils.py:725)
    val w = Window.partitionBy(col("lang"), col("source"))
      .orderBy(col("n_chars").desc, col("doc_id").desc)
    t(s, dir, "documents")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("lang"), col("source"), col("doc_id"))
      .orderBy("lang", "source")
  }

  def q11_union_align(s: SparkSession, dir: String): DataFrame = {
    // U1: 3-source UNION ALL with column alignment (bigquery_utils.py:154-237)
    val c = t(s, dir, "customer")
    val s1 = c.where(pmod(col("c_custkey"), lit(3)) === 0)
      .select(col("c_custkey"), col("c_mktsegment"), lit("crm").as("src"))
    val s2 = c.where(pmod(col("c_custkey"), lit(3)) === 1)
      .select(col("c_custkey"), col("c_mktsegment"), lit("erp").as("src"))
    val s3 = c.where(pmod(col("c_custkey"), lit(3)) === 2)
      .select(col("c_custkey"), col("c_mktsegment"), lit("ecom").as("src"))
    s1.unionByName(s2).unionByName(s3)
      .groupBy(col("src"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"))
      .orderBy("src", "c_mktsegment")
  }

  def q12_setops(s: SparkSession, dir: String): DataFrame = {
    // U5/J10: EXCEPT via typed set op (reference NOT IN, bigquery_utils.py:677)
    val a = t(s, dir, "orders").select(col("o_custkey").as("k")).distinct()
    val b = t(s, dir, "customer").where(col("c_acctbal") < 0)
      .select(col("c_custkey").as("k"))
    a.except(b).orderBy("k")
  }

  // ---------------------------------------------------------------------
  // ER pipeline operators over testdata (SURVEY.md §2.2, §2.8)
  // ---------------------------------------------------------------------

  def q13_blocked_paircount(s: SparkSession, dir: String): DataFrame = {
    // J1: blocked self-join pair gen with a.id < b.id (bigquery_utils.py:330-332)
    blockSelfPairs(t(s, dir, "customer"), "nk" -> col("c_nationkey"), col("c_custkey"))
      .groupBy(col("nk")).agg(count(lit(1)).as("n_pairs"))
      .select(col("nk").as("c_nationkey"), col("n_pairs"))
      .orderBy("c_nationkey")
  }

  def q14_levenshtein_pairs(s: SparkSession, dir: String): DataFrame = {
    // F1: normalized Levenshtein similarity within blocks
    // Provable length-bound prefilter (VERDICT r2 what's-wrong #3): edit
    // distance >= |len(a)-len(b)|, so sim = 1 - dist/maxlen <= 1 -
    // |lendiff|/maxlen. The kept filter is round(sim,4) >= 0.88, which
    // admits true sim as low as 0.87995 — so requiring |lendiff| <=
    // 0.12005 * maxlen drops NO row the oracle keeps, runs on lengths
    // computed below the join, and skips the edit_distance call for every
    // pruned pair. (On the TPC-H-style corpus c_name is fixed-width so the
    // prune is structural; on variable-length names it is the binding
    // filter — same family as q15's size-ratio prune.)
    blockSelfPairs(t(s, dir, "customer"), "nk" -> col("c_nationkey"), col("c_custkey"),
        "n" -> col("c_name"), "len" -> length(col("c_name")))
      .where(abs(col("len1") - col("len2")).cast("double") <=
        lit(0.12005) * greatest(col("len1"), col("len2")).cast("double"))
      .withColumn("sim", round(levenshteinSim(col("n1"), col("n2")), 4))
      .where(col("sim") >= 0.88)
      .select(col("k1"), col("k2"), col("sim"))
      .orderBy("k1", "k2")
  }

  def q15_token_overlap_docs(s: SparkSession, dir: String): DataFrame = {
    // F3/J11: shared-token overlap |a∩b|/max(|a|,|b|) on same-(lang,source)
    // doc pairs. Inverted-index formulation (VERDICT r4 what's-wrong #2: the
    // r3 form joined within (lang,source) blocks and paid an array_intersect
    // on full token arrays for every size-ratio-surviving pair; q16 next
    // door shows the shape that only materializes pairs with a non-empty
    // intersection): explode distinct tokens, equi-join on (lang, source,
    // token) so a pair exists once PER SHARED TOKEN, then |a∩b| = count per
    // pair. Output-equivalent to the all-pairs form because the kept filter
    // ov >= 0.3 > 0 implies |a∩b| >= 1. The size-ratio bound min/max >=
    // 0.29995 still prunes before the aggregate — the 0.00005 slack covers
    // ROUNDING: the kept filter is round(ov,4) >= 0.3, which admits true ov
    // as low as 0.29995, and |a∩b| <= min makes min/max an upper bound on
    // ov, so the prune drops no row the oracle keeps. The corpus-scale
    // near-dup path remains Dedup.minhashPairs; this pins exact overlap
    // semantics.
    val d = spread(t(s, dir, "documents"))
      .select(col("lang"), col("source"), col("doc_id"),
        array_distinct(tokens(col("text"))).as("tk"))
      .select(col("lang"), col("source"), col("doc_id"),
        size(col("tk")).as("sz"), explode(col("tk")).as("g"))
    val a = d.select(col("lang"), col("source"), col("g"),
      col("doc_id").as("d1"), col("sz").as("sz1"))
    val b = d.select(col("lang"), col("source"), col("g"),
      col("doc_id").as("d2"), col("sz").as("sz2"))
    a.join(b, Seq("lang", "source", "g")).where(col("d1") < col("d2"))
      .where(least(col("sz1"), col("sz2")).cast("double") >=
        lit(0.29995) * greatest(col("sz1"), col("sz2")).cast("double"))
      .groupBy(col("d1"), col("d2"), col("sz1"), col("sz2"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("ov", round(col("inter").cast("double") /
        greatest(col("sz1"), col("sz2")).cast("double"), 4))
      .where(col("ov") >= 0.3)
      .select(col("d1"), col("d2"), col("ov"))
      .orderBy("d1", "d2")
  }

  def q16_jaccard_shingles(s: SparkSession, dir: String): DataFrame = {
    // n-gram (3-token shingle) Jaccard near-dup score on same-source pairs.
    // Inverted-index formulation (VERDICT r1: the blocked all-pairs
    // array-intersect was quadratic in block size): explode distinct
    // shingles, equi-join on (source, shingle) so a pair materializes once
    // PER SHARED SHINGLE only — pairs with empty intersection never exist —
    // then |a∩b| = count per pair and |a∪b| = sz1 + sz2 - |a∩b|. Identical
    // result set to the all-pairs form (jac > 0 ⟺ ≥1 shared shingle);
    // a boilerplate shingle shared by k docs costs k² index rows — real
    // corpora cap document frequency / fall back to Dedup.minhashPairs.
    val d = spread(t(s, dir, "documents"))
      .where(size(tokens(col("text"))) >= 3)
      .select(col("source"), col("doc_id"),
        array_distinct(textShingles(col("text"), 3)).as("sh"))
      .select(col("source"), col("doc_id"), size(col("sh")).as("sz"),
        explode(col("sh")).as("g"))
    val a = d.select(col("source"), col("g"), col("doc_id").as("d1"), col("sz").as("sz1"))
    val b = d.select(col("source"), col("g"), col("doc_id").as("d2"), col("sz").as("sz2"))
    a.join(b, Seq("source", "g")).where(col("d1") < col("d2"))
      .groupBy(col("d1"), col("d2"), col("sz1"), col("sz2"))
      .agg(count(lit(1)).as("inter"))
      .withColumn("jac", round(col("inter").cast("double") /
        (col("sz1") + col("sz2") - col("inter")).cast("double"), 4))
      .where(col("jac") > 0) // a tiny true jac can ROUND to 0 — keep oracle's post-round filter
      .select(col("d1"), col("d2"), col("jac"))
      .orderBy("d1", "d2")
  }

  /** 4-slot md5 minhash signature via explode -> agg-min — shared by q17 and
    * q18. The array_min(transform(sh, md5(...))) form it replaced (r2) was a
    * projection-collapse hazard: CollapseProject inlined the whole
    * shingle+4x-md5 pipeline into EVERY later reference of the signature
    * columns (q18's band keys, both join sides — the exact pattern q35's
    * comment records as 35s -> ~3s when rewritten). The aggregate form
    * computes each md5 exactly once with map-side partial aggregation — the
    * plan you'd want at 100x scale anyway. textShingles always returns >= 1
    * element (single joined-token fallback below 3 tokens), so the explode
    * drops no document. */
  private def minhashMd5Sig(s: SparkSession, dir: String): DataFrame = {
    val exploded = spread(t(s, dir, "documents"))
      .select(col("doc_id"), explode(textShingles(col("text"), 3)).as("x"))
    val slots = (0 until 4).map(i =>
      min(md5(concat(lit(s"$i|"), col("x")))).as(s"mh$i"))
    exploded.groupBy("doc_id").agg(slots.head, slots.tail: _*)
  }

  def q17_minhash_md5(s: SparkSession, dir: String): DataFrame =
    // MinHash signature (md5-keyed so DuckDB can replicate; product path
    // uses xxhash64 — see Blocking)
    minhashMd5Sig(s, dir).orderBy("doc_id")

  def q18_lsh_band_pairs(s: SparkSession, dir: String): DataFrame = {
    // LSH: 2 bands x 2 rows over the md5 minhash; pairs sharing any band.
    // Band keys reference the AGGREGATE's output attributes (mh0..mh3), which
    // CollapseProject cannot inline past — each md5 is computed once.
    val sig = minhashMd5Sig(s, dir)
      .withColumn("band0", md5(concat(col("mh0"), col("mh1"))))
      .withColumn("band1", md5(concat(col("mh2"), col("mh3"))))
    // Partitioned on the join key here, below both join sides, so the second
    // side reads a reused exchange and the signature aggregate runs once; a
    // shuffle join needs exactly this partitioning, so it adds no exchange.
    val keys = sig.select(col("doc_id"), explode(array(col("band0"), col("band1"))).as("bk"))
      .repartition(col("bk"))
    val a = keys.select(col("bk"), col("doc_id").as("d1"))
    val b = keys.select(col("bk"), col("doc_id").as("d2"))
    a.join(b, Seq("bk")).where(col("d1") < col("d2"))
      .select("d1", "d2").distinct().orderBy("d1", "d2")
  }

  def q19_exact_dedup(s: SparkSession, dir: String): DataFrame =
    // exact dedup: hash-groupBy on content (md5(text))
    spread(t(s, dir, "documents"))
      .groupBy(md5(col("text")).as("h"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keep_id"))
      .orderBy("h")

  def q20_simhash8(s: SparkSession, dir: String): DataFrame = {
    // 8-bit SimHash via md5-hex bit votes — expressible in ANSI SQL for the
    // oracle; the production simhash64 uses xxhash64 (GraftFunctions)
    // Digit-parity via ONE conv of the leading 8 hex chars (32 bits, no
    // ANSI-overflow risk) instead of 8 per-digit substring+instr probes:
    // hex digit k is nibble (7-k) of the converted value, so digit(k)&1 is
    // bit 4*(7-k) — value-identical, ~4x less per-token expression work on
    // the exploded (doc x token) stream, the query's hottest stage.
    val d = spread(t(s, dir, "documents"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .withColumn("hv", conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long"))
    val digitBit = (k: Int) =>
      call_function("shiftright", col("hv"), lit(4 * (7 - k))).bitwiseAND(lit(1L))
    val votes = (0 until 8).map(k =>
      sum(when(digitBit(k) === 1L, 1).otherwise(-1)).as(s"v$k"))
    d.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 8).map(k => when(col(s"v$k") > 0, math.pow(2, k).toInt).otherwise(0))
          .reduce(_ + _).as("simhash"))
      .orderBy("doc_id")
  }

  def q21_cosine_pairs(s: SparkSession, dir: String): DataFrame = {
    // F6 cosine similarity (vector strategy): distribution by same-label.
    // Capped to the first 1000 vectors — the point is the operator, the
    // full-corpus pair space belongs to the LSH-bucketed path (er_cosine_dedup).
    val e = t(s, dir, "embeddings").where(col("vec_id") < 1000)
    val a = e.select(col("vec_id").as("v1"), col("embedding").as("e1"), col("label").as("l1"))
    val b = e.select(col("vec_id").as("v2"), col("embedding").as("e2"), col("label").as("l2"))
    spread(a).join(b, col("v1") < col("v2"))
      .withColumn("cos", cosineSim(col("e1"), col("e2")))
      .where(col("cos") >= 0.35)
      .groupBy((col("l1") === col("l2")).as("same_label"))
      .agg(count(lit(1)).as("n"))
      .orderBy("same_label")
  }

  def q22_ann_topk(s: SparkSession, dir: String): DataFrame = {
    // brute-force cosine top-k neighbors for the first 10 query vectors
    val e = t(s, dir, "embeddings")
    val q = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val c = e.select(col("vec_id").as("nid"), col("embedding").as("ne"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(round(col("cos"), 6).desc, col("nid"))
    q.join(c, col("qid") =!= col("nid"))
      .withColumn("cos", cosineSim(col("qe"), col("ne")))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select(col("qid"), col("rk"), col("nid"))
      .orderBy("qid", "rk")
  }

  def q23_business_rules(s: SparkSession, dir: String): DataFrame = {
    // F7 additive business score (bigquery_utils.py:438-470 semantics)
    blockSelfPairs(t(s, dir, "customer"), "nk" -> col("c_nationkey"), col("c_custkey"),
        "m" -> col("c_mktsegment"), "b" -> col("c_acctbal"))
      .withColumn("score", round(
        when(col("m1") === col("m2"), 0.3).otherwise(0.0) +
          lit(0.2) + // same nation by construction (the block key)
          when(col("b1") > 0 && col("b2") > 0 &&
            least(col("b1"), col("b2")) / greatest(col("b1"), col("b2")) >= 0.8, 0.1)
            .otherwise(0.0), 2))
      .groupBy(col("score")).agg(count(lit(1)).as("n_pairs"))
      .orderBy("score")
  }

  def q24_ensemble_decision(s: SparkSession, dir: String): DataFrame = {
    // F9 weighted ensemble + F10 thresholds (reference weights & cuts,
    // bigquery_utils.py:596-634) over customer name pairs
    // Every pair lands in an output bucket, so no ROW can be pruned — but
    // the length bound can decide the bucket without the edit distance:
    // with n1 <> n2, combined <= 0.25*(1 - |lendiff|/maxlen) + 0.075; when
    // that upper bound is <= 0.3 the decision is provably no_match, and the
    // CaseWhen short-circuit skips the levenshtein branch entirely
    // (VERDICT r2 what's-wrong #3, q24 variant).
    val ld = abs(length(col("n1")) - length(col("n2"))).cast("double")
    val maxLen = greatest(length(col("n1")), length(col("n2"))).cast("double")
    val business = when(col("m1") === col("m2"), 0.3).otherwise(0.0) + lit(0.2)
    val combined = when(col("n1") === col("n2"), 1.0).otherwise(0.0) * 0.30 +
      levenshteinSim(col("n1"), col("n2")) * 0.25 + business * 0.15
    blockSelfPairs(t(s, dir, "customer"), "nk" -> col("c_nationkey"), col("c_custkey"),
        "n" -> col("c_name"), "m" -> col("c_mktsegment"))
      .withColumn("decision",
        when(col("n1") =!= col("n2") &&
            lit(0.25) * (lit(1.0) - ld / maxLen) + business * 0.15 <= 0.3, "no_match")
          .when(combined >= 0.8, "auto_merge")
          .when(combined >= 0.6, "human_review")
          .when(combined > 0.3, "potential")
          .otherwise("no_match"))
      .groupBy(col("decision")).agg(count(lit(1)).as("n"))
      .orderBy("decision")
  }

  def q25_master_id(s: SparkSession, dir: String): DataFrame =
    // F12/P9: deterministic master id, first 36 hex of sha256("name:"+key)
    t(s, dir, "customer")
      .select(col("c_custkey"), masterId("name", col("c_name")).as("master_id"))
      .orderBy("c_custkey")

  def q26_deterministic_sample(s: SparkSession, dir: String): DataFrame =
    // O3: ORDER BY RAND() LIMIT n made deterministic: order by md5(pk)
    t(s, dir, "customer")
      .orderBy(md5(col("c_custkey").cast("string")), col("c_custkey"))
      .limit(20)
      .select(col("c_custkey"))

  def q27_cc_propagate(s: SparkSession, dir: String): DataFrame = {
    // J8/W1: the reference's EXACT 2-hop min-label propagation
    // (bigquery_utils.py:686-716) on a bipartite custkey/orderkey graph.
    // (The production pipeline iterates to fixpoint — ConnectedComponents;
    // this query pins the reference's per-hop semantics.)
    val o = t(s, dir, "orders")
    val edges = o.select(col("o_custkey").as("u"), (col("o_orderkey") + 10000000L).as("v"))
    val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
    // hop 1: label(u) = min(u, min(neighbors))
    val l1 = sym.groupBy("u").agg(least(min(col("v")), first(col("u"))).as("l1"))
    // hop 2: label(u) = min(l1(u), min over neighbors of l1(v))
    val l2 = sym.join(l1.select(col("u").as("v"), col("l1").as("l1v")), Seq("v"))
      .groupBy("u").agg(min(col("l1v")).as("minnb"))
    l1.join(l2, Seq("u"), "left")
      .select(col("u").as("node"),
        least(col("l1"), coalesce(col("minnb"), col("l1"))).as("label"))
      .where(col("node") < 10000000L)
      .orderBy("node")
  }

  def q28_time_bucket_agg(s: SparkSession, dir: String): DataFrame =
    // streaming-analogue event-time bucketing (tumbling hour). The value
    // aggregate uses the exact-decimal-sum pattern (like q01): round(avg) of
    // a double is accumulation-ORDER-dependent — Spark's partial aggregation
    // vs DuckDB's scan order flipped the 4th decimal on 3/3600 rows at sf0.1.
    t(s, dir, "events")
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hr"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("sum_value"))
      .orderBy("hr", "event_type")

  def q29_text_quality(s: SparkSession, dir: String): DataFrame = {
    // text-analysis: token count, mean token length, type-token ratio.
    // Empty/whitespace-only docs guard: size(toks)=0 would DIVIDE_BY_ZERO
    // under Spark 4 ANSI mode (ADVICE r1) — null ratios instead.
    val toks = tokens(col("text"))
    val nToks = size(toks)
    spread(t(s, dir, "documents"))
      .select(col("doc_id"),
        nToks.as("n_tokens"),
        when(nToks === 0, lit(null).cast("double")).otherwise(round(
          aggregate(toks, lit(0L), (acc, x) => acc + length(x)).cast("double") /
            nToks.cast("double"), 4)).as("avg_tok_len"),
        when(nToks === 0, lit(null).cast("double")).otherwise(
          round(size(array_distinct(toks)).cast("double") / nToks.cast("double"), 4))
          .as("ttr"),
        col("n_chars"))
      .orderBy("doc_id")
  }

  def q30_token_topk_per_lang(s: SparkSession, dir: String): DataFrame = {
    // language profiling: top-5 tokens per lang (explode + grouped top-k)
    val w = Window.partitionBy(col("lang")).orderBy(col("cnt").desc, col("tok"))
    spread(t(s, dir, "documents"))
      .select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("cnt"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 5)
      .select(col("lang"), col("rk"), col("tok"), col("cnt"))
      .orderBy("lang", "rk")
  }

  def q31_fingerprint(s: SparkSession, dir: String): DataFrame =
    // document fingerprint: hash of the leading 8-token window
    t(s, dir, "documents")
      .select(col("doc_id"),
        md5(concat_ws(" ", slice(tokens(col("text")), 1, 8))).as("fp"))
      .orderBy("doc_id")

  def q32_binary_plumbing(s: SparkSession, dir: String): DataFrame =
    // multimodal columns: opaque binary payload + typed metadata (schema
    // plumbing is real; decode stays stubbed per the brief)
    t(s, dir, "documents")
      .select(col("doc_id"),
        octet_length(col("text").cast("binary")).as("n_bytes"),
        substring(sha2(col("text"), 256), 1, 16).as("content_key"))
      .orderBy("doc_id")

  def q33_distinct_counts(s: SparkSession, dir: String): DataFrame =
    // A4 exact COUNT(DISTINCT ...) (bigquery_utils.py:748)
    t(s, dir, "customer")
      .groupBy(col("c_mktsegment"))
      .agg(countDistinct(col("c_nationkey")).as("n_nations"), count(lit(1)).as("n"))
      .orderBy("c_mktsegment")

  def q35_minhash_band_dedup(s: SparkSession, dir: String): DataFrame = {
    // md5-keyed ORACLE TWIN of Dedup.minhashPairs (VERDICT r1 #2): the full
    // near-dup dedup shape — signature -> banded equi-join -> distinct pairs
    // -> signature-estimated Jaccard threshold — with md5 in place of
    // xxhash64 so DuckDB replicates bit-for-bit. 8 slots, 4 bands x 2 rows.
    // explode -> agg-min (not array_min over a transform): projection
    // collapse would inline the whole 8x128-md5 pipeline into every later
    // reference of `sig` (measured 35s -> ~3s at sf0.1); the aggregate form
    // computes each md5 exactly once and is the map-side-combining plan
    // you'd want at scale anyway.
    val exploded = spread(t(s, dir, "documents"))
      .select(col("doc_id"), explode(textShingles(col("text"), 3)).as("x"))
    val slots = (0 until 8).map(i =>
      min(md5(concat(lit(s"$i|"), col("x")))).as(s"mh$i"))
    val sigW = exploded.groupBy("doc_id").agg(slots.head, slots.tail: _*)
    val keys = sigW.select(col("doc_id"),
      array((0 until 8).map(i => col(s"mh$i")): _*).as("sig"),
      explode(array((0 until 4).map(j =>
        md5(concat(col(s"mh${2 * j}"), col(s"mh${2 * j + 1}")))): _*)).as("bk"))
    val a = keys.select(col("bk"), col("doc_id").as("d1"), col("sig").as("s1"))
    val b = keys.select(col("bk"), col("doc_id").as("d2"), col("sig").as("s2"))
    a.join(b, Seq("bk")).where(col("d1") < col("d2"))
      .select("d1", "d2", "s1", "s2").distinct()
      .withColumn("est",
        size(filter(zip_with(col("s1"), col("s2"), (x, y) => x === y), p => p))
          .cast("double") / 8.0)
      .where(col("est") >= 0.25)
      .select("d1", "d2", "est")
      .orderBy("d1", "d2")
  }

  def q36_simhash_hamming_dedup(s: SparkSession, dir: String): DataFrame = {
    // md5-keyed ORACLE TWIN of Dedup.simhashPairs: 16-bit md5-parity simhash
    // -> 2 x 8-bit band keys -> banded pair join -> hamming filter via
    // bit_count(xor). Production path uses xxhash64/64-bit (er_simhash_dedup).
    // Digit-parity via ONE conv of the leading 15 hex chars (60 bits —
    // 16 would overflow ANSI conv) + a single probe for digit 15, instead
    // of 16 per-digit substring+instr probes: hex digit k (k<15) is nibble
    // (14-k) of the converted value, so digit(k)&1 is bit 4*(14-k) —
    // value-identical, ~4x less per-token expression work on the exploded
    // (doc x token) stream, the query's hottest stage (q20 same pattern).
    val d = spread(t(s, dir, "documents"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .withColumn("hx", md5(col("tok")))
      .withColumn("hv", conv(substring(col("hx"), 1, 15), 16, 10).cast("long"))
    val digitBit = (k: Int) =>
      if (k < 15)
        call_function("shiftright", col("hv"), lit(4 * (14 - k))).bitwiseAND(lit(1L))
      else // digit 15: odd hex chars have bit 0 set
        when(instr(lit("13579bdf"), substring(col("hx"), 16, 1)) > 0, 1L).otherwise(0L)
    val votes = (0 until 16).map(k =>
      sum(when(digitBit(k) === 1L, 1).otherwise(-1)).as(s"v$k"))
    val sig = d.groupBy(col("doc_id")).agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 16).map(k => when(col(s"v$k") > 0, lit(1L << k)).otherwise(lit(0L)))
          .reduce(_ + _).cast("long").as("h"))
    val keys = sig.select(col("doc_id"), col("h"),
      explode(array(
        concat(lit("b0:"), col("h").bitwiseAND(lit(255L)).cast("string")),
        concat(lit("b1:"),
          call_function("shiftright", col("h"), lit(8)).bitwiseAND(lit(255L)).cast("string")))).as("bk"))
    val a = keys.select(col("bk"), col("doc_id").as("d1"), col("h").as("h1"))
    val b = keys.select(col("bk"), col("doc_id").as("d2"), col("h").as("h2"))
    a.join(b, Seq("bk")).where(col("d1") < col("d2"))
      .select("d1", "d2", "h1", "h2").distinct()
      .withColumn("hamming", bit_count(col("h1").bitwiseXOR(col("h2"))))
      .where(col("hamming") <= 3)
      .select("d1", "d2", "hamming")
      .orderBy("d1", "d2")
  }

  def q44_hyperplane_cosine_dedup(s: SparkSession, dir: String): DataFrame = {
    // md5-keyed ORACLE TWIN of Dedup.cosinePairs (VERDICT r3 missing #2 /
    // next #5): the full embedding near-dup shape — multi-table random-
    // hyperplane LSH bucketing -> banded pair join -> exact cosine verify —
    // with every hyperplane component derived from md5 DIGIT arithmetic
    // (q35/q36 pattern) so DuckDB replays bucket -> pair -> verify
    // end-to-end. The bucket decision is EXACT integer arithmetic in both
    // engines: component q = floor(emb*1000) as BIGINT, weight w(t,p,d) =
    // (first-4-hex-digit value of md5("hp:t:p:d")) % 2001 - 1000 in
    // [-1000,1000] — no FP-sum-associativity hazard can flip a sign bit.
    // The weights depend only on (table, plane, dim), so they are
    // PRECOMPUTED driver-side (same md5 digit arithmetic, evaluated once per
    // (t,p,d) instead of per ROW — VERDICT r4 what's-wrong #1: the per-row
    // expression form cost ~1.5M md5 calls over 2,000 embeddings) and enter
    // the plan as literal arrays zipped against the quantized embedding.
    // The oracle SQL keeps the in-engine md5 form (DuckDB hoists it).
    // The production path (er_cosine_dedup) keeps xxhash64 planes + the
    // skew-split banded join; this twin pins the mechanism.
    val nTables = 2; val nBits = 6; val thr = 0.4
    val raw = t(s, dir, "embeddings")
    // embeddings are fixed-width per corpus (the table contract); read the
    // width once (bounded single-row action, not a data-path collect),
    // skipping null rows — sampling a null embedding would NPE the getInt.
    // An empty or all-null table yields dim=0 → empty weight arrays → null
    // dots → no pair survives the cosine filter — an EMPTY result, same as
    // the DuckDB oracle. A genuinely ragged corpus is out of contract:
    // zip_with null-pads the width mismatch, so such a row's dot goes null
    // and it lands in the zero bucket (bucketing-recall loss only — the
    // exact cosine verify below still reads the full vectors).
    val dim = raw.where(col("embedding").isNotNull)
      .select(size(col("embedding")).as("d")).limit(1)
      .collect().headOption.map(_.getInt(0)).getOrElse(0)
    val e = spread(raw)
      .select(col("vec_id"), col("embedding"),
        transform(col("embedding").cast("array<double>"),
          x => floor(x * 1000).cast("long")).as("qe"))
    def weight(tb: Int, p: Int, d: Int): Long = {
      val digest = java.security.MessageDigest.getInstance("MD5")
        .digest(s"hp:$tb:$p:$d".getBytes("UTF-8"))
      // first 4 hex chars little-endian by digit, exactly the SQL form:
      // sum_k digitvalue(char_k) * 16^k for k = 0..3
      val hex = digest.take(2).map(b => f"$b%02x").mkString
      val v = (0 until 4).map(k =>
        java.lang.Long.parseLong(hex(k).toString, 16) << (4 * k)).sum
      v % 2001L - 1000L // v >= 0, so % == pmod
    }
    def dot(tb: Int, p: Int): Column =
      aggregate(
        zip_with(col("qe"),
          typedLit((0 until dim).map(d => weight(tb, p, d))),
          (x, w) => x * w),
        lit(0L), (acc, x) => acc + x)
    def bucket(tb: Int): Column =
      concat(lit(s"$tb:"),
        (0 until nBits).map(p => when(dot(tb, p) > 0, lit(1L << p)).otherwise(lit(0L)))
          .reduce(_ + _).cast("string"))
    val keys = e.select(col("vec_id"),
      explode(array((0 until nTables).map(bucket): _*)).as("bk"))
    val a = keys.select(col("bk"), col("vec_id").as("v1"))
    val b = keys.select(col("bk"), col("vec_id").as("v2"))
    val pairs = a.join(b, Seq("bk")).where(col("v1") < col("v2"))
      .select("v1", "v2").distinct()
    val emb1 = e.select(col("vec_id").as("v1"), col("embedding").as("e1"))
    val emb2 = e.select(col("vec_id").as("v2"), col("embedding").as("e2"))
    pairs.join(emb1, Seq("v1")).join(emb2, Seq("v2"))
      .withColumn("cos", cosineSim(col("e1"), col("e2")))
      .where(col("cos") >= thr)
      .select(col("v1"), col("v2"), round(col("cos"), 4).as("cos_r"))
      .orderBy("v1", "v2")
  }

  def q45_ivf_ann_topk(s: SparkSession, dir: String): DataFrame = {
    // md5-keyed ORACLE TWIN of SimilaritySearch.ivfTopK (the last
    // LLM-pipeline op without an oracle, VERDICT r3): the full IVF shape —
    // deterministic centroid sample -> nearest-centroid inverted lists ->
    // multi-probe -> per-query top-k — with the hash-sample keyed by
    // md5(vec_id) so DuckDB replays it. All similarity ORDERINGS go through
    // round(cos, 6) with an id tie-break (the q22 convention that pins
    // FP-agreement between engines); ids, not cosines, are emitted.
    // Production path (er_ann_ivf) keeps xxhash64 sampling + heap aggs.
    val nCent = 16; val nProbe = 4; val k = 3
    val e = spread(t(s, dir, "embeddings"))
      .select(col("vec_id"), col("embedding"))
    val cent = e.orderBy(md5(col("vec_id").cast("string")))
      .limit(nCent)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
    val inv = e.select(col("vec_id").as("nid"), col("embedding").as("ne"))
      .join(cent, lit(true))
      .withColumn("ccos", round(cosineSim(col("ne"), col("ce")), 6))
      .groupBy(col("nid"))
      .agg(min_by(col("cid"), struct(-col("ccos"), col("cid"))).as("cid"),
        first(col("ne")).as("ne"))
    val probes = e.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      .join(cent, lit(true))
      .withColumn("ccos", round(cosineSim(col("qe"), col("ce")), 6))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("ccos").desc, col("cid"))))
      .where(col("rn") <= nProbe)
      .select(col("qid"), col("qe"), col("cid"))
    probes.join(inv, Seq("cid"))
      .where(col("qid") =!= col("nid"))
      .withColumn("cos", round(cosineSim(col("qe"), col("ne")), 6))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))))
      .where(col("rk") <= k)
      .select(col("qid"), col("rk"), col("nid"))
      .orderBy("qid", "rk")
  }

  def q46_pipeline_e2e_golden(s: SparkSession, dir: String): DataFrame = {
    // END-TO-END md5-keyed ORACLE TWIN of the flagship pipeline (the one
    // er_* surface VERDICT r3 still lists as no_oracle): pages ->
    // Standardize -> blocking (domain + minhash-LSH bands) ->
    // Pairs.candidates (REAL salted/triangle-split component) ->
    // Scoring.features + combined/decision (REAL formulas) -> transitive
    // clustering (REAL large-star/small-star ConnectedComponents) ->
    // Golden survivorship (REAL aggregate) — every stage replayed by DuckDB
    // in one statement (recursive-CTE CC, window-function survivorship).
    //
    // Twin-ness vs er_pipeline_golden: the ONLY substitutions are
    // (a) the corpus — deterministic page rows derived from the documents
    //     parquet (a base crawl + a mirror re-crawl for doc_id%3==0, half
    //     byte-identical, half with an appended footer) instead of PageGen,
    // (b) the signature — 4-slot md5 minhash (q17/q35 pattern; slot longs =
    //     conv(first-15-hex,16,10), so slot equality == hex-prefix equality
    //     and SigOverlapExpr sees array<long>) instead of 16-slot xxhash64,
    //     with band keys md5(mh0||mh1)/md5(mh2||mh3) (q18 pattern),
    // (c) fuzzy_score and combined_score rounded to 4 decimals pre-threshold
    //     on BOTH engines (q40 FP-parity convention).
    // Candidate generation, scoring formulas, CC, and Golden are the
    // PRODUCTION code paths — this query pins the whole chain, decisions
    // and survivorship included, against an independent engine.
    GraftFunctions.register(s)
    import graft.mdm._
    val cfg = MatchConfig()
    val docs = t(s, dir, "documents").select(col("doc_id"), col("text"), col("lang"))
    val day0 = to_date(lit("2024-01-01"))
    def mkUrl(prefix: String, suffix: String): Column =
      concat(lit(prefix), pmod(col("doc_id"), lit(40)), lit(".com/docs/page-"),
        col("doc_id"), lit(suffix))
    val basePages = docs.select(
      mkUrl("https://www.site", "").as("url"),
      to_timestamp(date_add(day0, pmod(col("doc_id"), lit(365)).cast("int"))).as("warc_ts"),
      lit(null).cast("binary").as("html"),
      col("text"), col("lang"))
    val mirrorPages = docs.where(pmod(col("doc_id"), lit(3)) === 0).select(
      mkUrl("https://site", "?utm_source=mirror").as("url"),
      to_timestamp(date_add(day0, (pmod(col("doc_id"), lit(365)) + 3).cast("int"))).as("warc_ts"),
      lit(null).cast("binary").as("html"),
      when(pmod(col("doc_id"), lit(6)) === 0, col("text"))
        .otherwise(concat(col("text"), lit(" mirror footer appended"))).as("text"),
      col("lang"))
    // clean + sigged are each consumed by SEVERAL downstream branches
    // (withSig join, 3-way key union, CC's node set, Golden). Without
    // materialization, column pruning specializes every branch's copy of
    // the signature aggregate (the band0 branch keeps only mh0/mh1, the
    // sig branch all four, …), so the canonicalized exchange subtrees
    // differ and ReuseExchange CANNOT dedupe them — the whole
    // scan→standardize→shingle→md5→agg pipeline ran 4-6× (measured: six
    // 64-task stages of 1.6-5.4 CPU-s each re-reading the same 1.4 MB).
    // An in-query eager localCheckpoint computes each exactly once; this
    // is computed state INSIDE the timed run (like Pipeline.run's
    // persists), not cross-run caching. Same lever at 100 TB: the
    // signature table is the thing a production pipeline materializes.
    val clean = Standardize(basePages.unionByName(mirrorPages)).localCheckpoint()

    // spread ONLY the narrow (record_id, text) projection feeding the
    // shingle+md5 explode — the signature aggregation is this query's
    // heaviest per-task compute. Spreading the full wide `clean` instead
    // was measured WORSE (15-19s vs ~8s: every consumer branch re-pays a
    // wide-row shuffle and every tiny downstream stage fans to 64 tasks).
    val exploded = spread(clean.select(col("record_id"), col("text")))
      .select(col("record_id"), explode(textShingles(col("text"), 3)).as("x"))
    val slots = (0 until 4).map(i => min(md5(concat(lit(s"$i|"), col("x")))).as(s"mh$i"))
    val sigged = exploded.groupBy("record_id").agg(slots.head, slots.tail: _*)
      .withColumn("sig", array((0 until 4).map(i =>
        conv(substring(col(s"mh$i"), 1, 15), 16, 10).cast("long")): _*))
      .withColumn("band0", md5(concat(col("mh0"), col("mh1"))))
      .withColumn("band1", md5(concat(col("mh2"), col("mh3"))))
      .localCheckpoint()
    val withSig = clean.join(sigged.select("record_id", "sig"), Seq("record_id"))
      .select(Scoring.attachColumns.map(col): _*)
    val keys = clean.select(col("record_id"), concat(lit("d:"), col("domain")).as("block_key"))
      .unionByName(sigged.select(col("record_id"), concat(lit("b:"), col("band0")).as("block_key")))
      .unionByName(sigged.select(col("record_id"), concat(lit("b:"), col("band1")).as("block_key")))
    val attached = Pairs.attach(Pairs.candidates(keys, cfg), withSig)
    val scored = Scoring.features(attached, cfg)
      .withColumn("fuzzy_score", round(col("fuzzy_score"), 4))
      .withColumn("ai_score", lit(0.0))
      .withColumn("combined_score", round(Scoring.combined(cfg), 4))
      .withColumn("match_decision", Scoring.decision(cfg))
      .where(col("combined_score") > cfg.keepThreshold)
    val edges = scored.where(Scoring.isEdge)
      .select(col("id1").as("src"), col("id2").as("dst"))
    val assign = ConnectedComponents(edges, clean.select("record_id"), cfg)
    Golden(assign, clean)
      .select(col("master_id"), col("canonical_url"), col("master_url"),
        md5(col("master_text")).as("master_text_md5"), col("master_lang"),
        length(col("most_complete_text")).cast("long").as("complete_len"),
        col("source_record_count").as("n_members"),
        date_format(col("first_seen"), "yyyy-MM-dd HH:mm:ss").as("first_seen"),
        date_format(col("last_activity"), "yyyy-MM-dd HH:mm:ss").as("last_activity"),
        array_join(col("source_record_ids"), ",").as("lineage_ids"))
      .orderBy("master_id")
  }

  def q37_standardize_customer(s: SparkSession, dir: String): DataFrame = {
    // P1-P5 reference-literal standardization scalars, oracle-checked over
    // record-shaped data (VERDICT r1 missing #5): messy inputs are DERIVED
    // deterministically from TPC-H customer columns (both engines compute
    // the same derivation, so DuckDB sees identical bytes).
    import graft.mdm.Standardize.ref
    val c = spread(t(s, dir, "part"))
      .withColumn("name_raw", concat(col("p_name"), lit(" #"), col("p_partkey")))
      .withColumn("email_raw", concat(lit("  "), upper(col("p_name")), lit("@EXample.COM ")))
      .withColumn("phone_raw", concat(lit("tel: +1 ("), col("p_partkey"), lit(") 555-01")))
      .withColumn("addr_raw", concat(col("p_name"), lit(" STREET near ROAD end AVENUE")))
    c.select(col("p_partkey"),
        ref.nameClean(col("name_raw")).as("name_clean"),
        ref.emailClean(col("email_raw")).as("email_clean"),
        ref.phoneClean(col("phone_raw")).as("phone_clean"),
        ref.addressClean(col("addr_raw")).as("addr_clean"),
        ref.upperTrim(col("p_type")).as("segment_clean"))
      .orderBy("p_partkey")
  }

  def q38_record_fuzzy_soundex(s: SparkSession, dir: String): DataFrame = {
    // F2 wired into the record-shaped fuzzy strategy (reference formula
    // verbatim, bigquery_utils.py:341-402): fuzzy = (GREATEST(name_edit,
    // name_soundex@0.8, name_token) + addr_edit) / 2, gate > 0.5.
    import graft.mdm.RecordScoring
    val base = t(s, dir, "part")
      .where(pmod(col("p_partkey"), lit(7)) === 0)
      .withColumn("nm", graft.mdm.Standardize.ref.nameClean(col("p_name")))
      .withColumn("ad", graft.mdm.Standardize.ref.addressClean(concat(col("p_name"), lit(" STREET"))))
    blockSelfPairs(base, "nk" -> col("p_brand"), col("p_partkey"),
        "nm" -> col("nm"), "ad" -> col("ad"))
      .withColumn("name_soundex", RecordScoring.soundexScore(col("nm1"), col("nm2")))
      .withColumn("fuzzy", round(RecordScoring.fuzzyOverall(
        col("nm1"), col("nm2"), col("ad1"), col("ad2")), 4))
      .where(greatest(RecordScoring.editScore(col("nm1"), col("nm2")),
        col("name_soundex"),
        RecordScoring.tokenScore(col("nm1"), col("nm2")),
        RecordScoring.editScore(col("ad1"), col("ad2"))) > 0.5)
      .select(col("k1"), col("k2"), col("name_soundex"), col("fuzzy"))
      .orderBy("k1", "k2")
  }

  def q39_json_staging(s: SparkSession, dir: String): DataFrame = {
    // S7: the JSON staging sink payload (new_entities_staging.golden_record_data,
    // spanner_utils.py:723-769) — golden-ish records serialized with
    // to_json(struct(...)) and re-extracted with from_json-family functions.
    val g = t(s, dir, "customer")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_members"), min(col("c_name")).as("canonical_name"))
    g.select(col("c_nationkey"),
        to_json(struct(col("c_nationkey").as("nation"),
          col("canonical_name").as("name"),
          col("n_members").as("members"))).as("golden_record_data"))
      .withColumn("name_back", get_json_object(col("golden_record_data"), "$.name"))
      .orderBy("c_nationkey")
  }

  def q40_match_audit(s: SparkSession, dir: String): DataFrame = {
    // match_results audit-log rows (streaming_processor.py:755-809): every
    // scored pair with per-strategy scores + ensemble decision + confidence.
    blockSelfPairs(t(s, dir, "customer"), "nk" -> col("c_nationkey"), col("c_custkey"),
        "n" -> col("c_name"), "m" -> col("c_mktsegment"))
      // Provable prune (VERDICT r2 what's-wrong #3): a kept row needs
      // round(combined,4) > 0.3. With n1 <> n2 exact=0 and business <= 0.5,
      // so it needs 0.25*fuzzy_r > 0.22495, i.e. true fuzzy > 0.89975; and
      // fuzzy <= 1 - |lendiff|/maxlen (edit distance >= length difference).
      // Keeping n1==n2 OR |lendiff| <= 0.1003*maxlen therefore drops no
      // output row while skipping edit_distance on the pruned pairs.
      .where(col("n1") === col("n2") ||
        abs(length(col("n1")) - length(col("n2"))).cast("double") <=
          lit(0.1003) * greatest(length(col("n1")), length(col("n2"))).cast("double"))
      .withColumn("exact_score", when(col("n1") === col("n2"), 1.0).otherwise(0.0))
      .withColumn("fuzzy_score", round(levenshteinSim(col("n1"), col("n2")), 4))
      .withColumn("business_score",
        when(col("m1") === col("m2"), 0.3).otherwise(0.0) + lit(0.2))
      .withColumn("combined_score", round(
        col("exact_score") * 0.30 + col("fuzzy_score") * 0.25 + col("business_score") * 0.15, 4))
      .withColumn("match_decision",
        when(col("combined_score") >= 0.8, "auto_merge")
          .when(col("combined_score") >= 0.6, "human_review")
          .otherwise("no_match"))
      .withColumn("confidence_level",
        when(col("combined_score") >= 0.8, "high")
          .when(col("combined_score") >= 0.6, "medium")
          .otherwise("low"))
      .where(col("combined_score") > 0.3)
      .select("k1", "k2", "exact_score", "fuzzy_score", "business_score",
        "combined_score", "match_decision", "confidence_level")
      .orderBy("k1", "k2")
  }

  def q41_best_match_combine(s: SparkSession, dir: String): DataFrame = {
    // A7: the streaming path's score combine (`combine_scores`,
    // streaming_processor.py:280-344): for each INCOMING record, collapse
    // its candidate matches to the MAX score per strategy per candidate,
    // weighted-sum with the reference 4-way+ai weights, and keep ONLY the
    // argmax candidate at/above the review threshold — an incoming record
    // merges into at most one entity. Runs the production
    // Scoring.bestMatchPerRecord over SQL-expressible strategy scores so
    // DuckDB can replay the whole combine (incoming set = partkey % 3 == 0;
    // the part table's repeated p_type values make the exact strategy
    // reachable, so decisions span human_review AND auto_merge at sf>=0.01).
    import graft.mdm.{MatchConfig, Scoring}
    val base = t(s, dir, "part").where(pmod(col("p_partkey"), lit(7)) === 0)
    val scored = blockSelfPairs(base, "blk" -> col("p_brand"), col("p_partkey"),
        "n" -> col("p_name"), "t" -> col("p_type"), "s" -> col("p_size"),
        "pr" -> col("p_retailprice"))
      .select(col("k1").as("record1_id"), col("k2").as("record2_id"),
        when(col("t1") === col("t2"), 1.0).otherwise(0.0).as("exact_score"),
        round(levenshteinSim(col("n1"), col("n2")), 4).as("fuzzy_score"),
        round(least(col("pr1"), col("pr2")) / greatest(col("pr1"), col("pr2")), 4)
          .as("vector_score"),
        (when(abs(col("s1") - col("s2")) <= 5, 0.3).otherwise(0.0) + lit(0.2))
          .as("business_score"),
        lit(0.0).as("ai_score"))
    val newIds = base.where(pmod(col("p_partkey"), lit(3)) === 0)
      .select(col("p_partkey").as("record_id"))
    Scoring.bestMatchPerRecord(scored, newIds, MatchConfig.referenceWeights)
      .withColumn("combined_score", round(col("combined_score"), 4))
      .orderBy("record_id")
  }

  def q42_vector_strategy(s: SparkSession, dir: String): DataFrame = {
    // J7 + F6 on record-shaped data (VERDICT r2 missing #2): the reference
    // samples embeddings and LEFT-JOINs them back per record
    // (bigquery_utils.py:262-298,404-424), then the vector strategy pairs
    // records where BOTH sides carry an embedding and keeps
    // 1 - COSINE_DISTANCE above threshold as vector_score. Here the
    // deterministic record<->vec mapping is c_custkey = vec_id (embeddings
    // is a sample: 500 vectors, so coverage is partial exactly like the
    // reference's sampled-embeddings table); pair space is the same
    // nation-blocked self-join the other strategies use. DuckDB oracle via
    // list_cosine_similarity.
    // Pairs are generated over the customers that have an embedding (a
    // semi join, whose size estimate is its customer side, so the pair join
    // is placed like every other blocked pair query), then each side's
    // embedding is re-attached by id (J7): the same rows as LEFT-joining
    // first and keeping pairs whose e1 and e2 are both present.
    val e = t(s, dir, "embeddings").where(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"))
    val c = t(s, dir, "customer").join(e, col("c_custkey") === col("vec_id"), "left_semi")
    blockSelfPairs(c, "nk" -> col("c_nationkey"), col("c_custkey"))
      .join(e.select(col("vec_id").as("k1"), col("embedding").as("e1")), "k1")
      .join(e.select(col("vec_id").as("k2"), col("embedding").as("e2")), "k2")
      .withColumn("vector_score", round(cosineSim(col("e1"), col("e2")), 4))
      .where(col("vector_score") >= 0.3)
      .select(col("k1"), col("k2"), col("vector_score"))
      .orderBy("k1", "k2")
  }

  def q43_golden_merge(s: SparkSession, dir: String): DataFrame = {
    // S5 bulk MERGE upsert, oracle-checked (was ScalaTest-only through r2):
    // two golden-shaped tables built deterministically from customer rows
    // (existing = even custkeys of nations <20, incoming = odd custkeys of
    // nations >=10) so the merge exercises matched-update, insert, and
    // untouched rows; Golden.merge's full-outer most-recent-wins semantics
    // (spanner_utils.py insert_or_update shape) are replayed verbatim in the
    // DuckDB oracle. Arrays are emitted as joined strings (driver hashing).
    // recency_key = integer twin of struct(ts, custkey) ordering — both
    // engines argmax over the identical integer.
    import graft.mdm.Golden
    val c = t(s, dir, "customer")
      .withColumn("ts", date_add(to_date(lit("2024-01-01")),
        pmod(col("c_custkey"), lit(365)).cast("int")))
      .withColumn("recency_key",
        pmod(col("c_custkey"), lit(365)) * 10000000L + col("c_custkey"))
    def goldenSide(parity: Int, nationFilter: Column): DataFrame =
      c.where(pmod(col("c_custkey"), lit(2)) === parity && nationFilter)
        .groupBy(col("c_nationkey"))
        .agg(
          min(col("c_name")).as("master_text"),
          max_by(col("c_name"), col("recency_key")).as("master_url"),
          min(col("ts")).as("first_seen"),
          max(col("ts")).as("last_activity"),
          countDistinct(col("c_custkey")).as("source_record_count"),
          sort_array(collect_set(
            concat(lit("r"), lpad(col("c_custkey").cast("string"), 7, "0")))).as("source_record_ids"),
          sort_array(collect_set(
            concat(lit("d"), pmod(col("c_custkey"), lit(3))))).as("source_domains"))
        .select(
          concat(lit("m"), lpad(col("c_nationkey").cast("string"), 2, "0")).as("master_id"),
          concat(lit("nation:"), col("c_nationkey")).as("canonical_url"),
          col("master_url"), col("master_text"),
          lit("en").as("master_lang"),
          col("master_text").as("most_complete_text"),
          col("first_seen"), col("last_activity"),
          col("source_record_count"), col("source_record_ids"), col("source_domains"),
          concat(lit("m"), lpad(col("c_nationkey").cast("string"), 2, "0")).as("cluster_id"))
    val existing = goldenSide(0, col("c_nationkey") < 20)
    val incoming = goldenSide(1, col("c_nationkey") >= 10)
    // Unbounded lineageCap: this query pins MERGE semantics, and the oracle
    // always computes the exact distinct-union count + full arrays. At the
    // default cap a side reaching 10k members would flip Spark (alone) to
    // the summed-count fallback + sliced arrays — a false oracle mismatch
    // at SF >= ~4 even though both engines are self-consistent.
    Golden.merge(existing, incoming, lineageCap = Int.MaxValue)
      .select(col("master_id"), col("master_url"), col("master_text"),
        date_format(col("first_seen"), "yyyy-MM-dd").as("first_seen"),
        date_format(col("last_activity"), "yyyy-MM-dd").as("last_activity"),
        col("source_record_count"),
        array_join(col("source_record_ids"), ",").as("lineage_ids"),
        array_join(col("source_domains"), ",").as("domains"))
      .orderBy("master_id")
  }

  def q34_prefix_block_join(s: SparkSession, dir: String): DataFrame = {
    // J13: 3-char prefix block key equi-join (streaming_processor.py:118-131)
    blockSelfPairs(t(s, dir, "customer"), "blk" -> substring(col("c_name"), 16, 3),
        col("c_custkey"))
      .groupBy(col("blk")).agg(count(lit(1)).as("n_pairs"))
      .orderBy("blk")
  }

  // ---------------------------------------------------------------------
  // Oracle SQL (DuckDB 1.0) — same table names, same column names
  // ---------------------------------------------------------------------

  val oracle: Map[String, String] = Map(
    "q01_agg_lineitem" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        | count(*) AS n_rows,
        | CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | round(avg(l_discount), 4) AS avg_disc
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_pushdown" ->
      """SELECT CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | count(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin,
    "q03_join_agg" ->
      """SELECT c_mktsegment,
        | CAST(sum(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        | count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q04_broadcast_join" ->
      """SELECT n_name, count(*) AS n_items, CAST(sum(l_quantity) AS BIGINT) AS sum_qty
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q05_left_join_nullfill" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,
    "q06_anti_join" ->
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 450000)
        |ORDER BY c_custkey""".stripMargin,
    "q07_semi_join" ->
      """SELECT c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin,
    "q08_window_topk" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        | SELECT o_custkey, o_orderkey,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
        | FROM orders) WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin,
    "q09_survivorship_recency" ->
      """SELECT user_id, event_type AS last_type, value AS last_value,
        | strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |      FROM events) WHERE rn = 1 ORDER BY user_id""".stripMargin,
    "q10_survivorship_completeness" ->
      """SELECT lang, source, doc_id FROM (
        | SELECT lang, source, doc_id,
        |  row_number() OVER (PARTITION BY lang, source ORDER BY n_chars DESC, doc_id DESC) AS rn
        | FROM documents) WHERE rn = 1 ORDER BY lang, source""".stripMargin,
    "q11_union_align" ->
      """SELECT src, c_mktsegment, count(*) AS n FROM (
        | SELECT c_custkey, c_mktsegment, 'crm' AS src FROM customer WHERE c_custkey % 3 = 0
        | UNION ALL
        | SELECT c_custkey, c_mktsegment, 'erp' AS src FROM customer WHERE c_custkey % 3 = 1
        | UNION ALL
        | SELECT c_custkey, c_mktsegment, 'ecom' AS src FROM customer WHERE c_custkey % 3 = 2)
        |GROUP BY src, c_mktsegment ORDER BY src, c_mktsegment""".stripMargin,
    "q12_setops" ->
      """SELECT k FROM (
        | SELECT DISTINCT o_custkey AS k FROM orders
        | EXCEPT
        | SELECT c_custkey AS k FROM customer WHERE c_acctbal < 0)
        |ORDER BY k""".stripMargin,
    "q13_blocked_paircount" ->
      """SELECT a.c_nationkey, count(*) AS n_pairs
        |FROM customer a JOIN customer b
        | ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        |GROUP BY a.c_nationkey ORDER BY a.c_nationkey""".stripMargin,
    "q14_levenshtein_pairs" ->
      """SELECT k1, k2, sim FROM (
        | SELECT a.c_custkey AS k1, b.c_custkey AS k2,
        |  round(1.0 - CAST(levenshtein(a.c_name, b.c_name) AS DOUBLE)
        |        / greatest(length(a.c_name), length(b.c_name)), 4) AS sim
        | FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey)
        |WHERE sim >= 0.88 ORDER BY k1, k2""".stripMargin,
    "q15_token_overlap_docs" ->
      """SELECT d1, d2, ov FROM (
        | SELECT a.doc_id AS d1, b.doc_id AS d2,
        |  round(CAST(len(list_intersect(list_distinct(list_filter(string_split(a.text,' '), x -> x <> '')),
        |                                list_distinct(list_filter(string_split(b.text,' '), x -> x <> '')))) AS DOUBLE)
        |   / greatest(len(list_distinct(list_filter(string_split(a.text,' '), x -> x <> ''))),
        |              len(list_distinct(list_filter(string_split(b.text,' '), x -> x <> '')))), 4) AS ov
        | FROM documents a JOIN documents b
        |  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
        |WHERE ov >= 0.3 ORDER BY d1, d2""".stripMargin,
    "q16_jaccard_shingles" ->
      """WITH sh AS (
        | SELECT doc_id, source,
        |  list_distinct(list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        | FROM (SELECT doc_id, source, list_filter(string_split(text,' '), x -> x <> '') AS toks
        |       FROM documents)
        | WHERE len(toks) >= 3)
        |SELECT d1, d2, jac FROM (
        | SELECT a.doc_id AS d1, b.doc_id AS d2,
        |  round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |    / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 4) AS jac
        | FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id)
        |WHERE jac > 0 ORDER BY d1, d2""".stripMargin,
    "q17_minhash_md5" ->
      """WITH sh AS (
        | SELECT doc_id,
        |  CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |       ELSE list_transform(range(1, len(toks) - 1),
        |              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS sh
        | FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS toks
        |       FROM documents))
        |SELECT doc_id,
        | list_aggregate(list_transform(sh, x -> md5('0|' || x)), 'min') AS mh0,
        | list_aggregate(list_transform(sh, x -> md5('1|' || x)), 'min') AS mh1,
        | list_aggregate(list_transform(sh, x -> md5('2|' || x)), 'min') AS mh2,
        | list_aggregate(list_transform(sh, x -> md5('3|' || x)), 'min') AS mh3
        |FROM sh ORDER BY doc_id""".stripMargin,
    "q18_lsh_band_pairs" ->
      """WITH sh AS (
        | SELECT doc_id,
        |  CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |       ELSE list_transform(range(1, len(toks) - 1),
        |              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS sh
        | FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS toks
        |       FROM documents)),
        |sig AS (
        | SELECT doc_id,
        |  md5(list_aggregate(list_transform(sh, x -> md5('0|' || x)), 'min')
        |   || list_aggregate(list_transform(sh, x -> md5('1|' || x)), 'min')) AS band0,
        |  md5(list_aggregate(list_transform(sh, x -> md5('2|' || x)), 'min')
        |   || list_aggregate(list_transform(sh, x -> md5('3|' || x)), 'min')) AS band1
        | FROM sh),
        |keys AS (
        | SELECT doc_id, band0 AS bk FROM sig UNION ALL SELECT doc_id, band1 FROM sig)
        |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        |FROM keys a JOIN keys b ON a.bk = b.bk AND a.doc_id < b.doc_id
        |ORDER BY d1, d2""".stripMargin,
    "q19_exact_dedup" ->
      """SELECT md5(text) AS h, count(*) AS n, min(doc_id) AS keep_id
        |FROM documents GROUP BY md5(text) ORDER BY h""".stripMargin,
    "q20_simhash8" ->
      """WITH tok AS (
        | SELECT doc_id, md5(unnest(list_filter(string_split(text,' '), x -> x <> ''))) AS hx
        | FROM documents),
        |votes AS (
        | SELECT doc_id,
        |  sum(CASE WHEN (strpos('0123456789abcdef', substr(hx,1,1)) - 1) & 1 = 1 THEN 1 ELSE -1 END) AS v0,
        |  sum(CASE WHEN (strpos('0123456789abcdef', substr(hx,2,1)) - 1) & 1 = 1 THEN 1 ELSE -1 END) AS v1,
        |  sum(CASE WHEN (strpos('0123456789abcdef', substr(hx,3,1)) - 1) & 1 = 1 THEN 1 ELSE -1 END) AS v2,
        |  sum(CASE WHEN (strpos('0123456789abcdef', substr(hx,4,1)) - 1) & 1 = 1 THEN 1 ELSE -1 END) AS v3,
        |  sum(CASE WHEN (strpos('0123456789abcdef', substr(hx,5,1)) - 1) & 1 = 1 THEN 1 ELSE -1 END) AS v4,
        |  sum(CASE WHEN (strpos('0123456789abcdef', substr(hx,6,1)) - 1) & 1 = 1 THEN 1 ELSE -1 END) AS v5,
        |  sum(CASE WHEN (strpos('0123456789abcdef', substr(hx,7,1)) - 1) & 1 = 1 THEN 1 ELSE -1 END) AS v6,
        |  sum(CASE WHEN (strpos('0123456789abcdef', substr(hx,8,1)) - 1) & 1 = 1 THEN 1 ELSE -1 END) AS v7
        | FROM tok GROUP BY doc_id)
        |SELECT doc_id,
        | (CASE WHEN v0>0 THEN 1 ELSE 0 END) + (CASE WHEN v1>0 THEN 2 ELSE 0 END)
        | + (CASE WHEN v2>0 THEN 4 ELSE 0 END) + (CASE WHEN v3>0 THEN 8 ELSE 0 END)
        | + (CASE WHEN v4>0 THEN 16 ELSE 0 END) + (CASE WHEN v5>0 THEN 32 ELSE 0 END)
        | + (CASE WHEN v6>0 THEN 64 ELSE 0 END) + (CASE WHEN v7>0 THEN 128 ELSE 0 END) AS simhash
        |FROM votes ORDER BY doc_id""".stripMargin,
    "q21_cosine_pairs" ->
      """SELECT a.label = b.label AS same_label, count(*) AS n
        |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        |WHERE a.vec_id < 1000 AND b.vec_id < 1000
        |  AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.35
        |GROUP BY same_label ORDER BY same_label""".stripMargin,
    "q22_ann_topk" ->
      """SELECT qid, rk, nid FROM (
        | SELECT a.vec_id AS qid, b.vec_id AS nid,
        |  row_number() OVER (PARTITION BY a.vec_id
        |    ORDER BY round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) DESC,
        |             b.vec_id) AS rk
        | FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
        | WHERE a.vec_id < 10)
        |WHERE rk <= 3 ORDER BY qid, rk""".stripMargin,
    "q23_business_rules" ->
      """SELECT score, count(*) AS n_pairs FROM (
        | SELECT round(
        |   (CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 0.3 ELSE 0.0 END)
        |   + 0.2
        |   + (CASE WHEN a.c_acctbal > 0 AND b.c_acctbal > 0
        |           AND least(a.c_acctbal, b.c_acctbal) / greatest(a.c_acctbal, b.c_acctbal) >= 0.8
        |      THEN 0.1 ELSE 0.0 END), 2) AS score
        | FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey)
        |GROUP BY score ORDER BY score""".stripMargin,
    "q24_ensemble_decision" ->
      """SELECT decision, count(*) AS n FROM (
        | SELECT CASE WHEN combined >= 0.8 THEN 'auto_merge'
        |             WHEN combined >= 0.6 THEN 'human_review'
        |             WHEN combined > 0.3 THEN 'potential'
        |             ELSE 'no_match' END AS decision
        | FROM (
        |  SELECT (CASE WHEN a.c_name = b.c_name THEN 1.0 ELSE 0.0 END) * 0.30
        |   + (1.0 - CAST(levenshtein(a.c_name, b.c_name) AS DOUBLE)
        |        / greatest(length(a.c_name), length(b.c_name))) * 0.25
        |   + ((CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 0.3 ELSE 0.0 END) + 0.2) * 0.15
        |   AS combined
        |  FROM customer a JOIN customer b
        |   ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey))
        |GROUP BY decision ORDER BY decision""".stripMargin,
    "q25_master_id" ->
      """SELECT c_custkey, substr(sha256('name:' || c_name), 1, 36) AS master_id
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "q26_deterministic_sample" ->
      """SELECT c_custkey FROM customer
        |ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey LIMIT 20""".stripMargin,
    "q27_cc_propagate" ->
      """WITH edges AS (
        | SELECT o_custkey AS u, o_orderkey + 10000000 AS v FROM orders),
        |sym AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges),
        |l1 AS (SELECT u, least(min(v), u) AS l1 FROM sym GROUP BY u),
        |l2 AS (SELECT sym.u, min(n.l1) AS minnb
        |       FROM sym JOIN l1 n ON sym.v = n.u GROUP BY sym.u)
        |SELECT l1.u AS node, least(l1.l1, coalesce(l2.minnb, l1.l1)) AS label
        |FROM l1 LEFT JOIN l2 ON l1.u = l2.u
        |WHERE l1.u < 10000000 ORDER BY node""".stripMargin,
    "q28_time_bucket_agg" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hr,
        | event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hr, event_type""".stripMargin,
    "q29_text_quality" ->
      """SELECT doc_id,
        | len(toks) AS n_tokens,
        | CASE WHEN len(toks) = 0 THEN NULL ELSE
        |  round(CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
        |   / CAST(len(toks) AS DOUBLE), 4) END AS avg_tok_len,
        | CASE WHEN len(toks) = 0 THEN NULL ELSE
        |  round(CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE), 4) END AS ttr,
        | n_chars
        |FROM (SELECT doc_id, n_chars, list_filter(string_split(text,' '), x -> x <> '') AS toks
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q30_token_topk_per_lang" ->
      """SELECT lang, rk, tok, cnt FROM (
        | SELECT lang, tok, cnt,
        |  row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, tok) AS rk
        | FROM (SELECT lang, tok, count(*) AS cnt FROM (
        |   SELECT lang, unnest(list_filter(string_split(text,' '), x -> x <> '')) AS tok
        |   FROM documents) GROUP BY 1, 2))
        |WHERE rk <= 5 ORDER BY lang, rk""".stripMargin,
    "q31_fingerprint" ->
      """SELECT doc_id,
        | md5(array_to_string(list_filter(string_split(text,' '), x -> x <> '')[1:8], ' ')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q32_binary_plumbing" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
        | substr(sha256(text), 1, 16) AS content_key
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q33_distinct_counts" ->
      """SELECT c_mktsegment, count(DISTINCT c_nationkey) AS n_nations, count(*) AS n
        |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q34_prefix_block_join" ->
      """SELECT substr(a.c_name, 16, 3) AS blk, count(*) AS n_pairs
        |FROM customer a JOIN customer b
        | ON substr(a.c_name, 16, 3) = substr(b.c_name, 16, 3)
        |  AND a.c_custkey < b.c_custkey
        |GROUP BY blk ORDER BY blk""".stripMargin,
    "q35_minhash_band_dedup" ->
      """WITH sh AS (
        | SELECT doc_id,
        |  CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |       ELSE list_transform(range(1, len(toks) - 1),
        |              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS sh
        | FROM (SELECT doc_id, list_filter(string_split(text,' '), x -> x <> '') AS toks
        |       FROM documents)),
        |sig AS (
        | SELECT doc_id,
        |  list_transform(range(0, 8),
        |    i -> list_aggregate(list_transform(sh, x -> md5(CAST(i AS VARCHAR) || '|' || x)), 'min')) AS sig
        | FROM sh),
        |keys AS (
        | SELECT doc_id, sig, unnest(list_transform(range(0, 4),
        |   j -> md5(sig[2*j+1] || sig[2*j+2]))) AS bk
        | FROM sig),
        |pairs AS (
        | SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.sig AS s1, b.sig AS s2
        | FROM keys a JOIN keys b ON a.bk = b.bk AND a.doc_id < b.doc_id)
        |SELECT d1, d2,
        | CAST(len(list_filter(range(1, 9), i -> s1[i] = s2[i])) AS DOUBLE) / 8.0 AS est
        |FROM pairs
        |WHERE CAST(len(list_filter(range(1, 9), i -> s1[i] = s2[i])) AS DOUBLE) / 8.0 >= 0.25
        |ORDER BY d1, d2""".stripMargin,
    "q36_simhash_hamming_dedup" ->
      """WITH tok AS (
        | SELECT doc_id, md5(unnest(list_filter(string_split(text,' '), x -> x <> ''))) AS hx
        | FROM documents),
        |bits AS (
        | SELECT doc_id, k,
        |  CASE WHEN (strpos('0123456789abcdef', substr(hx, k + 1, 1)) - 1) & 1 = 1
        |       THEN 1 ELSE -1 END AS v
        | FROM tok, unnest(range(0, 16)) AS t(k)),
        |sig AS (
        | SELECT doc_id, CAST(sum(CASE WHEN sv > 0 THEN 1 << k ELSE 0 END) AS BIGINT) AS h
        | FROM (SELECT doc_id, k, sum(v) AS sv FROM bits GROUP BY doc_id, k)
        | GROUP BY doc_id),
        |keys AS (
        | SELECT doc_id, h, 'b0:' || CAST(h & 255 AS VARCHAR) AS bk FROM sig
        | UNION ALL
        | SELECT doc_id, h, 'b1:' || CAST((h >> 8) & 255 AS VARCHAR) FROM sig)
        |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
        | CAST(bit_count(xor(a.h, b.h)) AS INT) AS hamming
        |FROM keys a JOIN keys b ON a.bk = b.bk AND a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.h, b.h)) <= 3
        |ORDER BY d1, d2""".stripMargin,
    "q44_hyperplane_cosine_dedup" ->
      // Replays the md5-digit hyperplane derivation, the exact-integer
      // bucket decision (floor(emb*1000) components x integer weights),
      // the band join, and the exact-cosine verify. emb[d+1]: DuckDB lists
      // are 1-based; d is the 0-based dim index shared with Spark's md5 key.
      """WITH e AS (
        | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (
        | SELECT vec_id, list_transform(emb, x -> CAST(floor(x * 1000) AS BIGINT)) AS qe FROM e),
        |wt AS (
        | SELECT t, p, d,
        |  ((  (strpos('0123456789abcdef', substr(h, 1, 1)) - 1)
        |    + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1) * 16
        |    + (strpos('0123456789abcdef', substr(h, 3, 1)) - 1) * 256
        |    + (strpos('0123456789abcdef', substr(h, 4, 1)) - 1) * 4096) % 2001 - 1000) AS w
        | FROM (SELECT t, p, d,
        |        md5('hp:' || CAST(t AS VARCHAR) || ':' || CAST(p AS VARCHAR) || ':' || CAST(d AS VARCHAR)) AS h
        |       FROM range(0, 2) r1(t), range(0, 6) r2(p), range(0, 64) r3(d))),
        |dots AS (
        | SELECT q.vec_id, wt.t, wt.p, sum(q.qe[wt.d + 1] * wt.w) AS dot
        | FROM q, wt GROUP BY 1, 2, 3),
        |keys AS (
        | SELECT vec_id, CAST(t AS VARCHAR) || ':' ||
        |   CAST(sum(CASE WHEN dot > 0 THEN 1 << p ELSE 0 END) AS VARCHAR) AS bk
        | FROM dots GROUP BY vec_id, t),
        |pairs AS (
        | SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
        | FROM keys a JOIN keys b ON a.bk = b.bk AND a.vec_id < b.vec_id)
        |SELECT p.v1, p.v2, round(list_cosine_similarity(a.emb, b.emb), 4) AS cos_r
        |FROM pairs p JOIN e a ON a.vec_id = p.v1 JOIN e b ON b.vec_id = p.v2
        |WHERE list_cosine_similarity(a.emb, b.emb) >= 0.4
        |ORDER BY v1, v2""".stripMargin,
    "q45_ivf_ann_topk" ->
      // Replays the md5-ordered centroid sample, nearest-centroid inverted
      // lists, nProbe=4 multi-probe, and top-3 per query. Orderings use
      // round(cos, 6) + id tie-break in BOTH engines (q22 convention).
      """WITH e AS (
        | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |cent AS (
        | SELECT vec_id AS cid, emb AS ce FROM e
        | ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT 16),
        |inv AS (
        | SELECT nid, cid FROM (
        |  SELECT e.vec_id AS nid, c.cid,
        |   row_number() OVER (PARTITION BY e.vec_id
        |     ORDER BY round(list_cosine_similarity(e.emb, c.ce), 6) DESC, c.cid) AS rn
        |  FROM e, cent c) WHERE rn = 1),
        |probes AS (
        | SELECT qid, cid FROM (
        |  SELECT q.vec_id AS qid, c.cid,
        |   row_number() OVER (PARTITION BY q.vec_id
        |     ORDER BY round(list_cosine_similarity(q.emb, c.ce), 6) DESC, c.cid) AS rn
        |  FROM e q, cent c WHERE q.vec_id < 10) WHERE rn <= 4)
        |SELECT qid, rk, nid FROM (
        | SELECT p.qid, i.nid,
        |  row_number() OVER (PARTITION BY p.qid
        |    ORDER BY round(list_cosine_similarity(q.emb, n.emb), 6) DESC, i.nid) AS rk
        | FROM probes p JOIN inv i ON i.cid = p.cid
        |  JOIN e q ON q.vec_id = p.qid JOIN e n ON n.vec_id = i.nid
        | WHERE p.qid <> i.nid) WHERE rk <= 3
        |ORDER BY qid, rk""".stripMargin,
    "q46_pipeline_e2e_golden" ->
      // Full-pipeline replay: pages -> standardize -> domain+LSH blocking ->
      // candidate pairs -> 4-strategy scoring -> >=0.6 edges -> recursive-CTE
      // connected components -> window-function survivorship. Conventions:
      // md5 minhash slots compared on first-15-hex prefixes (== the Spark
      // side's conv-to-long slots), fuzzy/combined rounded at 4 (q40),
      // min-label CC (er_cc_fixpoint), recency/completeness argmax via
      // row_number windows with record_id DESC tie-breaks (Golden max_by
      // struct ordering).
      """WITH RECURSIVE
        |docs AS (SELECT doc_id, text, lang FROM documents),
        |pages AS (
        | SELECT 'https://www.site' || (doc_id % 40) || '.com/docs/page-' || doc_id AS url,
        |  (DATE '2024-01-01' + CAST(doc_id % 365 AS INTEGER))::TIMESTAMP AS warc_ts,
        |  text, lang FROM docs
        | UNION ALL
        | SELECT 'https://site' || (doc_id % 40) || '.com/docs/page-' || doc_id || '?utm_source=mirror',
        |  (DATE '2024-01-01' + CAST(doc_id % 365 + 3 AS INTEGER))::TIMESTAMP,
        |  CASE WHEN doc_id % 6 = 0 THEN text ELSE text || ' mirror footer appended' END,
        |  lang FROM docs WHERE doc_id % 3 = 0),
        |clean AS (
        | SELECT substr(sha256(url || '|' || CAST(warc_ts AS VARCHAR)), 1, 36) AS record_id,
        |  url, warc_ts, text, lang,
        |  'https://' || domain || path AS url_canon, domain,
        |  regexp_extract(path, '([^/]+)$', 1) AS slug,
        |  md5(text) AS text_md5, substr(text, 1, 64) AS head,
        |  len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens
        | FROM (
        |  SELECT url, warc_ts, text, lang,
        |   regexp_replace(host, '^(www\.|m\.|amp\.)', '') AS domain,
        |   regexp_replace(regexp_replace(pathq, '[?#].*$', ''), '/+$', '') AS path
        |  FROM (
        |   SELECT url, warc_ts, text, lang,
        |    regexp_extract(nos, '^([^/?#]+)', 1) AS host,
        |    regexp_replace(nos, '^[^/?#]+', '') AS pathq
        |   FROM (SELECT url, warc_ts, text, lang,
        |          regexp_replace(lower(trim(url)), '^https?://', '') AS nos
        |         FROM pages)))),
        |sh AS (
        | SELECT record_id,
        |  CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
        |       ELSE list_transform(range(1, len(toks) - 1),
        |              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) END AS sh
        | FROM (SELECT record_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        |       FROM clean)),
        |sig AS (
        | SELECT record_id,
        |  list_transform(range(0, 4),
        |    i -> list_aggregate(list_transform(sh, x -> md5(CAST(i AS VARCHAR) || '|' || x)), 'min')) AS mh
        | FROM sh),
        |keys AS (
        | SELECT record_id, 'd:' || domain AS bk FROM clean
        | UNION ALL SELECT record_id, 'b:' || md5(mh[1] || mh[2]) FROM sig
        | UNION ALL SELECT record_id, 'b:' || md5(mh[3] || mh[4]) FROM sig),
        |cand AS (
        | SELECT DISTINCT a.record_id AS id1, b.record_id AS id2
        | FROM keys a JOIN keys b ON a.bk = b.bk AND a.record_id < b.record_id),
        |feat AS (
        | SELECT id1, id2,
        |  greatest(CASE WHEN ca.url_canon = cb.url_canon THEN 1.0 ELSE 0.0 END,
        |           CASE WHEN ca.text_md5 = cb.text_md5 THEN 1.0 ELSE 0.0 END) AS exact_score,
        |  round(greatest(
        |    jaro_winkler_similarity(ca.slug, cb.slug),
        |    1.0 - CAST(levenshtein(ca.head, cb.head) AS DOUBLE)
        |        / CAST(greatest(length(ca.head), length(cb.head)) AS DOUBLE),
        |    CAST(len(list_intersect(list_distinct(regexp_split_to_array(ca.head, '\s+')),
        |                            list_distinct(regexp_split_to_array(cb.head, '\s+')))) AS DOUBLE)
        |      / CAST(greatest(len(list_distinct(regexp_split_to_array(ca.head, '\s+'))),
        |                      len(list_distinct(regexp_split_to_array(cb.head, '\s+')))) AS DOUBLE)
        |    ), 4) AS fuzzy_score,
        |  CAST(len(list_filter(range(1, 5),
        |    i -> substr(sa.mh[i], 1, 15) = substr(sb.mh[i], 1, 15))) AS DOUBLE) / 4.0 AS vector_score,
        |  least(1.0,
        |    CASE WHEN ca.domain = cb.domain THEN 0.3 ELSE 0.0 END +
        |    CASE WHEN ca.lang = cb.lang THEN 0.2 ELSE 0.0 END +
        |    CASE WHEN abs(epoch(ca.warc_ts) - epoch(cb.warc_ts)) / 86400.0 <= 7 THEN 0.4
        |         WHEN abs(epoch(ca.warc_ts) - epoch(cb.warc_ts)) / 86400.0 <= 90 THEN 0.2
        |         ELSE 0.0 END +
        |    CASE WHEN CAST(least(ca.n_tokens, cb.n_tokens) AS DOUBLE)
        |            / CAST(greatest(ca.n_tokens, cb.n_tokens) AS DOUBLE) >= 0.8
        |         THEN 0.1 ELSE 0.0 END) AS business_score
        | FROM cand JOIN clean ca ON cand.id1 = ca.record_id
        |           JOIN clean cb ON cand.id2 = cb.record_id
        |           JOIN sig sa ON cand.id1 = sa.record_id
        |           JOIN sig sb ON cand.id2 = sb.record_id),
        |edges AS (
        | SELECT id1 AS src, id2 AS dst FROM feat
        | WHERE round(exact_score * 0.25 + fuzzy_score * 0.35 + vector_score * 0.25 +
        |             business_score * 0.15 + 0.0 * 0.0, 4) >= 0.6),
        |sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
        |reach(a, b) AS (
        | SELECT record_id, record_id FROM clean
        | UNION
        | SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src),
        |assign AS (SELECT a AS record_id, min(b) AS cluster_id FROM reach GROUP BY a),
        |g AS (SELECT c.*, a.cluster_id FROM clean c JOIN assign a ON c.record_id = a.record_id),
        |rec AS (SELECT *,
        |  row_number() OVER (PARTITION BY cluster_id ORDER BY warc_ts DESC, record_id DESC) AS rn_rec,
        |  row_number() OVER (PARTITION BY cluster_id ORDER BY length(text) DESC, record_id DESC) AS rn_comp
        | FROM g),
        |agg AS (SELECT cluster_id, min(url_canon) AS canonical_url,
        |  min(warc_ts) AS first_ts, max(warc_ts) AS last_ts,
        |  count(DISTINCT record_id) AS n_members,
        |  string_agg(record_id, ',' ORDER BY record_id) AS lineage_ids
        | FROM g GROUP BY cluster_id),
        |sel AS (SELECT cluster_id,
        |  max(CASE WHEN rn_rec = 1 THEN url_canon END) AS master_url,
        |  max(CASE WHEN rn_rec = 1 THEN md5(text) END) AS master_text_md5,
        |  max(CASE WHEN rn_rec = 1 THEN lang END) AS master_lang,
        |  max(CASE WHEN rn_comp = 1 THEN CAST(length(text) AS BIGINT) END) AS complete_len
        | FROM rec GROUP BY cluster_id)
        |SELECT substr(sha256('url:' || canonical_url), 1, 36) AS master_id,
        | canonical_url, master_url, master_text_md5, master_lang, complete_len,
        | n_members,
        | strftime(first_ts, '%Y-%m-%d %H:%M:%S') AS first_seen,
        | strftime(last_ts, '%Y-%m-%d %H:%M:%S') AS last_activity,
        | lineage_ids
        |FROM agg JOIN sel USING (cluster_id)
        |ORDER BY master_id""".stripMargin,
    "er_jaro_winkler" ->
      // DuckDB 1.0 ships jaro_winkler_similarity with Winkler's original
      // strcmp95 conventions (floored transpositions, 0.7 boost threshold,
      // prefix<=4, p=0.1) — parity with graft.functions.JaroWinkler verified
      // empirically over 8k pairs (FunctionsSpec pins the conventions).
      """SELECT k1, k2, jw FROM (
        | SELECT a.c_custkey AS k1, b.c_custkey AS k2,
        |  round(jaro_winkler_similarity(a.c_name, b.c_name), 4) AS jw
        | FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey)
        |WHERE jw >= 0.97 ORDER BY k1, k2""".stripMargin,
    "q37_standardize_customer" ->
      // DuckDB regexp_replace needs the 'g' flag to match Spark's
      // replace-all semantics; patterns are RE2-safe (\s, \b ASCII).
      """SELECT p_partkey,
        | trim(upper(regexp_replace(p_name || ' #' || CAST(p_partkey AS VARCHAR),
        |   '[^a-zA-Z\s]', '', 'g'))) AS name_clean,
        | lower(trim('  ' || upper(p_name) || '@EXample.COM ')) AS email_clean,
        | regexp_replace('tel: +1 (' || CAST(p_partkey AS VARCHAR) || ') 555-01',
        |   '[^0-9]', '', 'g') AS phone_clean,
        | trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |   upper(p_name || ' STREET near ROAD end AVENUE'),
        |   '\bSTREET\b', 'ST', 'g'), '\bAVENUE\b', 'AVE', 'g'),
        |   '\bBOULEVARD\b', 'BLVD', 'g'), '\bROAD\b', 'RD', 'g'),
        |   '\bDRIVE\b', 'DR', 'g')) AS addr_clean,
        | upper(trim(p_type)) AS segment_clean
        |FROM part ORDER BY p_partkey""".stripMargin,
    "q38_record_fuzzy_soundex" ->
      """WITH base AS (
        | SELECT p_partkey AS c_custkey, p_brand AS c_nationkey,
        |  trim(upper(regexp_replace(p_name, '[^a-zA-Z\s]', '', 'g'))) AS nm,
        |  trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    upper(p_name || ' STREET'), '\bSTREET\b', 'ST', 'g'), '\bAVENUE\b', 'AVE', 'g'),
        |    '\bBOULEVARD\b', 'BLVD', 'g'), '\bROAD\b', 'RD', 'g'), '\bDRIVE\b', 'DR', 'g')) AS ad
        | FROM part WHERE p_partkey % 7 = 0),
        |names AS (SELECT DISTINCT nm AS s FROM base),
        |withcs AS (SELECT s, regexp_extract_all(s, '.') AS cs FROM names),
        |chars AS (
        | SELECT s, i,
        |  CASE WHEN strpos('ABCDEFGHIJKLMNOPQRSTUVWXYZ', upper(cs[i])) = 0 THEN '0'
        |       ELSE substr('01230127022455012623017202',
        |                   strpos('ABCDEFGHIJKLMNOPQRSTUVWXYZ', upper(cs[i])), 1) END AS d
        | FROM withcs, unnest(range(1, len(cs) + 1)) AS r(i)),
        |nosev AS (
        | SELECT s, i, d, lag(d) OVER (PARTITION BY s ORDER BY i) AS prev
        | FROM chars WHERE d <> '7'),
        |kept AS (
        | SELECT s, i, d, row_number() OVER (PARTITION BY s ORDER BY i) AS rn
        | FROM nosev
        | WHERE i > 1 AND d BETWEEN '1' AND '6' AND (prev IS NULL OR d <> prev)),
        |tails AS (
        | SELECT s, string_agg(d, '' ORDER BY i) AS tail FROM kept WHERE rn <= 3 GROUP BY s),
        |sdx AS (
        | SELECT n.s,
        |  CASE WHEN n.s IS NULL OR n.s = '' THEN n.s
        |       WHEN strpos('ABCDEFGHIJKLMNOPQRSTUVWXYZ', upper(substr(n.s,1,1))) = 0 THEN n.s
        |       ELSE upper(substr(n.s,1,1)) || rpad(coalesce(t.tail, ''), 3, '0') END AS sdx
        | FROM names n LEFT JOIN tails t ON n.s = t.s),
        |pairs AS (
        | SELECT a.c_custkey AS k1, b.c_custkey AS k2,
        |  a.nm AS nm1, b.nm AS nm2, a.ad AS ad1, b.ad AS ad2, sa.sdx AS sdx1, sb.sdx AS sdx2
        | FROM base a JOIN base b ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        | JOIN sdx sa ON sa.s = a.nm JOIN sdx sb ON sb.s = b.nm),
        |feat AS (
        | SELECT k1, k2,
        |  CASE WHEN nm1 IS NOT NULL AND nm2 IS NOT NULL AND greatest(length(nm1), length(nm2)) > 0
        |       THEN 1.0 - CAST(levenshtein(nm1, nm2) AS DOUBLE) / greatest(length(nm1), length(nm2))
        |       ELSE 0.0 END AS ne,
        |  CASE WHEN sdx1 = sdx2 AND nm1 IS NOT NULL THEN 0.8 ELSE 0.0 END AS ns,
        |  CASE WHEN nm1 IS NOT NULL AND nm2 IS NOT NULL THEN
        |    CAST(len(list_filter(string_split(nm1, ' '), t -> list_contains(string_split(nm2, ' '), t))) AS DOUBLE)
        |      / greatest(len(string_split(nm1, ' ')), len(string_split(nm2, ' ')))
        |    ELSE 0.0 END AS nt,
        |  CASE WHEN ad1 IS NOT NULL AND ad2 IS NOT NULL AND greatest(length(ad1), length(ad2)) > 0
        |       THEN 1.0 - CAST(levenshtein(ad1, ad2) AS DOUBLE) / greatest(length(ad1), length(ad2))
        |       ELSE 0.0 END AS ae
        | FROM pairs)
        |SELECT k1, k2, ns AS name_soundex, round((greatest(ne, ns, nt) + ae) / 2, 4) AS fuzzy
        |FROM feat WHERE greatest(ne, ns, nt, ae) > 0.5 ORDER BY k1, k2""".stripMargin,
    "q39_json_staging" ->
      """WITH g AS (
        | SELECT c_nationkey, count(*) AS n_members, min(c_name) AS canonical_name
        | FROM customer GROUP BY c_nationkey)
        |SELECT c_nationkey,
        | CAST(to_json(struct_pack(nation := c_nationkey, name := canonical_name,
        |   members := n_members)) AS VARCHAR) AS golden_record_data,
        | canonical_name AS name_back
        |FROM g ORDER BY c_nationkey""".stripMargin,
    "q40_match_audit" ->
      """SELECT k1, k2, exact_score, fuzzy_score, business_score, combined_score,
        | CASE WHEN combined_score >= 0.8 THEN 'auto_merge'
        |      WHEN combined_score >= 0.6 THEN 'human_review'
        |      ELSE 'no_match' END AS match_decision,
        | CASE WHEN combined_score >= 0.8 THEN 'high'
        |      WHEN combined_score >= 0.6 THEN 'medium'
        |      ELSE 'low' END AS confidence_level
        |FROM (
        | SELECT k1, k2, exact_score, fuzzy_score, business_score,
        |  round(exact_score * 0.30 + fuzzy_score * 0.25 + business_score * 0.15, 4) AS combined_score
        | FROM (
        |  SELECT a.c_custkey AS k1, b.c_custkey AS k2,
        |   CASE WHEN a.c_name = b.c_name THEN 1.0 ELSE 0.0 END AS exact_score,
        |   round(1.0 - CAST(levenshtein(a.c_name, b.c_name) AS DOUBLE)
        |     / greatest(length(a.c_name), length(b.c_name)), 4) AS fuzzy_score,
        |   (CASE WHEN a.c_mktsegment = b.c_mktsegment THEN 0.3 ELSE 0.0 END) + 0.2 AS business_score
        |  FROM customer a JOIN customer b
        |   ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey))
        |WHERE combined_score > 0.3 ORDER BY k1, k2""".stripMargin,
    "q41_best_match_combine" ->
      """WITH base AS (SELECT * FROM part WHERE p_partkey % 7 = 0),
        |pairs AS (
        | SELECT a.p_partkey AS k1, b.p_partkey AS k2,
        |  CASE WHEN a.p_type = b.p_type THEN 1.0 ELSE 0.0 END AS exact_score,
        |  round(1.0 - CAST(levenshtein(a.p_name, b.p_name) AS DOUBLE)
        |    / greatest(length(a.p_name), length(b.p_name)), 4) AS fuzzy_score,
        |  round(least(a.p_retailprice, b.p_retailprice)
        |    / greatest(a.p_retailprice, b.p_retailprice), 4) AS vector_score,
        |  (CASE WHEN abs(a.p_size - b.p_size) <= 5 THEN 0.3 ELSE 0.0 END) + 0.2 AS business_score,
        |  0.0 AS ai_score
        | FROM base a JOIN base b
        |  ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey),
        |oriented AS (
        | SELECT k1 AS record_id, k2 AS candidate_id, exact_score, fuzzy_score,
        |  vector_score, business_score, ai_score FROM pairs WHERE k1 % 3 = 0
        | UNION ALL
        | SELECT k2, k1, exact_score, fuzzy_score,
        |  vector_score, business_score, ai_score FROM pairs WHERE k2 % 3 = 0),
        |cand AS (
        | SELECT record_id, candidate_id,
        |  max(exact_score) AS exact_score, max(fuzzy_score) AS fuzzy_score,
        |  max(vector_score) AS vector_score, max(business_score) AS business_score,
        |  max(ai_score) AS ai_score
        | FROM oriented GROUP BY record_id, candidate_id),
        |comb AS (
        | SELECT *, exact_score * 0.30 + fuzzy_score * 0.25 + vector_score * 0.20
        |   + business_score * 0.15 + ai_score * 0.10 AS combined_score FROM cand),
        |rk AS (
        | SELECT *, row_number() OVER (PARTITION BY record_id
        |   ORDER BY combined_score DESC, candidate_id) AS rn FROM comb)
        |SELECT record_id, candidate_id AS best_match_id, exact_score, fuzzy_score,
        | vector_score, business_score, ai_score,
        | round(combined_score, 4) AS combined_score,
        | CASE WHEN combined_score >= 0.8 THEN 'auto_merge'
        |      WHEN combined_score >= 0.6 THEN 'human_review'
        |      ELSE 'no_match' END AS match_decision,
        | CASE WHEN combined_score >= 0.8 THEN 'high'
        |      WHEN combined_score >= 0.6 THEN 'medium'
        |      ELSE 'low' END AS confidence_level
        |FROM rk WHERE rn = 1 AND combined_score >= 0.6
        |ORDER BY record_id""".stripMargin,
    "er_soundex" ->
      // Spark-soundex replica in portable SQL: explode chars -> map to codes
      // (H/W='7' transparent: removed BEFORE the lag; vowels/Y/non-letters
      // ='0' reset separators) -> keep digits differing from the previous
      // surviving code -> first 3, zero-padded. list_reduce was rejected:
      // DuckDB 1.0 returns chunk-position-dependent results for stateful
      // lambdas (observed 13/3030 corruptions).
      """WITH base AS (SELECT DISTINCT p_name AS s FROM part),
        |withcs AS (SELECT s, regexp_extract_all(s, '.') AS cs FROM base),
        |chars AS (
        | SELECT s, i,
        |  CASE WHEN strpos('ABCDEFGHIJKLMNOPQRSTUVWXYZ', upper(cs[i])) = 0 THEN '0'
        |       ELSE substr('01230127022455012623017202',
        |                   strpos('ABCDEFGHIJKLMNOPQRSTUVWXYZ', upper(cs[i])), 1) END AS d
        | FROM withcs, unnest(range(1, len(cs) + 1)) AS r(i)),
        |nosev AS (
        | SELECT s, i, d, lag(d) OVER (PARTITION BY s ORDER BY i) AS prev
        | FROM chars WHERE d <> '7'),
        |kept AS (
        | SELECT s, i, d, row_number() OVER (PARTITION BY s ORDER BY i) AS rn
        | FROM nosev
        | WHERE i > 1 AND d BETWEEN '1' AND '6' AND (prev IS NULL OR d <> prev)),
        |tails AS (
        | SELECT s, string_agg(d, '' ORDER BY i) AS tail FROM kept WHERE rn <= 3 GROUP BY s)
        |SELECT p.p_partkey,
        | CASE WHEN p.p_name IS NULL OR p.p_name = '' THEN p.p_name
        |      WHEN strpos('ABCDEFGHIJKLMNOPQRSTUVWXYZ', upper(substr(p.p_name,1,1))) = 0 THEN p.p_name
        |      ELSE upper(substr(p.p_name,1,1)) || rpad(coalesce(t.tail, ''), 3, '0') END AS sdx
        |FROM part p LEFT JOIN tails t ON p.p_name = t.s
        |ORDER BY p_partkey""".stripMargin,
    "q43_golden_merge" ->
      // Full-outer MERGE semantics replayed verbatim: incoming-newer =
      // (existing missing OR incoming.last_activity >= existing's); when the
      // incoming side is absent the >= comparison is NULL -> CASE falls to
      // the existing side, exactly Spark's `i.isNotNull && ...` guard.
      """WITH cust AS (
        | SELECT c_custkey, c_nationkey, c_name,
        |  DATE '2024-01-01' + CAST(c_custkey % 365 AS INTEGER) AS ts,
        |  (c_custkey % 365) * 10000000 + c_custkey AS rk
        | FROM customer),
        |g0 AS (
        | SELECT 'm' || lpad(CAST(c_nationkey AS VARCHAR), 2, '0') AS master_id,
        |  arg_max(c_name, rk) AS master_url, min(c_name) AS master_text,
        |  min(ts) AS first_seen, max(ts) AS last_activity,
        |  list_sort(list_distinct(list('r' || lpad(CAST(c_custkey AS VARCHAR), 7, '0')))) AS ids,
        |  list_sort(list_distinct(list('d' || CAST(c_custkey % 3 AS VARCHAR)))) AS doms
        | FROM cust WHERE c_custkey % 2 = 0 AND c_nationkey < 20 GROUP BY c_nationkey),
        |g1 AS (
        | SELECT 'm' || lpad(CAST(c_nationkey AS VARCHAR), 2, '0') AS master_id,
        |  arg_max(c_name, rk) AS master_url, min(c_name) AS master_text,
        |  min(ts) AS first_seen, max(ts) AS last_activity,
        |  list_sort(list_distinct(list('r' || lpad(CAST(c_custkey AS VARCHAR), 7, '0')))) AS ids,
        |  list_sort(list_distinct(list('d' || CAST(c_custkey % 3 AS VARCHAR)))) AS doms
        | FROM cust WHERE c_custkey % 2 = 1 AND c_nationkey >= 10 GROUP BY c_nationkey),
        |m AS (
        | SELECT coalesce(e.master_id, i.master_id) AS master_id,
        |  CASE WHEN e.master_id IS NULL OR i.last_activity >= e.last_activity
        |       THEN coalesce(i.master_url, e.master_url)
        |       ELSE coalesce(e.master_url, i.master_url) END AS master_url,
        |  CASE WHEN e.master_id IS NULL OR i.last_activity >= e.last_activity
        |       THEN coalesce(i.master_text, e.master_text)
        |       ELSE coalesce(e.master_text, i.master_text) END AS master_text,
        |  least(coalesce(e.first_seen, i.first_seen), coalesce(i.first_seen, e.first_seen)) AS fs,
        |  greatest(coalesce(e.last_activity, i.last_activity),
        |           coalesce(i.last_activity, e.last_activity)) AS la,
        |  len(list_distinct(list_concat(coalesce(e.ids, CAST([] AS VARCHAR[])),
        |                                coalesce(i.ids, CAST([] AS VARCHAR[]))))) AS source_record_count,
        |  array_to_string(list_sort(list_distinct(list_concat(
        |    coalesce(e.ids, CAST([] AS VARCHAR[])),
        |    coalesce(i.ids, CAST([] AS VARCHAR[]))))), ',') AS lineage_ids,
        |  array_to_string(list_sort(list_distinct(list_concat(
        |    coalesce(e.doms, CAST([] AS VARCHAR[])),
        |    coalesce(i.doms, CAST([] AS VARCHAR[]))))), ',') AS domains
        | FROM g0 e FULL OUTER JOIN g1 i ON e.master_id = i.master_id)
        |SELECT master_id, master_url, master_text,
        | strftime(fs, '%Y-%m-%d') AS first_seen, strftime(la, '%Y-%m-%d') AS last_activity,
        | source_record_count, lineage_ids, domains
        |FROM m ORDER BY master_id""".stripMargin,
    "q42_vector_strategy" ->
      """SELECT k1, k2, vector_score FROM (
        | SELECT a.c_custkey AS k1, b.c_custkey AS k2,
        |  round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
        |                               CAST(eb.embedding AS DOUBLE[])), 4) AS vector_score
        | FROM customer a JOIN customer b
        |  ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
        | JOIN embeddings ea ON ea.vec_id = a.c_custkey
        | JOIN embeddings eb ON eb.vec_id = b.c_custkey)
        |WHERE vector_score >= 0.3 ORDER BY k1, k2""".stripMargin,
    "er_text_analysis" ->
      // DuckDB replica of TextAnalysis.langId + qualityFeatures + tokenCounts
      // (converted from rows-only to hard oracle in r3 — VERDICT r2 next #5):
      //  - marker hits = occurrence counts via replace-all length arithmetic
      //    over ' '||lower(text)||' ' (markers are literal strings, so
      //    replace == Spark's Pattern.quote'd regexp_replace);
      //  - pred_lang = argmax of hits, ties -> LARGEST lang code (Spark
      //    greatest over struct(hits, lang)), 'und' when best <= 0;
      //  - pieces (approx_bpe_tokens) = alnum runs + single non-alnum chars,
      //    the exact effect of Spark's lookaround split — RE2 has no
      //    lookarounds, so the oracle uses regexp_extract_all of
      //    '[A-Za-z0-9]+|[^A-Za-z0-9]' (provably the same piece list).
      """WITH hits AS (
        | SELECT doc_id,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS toks,
        |  ' ' || lower(text) || ' ' AS t,
        |  list_filter(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9]'),
        |              x -> x <> ' ' AND x <> '') AS pieces
        | FROM documents),
        |scored AS (
        | SELECT doc_id, toks,
        |  ((length(t)-length(replace(t,' der ','')))//5 + (length(t)-length(replace(t,' die ','')))//5
        |   + (length(t)-length(replace(t,' und ','')))//5 + (length(t)-length(replace(t,' das ','')))//5
        |   + (length(t)-length(replace(t,' ist ','')))//5 + (length(t)-length(replace(t,'sch','')))//3
        |   + (length(t)-length(replace(t,' ein ','')))//5) AS h_de,
        |  ((length(t)-length(replace(t,' the ','')))//5 + (length(t)-length(replace(t,' and ','')))//5
        |   + (length(t)-length(replace(t,' of ','')))//4 + (length(t)-length(replace(t,' to ','')))//4
        |   + (length(t)-length(replace(t,' is ','')))//4 + (length(t)-length(replace(t,'ing ','')))//4
        |   + (length(t)-length(replace(t,' that ','')))//6) AS h_en,
        |  ((length(t)-length(replace(t,' el ','')))//4 + (length(t)-length(replace(t,' la ','')))//4
        |   + (length(t)-length(replace(t,' de ','')))//4 + (length(t)-length(replace(t,' que ','')))//5
        |   + (length(t)-length(replace(t,' los ','')))//5 + (length(t)-length(replace(t,'ción','')))//4
        |   + (length(t)-length(replace(t,' una ','')))//5) AS h_es,
        |  ((length(t)-length(replace(t,' le ','')))//4 + (length(t)-length(replace(t,' la ','')))//4
        |   + (length(t)-length(replace(t,' les ','')))//5 + (length(t)-length(replace(t,' des ','')))//5
        |   + (length(t)-length(replace(t,' est ','')))//5 + (length(t)-length(replace(t,' une ','')))//5
        |   + (length(t)-length(replace(t,' que ','')))//5) AS h_fr,
        |  ((length(t)-length(replace(t,'的','')))//1 + (length(t)-length(replace(t,'是','')))//1
        |   + (length(t)-length(replace(t,'了','')))//1 + (length(t)-length(replace(t,'在','')))//1
        |   + (length(t)-length(replace(t,'我','')))//1 + (length(t)-length(replace(t,'有','')))//1
        |   + (length(t)-length(replace(t,'这','')))//1) AS h_zh,
        |  pieces
        | FROM hits)
        |SELECT doc_id,
        | CASE WHEN greatest(h_de,h_en,h_es,h_fr,h_zh) <= 0 THEN 'und'
        |      WHEN h_zh = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'zh'
        |      WHEN h_fr = greatest(h_de,h_en,h_es,h_fr) THEN 'fr'
        |      WHEN h_es = greatest(h_de,h_en,h_es) THEN 'es'
        |      WHEN h_en = greatest(h_de,h_en) THEN 'en'
        |      ELSE 'de' END AS pred_lang,
        | len(toks) AS n_words,
        | CASE WHEN len(toks) = 0 THEN 0.0
        |      ELSE 1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
        |      END AS repetition,
        | len(toks) AS ws_tokens,
        | CAST(coalesce(list_sum(list_transform(pieces,
        |        x -> greatest(1, length(x) // 4))), 0) AS BIGINT) AS approx_bpe_tokens
        |FROM scored ORDER BY doc_id""".stripMargin,
    "er_cc_fixpoint" ->
      // WITH RECURSIVE min-label reachability == large-star/small-star
      // fixpoint semantics (cluster_id = min node id of the component,
      // phantom chain endpoints included in the min, output = customer keys).
      """WITH RECURSIVE
        |edges AS (SELECT c_custkey AS src, c_custkey + 1 AS dst FROM customer
        |          WHERE c_custkey % 10 < 4),
        |sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
        |reach(a, b) AS (
        |  SELECT c_custkey, c_custkey FROM customer
        |  UNION
        |  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src)
        |SELECT a AS record_id, min(b) AS cluster_id FROM reach
        |GROUP BY a ORDER BY record_id""".stripMargin
  )

  /** All SQL-expressible queries. */
  val sqlQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_agg_lineitem" -> (q01_agg_lineitem _),
    "q02_filter_pushdown" -> (q02_filter_pushdown _),
    "q03_join_agg" -> (q03_join_agg _),
    "q04_broadcast_join" -> (q04_broadcast_join _),
    "q05_left_join_nullfill" -> (q05_left_join_nullfill _),
    "q06_anti_join" -> (q06_anti_join _),
    "q07_semi_join" -> (q07_semi_join _),
    "q08_window_topk" -> (q08_window_topk _),
    "q09_survivorship_recency" -> (q09_survivorship_recency _),
    "q10_survivorship_completeness" -> (q10_survivorship_completeness _),
    "q11_union_align" -> (q11_union_align _),
    "q12_setops" -> (q12_setops _),
    "q13_blocked_paircount" -> (q13_blocked_paircount _),
    "q14_levenshtein_pairs" -> (q14_levenshtein_pairs _),
    "q15_token_overlap_docs" -> (q15_token_overlap_docs _),
    "q16_jaccard_shingles" -> (q16_jaccard_shingles _),
    "q17_minhash_md5" -> (q17_minhash_md5 _),
    "q18_lsh_band_pairs" -> (q18_lsh_band_pairs _),
    "q19_exact_dedup" -> (q19_exact_dedup _),
    "q20_simhash8" -> (q20_simhash8 _),
    "q21_cosine_pairs" -> (q21_cosine_pairs _),
    "q22_ann_topk" -> (q22_ann_topk _),
    "q23_business_rules" -> (q23_business_rules _),
    "q24_ensemble_decision" -> (q24_ensemble_decision _),
    "q25_master_id" -> (q25_master_id _),
    "q26_deterministic_sample" -> (q26_deterministic_sample _),
    "q27_cc_propagate" -> (q27_cc_propagate _),
    "q28_time_bucket_agg" -> (q28_time_bucket_agg _),
    "q29_text_quality" -> (q29_text_quality _),
    "q30_token_topk_per_lang" -> (q30_token_topk_per_lang _),
    "q31_fingerprint" -> (q31_fingerprint _),
    "q32_binary_plumbing" -> (q32_binary_plumbing _),
    "q33_distinct_counts" -> (q33_distinct_counts _),
    "q34_prefix_block_join" -> (q34_prefix_block_join _),
    "q35_minhash_band_dedup" -> (q35_minhash_band_dedup _),
    "q36_simhash_hamming_dedup" -> (q36_simhash_hamming_dedup _),
    "q37_standardize_customer" -> (q37_standardize_customer _),
    "q38_record_fuzzy_soundex" -> (q38_record_fuzzy_soundex _),
    "q39_json_staging" -> (q39_json_staging _),
    "q40_match_audit" -> (q40_match_audit _),
    "q41_best_match_combine" -> (q41_best_match_combine _),
    "q42_vector_strategy" -> (q42_vector_strategy _),
    "q43_golden_merge" -> (q43_golden_merge _),
    "q44_hyperplane_cosine_dedup" -> (q44_hyperplane_cosine_dedup _),
    "q45_ivf_ann_topk" -> (q45_ivf_ann_topk _),
    "q46_pipeline_e2e_golden" -> (q46_pipeline_e2e_golden _),
    // converted from rows-only to fully oracle-checked in round 2:
    "er_jaro_winkler" -> (er_jaro_winkler _),
    "er_cc_fixpoint" -> (er_cc_fixpoint _),
    "er_soundex" -> (er_soundex _),
    // converted from rows-only to fully oracle-checked in round 3:
    "er_text_analysis" -> (er_text_analysis _)
  )

  // ---------------------------------------------------------------------
  // Non-SQL-expressible operators (rows-only driver check; fully tested in
  // ScalaTest against in-repo oracles instead)
  // ---------------------------------------------------------------------

  /** Full ER pipeline on the deterministic generated corpus -> golden records. */
  def er_pipeline_golden(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    // Materialization boundary between the generator and the pipeline
    // (guide §1.2 per-task work, measured 8.9s cold -> warm ~1.6s): without
    // it, CollapseProject inlines PageGen's full url/text construction
    // trees into EVERY one of Standardize's ~6 derived columns, and the
    // resulting mega-expression costs several seconds of one-time Janino
    // compilation during which all 32 first-stage tasks serialize on the
    // codegen cache lock (run 53s / cpu 5.4s observed — compile, not data).
    // 284 concrete rows are trivially cheap to materialize; a production
    // run reads pages from storage and has this boundary for free.
    val pages = graft.mdm.PageGen.pages(s, 120).localCheckpoint()
    graft.mdm.Pipeline.run(pages).golden
      .select("master_id", "canonical_url", "source_record_count", "first_seen")
      .orderBy("master_id")
  }

  /** Fixpoint connected components (large-star/small-star) on a synthetic
    * chain+clique graph derived from customer keys. */
  def er_cc_fixpoint(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer").select(col("c_custkey"))
    val chain = c.select(col("c_custkey").as("src"), (col("c_custkey") + 1).as("dst"))
      .where(pmod(col("c_custkey"), lit(10)) < 4) // chains of length <=4 with gaps
    graft.mdm.ConnectedComponents(chain, c.select(col("c_custkey").as("record_id")))
      .orderBy("record_id")
  }

  /** MinHash-LSH self-join over documents (production blocking path,
    * native text_minhash expression). */
  def er_lsh_blocking(s: SparkSession, dir: String): DataFrame = {
    val d = spread(t(s, dir, "documents"))
      .withColumn("sig", textMinhash(col("text"), 16, 3))
    d.select(col("doc_id"), explode(bandKeys(col("sig"), 8, 16)).as("bk"))
      .groupBy("bk").agg(count(lit(1)).as("n"))
      .where(col("n") > 1).orderBy("bk")
  }

  /** 64-bit production simhash (native xxhash64 bit-vote expression). */
  def er_simhash64(s: SparkSession, dir: String): DataFrame =
    spread(t(s, dir, "documents"))
      .select(col("doc_id"), textSimhash(col("text")).as("simhash"))
      .orderBy("doc_id")

  /** Soundex codes (F2 input) over varied multi-word part names. DuckDB has
    * no soundex built-in — the oracle replicates Spark's exact algorithm
    * (H/W transparent, vowels AND non-letters reset the duplicate-code
    * state, non-letter first char returns the input unchanged) with window
    * functions over exploded characters; parity verified over 5k adversarial
    * strings (tools/). */
  def er_soundex(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "part")
      .select(col("p_partkey"), soundex(col("p_name")).as("sdx"))
      .orderBy("p_partkey")

  /** Jaro-Winkler native expression over name pairs (no DuckDB equivalent). */
  def er_jaro_winkler(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    blockSelfPairs(t(s, dir, "customer"), "nk" -> col("c_nationkey"), col("c_custkey"),
        "n" -> col("c_name"))
      .select(col("k1"), col("k2"), round(jaroWinkler(col("n1"), col("n2")), 4).as("jw"))
      .where(col("jw") >= 0.97)
      .orderBy("k1", "k2")
  }

  /** MinHash-LSH near-dup dedup over documents (xxhash64 production path). */
  def er_minhash_dedup(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.minhashPairs(spread(t(s, dir, "documents")), "text", "doc_id",
      threshold = 0.2).orderBy("id1", "id2")

  /** SimHash near-dup pairs over documents (guaranteed-recall banding:
    * maxHamming+1 bands; md5 oracle twin = q36). */
  def er_simhash_dedup(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.simhashPairs(spread(t(s, dir, "documents")), "text", "doc_id",
      maxHamming = 3).orderBy("id1", "id2")

  /** Embedding-cosine near-dup via hyperplane LSH buckets. */
  def er_cosine_dedup(s: SparkSession, dir: String): DataFrame =
    graft.ops.Dedup.cosinePairs(spread(t(s, dir, "embeddings")), "embedding", "vec_id",
      threshold = 0.4).orderBy("id1", "id2")

  /** IVF-style ANN top-k for the first 10 query vectors — production path:
    * Lloyd-trained coarse quantizer (2 spherical-k-means rounds over the
    * hash-order seed; trainer pinned in OpsSpec). The md5-keyed oracle twin
    * q45 replays the UNtrained mechanism (sample -> invert -> multi-probe ->
    * top-k) — training only moves the centroids, not the algebra. */
  def er_ann_ivf(s: SparkSession, dir: String): DataFrame = {
    val e = spread(t(s, dir, "embeddings"))
    graft.ops.SimilaritySearch.ivfTopK(e.where(col("vec_id") < 10), e,
      "embedding", "vec_id", k = 3, trainIters = 2).orderBy("qid", "rank")
  }

  /** Heuristic language id + quality + token counting over documents. */
  def er_text_analysis(s: SparkSession, dir: String): DataFrame = {
    val d = spread(t(s, dir, "documents"))
    graft.ops.TextAnalysis.tokenCounts(
      graft.ops.TextAnalysis.qualityFeatures(
        graft.ops.TextAnalysis.langId(d, "text"), "text"), "text")
      .select("doc_id", "pred_lang", "n_words", "repetition", "ws_tokens",
        "approx_bpe_tokens")
      .orderBy("doc_id")
  }

  /** Multimodal decode/featurize plumbing over a synthetic media table. */
  def er_multimodal(s: SparkSession, dir: String): DataFrame =
    graft.ops.Multimodal.decodeAndFeaturize(
      graft.ops.Multimodal.syntheticMedia(s, 200), featureDim = 8)
      .toDF().select("media_id", "kind", "n_bytes", "width", "height", "n_frames")
      .orderBy("media_id")

  val nonSqlQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "er_pipeline_golden" -> (er_pipeline_golden _),
    "er_lsh_blocking" -> (er_lsh_blocking _),
    "er_simhash64" -> (er_simhash64 _),
    "er_minhash_dedup" -> (er_minhash_dedup _),
    "er_simhash_dedup" -> (er_simhash_dedup _),
    "er_cosine_dedup" -> (er_cosine_dedup _),
    "er_ann_ivf" -> (er_ann_ivf _),
    "er_multimodal" -> (er_multimodal _)
  )

  val all: Map[String, (SparkSession, String) => DataFrame] = sqlQueries ++ nonSqlQueries
}
