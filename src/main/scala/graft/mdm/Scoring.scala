package graft.mdm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** Pair scoring: the reference's 5 match strategies computed in ONE pass per
  * candidate pair (vs. the reference's 5 separate pair tables LEFT-JOINed
  * back together, /root/reference/batch_mdm_gcp/bigquery_utils.py:301-636 —
  * SURVEY.md J6 notes the single-pass design removes 5 shuffles), then the
  * weighted ensemble (F9) and threshold decision (F10).
  */
object Scoring {

  /** The only columns scoring reads from each side. Attach joins shuffle one
    * copy of the pair frame per side — carrying the full `text` (the widest
    * column, unused by scoring) through those shuffles triples the bytes
    * moved at 100 TB. Callers project to this set before Pairs.attach. */
  val attachColumns: Seq[String] = Seq("record_id", "url_canon", "domain",
    "slug", "warc_ts", "text_md5", "head", "lang", "n_tokens", "sig")

  /** Per-strategy feature columns over an attached pair frame (a_*, b_*). */
  def features(pairs: DataFrame, cfg: MatchConfig): DataFrame = {
    graft.functions.GraftFunctions.register(pairs.sparkSession)
    // F5 exact: canonical url equality OR byte-identical content
    // (analogue of email/phone/id exact keys, bigquery_utils.py:313-338;
    // each hit 1.0, overall = GREATEST).
    val exactUrl = when(col("a_url_canon") === col("b_url_canon"), 1.0).otherwise(0.0)
    val exactContent = when(col("a_text_md5") === col("b_text_md5"), 1.0).otherwise(0.0)
    val exact = greatest(exactUrl, exactContent)

    // F1-F4 fuzzy: GREATEST of JW(slug), Levenshtein-sim(head), token
    // overlap of heads; plus shingle-Jaccard mixed in via the vector
    // strategy below (bigquery_utils.py:354-402 shape).
    val jw = jaroWinkler(col("a_slug"), col("b_slug"))
    val lev = levenshteinSim(col("a_head"), col("b_head"))
    val tok = tokenOverlap(col("a_head"), col("b_head"))
    val fuzzy = greatest(jw, lev, tok)

    // F6 vector analogue: minhash-estimated Jaccard of text shingles
    // (the env has no embedding model, SURVEY.md F8/F13 — deterministic
    // sketch similarity replaces ML.GENERATE_EMBEDDING cosine).
    val vector = minhashJaccardEst(col("a_sig"), col("b_sig"))

    // F7 business rules, ADDITIVE (bigquery_utils.py:438-470;
    // presentation_batch_arch.md:334-342): domain 0.3, lang 0.2,
    // crawl-time proximity 0.4/0.2, length-ratio 0.1 — capped at 1.0.
    val tsDiffDays = abs(unix_timestamp(col("a_warc_ts")) - unix_timestamp(col("b_warc_ts"))) / 86400.0
    val lenRatio = least(col("a_n_tokens"), col("b_n_tokens")).cast("double") /
      greatest(col("a_n_tokens"), col("b_n_tokens")).cast("double")
    val business = least(lit(1.0),
      when(col("a_domain") === col("b_domain"), 0.3).otherwise(0.0) +
        when(col("a_lang") === col("b_lang"), 0.2).otherwise(0.0) +
        when(tsDiffDays <= 7, 0.4).when(tsDiffDays <= 90, 0.2).otherwise(0.0) +
        when(lenRatio >= 0.8, 0.1).otherwise(0.0))

    pairs
      .withColumn("exact_score", exact)
      .withColumn("fuzzy_score", fuzzy)
      .withColumn("vector_score", vector)
      .withColumn("business_score", business)
  }

  /** F9 weighted ensemble + F10 decision thresholds (kept verbatim:
    * >=0.8 auto_merge / >=0.6 human_review / else no_match,
    * bigquery_utils.py:620-631; weights calibrated per MatchConfig). */
  def combined(cfg: MatchConfig): Column =
    coalesce(col("exact_score"), lit(0.0)) * cfg.wExact +
      coalesce(col("fuzzy_score"), lit(0.0)) * cfg.wFuzzy +
      coalesce(col("vector_score"), lit(0.0)) * cfg.wVector +
      coalesce(col("business_score"), lit(0.0)) * cfg.wBusiness +
      coalesce(col("ai_score"), lit(0.0)) * cfg.wAi

  def decision(cfg: MatchConfig): Column =
    when(col("combined_score") >= cfg.autoMergeThreshold, "auto_merge")
      .when(col("combined_score") >= cfg.reviewThreshold, "human_review")
      .otherwise("no_match")

  /** A scored pair the reference clusters on: auto_merge or human_review
    * (bigquery_utils.py:645-653). MatchConfig's threshold order makes any
    * score test beside it redundant. */
  val isEdge: Column = col("match_decision").isin("auto_merge", "human_review")

  def confidence(cfg: MatchConfig): Column =
    when(col("combined_score") >= cfg.autoMergeThreshold, "high")
      .when(col("combined_score") >= cfg.reviewThreshold, "medium")
      .otherwise("low")

  /** A7: the streaming path's per-record score combine
    * (streaming_processor.py:280-344 `combine_scores`): for each NEW record
    * with several candidate matches, take the max score per strategy per
    * candidate, weighted-sum them, and keep ONLY the argmax candidate —
    * the reference merges an incoming record into at most one entity.
    * Input: scored pairs (Scoring.apply output) + the new-record id set.
    * Output: one row per new record that has a candidate at or above the
    * review threshold: (record_id, best_match_id, best score columns). */
  def bestMatchPerRecord(scored: DataFrame, newIds: DataFrame,
      cfg: MatchConfig): DataFrame = {
    val ids = newIds.select(col("record_id"))
    // orient each pair as (rec = the new record, cand = the other side);
    // a new-new pair contributes both orientations, like the reference's
    // per-record loop seeing each as the incoming record
    val o1 = scored.join(ids.withColumnRenamed("record_id", "record1_id"), Seq("record1_id"))
      .select(col("record1_id").as("record_id"), col("record2_id").as("candidate_id"),
        col("exact_score"), col("fuzzy_score"), col("vector_score"),
        col("business_score"), col("ai_score"))
    val o2 = scored.join(ids.withColumnRenamed("record_id", "record2_id"), Seq("record2_id"))
      .select(col("record2_id").as("record_id"), col("record1_id").as("candidate_id"),
        col("exact_score"), col("fuzzy_score"), col("vector_score"),
        col("business_score"), col("ai_score"))
    // max per strategy per (record, candidate) — several strategy rows per
    // candidate collapse like the reference's per-strategy max
    val perCand = o1.unionByName(o2)
      .groupBy(col("record_id"), col("candidate_id"))
      .agg(max("exact_score").as("exact_score"),
        max("fuzzy_score").as("fuzzy_score"),
        max("vector_score").as("vector_score"),
        max("business_score").as("business_score"),
        max("ai_score").as("ai_score"))
      .withColumn("combined_score", combined(cfg))
    // argmax candidate per record as a `min_by` hash aggregate over
    // (-combined, candidate_id) — highest score, ties -> lowest candidate
    // id, identical to the row_number-window form but with map-side
    // combine and no per-record sort (and it works for string ids, which
    // `max_by` over a negated secondary key would not).
    perCand
      .groupBy(col("record_id"))
      .agg(min_by(
        struct(col("candidate_id"), col("exact_score"), col("fuzzy_score"),
          col("vector_score"), col("business_score"), col("ai_score"),
          col("combined_score")),
        struct(-col("combined_score"), col("candidate_id"))).as("best"))
      .select(col("record_id"),
        col("best.candidate_id").as("best_match_id"),
        col("best.exact_score").as("exact_score"),
        col("best.fuzzy_score").as("fuzzy_score"),
        col("best.vector_score").as("vector_score"),
        col("best.business_score").as("business_score"),
        col("best.ai_score").as("ai_score"),
        col("best.combined_score").as("combined_score"))
      .where(col("combined_score") >= cfg.reviewThreshold)
      .withColumn("match_decision", decision(cfg))
      .withColumn("confidence_level", confidence(cfg))
  }

  /** Full scoring stage: features -> AI plug-point -> ensemble -> decision;
    * keeps pairs above the reference's `combined_score > 0.3`
    * potential-match gate (bigquery_utils.py:634).
    *
    * F8: `scorer` is the pluggable AI strategy (PairScorer). The default
    * ZeroPairScorer mirrors the reference's streaming degradation
    * (streaming_processor.py:208-213); an LLM-backed implementation slots in
    * without touching the ensemble. */
  def apply(attachedPairs: DataFrame, cfg: MatchConfig,
      scorer: PairScorer = ZeroPairScorer): DataFrame =
    decide(features(attachedPairs, cfg), cfg, scorer)

  /** The decision tail of every scorer over a featured pair frame (id1,
    * id2 and the four strategy scores): AI plug-point -> ensemble ->
    * decision, the keep gate, and the scored pair schema. */
  def decide(featured: DataFrame, cfg: MatchConfig, scorer: PairScorer): DataFrame =
    PairScorer.withAiScore(featured, scorer)
      .withColumn("combined_score", combined(cfg))
      .withColumn("match_decision", decision(cfg))
      .withColumn("confidence_level", confidence(cfg))
      .where(col("combined_score") > cfg.keepThreshold)
      .select(col("id1").as("record1_id"), col("id2").as("record2_id"),
        col("exact_score"), col("fuzzy_score"), col("vector_score"),
        col("business_score"), col("ai_score"),
        col("combined_score"), col("match_decision"), col("confidence_level"))
}
