package graft.mdm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions

/** End-to-end MDM pipeline (reference lifecycle A, SURVEY.md §3):
  * standardize -> block -> pairs -> score -> cluster -> golden, each stage
  * optionally snapshot-committed for resume (north rule).
  */
object Pipeline {

  case class Result(
      clean: DataFrame,
      scored: DataFrame,
      assignments: DataFrame,
      golden: DataFrame)

  /** Run the full pipeline in memory (no snapshots). Reused stage outputs
    * are persisted MEMORY_AND_DISK (the reference caches its reused base
    * pool the same way, spark_data_generator.py:403). */
  def run(pages: DataFrame, cfg: MatchConfig = MatchConfig()): Result = {
    val spark = pages.sparkSession
    GraftFunctions.register(spark)
    import org.apache.spark.storage.StorageLevel

    val clean = Standardize(pages).persist(StorageLevel.MEMORY_AND_DISK)
    // signature computed ONCE; blocking and scoring both read it from here
    val withSig = Blocking.withSignature(clean, cfg)
      .select(Scoring.attachColumns.map(col): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val keys = Blocking.blockKeysFromSig(withSig, cfg)
    val cands = Pairs.candidates(keys, cfg)
    val attached = Pairs.attach(cands, withSig)
    val scored = Scoring(attached, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    // materialized, so CC's size rule sees the cached size, not a join product
    scored.count()

    // Edges: decisions the reference clusters on (auto_merge + human_review,
    // score >= reviewThreshold — bigquery_utils.py:645-653).
    val edges = scored
      .where(col("match_decision").isin("auto_merge", "human_review") &&
        col("combined_score") >= cfg.reviewThreshold)
      .select(col("record1_id").as("src"), col("record2_id").as("dst"))

    val assignments = ConnectedComponents(edges, clean.select("record_id"), cfg)
    val golden = Golden(assignments, clean)
    Result(clean, scored, assignments, golden)
  }

  /** Run with per-stage snapshot commits + lineage counters; resumes from
    * the last committed stage if the store already holds snapshots. */
  def runCheckpointed(pages: DataFrame, store: SnapshotStore,
      cfg: MatchConfig = MatchConfig()): Result = {
    val spark = pages.sparkSession
    GraftFunctions.register(spark)

    // Clean-record snapshot is Hive-partitioned by capture date — the
    // reference's own scale advice (PARTITION BY DATE(processed_at),
    // batch_mdm_gcp/MDM_BATCH_PROCESSING.md:441-463; our recency column is
    // warc_ts per the north rule): incremental re-runs and time-scoped
    // audits prune to the touched dates at the parquet-directory level.
    val clean =
      if (store.has("standardize")) store.read(spark, "standardize")
      else store.commit(
        Standardize(pages).withColumn("capture_date", to_date(col("warc_ts"))),
        "standardize", partitionBy = Seq("capture_date"))

    val withSig = Blocking.withSignature(clean, cfg)
      .select(Scoring.attachColumns.map(col): _*)

    // Lineage counters are observed on the plan the scored write runs, so
    // no counter costs its own Spark action: the candidate count on the
    // candidate frame, the merge-edge count on the scored frame.
    val isEdge = col("match_decision").isin("auto_merge", "human_review")
    val (scored, edgesObserved) =
      if (store.has("scored")) (store.read(spark, "scored"), None)
      else {
        val keys = Blocking.blockKeysFromSig(withSig, cfg)
        val (cands, nCands) = SnapshotStore.observeCount(Pairs.candidates(keys, cfg))
        val (s, nEdges) = SnapshotStore.observeCount(
          Scoring(Pairs.attach(cands, withSig), cfg), when(isEdge, true))
        (store.commit(s, "scored",
          // dropped-block counters appear iff cfg.dropBlocksLargerThan is on
          Map("candidates_generated" -> nCands()) ++ Pairs.droppedBlockStats(keys, cfg)),
          Some(nEdges))
      }

    val assignments =
      if (store.has("clusters")) store.read(spark, "clusters")
      else {
        val edges = scored.where(isEdge)
          .select(col("record1_id").as("src"), col("record2_id").as("dst"))
        val a = ConnectedComponents(edges, clean.select("record_id"), cfg)
        // a resumed scored snapshot was not written here: count its edges
        store.commit(a, "clusters", Map("merge_edges" -> edgesObserved.fold(edges.count())(_())))
      }

    val golden =
      if (store.has("golden")) store.read(spark, "golden")
      else store.commit(Golden(assignments, clean), "golden")

    Result(clean, scored, assignments, golden)
  }
}
