package graft.mdm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.GraftFunctions

/** End-to-end MDM pipeline (reference lifecycle A, SURVEY.md §3):
  * standardize -> block -> pairs -> score -> cluster -> golden. One stage
  * sequence serves both entry points; they differ only in how a stage's
  * output is kept: in memory, or snapshot-committed for resume (north rule).
  */
object Pipeline {

  case class Result(
      clean: DataFrame,
      scored: DataFrame,
      assignments: DataFrame,
      golden: DataFrame)

  /** Run the full pipeline in memory (no snapshots). */
  def run(pages: DataFrame, cfg: MatchConfig = MatchConfig()): Result = stages(pages, cfg, None)

  /** Run with per-stage snapshot commits + lineage counters; resumes from
    * the last committed stage if the store already holds snapshots. */
  def runCheckpointed(pages: DataFrame, store: SnapshotStore,
      cfg: MatchConfig = MatchConfig()): Result = stages(pages, cfg, Some(store))

  private def stages(pages: DataFrame, cfg: MatchConfig, store: Option[SnapshotStore]): Result = {
    val spark = pages.sparkSession
    GraftFunctions.register(spark)

    /** How a stage's output is held. With a store: read back when already
      * committed (resume), else committed with its counters, which are read
      * only after the commit's write. In memory: a stage a later stage reads
      * is persisted MEMORY_AND_DISK (the reference caches its reused base
      * pool the same way, spark_data_generator.py:403) and materialized
      * with one count, so the next stage plans over its cached size — CC's
      * size rule then sees the real edge set, not a join product. */
    def keep(stage: String, counters: => Map[String, Long] = Map.empty,
        partitionBy: Seq[String] = Nil, readLater: Boolean = true)(df: => DataFrame): DataFrame =
      store match {
        case Some(s) if s.has(stage) => s.read(spark, stage)
        case Some(s) => s.commit(df, stage, counters, partitionBy = partitionBy)
        case None if readLater =>
          val p = df.persist(StorageLevel.MEMORY_AND_DISK)
          p.count()
          p
        case None => df
      }

    // Clean records carry their capture date, the snapshot's Hive partition
    // — the reference's own scale advice (PARTITION BY DATE(processed_at),
    // batch_mdm_gcp/MDM_BATCH_PROCESSING.md:441-463; our recency column is
    // warc_ts per the north rule): incremental re-runs and time-scoped
    // audits prune to the touched dates at the parquet-directory level.
    val clean = keep("standardize", partitionBy = Seq("capture_date"))(
      Standardize(pages).withColumn("capture_date", to_date(col("warc_ts"))))

    // Lineage counters are observed on the plans that run anyway, so no
    // counter costs its own Spark action: the candidate count on the scored
    // stage's candidates, the merge-edge count on the edges CC reads.
    val withSig = Blocking.withSignature(clean, cfg)
      .select(Scoring.attachColumns.map(col): _*)
    val keys = Blocking.blockKeysFromSig(withSig, cfg)
    val (cands, nCands) = SnapshotStore.observeCount(Pairs.candidates(keys, cfg))
    val scored = keep("scored",
      // dropped-block counters appear iff cfg.dropBlocksLargerThan is on
      Map("candidates_generated" -> nCands()) ++ Pairs.droppedBlockStats(keys, cfg))(
      Scoring(Pairs.attach(cands, withSig), cfg))

    // Edges: decisions the reference clusters on (bigquery_utils.py:645-653).
    val (edges, nEdges) = SnapshotStore.observeCount(scored.where(Scoring.isEdge)
      .select(col("record1_id").as("src"), col("record2_id").as("dst")))
    val assignments = keep("clusters", Map("merge_edges" -> nEdges()))(
      ConnectedComponents(edges, clean.select("record_id"), cfg))

    // no later stage reads golden: in memory it is returned unmaterialized
    val golden = keep("golden", readLater = false)(Golden(assignments, clean))
    Result(clean, scored, assignments, golden)
  }
}
