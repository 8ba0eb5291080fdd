package graft.mdm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions._

/** Blocking stage: replaces the reference's O(N²) self CROSS JOINs
  * (/root/reference/batch_mdm_gcp/bigquery_utils.py:330-332,390-392,419-424,
  * 472-474) with multi-key equi-join blocking — the single mandated
  * architectural divergence (SURVEY.md §4, north_rule).
  *
  * Two key families, unioned:
  *   1. `domain` — normalized-domain exact key (analogue of the streaming
  *      path's indexed company/prefix blocks, streaming_processor.py:118-126)
  *   2. MinHash-LSH band keys over token 3-shingles of `text` — recovers
  *      near-duplicate pairs whose urls share nothing (mirror domains).
  */
object Blocking {

  /** clean pages -> exploded (record_id, block_key) rows.
    * Block keys are strings namespaced by family so families never collide.
    */
  def blockKeys(clean: DataFrame, cfg: MatchConfig): DataFrame =
    blockKeysFromSig(withSignature(clean, cfg), cfg)

  /** Same, over a frame that already carries `sig` — the signature is the
    * most expensive standardization product, so pipelines compute it ONCE
    * (persisted) and feed both blocking and scoring from it. */
  def blockKeysFromSig(withSig: DataFrame, cfg: MatchConfig): DataFrame = {
    graft.functions.GraftFunctions.register(withSig.sparkSession)
    val bands = bandKeys(col("sig"), cfg.bands, cfg.numHashes)
    // Explode the key expression itself, not a named column: Spark infers
    // a non-empty filter only for an exploded attribute, and that filter,
    // pushed through the projects below, copies the whole key expression
    // (signature kernel included) a second time.
    withSig.select(col("record_id"), explode(
      array_union(
        array(concat(lit("d:"), col("domain"))),
        transform(bands, b => concat(lit("b:"), b)))).as("block_key"))
  }

  /** Per-record minhash signature (reused by scoring as the vector-strategy
    * feature, so it is computed once here). */
  def withSignature(clean: DataFrame, cfg: MatchConfig): DataFrame = {
    graft.functions.GraftFunctions.register(clean.sparkSession)
    clean.withColumn("sig", textMinhash(col("text"), cfg.numHashes, cfg.shingleSize))
  }
}
