package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** Column-expression similarity / sketch functions (SURVEY.md §2.8, §7.4).
  *
  * Everything here is pure Catalyst `Column` composition (higher-order
  * functions, built-ins) or the native `JaroWinklerExpr` — no Scala UDFs on
  * hot paths, so whole-stage codegen and predicate pushdown survive.
  */
object GraftFunctions {

  /** Register SQL-callable custom expressions on a session. Idempotent. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction(
      "jaro_winkler", exprs => JaroWinklerExpr(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "sig_overlap", exprs => SigOverlapExpr(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "cosine_sim", exprs => CosineSimExpr(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "text_minhash", exprs => TextMinHashExpr(exprs(0),
        exprs(1).eval().asInstanceOf[Int], exprs(2).eval().asInstanceOf[Int]), "built-in")
    reg.createOrReplaceTempFunction(
      "text_simhash", exprs => TextSimHashExpr(exprs(0)), "built-in")
    reg.createOrReplaceTempFunction(
      "edit_distance", exprs => EditDistanceExpr(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "token_overlap", exprs => TokenOverlapExpr(exprs(0), exprs(1)), "built-in")
    reg.createOrReplaceTempFunction(
      "text_shingles", exprs => TextShinglesExpr(exprs(0),
        exprs(1).eval().asInstanceOf[Int]), "built-in")
    reg.createOrReplaceTempFunction(
      "topk_by", exprs => TopKByExpr(exprs(0), exprs(1),
        exprs(2).eval().asInstanceOf[Int]).toAggregateExpression(), "built-in")
    reg.createOrReplaceTempFunction(
      "bottomk_by", exprs => TopKByExpr(exprs(0), exprs(1),
        exprs(2).eval().asInstanceOf[Int], asc = true).toAggregateExpression(), "built-in")
    reg.createOrReplaceTempFunction(
      "hyperplane_bucket", exprs => HyperplaneBucketExpr(exprs(0),
        exprs(1).eval().asInstanceOf[Int],
        exprs(2).eval().asInstanceOf[Int]), "built-in")
  }

  /** Sign-bit LSH bucket id from `bits` deterministic hyperplanes — native
    * fused-loop twin of `SimilaritySearch.hyperplaneBucketHof` (bit-identical,
    * FunctionsSpec). */
  def hyperplaneBucket(emb: Column, bits: Int, table: Int): Column =
    call_function("hyperplane_bucket", emb, lit(bits), lit(table))

  /** Per-group top-k aggregate WITHOUT a sort (native TypedImperativeAggregate
    * with a size-k min-heap + map-side partial aggregation): the k `payload`
    * values with the LARGEST `ord` keys, descending. Scale-path replacement
    * for the `row_number() OVER (...) <= k` idiom — see TopKByExpr. Make
    * `ord` a total order (e.g. `struct(score, -id)`) for determinism. */
  def topKBy(payload: Column, ord: Column, k: Int): Column =
    call_function("topk_by", payload, ord, lit(k))

  /** Bottom-k twin of [[topKBy]]: the k payload values with the SMALLEST
    * `ord` keys, ascending. Use when "best" = smallest — e.g. ordering by
    * `struct(-score, id)` with a STRING id (ids cannot be negated for the
    * max-variant's tie-break; ADVICE r2), or bounded lineage sampling
    * (smallest-N member ids). Same size-k heap + map-side combine. */
  def bottomKBy(payload: Column, ord: Column, k: Int): Column =
    call_function("bottomk_by", payload, ord, lit(k))

  /** n-token shingle strings straight from text — native twin of
    * `shingles(tokens(text), n)`, byte-identical output (FunctionsSpec),
    * single byte walk instead of the interpreted HOF pipeline. */
  def textShingles(text: Column, n: Int): Column =
    call_function("text_shingles", text, lit(n))

  /** Exact Levenshtein distance — native Myers bit-parallel expression,
    * value-identical to Spark's `levenshtein` built-in but ~10-30x cheaper
    * on the pair-scoring hot path (the built-in runs the full O(n*m) DP per
    * call; FunctionsSpec pins value equality on random + corpus strings). */
  def editDistance(a: Column, b: Column): Column =
    call_function("edit_distance", a, b)

  /** Jaro-Winkler similarity column over the native Catalyst expression. */
  def jaroWinkler(a: Column, b: Column): Column =
    call_function("jaro_winkler", a, b)

  /** Normalized Levenshtein similarity, reference semantics
    * `1 - EDIT_DISTANCE(a,b)/GREATEST(LENGTH(a),LENGTH(b))`, null/empty -> 0
    * (/root/reference/batch_mdm_gcp/bigquery_utils.py:354-359). */
  def levenshteinSim(a: Column, b: Column): Column = {
    val denom = greatest(length(a), length(b))
    when(a.isNull || b.isNull, 0.0)
      .when(denom === 0, 1.0)
      .otherwise(lit(1.0) - editDistance(a, b).cast("double") / denom.cast("double"))
  }

  /** Token-overlap score, reference semantics: |shared| / max(|a|,|b|) over
    * distinct whitespace tokens (bigquery_utils.py:377-388 — the correlated
    * UNNEST subquery, SURVEY.md J11). Native single-pass expression; the HOF
    * twin below is the cross-check oracle (value-identical, FunctionsSpec). */
  def tokenOverlap(a: Column, b: Column): Column =
    when(a.isNull || b.isNull, 0.0)
      .otherwise(call_function("token_overlap", a, b))

  /** HOF formulation of [[tokenOverlap]], kept as a cross-check oracle for
    * the native expression (split recompiles its regex per row — ~20x the
    * cost of the byte-walk expression on the pair-scoring hot path). */
  def tokenOverlapHof(a: Column, b: Column): Column = {
    val ta = array_distinct(split(a, "\\s+"))
    val tb = array_distinct(split(b, "\\s+"))
    val denom = greatest(size(ta), size(tb))
    when(a.isNull || b.isNull || denom === 0, 0.0)
      .otherwise(size(array_intersect(ta, tb)).cast("double") / denom.cast("double"))
  }

  /** Jaccard over two string arrays: |a n b| / |a u b|. */
  def arrayJaccard(a: Column, b: Column): Column = {
    val da = array_distinct(a)
    val db = array_distinct(b)
    val inter = size(array_intersect(da, db)).cast("double")
    val uni = size(array_union(da, db)).cast("double")
    when(uni === 0, 0.0).otherwise(inter / uni)
  }

  /** Cosine similarity over ArrayType(Float/Double) columns (SURVEY.md F6;
    * reference `1 - COSINE_DISTANCE`, bigquery_utils.py:417-424) — native
    * codegen'd expression; double accumulation, numerically identical to
    * the HOF formulation below. */
  def cosineSim(a: Column, b: Column): Column =
    call_function("cosine_sim", a, b)

  /** HOF formulation of cosine kept as a cross-check oracle for the native
    * expression (zip_with + aggregate; CodegenFallback-interpreted). */
  def cosineSimHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val na = aggregate(a, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double"))
    val nb = aggregate(b, lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double"))
    when(a.isNull || b.isNull, null)
      .when(na === 0.0 || nb === 0.0, 0.0)
      .otherwise(dot / (sqrt(na) * sqrt(nb)))
  }

  /** Whitespace tokens with empties removed. */
  def tokens(text: Column): Column =
    filter(split(text, " "), t => t =!= "")

  /** n-token shingles: ["a b c", "b c d", ...]. Input: token array. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))

  /** MinHash signature: array of `numHashes` min-over-shingles hash values.
    * mllib's MinHashLSH exists but a hand-rolled column expr keeps the whole
    * plan deterministic (SURVEY.md §7.4). Each shingle STRING is hashed
    * exactly once; the k hash functions are derived by rehashing the 8-byte
    * value (fixed-width xxhash64), which is ~16x cheaper than hashing the
    * string per slot. */
  def minhashSignature(shingleArr: Column, numHashes: Int): Column = {
    val baseHashes = transform(shingleArr, s => xxhash64(s))
    transform(sequence(lit(0), lit(numHashes - 1)),
      seed => array_min(transform(baseHashes, h => xxhash64(h, seed))))
  }

  /** MinHash signature straight from a text column — native zero-allocation
    * expression (tokenize + shingle + hash in one pass over the UTF-8
    * bytes); the production blocking path. */
  def textMinhash(text: Column, numHashes: Int, shingle: Int): Column =
    call_function("text_minhash", text, lit(numHashes), lit(shingle))

  /** LSH band keys from a minhash signature: `bands` keys, each hashing
    * r = |sig|/bands consecutive signature slots together with the band id
    * (so keys from different bands never collide). Built as an explicit
    * array, not a `transform` lambda: a lambda referencing `sig` counts as
    * one reference, so CollapseProject would inline the signature kernel
    * into it and run it once per band; `bands` plain references keep it
    * computed once below. */
  def bandKeys(sig: Column, bands: Int, numHashes: Int): Column = {
    val r = numHashes / bands
    array((0 until bands).map(b =>
      xxhash64(lit(b), concat_ws(",", slice(sig, b * r + 1, r)))): _*)
  }

  /** Estimated Jaccard from two minhash signatures: fraction of equal slots
    * (unbiased estimator — the "vector" strategy analogue, SURVEY.md F6/F13).
    * Native codegen'd expression. */
  def minhashJaccardEst(sigA: Column, sigB: Column): Column =
    call_function("sig_overlap", sigA, sigB)

  /** 64-bit SimHash straight from a text column — native expression. */
  def textSimhash(text: Column): Column = call_function("text_simhash", text)

  /** HOF SimHash over a token array (cross-check formulation): per-bit
    * majority vote of token xxhash64 bits (SURVEY.md §7.4). */
  def simhash64(toks: Column): Column = {
    val votes = transform(sequence(lit(0), lit(63)), bit =>
      aggregate(toks, lit(0L),
        (acc, t) => acc + when(
          call_function("shiftright", xxhash64(t), bit).bitwiseAND(1L) === 1L, 1L)
          .otherwise(-1L)))
    aggregate(
      zip_with(votes, sequence(lit(0), lit(63)),
        (v, bit) => when(v > 0, call_function("shiftleft", lit(1L), bit)).otherwise(0L)),
      lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** Deterministic master id: first 36 hex chars of sha256 of a prefixed
    * natural key (reference F12, bigquery_utils.py:766-780;
    * streaming_processor.py:367-395 — cross-path ID stability). */
  def masterId(prefix: String, key: Column): Column =
    substring(sha2(concat(lit(prefix + ":"), key), 256), 1, 36)
}
