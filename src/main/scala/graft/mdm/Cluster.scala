package graft.mdm

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** Connected components over match edges, iterated to TRUE fixpoint.
  *
  * The reference runs a fixed 2-hop min-label propagation and calls it
  * "simplified transitive closure"
  * (/root/reference/batch_mdm_gcp/bigquery_utils.py:639-716, caveat at :685)
  * — chains longer than ~3 hops under-merge. Per SURVEY.md §2.9 and the
  * north rule we implement the alternating large-star / small-star
  * algorithm (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SOCC 2014) as a pure DataFrame loop: O(log n) rounds, each
  * round two groupBy-min + join stages; lineage cut by a checkpoint every
  * round. No GraphX / RDDs (input_hint). An edge set
  * Spark itself would broadcast is resolved on the driver instead, with one
  * action (see [[applyWithStats]]).
  */
object ConnectedComponents {

  /** Round bound of the distributed loop. Large-star/small-star needs
    * O(log n) rounds (ClusterSpec pins a 1000-hop chain at 15 or fewer), so
    * the bound only stops a run that would not converge. */
  private val MaxRounds = 50

  /** edges(src, dst) undirected -> assignments(record_id, cluster_id) where
    * cluster_id = min record id of the component. Nodes present only in
    * `allNodes` (no edges) become singleton clusters (reference J10,
    * bigquery_utils.py:677-682).
    */
  def apply(edges: DataFrame, allNodes: DataFrame, cfg: MatchConfig = MatchConfig()): DataFrame =
    applyWithStats(edges, allNodes, cfg)._1

  /** Same, returning the fixpoint iteration count as a lineage counter.
    *
    * Size rule: when Spark's own size estimate of the normalized distinct
    * edge set (its optimized plan's `stats.sizeInBytes`, which runs no
    * job) is within `spark.sql.autoBroadcastJoinThreshold` — the bound
    * under which Spark would already collect and broadcast that relation
    * — the edges are collected with one action and resolved on the driver
    * ([[localAssign]]); the count is then 0. Above the bound, or with the
    * threshold <= 0 (broadcast off), the distributed large-star/small-star
    * loop runs and the count is its number of rounds. Both paths give the
    * same assignment: cluster_id = the component's minimum id in Spark's
    * ordering of the id type.
    */
  def applyWithStats(edges: DataFrame, allNodes: DataFrame,
      cfg: MatchConfig = MatchConfig()): (DataFrame, Int) = {
    val e0 = edges.select(col("src").as("u"), col("dst").as("v"))
      .where(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct()

    val threshold = e0.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    val (assign, iterations) =
      if (threshold > 0 && e0.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold)
        (localAssign(e0), 0)
      else fixpoint(e0, cfg)

    // singletons: nodes with no edges cluster to themselves
    val out = allNodes.select(col("record_id"))
      .join(assign, Seq("record_id"), "left")
      .select(col("record_id"),
        coalesce(col("cluster_id"), col("record_id")).as("cluster_id"))
    (out, iterations)
  }

  /** Driver-side components of a collected edge set: a union-find whose
    * root is always the smaller id in Spark's ordering of the id type
    * (`UTF8String` byte order for strings, not `String.compareTo`; numeric
    * for numbers), returned as a local relation of (record_id, cluster_id)
    * for every node with an edge. */
  private def localAssign(e0: DataFrame): DataFrame = {
    val idType = e0.schema("u").dataType
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(idType)
    val ord = PhysicalDataType.ordering(idType)
    val rows = e0.collect()
    // node index = rank in Spark's order, so "smaller root" is an int compare
    val ids = rows.iterator.flatMap(r => Iterator(r.get(0), r.get(1)))
      .map(v => toCatalyst(v) -> v).toMap.toArray.sortBy(_._1)(ord)
    val rank = ids.iterator.map(_._1).zipWithIndex.toMap
    val parent = Array.range(0, ids.length)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    rows.foreach { r =>
      val a = find(rank(toCatalyst(r.get(0))))
      val b = find(rank(toCatalyst(r.get(1))))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val assign = ids.indices.map(i => Row(ids(i)._2, ids(find(i))._2))
    e0.sparkSession.createDataFrame(assign.asJava, StructType(Seq(
      StructField("record_id", idType, nullable = false),
      StructField("cluster_id", idType, nullable = false))))
  }

  /** The distributed path: large-star/small-star rounds to a fixpoint,
    * returning (record_id, cluster_id) for every node with an edge and the
    * number of rounds.
    *
    * Lineage management: one digest ACTION per iteration materializes the
    * new edge set (the convergence test needs it anyway); the previous
    * iteration's digest is reused, never recomputed. Lineage is CUT every
    * round — `cfg.checkpointDir`-backed reliable checkpoint when set
    * (survives executor loss on a real cluster), localCheckpoint otherwise
    * (local-mode default) — so each round plans over a shallow tree.
    */
  private def fixpoint(e0: DataFrame, cfg: MatchConfig): (DataFrame, Int) = {
    val spark = e0.sparkSession
    // Reliable-checkpoint hygiene: `df.checkpoint(true)` files are NOT freed
    // by the ContextCleaner (spark.cleaner.referenceTracking.cleanCheckpoints
    // defaults to false), so a fixpoint loop that checkpoints every round
    // would retain O(iterations) dead files. Each cut gets a fresh
    // setCheckpointDir (fresh uuid subdir); generation k-2's files are
    // deleted once generation k is materialized, so two generations survive
    // each cut: the newest, which the next round reads, and the one it was
    // computed from. Only dirs THIS call created are ever deleted — never a
    // caller-set checkpoint dir (the caller may have live checkpoints
    // there). The last two generations survive the call (the returned frame
    // reads the final one); the caller owns their lifetime (see
    // IncrementalMdm's per-batch scope). NOTE: sc.setCheckpointDir is
    // context-GLOBAL, so reliable-checkpointed CC calls must not run
    // concurrently on one SparkContext (true before this cleanup too —
    // interleaved setCheckpointDir already mixed dirs); give concurrent
    // pipelines distinct contexts or dirs.
    var ownCkptGens: List[String] = Nil // newest first
    // Local-mode cut is LAZY (r6, guide §1.2 "remove unnecessary passes"):
    // a lazy localCheckpoint saves its blocks DURING the first action that
    // computes them — and every cut below is immediately followed by the
    // digest action, so the digest doubles as the materializer and the
    // round pays no separate materializing pass. It is still several jobs:
    // under AQE each shuffle-map stage of the round runs as its own job
    // (measured: a 2-round call on the 400-entity bench graph ran 20 jobs,
    // about 7 per round). The reliable-checkpoint path
    // stays EAGER: a lazy reliable checkpoint recomputes the whole lineage
    // in a second pass to write the files, which is strictly worse.
    def cut(df: DataFrame): DataFrame =
      if (cfg.checkpointDir.isDefined) {
        val sc = spark.sparkContext
        sc.setCheckpointDir(cfg.checkpointDir.get)
        val out = df.checkpoint(true) // eager: materialized before any delete
        ownCkptGens = sc.getCheckpointDir.toList ::: ownCkptGens
        ownCkptGens.drop(2).foreach(CheckpointHygiene.bestEffortDelete(spark, _))
        ownCkptGens = ownCkptGens.take(2)
        out
      } else df.localCheckpoint(eager = false)

    var e = cut(e0)
    var prevDigest = digest(e)
    var converged = false
    var iter = 0
    while (!converged && iter < MaxRounds) {
      iter += 1
      e = cut(smallStar(largeStar(e)))
      val nextDigest = digest(e) // action: materializes a lazy local cut
      converged = nextDigest == prevDigest
      prevDigest = nextDigest
    }

    // e is now a star forest: (child -> root). Roots map to themselves.
    val assign = e.select(col("v").as("record_id"), col("u").as("cluster_id"))
      .union(e.select(col("u").as("record_id"), col("u").as("cluster_id")))
      .groupBy("record_id").agg(min("cluster_id").as("cluster_id"))
    (assign, iter)
  }

  /** Large-star: for every node u, connect all strictly-larger neighbors to
    * m(u) = min(u ∪ Γ(u)). Operates on the symmetrized edge list.
    *
    * NO trailing distinct (r6, guide §2.4 "remove shuffles outright"): the
    * only consumer is [[smallStar]], whose min-aggregates are duplicate-
    * insensitive (map-side combine absorbs dup edges before the exchange)
    * and whose OWN trailing distinct restores set semantics before the
    * digest — so dropping this one removes a full shuffle per fixpoint
    * round without changing any iterate. Duplication is bounded: an edge
    * (v, m) is emitted once per (u, v) input edge, i.e. at most deg(v)
    * copies, the same fan-in the groupBy below already absorbs. */
  private[mdm] def largeStar(e: DataFrame): DataFrame = {
    val n = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = n.groupBy("u")
      .agg(min("v").as("minv"))
      .select(col("u"), least(col("u"), col("minv")).as("m"))
    n.join(mins, Seq("u"))
      .where(col("v") > col("u"))
      .select(least(col("v"), col("m")).as("u"), greatest(col("v"), col("m")).as("v"))
      .where(col("u") =!= col("v"))
  }

  /** Small-star: for every node u, connect all smaller-or-equal neighbors
    * (and u itself) to m(u) = min over those neighbors. */
  private[mdm] def smallStar(e: DataFrame): DataFrame = {
    // orient edges high -> low: key = max endpoint, nbr = min endpoint
    val o = e.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
    val mins = o.groupBy("u").agg(min("v").as("m"))
    val relink = o.join(mins, Seq("u"))
      .select(greatest(col("v"), col("m")).as("u"), least(col("v"), col("m")).as("v"))
    val self = mins.select(col("u"), col("m").as("v"))
    relink.union(self)
      .where(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct()
  }

  /** Order-independent digest of an edge set: (count, xor of row hashes).
    * bit_xor (not sum) — cannot overflow under ANSI mode (Spark 4 default). */
  private def digest(e: DataFrame): (Long, Long) = {
    val r = e.agg(
      count(lit(1)).as("c"),
      coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L)).as("h"))
      .head()
    (r.getLong(0), r.getLong(1))
  }
}
