package graft.mdm

import graft.SparkSpec
import scala.reflect.runtime.universe.TypeTag

/** Connected components vs an in-memory union-find oracle (SURVEY.md §5).
  * Every case runs through both paths: the driver union-find a small graph
  * takes at the default broadcast threshold, and the distributed loop. */
class ClusterSpec extends SparkSpec {

  private def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(i => i)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); var c = x
      while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }; r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0 until n).map(i => i.toLong -> find(i).toLong).toMap
  }

  /** Assignments and iteration count of one CC call over typed ids. */
  private def cc[T: TypeTag](edges: Seq[(T, T)], nodes: Seq[T]): (Map[T, T], Int) = {
    val e = spark.createDataFrame(edges).toDF("src", "dst")
    val n = spark.createDataFrame(nodes.map(Tuple1(_))).toDF("record_id")
    val (assign, iters) = ConnectedComponents.applyWithStats(e, n)
    (assign.collect().map(r => r.getAs[T](0) -> r.getAs[T](1)).toMap, iters)
  }

  /** `check` on the assignments of both paths; also pins which path ran
    * (the driver path reports 0 iterations, the loop at least one). */
  private def bothPaths[T: TypeTag](edges: Seq[(T, T)], nodes: Seq[T])(
      check: Map[T, T] => Unit): Unit = {
    val (driver, driverIters) = cc(edges, nodes)
    assert(driverIters == 0, "a small graph must take the driver path")
    check(driver)
    val (loop, loopIters) = withCcLoop(cc(edges, nodes))
    assert(loopIters >= 1, "broadcast off must force the distributed loop")
    check(loop)
  }

  private def ccSpark(n: Int, edges: Seq[(Long, Long)])(check: Map[Long, Long] => Unit): Unit =
    bothPaths(edges, (0L until n.toLong))(check)

  test("5-node chain merges fully (reference 2-hop propagation under-merges this)") {
    // FIXTURES.md §C: A-B, B-C, C-D, D-E must become ONE cluster; the
    // reference's fixed 2-iteration propagation (bigquery_utils.py:686-716)
    // leaves long chains split — we iterate to fixpoint instead.
    ccSpark(5, Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L))) { got =>
      assert(got.values.toSet.size == 1)
      assert(got.values.forall(_ == 0L))
    }
  }

  test("singletons, self-loops, duplicate and reversed edges handled") {
    ccSpark(6, Seq((1L, 2L), (2L, 1L), (3L, 3L), (4L, 5L), (4L, 5L))) { got =>
      assert(got(0L) == 0L && got(3L) == 3L)
      assert(got(1L) == got(2L))
      assert(got(4L) == got(5L))
      assert(got(1L) != got(4L))
    }
  }

  test("property: equals union-find oracle on random graphs (seeded)") {
    val rnd = new scala.util.Random(42)
    (1 to 8).foreach { trial =>
      val n = 2 + rnd.nextInt(59)
      val m = 1 + rnd.nextInt(90)
      val edges = (1 to m)
        .map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      if (edges.nonEmpty) {
        val oracle = unionFind(n, edges)
        ccSpark(n, edges)(got => assert(got == oracle, s"trial $trial: n=$n edges=$edges"))
      }
    }
  }

  test("pathological: star + long path converge within iteration budget") {
    val star = (1L to 30L).map(i => (0L, i))
    val path = (40L until 70L).map(i => (i, i + 1))
    ccSpark(71, star ++ path) { got =>
      assert(got.filter(_._1 <= 30L).values.toSet == Set(0L))
      assert(got.filter(_._1 >= 40L).values.toSet == Set(40L))
      assert((31L to 39L).forall(i => got(i) == i))
    }
  }

  test("property: driver path and distributed loop give identical assignments (seeded)") {
    // Random graphs with duplicate, self-loop and reversed edges, over long
    // ids and over string ids whose UTF-8 byte order (Spark's) often
    // differs from String.compareTo: U+E000..U+FFFF sort after a surrogate
    // pair in UTF-16 but before it in UTF-8.
    val rnd = new scala.util.Random(7)
    val alphabet = Vector("\uFFFF", "\uFFFE", "\uE000", "\uD83D\uDE00", "\uD800\uDC00", "\u00E9", "a")
    val strPool = ("" +: (1 to 60).map(_ =>
      Seq.fill(1 + rnd.nextInt(3))(alphabet(rnd.nextInt(alphabet.size))).mkString)).distinct
    def graph[T](pool: IndexedSeq[T]): (Seq[(T, T)], Seq[T]) = {
      val n = 2 + rnd.nextInt(pool.size - 1)
      val nodes = rnd.shuffle(pool).take(n)
      val base = (1 to 1 + rnd.nextInt(2 * n)).map(_ => (nodes(rnd.nextInt(n)), nodes(rnd.nextInt(n))))
      val extra = base.take(3) ++ base.take(3).map(_.swap) ++ nodes.take(2).map(v => (v, v))
      (rnd.shuffle(base ++ extra), nodes)
    }
    def samePaths[T: TypeTag](edges: Seq[(T, T)], nodes: Seq[T], trial: String): Unit = {
      val (driver, driverIters) = cc(edges, nodes)
      val (loop, loopIters) = withCcLoop(cc(edges, nodes))
      assert(driverIters == 0 && loopIters >= 1, trial)
      assert(driver == loop, s"$trial: edges=$edges")
    }
    (1 to 6).foreach { t =>
      val (e, n) = graph((0L until 80L).map(_ * 7919L - 300L))
      samePaths(e, n, s"long trial $t")
    }
    (1 to 6).foreach { t =>
      val (e, n) = graph(strPool)
      samePaths(e, n, s"string trial $t")
    }
    // the disagreeing pair itself: Spark's minimum is U+FFFF
    bothPaths(Seq(("\uD83D\uDE00", "\uFFFF")), Seq("\uFFFF", "\uD83D\uDE00")) { got =>
      assert(got.values.toSet == Set("\uFFFF"))
    }
  }

  test("1000-hop chain converges with RELIABLE checkpointing exercised (VERDICT r1 #9)") {
    // localCheckpoint keeps lineage cuts in executor memory — lost with the
    // executor on a real cluster. cfg.checkpointDir switches the cut to a
    // reliable store; this pins that path end-to-end and the O(log n)
    // round bound on the worst-case (single long chain) topology. The
    // driver path would resolve this graph without checkpoints, so the
    // loop is forced.
    val ckDir = java.nio.file.Files.createTempDirectory("graft-cc-ck").toString
    val n = 1001
    val edges = spark.range(1000).selectExpr("id AS src", "id + 1 AS dst")
    val nodes = spark.range(n.toLong).toDF("record_id")
    val cfg = MatchConfig(checkpointDir = Some(ckDir))
    withCcLoop {
      val (assign, iters) = ConnectedComponents.applyWithStats(edges, nodes, cfg)
      val labels = assign.select("cluster_id").distinct().collect().map(_.getLong(0))
      assert(labels.toSet == Set(0L), "1000-hop chain must collapse to cluster 0")
      assert(iters >= 1, "the distributed loop did not run")
      assert(iters <= 15, s"large-star/small-star should need O(log n) rounds, took $iters")
      // the reliable checkpoint directory was actually written
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckDir))
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, "reliable checkpoint dir is empty — checkpoint() not exercised")
      // ... and retention is O(1), not O(iterations): each cut deletes
      // generation k-2's dead files (ContextCleaner never frees reliable
      // checkpoints), so at most TWO uuid generation dirs survive — the one
      // the returned frame reads plus its predecessor.
      val gens = java.nio.file.Files.list(java.nio.file.Paths.get(ckDir))
        .filter(p => java.nio.file.Files.isDirectory(p)).count()
      assert(gens <= 2,
        s"expected <=2 surviving checkpoint generations, found $gens — dead rounds leaked")
      // the survivor is live: the returned assignment must still be readable
      assert(assign.count() == n.toLong)
    }
  }

  test("the 1000-hop chain resolves on the driver path to one cluster") {
    val edges = spark.range(1000).selectExpr("id AS src", "id + 1 AS dst")
    val nodes = spark.range(1001L).toDF("record_id")
    val (assign, iters) = ConnectedComponents.applyWithStats(edges, nodes)
    assert(iters == 0)
    assert(assign.select("cluster_id").distinct().collect().map(_.getLong(0)).toSet == Set(0L))
    assert(assign.count() == 1001L)
  }
}
