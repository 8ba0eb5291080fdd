package erbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
import graft.functions.GraftFunctions
import graft.mdm._
import graft.streaming.IncrementalMdm

/** One benchmark run in one JVM: generate the workload's input from the
  * seed, warm up, time the product's public entry points for the given
  * number of seconds, check the outputs, and write the raw record (op
  * latencies, check results, spans and task metrics) as JSON for `run.py`,
  * which turns it into metrics.
  *
  * Arguments: --workload NAME --seed N --seconds S --trace 0|1 --cores N
  * --work DIR (scratch, owned by this run) --out FILE (raw JSON record).
  */
object ErBench {

  /** `hot` > 0 puts that many entities on one hub domain, so all their
    * pages share one block; `stream` adds the incremental layer to the
    * workload's traced run. */
  final case class Workload(entities: Int, hot: Int, stream: Boolean)

  val Workloads: Map[String, Workload] = Map(
    "batch_uniform" -> Workload(entities = 400, hot = 0, stream = true),
    "batch_hot" -> Workload(entities = 400, hot = 200, stream = false))

  /** The drift stream of a traced run: `PageGen.driftStream` over this many
    * entities, sliced into this many micro-batches. One `processBatch` costs
    * over ten seconds even on ~80 records, so the stream is small. */
  private val StreamEntities = 60
  private val StreamBatches = 2

  /** Untraced runs time at least this many ops, so `pipeline_s` is a median
    * over more than one op even when one op outlasts `--seconds`. The JIT
    * still compiles thousands of methods during the first ops after the
    * warm-up, so a single op varies by up to a third between runs. */
  private val MinTimedOps = 3

  /** Attached pairs the kernel spans run over: enough for stable per-pair
    * CPU, few enough that the built-in Levenshtein stays a few seconds. */
  private val KernelPairs = 200000

  private val PageCols = Seq("url", "warc_ts", "html", "text", "lang")
  private val cfg = MatchConfig()

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = a("workload")
    val w = Workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val cores = a("cores").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("erbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // Spark keeps 100 generated classes by default, fewer than one op
      // needs: every op would evict, recompile and re-JIT its own generated
      // code. With room for all of them, the timed ops reuse what the
      // warm-up generated, and code generation shows in setup_s.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftFunctions.register(spark)
    val tracer = if (traced) Some(new Tracer(spark.sparkContext)) else None

    phase("session")
    val rec = mutable.LinkedHashMap[String, Any]("workload" -> name, "seed" -> seed,
      "trace" -> traced, "cores" -> cores)
    val in = writeInput(spark, PageGen.pagesWithTruth(spark, w.entities, w.hot, seed)
      .withColumn("batch", lit(0)), work.resolve("input"))
    rec ++= Seq("input_records" -> in.records, "input_bytes" -> in.bytes)

    phase("input")
    warmUp(spark, in, work)
    phase("warm-up")
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    rec("setup_s") = (System.currentTimeMillis() - jvmStart) / 1000.0

    rec ++= runBatch(spark, in, seconds, work, tracer)
    if (w.stream) tracer.foreach(t => rec ++= runStream(spark, seed, work, t))
    phase("timed + checks")

    spark.stop() // drains the listener bus before the tracer is read
    tracer.foreach { t =>
      rec("spans") = t.spans.toSeq
      rec("tasks") = t.tasks.toSeq
      rec("jobs") = t.jobs.toSeq
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.write(Paths.get(a("out")), mapper.writeValueAsBytes(rec))
  }

  // --- input ---------------------------------------------------------------

  final case class Input(pagesDir: Path, truthDir: Path, records: Long, bytes: Long)

  /** Write generated pages (with truth and a `batch` slice column) as
    * parquet. The program later reads only the page columns; `entity_id`
    * goes to a separate truth table that only the checks read. */
  private def writeInput(spark: SparkSession, gen: DataFrame, dir: Path): Input = {
    val pagesDir = dir.resolve("pages")
    val truthDir = dir.resolve("truth")
    val all = gen.persist(MEMORY_AND_DISK)
    all.select((PageCols :+ "batch").map(col): _*).write.partitionBy("batch")
      .parquet(pagesDir.toString)
    all.select("url", "entity_id").distinct().write.parquet(truthDir.toString)
    all.unpersist()
    Input(pagesDir, truthDir, spark.read.parquet(pagesDir.toString).count(),
      treeBytes(pagesDir, parquetOnly = true))
  }

  private def readPages(spark: SparkSession, in: Input): DataFrame =
    spark.read.parquet(in.pagesDir.toString).select(PageCols.map(col): _*)

  /** One untimed `runCheckpointed` of the real input, so code generation
    * and most JIT compilation are done before the first timed call. */
  private def warmUp(spark: SparkSession, in: Input, work: Path): Unit = {
    val dir = work.resolve("warmup")
    Pipeline.runCheckpointed(readPages(spark, in), new SnapshotStore(dir.toString), cfg)
    deleteTree(dir)
  }

  // --- batch workloads -----------------------------------------------------

  private def runBatch(spark: SparkSession, in: Input, seconds: Double, work: Path,
      tracer: Option[Tracer]): Map[String, Any] = {
    val ops = mutable.ArrayBuffer[mutable.LinkedHashMap[String, Any]]()
    val counters = mutable.ArrayBuffer[String]()
    val t0 = System.nanoTime()
    // a traced run spends half its time untraced (for trace.delta_s)
    val untracedUntil = if (tracer.isDefined) seconds / 2 else seconds
    def elapsed = (System.nanoTime() - t0) / 1e9
    var lastStore: SnapshotStore = null
    // the peak RSS after a fixed number of ops, not after however many fit
    // in the window: a slower host must not read as a smaller footprint
    var peakRssMb = 0.0

    def iteration(i: Int)(run: (DataFrame, SnapshotStore) => Unit): Double = {
      val dir = work.resolve(s"store-$i")
      val store = new SnapshotStore(dir.toString)
      val s0 = System.nanoTime()
      val ok = scala.util.Try(run(readPages(spark, in), store)).isSuccess
      val s = (System.nanoTime() - s0) / 1e9
      val bytes = treeBytes(dir, parquetOnly = false)
      ops += mutable.LinkedHashMap("s" -> s, "ok" -> ok, "store_bytes" -> bytes,
        "traced" -> tracer.exists(_.run.nonEmpty))
      counters += Seq("standardize", "scored", "clusters", "golden")
        .map(st => store.manifest(st).fold("")(countersOf)).mkString("|")
      if (lastStore != null) deleteTree(Paths.get(lastStore.rootPath))
      lastStore = store
      s
    }

    val minUntraced = if (tracer.isDefined) 1 else MinTimedOps
    var i = 0
    while (i < minUntraced || elapsed < untracedUntil) {
      iteration(i)((pages, store) => Pipeline.runCheckpointed(pages, store, cfg))
      if (i < minUntraced) peakRssMb = vmHwmMb()
      i += 1
    }
    val layers = mutable.ArrayBuffer[Map[String, Double]]()
    tracer.foreach { t =>
      var k = 0
      while (k < 1 || elapsed < seconds) {
        t.run = s"traced-$k"
        iteration(i) { (pages, store) => layers += tracedPipeline(t, pages, store) }
        i += 1; k += 1
      }
    }

    // --- checks (untimed) ---
    phase("timed")
    val fails = mutable.ArrayBuffer[String]()
    val last = ops.size - 1
    // every earlier run committed the same stage counters as the checked one
    counters.indices.filter(j => counters(j) != counters(last)).foreach { j =>
      ops(j)("ok") = false; fails += s"run $j committed counters ${counters(j)} != ${counters(last)}"
    }
    val clean = lastStore.read(spark, "standardize")
    val assignments = lastStore.read(spark, "clusters")
    val golden = lastStore.read(spark, "golden")
    val f1 = pairwiseF1(spark, in, clean, assignments)
    if (f1._1 < 0.99) fails += f"pairwise F1 ${f1._1}%.4f < 0.99"
    fails ++= oneClusterPerRecord(clean.select("record_id"), assignments, golden)
    if (fails.exists(!_.startsWith("run "))) ops(last)("ok") = false

    Map("ops" -> ops.toSeq, "layers" -> layers.toSeq, "check_failures" -> fails.toSeq,
      "peak_rss_mb" -> peakRssMb,
      "baseline_s" -> ops.filterNot(_("traced") == true).map(_("s")).toSeq,
      "f1" -> f1._1, "f1_counts" -> f1._2)
  }

  /** `Pipeline.runCheckpointed`'s calls, in its order and with its
    * `SnapshotStore` commits, one span per module call. Each layer's output
    * is persisted and counted inside its own span so the span covers that
    * layer and nothing downstream; commits then write the materialized
    * frame. Bookkeeping counts run after the root span closes. */
  private def tracedPipeline(t: Tracer, pages: DataFrame, store: SnapshotStore): Map[String, Double] = {
    val n = mutable.LinkedHashMap[String, Double]()
    def counted(df: DataFrame, key: String = ""): DataFrame = {
      val p = df.persist(MEMORY_AND_DISK)
      val c = p.count()
      if (key.nonEmpty) n(key) = c.toDouble
      p
    }
    var keep = List.empty[DataFrame]
    val root = t.span("pipeline") {
      val std = t.span("standardize") {
        counted(Standardize(pages).withColumn("capture_date", to_date(col("warc_ts"))),
          "standardize.rows_out")
      }
      val clean = t.span("snapshot", "snapshot.standardize") {
        store.commit(std, "standardize", partitionBy = Seq("capture_date"))
      }
      std.unpersist()
      val (withSig, keys) = t.span("blocking") {
        val ws = counted(Blocking.withSignature(clean, cfg).select(Scoring.attachColumns.map(col): _*))
        (ws, counted(Blocking.blockKeysFromSig(ws, cfg), "blocking.keys_out"))
      }
      val (cands, attached) = t.span("pairs") {
        val c = counted(Pairs.candidates(keys, cfg), "pairs.candidates")
        (c, t.span("pairs", "pairs.attach")(counted(Pairs.attach(c, withSig), "scoring.pairs_scored")))
      }
      val scoredMem = t.span("scoring")(counted(Scoring(attached, cfg)))
      val scored = t.span("snapshot", "snapshot.scored") {
        store.commit(scoredMem, "scored",
          Map("candidates_generated" -> n("pairs.candidates").toLong) ++
            Pairs.droppedBlockStats(keys, cfg))
      }
      val (assignMem, nEdges) = t.span("cc") {
        val edges = scored
          .where(col("match_decision").isin("auto_merge", "human_review"))
          .select(col("record1_id").as("src"), col("record2_id").as("dst"))
        val (a, rounds) = ConnectedComponents.applyWithStats(edges, clean.select("record_id"), cfg)
        n("cc.rounds") = rounds
        (counted(a), edges.count())
      }
      val assignments = t.span("snapshot", "snapshot.clusters") {
        store.commit(assignMem, "clusters", Map("merge_edges" -> nEdges))
      }
      val goldenMem = t.span("golden")(counted(Golden(assignments, clean), "golden.rows_out"))
      t.span("snapshot", "snapshot.golden")(store.commit(goldenMem, "golden"))
      keep = List(withSig, keys, cands, attached, scoredMem, assignMem, goldenMem)
      (clean, keys, attached, scoredMem, assignments)
    }
    val (clean, keys, attached, scored, assignments) = root

    // bookkeeping counts, outside every span
    val blocks = keys.groupBy("block_key").agg(count(lit(1)).as("n"))
      .agg(max("n"), sum(when(col("n") > cfg.maxBlockSize, 1L).otherwise(0L))).head()
    n("blocking.max_block") = blocks.getLong(0).toDouble
    n("blocking.hot_blocks") = blocks.getLong(1).toDouble
    val edges = scored.groupBy("match_decision").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    n("scoring.edges_auto") = edges.getOrElse("auto_merge", 0L).toDouble
    n("scoring.edges_review") = edges.getOrElse("human_review", 0L).toDouble
    n("cc.components") = assignments.select("cluster_id").distinct().count().toDouble
    val dir = Paths.get(store.rootPath)
    n("snapshot.commits") = store.committed().size.toDouble
    n("snapshot.files_written") = treeFiles(dir).toDouble
    n("snapshot.bytes_written") = treeBytes(dir, parquetOnly = false).toDouble

    kernels(t, attached, clean, n)
    keep.foreach(_.unpersist())
    n.toMap
  }

  /** Each similarity kernel the scorer uses, alone over this workload's own
    * attached pairs (at most [[KernelPairs]] of them; the built-in
    * `levenshtein` beside the native `edit_distance` as its twin), and the
    * minhash signature over the clean texts. Inputs are cached first, so a
    * span's CPU is the cached scan plus the kernel. */
  private def kernels(t: Tracer, attached: DataFrame, clean: DataFrame,
      n: mutable.Map[String, Double]): Unit = {
    import GraftFunctions._
    val texts = clean.select("text").persist(MEMORY_AND_DISK)
    n("functions.rows") = texts.count().toDouble
    val pairs = attached.limit(KernelPairs).persist(MEMORY_AND_DISK)
    n("functions.pairs") = pairs.count().toDouble
    t.span("functions") {
      Seq(
        "jaro_winkler" -> jaroWinkler(col("a_slug"), col("b_slug")),
        "edit_distance" -> editDistance(col("a_head"), col("b_head")),
        "levenshtein_builtin" -> levenshtein(col("a_head"), col("b_head")),
        "token_overlap" -> tokenOverlap(col("a_head"), col("b_head"))
      ).foreach { case (k, e) =>
        t.span("functions", s"functions.$k")(pairs.agg(sum(e.cast("double"))).head())
      }
      t.span("functions", "functions.minhash") {
        texts.agg(sum(size(textMinhash(col("text"), cfg.numHashes, cfg.shingleSize)))).head()
      }
    }
    texts.unpersist()
    pairs.unpersist()
  }

  // --- incremental layer (traced runs of stream workloads) ---------------

  /** The incremental layer, measured in a traced run: a seeded drift stream
    * (80% new entities, 20% re-crawls) is written as parquet slices and fed
    * to `IncrementalMdm.processBatch` once per slice, in order, on one fresh
    * store — a closed loop with one caller: the next batch is sent after
    * `processBatch` returns, i.e. after its snapshot commit. Each call is
    * one span; the stream's final golden is then checked against
    * `Pipeline.run` on the union of the slices. */
  private def runStream(spark: SparkSession, seed: Long, work: Path,
      t: Tracer): Map[String, Any] = {
    val in = writeInput(spark, PageGen.driftStream(spark, StreamEntities, StreamBatches, seed),
      work.resolve("stream-input"))
    val batch = (b: Int) => spark.read.parquet(in.pagesDir.resolve(s"batch=$b").toString)
    val dir = work.resolve("stream-store")
    val store = new SnapshotStore(dir.toString)
    val inc = new IncrementalMdm(store, cfg)
    t.run = "stream"
    val ops = (0 until StreamBatches).map { b =>
      val records = batch(b).count()
      val files0 = treeFiles(dir)
      val s0 = System.nanoTime()
      val ok = scala.util.Try(t.span("incremental", s"incremental.batch$b")(inc.processBatch(batch(b))))
        .isSuccess
      val s = (System.nanoTime() - s0) / 1e9
      val files1 = treeFiles(dir)
      mutable.LinkedHashMap[String, Any]("index" -> b, "s" -> s, "ok" -> ok, "records" -> records,
        "files_written" -> (files1 - files0), "live_files" -> files1)
    }
    store.manifests("state").map(_._2).zip(ops).foreach { case (m, op) =>
      op("history_rows_scanned") = counter(m, "history_rows_scanned")
      op("pairs_scored") = counter(m, "pairs_scored")
    }

    val fails = mutable.ArrayBuffer[String]()
    val ref = Pipeline.run(spark.read.parquet(in.pagesDir.toString).select(PageCols.map(col): _*), cfg)
    val streamGolden = inc.golden(spark).persist(MEMORY_AND_DISK)
    val got = goldenKey(streamGolden)
    val want = goldenKey(ref.golden)
    if (got != want)
      fails += s"stream golden (${got.size} rows) != batch golden of the union (${want.size} rows)"
    fails ++= oneClusterPerRecord(ref.clean.select("record_id"), ref.assignments, streamGolden)
    if (fails.nonEmpty) ops.last("ok") = false
    Map("stream_ops" -> ops, "stream_check_failures" -> fails.toSeq)
  }

  private def goldenKey(df: DataFrame): Seq[String] =
    df.select("master_id", "canonical_url", "source_record_count")
      .orderBy("master_id").collect().map(_.toString).toSeq

  // --- checks --------------------------------------------------------------

  /** `Evaluate.pairwise` against the generator's truth at the blocking keys. */
  private def pairwiseF1(spark: SparkSession, in: Input, clean: DataFrame,
      assignments: DataFrame): (Double, Map[String, Long]) = {
    val truth = spark.read.parquet(in.truthDir.toString)
    val byRecord = clean.select("record_id", "url").join(truth, Seq("url"))
      .select("record_id", "entity_id")
    val labeled = Evaluate.labeledPairs(Blocking.blockKeys(clean, cfg), byRecord, cfg)
    val m = Evaluate.pairwise(labeled, assignments)
    (m.f1, Map("tp" -> m.tp, "fp" -> m.fp, "fn" -> m.fn))
  }

  /** Every clean record has exactly one cluster, and every golden record's
    * lineage lists each clean record exactly once across all golden rows. */
  private def oneClusterPerRecord(ids: DataFrame, assignments: DataFrame,
      golden: DataFrame): Seq[String] = {
    val out = mutable.ArrayBuffer[String]()
    val multi = assignments.groupBy("record_id").count().where(col("count") =!= 1).count()
    if (multi > 0) out += s"$multi records have more than one cluster"
    val missing = ids.join(assignments, Seq("record_id"), "left_anti").count()
    if (missing > 0) out += s"$missing records have no cluster"
    val lineage = golden.select(explode(col("source_record_ids")).as("record_id"))
    val dup = lineage.groupBy("record_id").count().where(col("count") =!= 1).count()
    if (dup > 0) out += s"$dup records appear in more than one golden record"
    val unlisted = ids.join(lineage, Seq("record_id"), "left_anti").count()
    if (unlisted > 0) out += s"$unlisted records appear in no golden record"
    out.toSeq
  }

  // --- helpers -------------------------------------------------------------

  /** Progress line on stderr: seconds since JVM start at the end of a phase. */
  private def phase(name: String): Unit = {
    val up = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    System.err.println(f"erbench: $name done at $up%.1fs")
  }

  private def countersOf(manifest: String): String =
    """"counters":\{[^}]*\}""".r.findFirstIn(manifest).getOrElse("")

  private def counter(manifest: String, key: String): Long =
    s""""$key":(\\d+)""".r.findFirstMatchIn(manifest).fold(-1L)(_.group(1).toLong)

  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else scala.util.Using.resource(Files.walk(p))(_.iterator().asScala.filter(Files.isRegularFile(_)).toVector)

  private def treeFiles(p: Path): Long = walk(p).size.toLong

  private def treeBytes(p: Path, parquetOnly: Boolean): Long =
    walk(p).filter(f => !parquetOnly || f.getFileName.toString.endsWith(".parquet"))
      .map(Files.size).sum

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) scala.util.Using.resource(Files.walk(p)) { st =>
      st.iterator().asScala.toVector.reverse.foreach(Files.deleteIfExists)
    }

  /** The JVM's peak resident set (VmHWM), in MB. */
  private def vmHwmMb(): Double =
    scala.util.Using.resource(scala.io.Source.fromFile("/proc/self/status")) { src =>
      src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(-1.0)
    }
}
