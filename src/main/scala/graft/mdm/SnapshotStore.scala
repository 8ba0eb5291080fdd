package graft.mdm

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import SnapshotStore.SnapshotManifest
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.StructType
import org.json4s.{DefaultFormats, JLong, JNull, JValue}
import org.json4s.jackson.JsonMethods

/** Iceberg-SEMANTICS snapshot store over plain Parquet.
  *
  * The environment has no Iceberg runtime jar (SURVEY.md env facts), so the
  * table-format behaviors the north rule needs — atomic commit, snapshot
  * lineage, resume-from-last-committed — are implemented behind this small
  * façade, with a manifest format deliberately Iceberg-shaped so a real
  * Iceberg catalog can be swapped in on a cluster (SURVEY.md §7.5.4
  * documents this as the swap-in point).
  *
  * Each commit publishes one [[SnapshotStore.SnapshotManifest]] as
  * `manifest.json`, with the fields:
  *  - `snapshot_id`: one above the store's latest id at commit;
  *  - `parent_id`: the store's latest id at commit, `null` on the first;
  *  - `stage`: the stage name, also in the snapshot dir's name;
  *  - `row_count`: rows written, on a [[commit]] only;
  *  - `parts`: the part names, on a [[commitMany]] only;
  *  - `counters`: "rows" (commit) or "rows_<part>" (commitMany), plus the
  *    caller's lineage counters;
  *  - `committed_at_epoch_ms`: wall clock when the manifest was written.
  *
  * Commit protocol: write Parquet to `<root>/.tmp-<stage>-<id>/`, then write
  * the manifest INTO the temp dir, then a single atomic directory rename to
  * `<root>/snap-<id>-<stage>/`. Readers only ever see fully-committed
  * snapshots; a crashed writer leaves only a `.tmp-` dir that is ignored and
  * garbage-collected on the next run.
  */
final class SnapshotStore(rootDir: String) {
  private val root: Path = Paths.get(rootDir)
  Files.createDirectories(root)

  /** Absolute store path — a stable identity for callers that must scope
    * per-store working state (e.g. IncrementalMdm's checkpoint scopes). */
  def rootPath: String = root.toAbsolutePath.toString

  private def snapDirName(id: Long, stage: String) = f"snap-$id%05d-$stage"

  /** Materialized directory listing with the stream closed (Files.list holds
    * an open directory fd until closed — ADVICE r1: long-running streaming
    * jobs call this several times per micro-batch). */
  private def listDir(dir: Path): Seq[Path] =
    scala.util.Using.resource(Files.list(dir))(_.iterator().asScala.toVector)

  /** All committed snapshots, ordered by id. */
  def committed(): Seq[(Long, String, Path)] =
    listDir(root)
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("snap-"))
      .flatMap { p =>
        val name = p.getFileName.toString.stripPrefix("snap-")
        val dash = name.indexOf('-')
        if (dash < 0) None
        else scala.util.Try((name.take(dash).toLong, name.drop(dash + 1), p)).toOption
      }
      .sortBy(_._1)

  def latestFor(stage: String): Option[Path] =
    committed().filter(_._2 == stage).lastOption.map(_._3)

  /** True if `stage` already has a committed snapshot (resume hit). */
  def has(stage: String): Boolean = latestFor(stage).isDefined

  def read(spark: SparkSession, stage: String): DataFrame =
    spark.read.parquet(latestFor(stage)
      .getOrElse(throw new IllegalStateException(s"no committed snapshot for $stage"))
      .resolve("data").toString)

  /** Write + atomically commit a stage snapshot and return the committed
    * frame. Every counter comes from the write itself: the row count
    * ("rows", and the manifest's "row_count") is observed on the written
    * plan, and `counters` is evaluated only after the write, so a caller
    * can pass counts observed during it. If a committed snapshot for the
    * stage exists and `overwrite` is false, returns it without
    * recomputation (resumability). */
  def commit(df: DataFrame, stage: String, counters: => Map[String, Long] = Map.empty,
      overwrite: Boolean = false, partitionBy: Seq[String] = Nil): DataFrame = {
    val spark = df.sparkSession
    if (!overwrite && has(stage)) return read(spark, stage)
    val id = publish(stage) { (m, tmp) =>
      val rows = writeCounted(df, tmp.resolve("data"), partitionBy)
      m.copy(row_count = Some(rows), counters = counters + ("rows" -> rows))
    }
    // The schema is known, so the read-back infers nothing. Partition
    // columns go last, where a partitioned parquet read places them.
    val (parts, data) = df.schema.partition(f => partitionBy.contains(f.name))
    spark.read.schema(StructType(data ++ partitionBy.flatMap(c => parts.find(_.name == c))))
      .parquet(root.resolve(snapDirName(id, stage)).resolve("data").toString)
  }

  /** Write `df` as parquet to `dst` and return its row count, observed on
    * the written plan while the write runs: no second scan. */
  private def writeCounted(df: DataFrame, dst: Path, partitionBy: Seq[String]): Long = {
    val (counted, rows) = SnapshotStore.observeCount(df)
    val w = counted.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(dst.toString)
    rows()
  }

  /** The commit protocol shared by [[commit]] and [[commitMany]]: `write`
    * fills the temp dir and completes the manifest it is given with its
    * stage-specific field and counters; then the manifest is written and
    * the snapshot published by one atomic rename. Returns the committed
    * snapshot's id. */
  private def publish(stage: String)(write: (SnapshotManifest, Path) => SnapshotManifest): Long = {
    gcTemp()
    val parent = committed().lastOption.map(_._1)
    val id = parent.fold(0L)(_ + 1)
    val tmp = root.resolve(s".tmp-$stage-$id")
    val m = write(SnapshotManifest(id, parent, stage), tmp)
      .copy(committed_at_epoch_ms = System.currentTimeMillis())
    Files.write(tmp.resolve("manifest.json"), m.json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, root.resolve(snapDirName(id, stage)), StandardCopyOption.ATOMIC_MOVE)
    id
  }

  /** ATOMIC multi-part commit: every part's parquet is written into ONE temp
    * dir, then a single directory rename publishes all of them together —
    * there is no observable state where part A is committed and part B is
    * not (fixes VERDICT r1 "what's wrong #2": the 3-separate-commits crash
    * window in the streaming path). Parts land under `part-<name>/`.
    *
    * `partitionByPart` maps a part name to Hive-style partition columns for
    * its write (the reference's own scale advice: PARTITION BY + CLUSTER BY,
    * batch_mdm_gcp/MDM_BATCH_PROCESSING.md:441-463) — readers filtering on
    * those columns get directory-level partition pruning, the lever that
    * keeps per-micro-batch history scans O(touched partitions) instead of
    * O(history) (VERDICT r2 what's-wrong #4 / missing #3). */
  def commitMany(parts: Seq[(String, DataFrame)], stage: String,
      counters: => Map[String, Long] = Map.empty,
      partitionByPart: Map[String, Seq[String]] = Map.empty): Long = {
    require(parts.nonEmpty)
    publish(stage) { (m, tmp) =>
      val rows = parts.map { case (name, df) =>
        name -> writeCounted(df, tmp.resolve(s"part-$name"), partitionByPart.getOrElse(name, Nil))
      }
      m.copy(parts = Some(rows.map(_._1)),
        counters = counters ++ rows.map { case (k, v) => s"rows_$k" -> v })
    }
  }

  /** Read a DELTA part as the union over ALL committed snapshots of `stage`
    * that contain it — the Iceberg-style append-log read (parts like the
    * clean record store and the audit log are written as per-batch deltas so
    * per-batch WRITE volume stays O(batch), not O(history)).
    *
    * `fromId` starts the union at that snapshot id (inclusive) — the
    * compaction lever: a part whose snapshot carries a full rewrite
    * ("compacted" counter) makes every older delta redundant, so readers
    * skip them instead of unioning an ever-growing log. */
  def readPartAll(spark: SparkSession, stage: String, part: String,
      fromId: Long = 0L): DataFrame = {
    val dirs = committed().filter(s => s._2 == stage && s._1 >= fromId)
      .map(_._3.resolve(s"part-$part"))
      .filter(hasDataFiles).map(_.toString)
    require(dirs.nonEmpty, s"no committed non-empty '$part' parts for stage $stage")
    // One read PER snapshot root, unioned: a single multi-path read cannot
    // infer Hive partition columns over several roots (Spark's
    // CONFLICTING_DIRECTORY_STRUCTURES guard), and per-root reads keep
    // partition discovery AND filter pushdown — a predicate on a partition
    // column pushes through the Union into every scan's PartitionFilters.
    dirs.map(d => spark.read.parquet(d))
      .reduce(_.unionByName(_, allowMissingColumns = true))
  }

  private def manifestText(snap: Path): String =
    new String(Files.readAllBytes(snap.resolve("manifest.json")), StandardCharsets.UTF_8)

  def manifest(stage: String): Option[String] = latestFor(stage).map(manifestText)

  /** (snapshot id, manifest JSON) for every committed snapshot of `stage`,
    * ordered by id. */
  def manifests(stage: String): Seq[(Long, String)] =
    committed().filter(_._2 == stage).map { case (id, _, p) => id -> manifestText(p) }

  /** Every committed manifest of `stage`, parsed, ordered by id: a
    * metadata read (manifests are a few hundred bytes each). */
  def snapshots(stage: String): Seq[SnapshotManifest] =
    manifests(stage).map(m => SnapshotManifest.parse(m._2))

  /** True if the directory holds at least one real data file. A PARTITIONED
    * write of an EMPTY frame (e.g. a crash-replayed micro-batch whose whole
    * delta is already committed) produces only _SUCCESS — no files, no
    * schema to infer — so empty delta parts must be recognized and skipped
    * on read rather than read blindly. */
  private def hasDataFiles(p: Path): Boolean =
    Files.isDirectory(p) && {
      scala.util.Using.resource(Files.walk(p)) { st =>
        st.iterator().asScala.exists { f =>
          val n = f.getFileName.toString
          Files.isRegularFile(f) && !n.startsWith("_") && !n.startsWith(".")
        }
      }
    }

  /** Remove uncommitted temp dirs from crashed runs. */
  def gcTemp(): Unit =
    listDir(root)
      .filter(p => p.getFileName.toString.startsWith(".tmp-"))
      .foreach(deleteRecursively)

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) listDir(p).foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}

object SnapshotStore {
  /** The manifest one commit publishes (fields listed on the class), the
    * only writer and parser of `manifest.json`. Fields are named as their
    * JSON keys. */
  final case class SnapshotManifest(snapshot_id: Long, parent_id: Option[Long], stage: String,
      row_count: Option[Long] = None, parts: Option[Seq[String]] = None,
      counters: Map[String, Long] = Map.empty, committed_at_epoch_ms: Long = 0L) {
    import org.json4s.JsonDSL._
    def json: String = JsonMethods.compact(
      ("snapshot_id" -> snapshot_id) ~ ("parent_id" -> parent_id.fold[JValue](JNull)(JLong(_))) ~
        ("stage" -> stage) ~ ("row_count" -> row_count) ~ ("parts" -> parts) ~
        ("counters" -> counters) ~ ("committed_at_epoch_ms" -> committed_at_epoch_ms))
  }

  object SnapshotManifest {
    def parse(json: String): SnapshotManifest =
      JsonMethods.parse(json).extract[SnapshotManifest](DefaultFormats, implicitly)
  }

  /** `df` with a count of its rows (or of the rows where `what` is non-null)
    * taken as the rows flow through it, and the reader of that count. The
    * count is an observed metric (`Dataset.observe`), so it costs no Spark
    * action of its own; read it only after an action over the returned
    * frame has completed, e.g. the write that commits it.
    *
    * The optimizer may still drop the observed node, e.g. an inner join
    * whose other side turns out empty at run time is replaced by an empty
    * relation. Spark then completes the observation without the metric,
    * and the reader counts `df` with an action of its own. */
  def observeCount(df: DataFrame, what: Column = lit(1)): (DataFrame, () => Long) = {
    val o = Observation()
    (df.observe(o, count(what).as("n")), () => o.get.get("n") match {
      case Some(n: Long) => n
      case _ => df.agg(count(what)).head().getLong(0)
    })
  }
}
