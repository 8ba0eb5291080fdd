package graft.mdm

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class SnapshotStoreSpec extends SparkSpec {

  private def newStore(): SnapshotStore =
    new SnapshotStore(java.nio.file.Files.createTempDirectory("graft-store").toString)

  private def counter(manifest: String, key: String): Long =
    s""""$key":(\\d+)""".r.findFirstMatchIn(manifest).get.group(1).toLong

  /** Rows with an int and a date column to partition on, like the
    * pipeline's bucket and capture-date partitions. */
  private def rows: DataFrame = spark.range(0, 50).select(
    col("id"), (col("id") % 4).cast("int").as("bucket"),
    date_add(lit("2024-03-01").cast("date"), (col("id") % 3).cast("int")).as("day"),
    concat(lit("r"), col("id").cast("string")).as("name"))

  /** (name, frame, partition columns): plain, partitioned, empty and
    * partitioned-empty, the empty ones both filtered to nothing and cut by
    * `limit(0)`. */
  private def cases: Seq[(String, DataFrame, Seq[String])] = Seq(
    ("plain", rows, Nil),
    ("partitioned", rows, Seq("bucket", "day")),
    ("empty", rows.where(col("id") < 0), Nil),
    ("limit0", rows.limit(0), Nil),
    ("partempty", rows.where(col("id") < 0), Seq("bucket")),
    ("partlimit0", rows.limit(0), Seq("day")))

  private def written(dir: java.nio.file.Path): Long =
    spark.read.schema(rows.schema).parquet(dir.toString).count()

  test("commit: the observed row count equals the rows written") {
    val store = newStore()
    cases.foreach { case (name, df, parts) =>
      val committed = store.commit(df, name, partitionBy = parts)
      val m = store.manifest(name).get
      val onDisk = written(store.latestFor(name).get.resolve("data"))
      assert(counter(m, "rows") == onDisk, s"$name: $m")
      assert(counter(m, "row_count") == onDisk, s"$name: $m")
      assert(committed.count() == onDisk, name)
    }
    assert(counter(store.manifest("plain").get, "rows") == 50L)
  }

  test("commitMany: every part's observed row count equals the rows written") {
    val store = newStore()
    store.commitMany(cases.map { case (n, df, _) => n -> df }, "state",
      counters = Map("batch_seq" -> 7L),
      partitionByPart = cases.map { case (n, _, p) => n -> p }.toMap)
    val m = store.manifest("state").get
    val snap = store.latestFor("state").get
    cases.foreach { case (name, _, _) =>
      assert(counter(m, s"rows_$name") == written(snap.resolve(s"part-$name")), s"$name: $m")
    }
    assert(counter(m, "rows_partitioned") == 50L && counter(m, "batch_seq") == 7L)
  }

  test("commit counters are evaluated after the write") {
    val store = newStore()
    def parquetFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(store.rootPath))
      .filter(_.toString.endsWith(".parquet")).count()
    store.commit(rows, "s", Map("files_seen" -> parquetFiles))
    assert(counter(store.manifest("s").get, "files_seen") > 0L)
  }

  test("an observed count the optimizer drops is counted by the reader") {
    import spark.implicits._
    val (observed, n) = SnapshotStore.observeCount(rows)
    // an inner join with an empty relation is replaced by an empty relation,
    // observed node included
    val joined = observed.join(Seq.empty[Long].toDF("id"), "id")
    assert(joined.count() == 0L)
    assert(n() == 50L)
  }

  test("commit returns a frame with the schema a read of the stage has") {
    val store = newStore()
    cases.filter(c => Seq("plain", "partitioned").contains(c._1)).foreach { case (name, df, parts) =>
      val committed = store.commit(df, name, partitionBy = parts)
      val read = store.read(spark, name)
      assert(committed.schema.map(f => f.name -> f.dataType) == read.schema.map(f => f.name -> f.dataType),
        s"$name: ${committed.schema.simpleString} vs ${read.schema.simpleString}")
      assert(committed.exceptAll(read).isEmpty && read.exceptAll(committed).isEmpty, name)
    }
  }
}
