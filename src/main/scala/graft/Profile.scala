package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Diagnostic profiler: one main that reproduces the per-query and
  * per-core-count numbers the docs cite. It runs on Bench's own session,
  * warm-up, host stamps and child-JVM level runner, so a reading here is
  * taken the way Bench takes it. Not part of the driver contract; the
  * per-pipeline-stage view is `python3 erbench/run.py --trace 1`.
  *
  *   runMain graft.Profile query <tag> [name ...]
  *     Each driver query (all of them, sorted, when none is named) is timed
  *     alone through the noop sink between alloc/CPU stamps, its formatted
  *     plan goes to plans/<tag>/<name>.txt and its heaviest stages are
  *     printed. SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and
  *     SPARK_GRAFT_CPUS (default 32) as for Bench.
  *   runMain graft.Profile sweep <c1,c2,...>
  *     Bench.scoreJob on one PageGen corpus of SPARK_GRAFT_BENCH_ENTITIES
  *     entities at each core count, each level in a fresh child JVM;
  *     prints pairs/s per level and the efficiency of every N->4N pair.
  */
object Profile {

  private[graft] final case class Stage(id: Int, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleRead: Long, shuffleWrite: Long, tasks: Int)

  private[graft] final case class QueryProfile(name: String, sec: Double, stages: Seq[Stage])

  private final class Collector extends SparkListener {
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[Stage]()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages.add(Stage(i.stageId, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten, i.numTasks))
      ()
    }
  }

  /** The QueryExecution of the noop write a query's timing runs, reported
    * once it has executed. */
  private final class Written extends QueryExecutionListener {
    private val done = new java.util.concurrent.CompletableFuture[QueryExecution]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (qe.executedPlan.isInstanceOf[V2TableWriteExec]) done.complete(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    // listener events reach listeners asynchronously
    def plan(): QueryExecution = done.get(60, java.util.concurrent.TimeUnit.SECONDS)
  }

  /** Times each of `names` on `s` and writes its plan under `planDir`. The
    * session is left open, with its listeners and job description as found. */
  private[graft] def queries(s: SparkSession, sfDir: String, planDir: String,
      names: Seq[String]): Seq[QueryProfile] = {
    new java.io.File(planDir).mkdirs()
    names.map { name =>
      val listener = new Collector
      s.sparkContext.addSparkListener(listener)
      s.sparkContext.setJobDescription(s"profile: $name")
      try {
        // Timed region = construction + noop write, as in Bench part 1:
        // several queries run eager jobs while they are built.
        val a0 = Bench.allocStamp(); val c0 = Bench.cpuStamp()
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(s, sfDir)
        // The write runs a QueryExecution of its own: the plan that ran,
        // with AQE's final stages, is the one the listener reports.
        val written = new Written
        s.listenerManager.register(written)
        val (sec, ran) = try {
          df.write.mode("overwrite").format("noop").save()
          ((System.nanoTime() - t0) / 1e9, written.plan())
        } finally s.listenerManager.unregister(written)
        val a1 = Bench.allocStamp(); val c1 = Bench.cpuStamp()
        java.nio.file.Files.writeString(java.nio.file.Paths.get(planDir, s"$name.txt"),
          ran.explainString(ExplainMode.fromString("formatted")))
        Thread.sleep(300) // stage-completed events reach listeners asynchronously
        val stages = listener.stages.asScala.toSeq
        println(f"[profile] $name sec=$sec%.3f alloc=$a0%.1f/$a1%.1f cpu=$c0%.2f/$c1%.2f")
        stages.sortBy(-_.runMs).take(6).foreach { st =>
          println(f"[profile]   stage ${st.id}%4d run=${st.runMs / 1000.0}%7.1fs " +
            f"cpu=${st.cpuNs / 1e9}%7.1fs gc=${st.gcMs / 1000.0}%6.1fs " +
            f"sRead=${st.shuffleRead / 1e6}%8.1fMB sWrite=${st.shuffleWrite / 1e6}%8.1fMB " +
            f"tasks=${st.tasks}")
        }
        QueryProfile(name, sec, stages)
      } finally {
        s.sparkContext.removeSparkListener(listener)
        s.sparkContext.setJobDescription(null)
      }
    }
  }

  /** (N, efficiency) for every level N whose 4N level was also run, with
    * efficiency = (pairs/s at 4N) / (pairs/s at N) / 4, in level order. */
  private[graft] def efficiencies(pairsPerSec: Seq[(Int, Double)]): Seq[(Int, Double)] = {
    val at = pairsPerSec.toMap
    pairsPerSec.collect { case (n, thr) if at.contains(4 * n) => n -> at(4 * n) / thr / 4.0 }
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "query" :: tag :: names =>
      val s = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
      try {
        Bench.warmSession(s)
        queries(s, sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"),
          s"plans/$tag", if (names.isEmpty) SparkEntry.queries.keys.toSeq.sorted else names)
      } finally s.stop()
    case List("sweep", levels) =>
      val cores = levels.split(",").map(_.trim.toInt).toSeq
      val tmp = java.nio.file.Files.createTempDirectory("graft-profile").toString
      try {
        val input = s"$tmp/pages"
        val s = Bench.session(Runtime.getRuntime.availableProcessors)
        val pages = try Bench.writeCorpus(s, input) finally s.stop()
        println(s"[profile] corpus pages=$pages")
        val thr = cores.map { c =>
          val (pairs, sec) = Bench.runLevelRaw(c, input)
          println(f"[profile] cores=$c%2d pairs=$pairs sec=$sec%.2f thr=${pairs / sec}%.0f pairs/s")
          c -> pairs / sec
        }
        efficiencies(thr).foreach { case (n, e) => println(f"[profile] eff $n->${4 * n}: $e%.3f") }
      } finally Bench.deleteTree(new java.io.File(tmp))
    case _ =>
      System.err.println("usage: graft.Profile query <tag> [name ...] | sweep <c1,c2,...>")
      sys.exit(2)
  }
}
