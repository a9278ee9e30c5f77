package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.graft.PlanBridge
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev-only per-query profiler on the `graft.Session` shape: times each
  * named query in isolation through the noop sink (so the computation
  * is measured, not the sink), labels jobs, prints one line per stage
  * over 0.1 s and one line per streaming micro-batch, and optionally
  * dumps `explain("formatted")` to `<log dir>/<name>_<tag>.txt`.
  * Each run's line also counts the Spark jobs it launched (`jobs=`) and
  * the `Window` operators with no partition spec in the plans it
  * executed (`global_windows=`; each moves its whole input to one task).
  * A failing query prints its error and the run goes on.
  *
  * Usage: runMain graft.QProf q230_ppjoin_pairs,q140_label_communities [tag]
  *   `all` names every `SparkEntry.queries` key;
  *   SPARK_GRAFT_SF_DIR / SPARK_GRAFT_CPUS as in Bench;
  *   tag != "-" writes plan files under Bench's log dir
  *   (SPARK_GRAFT_BENCH_LOG_DIR, default plans/r13);
  *   SPARK_GRAFT_QPROF_RUNS (default 2) timed noop runs per query, 0
  *     only with a tag (plan files only);
  *   SPARK_GRAFT_QPROF_CONF="k=v;k2=v2" extra session confs.
  */
object QProf extends AdaptiveSparkPlanHelper {

  /** `SPARK_GRAFT_QPROF_RUNS`: timed runs per query, a positive integer;
    * 0 only when plans are dumped (the plan probe), else nothing would run.
    */
  def runsOf(v: String, dumpsPlans: Boolean): Int = {
    val min = if (dumpsPlans) 0 else 1
    v.toIntOption.filter(_ >= min).getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_QPROF_RUNS must be an integer >= $min" +
        (if (dumpsPlans) "" else " (0 only with a plan-dump tag)") + s", got '$v'"))
  }

  /** `SPARK_GRAFT_QPROF_CONF`: `k=v` session confs separated by `;`. */
  def confsOf(v: String): Seq[(String, String)] =
    v.split(';').toSeq.filter(_.nonEmpty).map { kv =>
      kv.split("=", 2) match {
        case Array(k, c) if k.nonEmpty => k -> c
        case _ => throw new IllegalArgumentException(
          s"SPARK_GRAFT_QPROF_CONF entries must be key=value, got '$kv' in '$v'")
      }
    }

  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse("q230_ppjoin_pairs") match {
      case "all" => SparkEntry.queries.keys.toSeq.sorted
      case list => list.split(',').toSeq
    }
    val tag = if (args.length > 1) args(1) else "-"
    val runs = runsOf(sys.env.getOrElse("SPARK_GRAFT_QPROF_RUNS", "2"), tag != "-")
    val confs = confsOf(sys.env.getOrElse("SPARK_GRAFT_QPROF_CONF", ""))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    // per-stage wall/exec/cpu, so query time attributes to stages
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for {s <- si.submissionTime; c <- si.completionTime}
          yield (c - s) / 1e3).getOrElse(-1.0)
        if (wall > 0.1)
          println(f"[qstage] id=${si.stageId} tasks=${si.numTasks} " +
            f"wall=$wall%.2f exec=${si.taskMetrics.executorRunTime / 1e3}%.2f " +
            f"cpu=${si.taskMetrics.executorCpuTime / 1e9}%.2f " +
            f"details=${si.details.linesIterator.drop(1)
              .find(l => l.contains("graft") && !l.contains("QProf"))
              .getOrElse("").trim.take(80)}")
      }
    })
    // per-micro-batch durationMs of the drained streams, largest first
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val d = p.durationMs.asScala.toSeq.sortBy(-_._2)
          .map { case (k, v) => s"$k=$v" }.mkString(" ")
        println(s"[qbatch] ${p.name} batch=${p.batchId} rows=${p.numInputRows} $d")
      }
    })

    // unpartitioned windows in the plans executed since the last reset
    val globalWindows = new AtomicInteger
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        globalWindows.addAndGet(collectWithSubqueries(qe.executedPlan) {
          case w: WindowExec if w.partitionSpec.isEmpty => w
        }.size)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    val sc = spark.sparkContext

    names.foreach { name =>
      try {
        val fn = SparkEntry.queries(name)
        if (tag != "-") {
          val txt = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.createDirectories(Bench.logDir)
          Files.writeString(Bench.logDir.resolve(s"${name}_$tag.txt"), txt)
        }
        (1 to runs).foreach { i =>
          PlanBridge.drainListeners(sc)
          globalWindows.set(0)
          var dt = 0.0
          val jobs = PlanBridge.jobsOf(spark, s"$name run $i") {
            val t0 = System.nanoTime()
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            dt = (System.nanoTime() - t0) / 1e9
          }
          println(f"[qprof] $name run$i $dt%.2f s jobs=$jobs global_windows=${globalWindows.get}")
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
        }
      } catch {
        case NonFatal(e) =>
          println(s"[qprof] $name ERROR ${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").take(200))
      }
    }
    spark.stop()
  }
}
