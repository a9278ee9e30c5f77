package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval of harness code. */
final class Span(val id: Int, val name: String, val parent: Int,
    val startNs: Long, val startMs: Long) {
  var endNs: Long = -1L
  var endMs: Long = -1L
  def wallS: Double = (endNs - startNs) / 1e9
}

/** One completed stage attempt, attributed to the span whose job ran it. */
final case class StageRec(span: Int, tasks: Int, submitMs: Long, doneMs: Long,
    cpuNs: Long, shuffleWrite: Long, spill: Long, input: Long, output: Long)

/** Work under a span and its descendants. `stageS` is the union of the
  * intervals during which at least one of their stages was running.
  */
final case class Work(jobs: Int, stages: Int, tasks: Long, cpuS: Double,
    shuffleWriteMb: Double, spillMb: Double, inputMb: Double, outputMb: Double,
    stageS: Double, planMs: Double)

/** Span tracer for the harness's calls into the program.
  *
  * `span` records name, start, end and parent, and sets the job-local
  * property [[Tracer.Key]] to the span id, so every Spark job the call
  * launches (on this thread or a thread it spawns) carries its span. A
  * `SparkListener` files each job, and each of the job's stages, under
  * that span; a `QueryExecutionListener` records planning time, which is
  * filed under the innermost span that was open when planning started.
  * Nothing is written until [[Tracer.finish]]. When the tracer is off,
  * `span` only runs its body.
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private var on = false
  private val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil

  private val jobSpans = new ConcurrentLinkedQueue[Int]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentLinkedQueue[StageRec]()
  private val plans = new ConcurrentLinkedQueue[(Long, Double)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
        .map(_.toInt).getOrElse(-1)
      jobSpans.add(span)
      e.stageIds.foreach(s => stageSpan.putIfAbsent(s, span))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages.add(StageRec(stageSpan.getOrDefault(i.stageId, -1), i.numTasks,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        plans.add((phases.map(_.startTimeMs).min,
          phases.map(p => p.endTimeMs - p.startTimeMs).sum.toDouble))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Start recording: register the listeners. */
  def start(): Unit = if (!on) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
    on = true
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = open.headOption
      val s = new Span(spans.size, name, parent.fold(-1)(_.id),
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      open = s :: open
      sc.setLocalProperty(Tracer.Key, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = open.tail
        sc.setLocalProperty(Tracer.Key, parent.map(_.id.toString).orNull)
      }
    }

  /** Wait for the listener bus, then detach the listeners. */
  def finish(): Unit = if (on) {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
    on = false
  }

  def all: Seq[Span] = spans.toSeq
  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
  def topLevel: Seq[Span] = spans.filter(_.parent < 0).toSeq

  private lazy val children: Map[Int, Seq[Span]] = spans.toSeq.groupBy(_.parent)

  private def subtree(s: Span): Set[Int] = {
    val ids = mutable.Set[Int]()
    def walk(x: Span): Unit = { ids += x.id; children.getOrElse(x.id, Nil).foreach(walk) }
    walk(s)
    ids.toSet
  }

  /** Wall time of `s` not covered by its child spans. */
  def selfS(s: Span): Double = s.wallS - children.getOrElse(s.id, Nil).map(_.wallS).sum

  /** The innermost span open at wall-clock instant `ms`. */
  private def innermostAt(ms: Long): Int =
    spans.filter(s => s.startMs <= ms && ms <= s.endMs)
      .maxByOption(_.startNs).fold(-1)(_.id)

  private lazy val planSpan: Seq[(Int, Double)] =
    plans.asScala.toSeq.map { case (t, ms) => (innermostAt(t), ms) }

  /** Work of `s` and everything below it. */
  def work(s: Span): Work = work(Seq(s))

  def work(ss: Seq[Span]): Work = {
    val ids = ss.flatMap(subtree).toSet
    val st = stages.asScala.filter(r => ids.contains(r.span)).toSeq
    val mb = 1024.0 * 1024.0
    Work(
      jobs = jobSpans.asScala.count(ids.contains),
      stages = st.size,
      tasks = st.map(_.tasks.toLong).sum,
      cpuS = st.map(_.cpuNs).sum / 1e9,
      shuffleWriteMb = st.map(_.shuffleWrite).sum / mb,
      spillMb = st.map(_.spill).sum / mb,
      inputMb = st.map(_.input).sum / mb,
      outputMb = st.map(_.output).sum / mb,
      stageS = unionMs(st.map(r => (r.submitMs, r.doneMs))) / 1e3,
      planMs = planSpan.filter(p => ids.contains(p._1)).map(_._2).sum)
  }

  /** Wall time of the spans minus the time in which a stage was running. */
  def driverGapS(ss: Seq[Span]): Double = ss.map(_.wallS).sum - work(ss).stageS

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter { case (a, b) => a > 0 && b >= a }.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Spans with their work, plus the self time of each layer, as JSON. */
  def toJson(extra: Map[String, Double]): String = {
    val spanJson = spans.map { s =>
      val w = work(s)
      Json.obj(Seq(
        "id" -> Json.num(s.id), "name" -> Json.str(s.name),
        "parent" -> Json.num(s.parent), "start_ms" -> Json.num(s.startMs),
        "end_ms" -> Json.num(s.endMs), "wall_s" -> Json.num(s.wallS),
        "self_s" -> Json.num(selfS(s)), "jobs" -> Json.num(w.jobs),
        "stages" -> Json.num(w.stages), "tasks" -> Json.num(w.tasks),
        "executor_cpu_s" -> Json.num(w.cpuS), "shuffle_write_mb" -> Json.num(w.shuffleWriteMb),
        "spill_mb" -> Json.num(w.spillMb), "plan_ms" -> Json.num(w.planMs),
        "driver_gap_s" -> Json.num(s.wallS - w.stageS)))
    }
    val layers = spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      n -> Json.obj(Seq("count" -> Json.num(ss.size),
        "wall_s" -> Json.num(ss.map(_.wallS).sum),
        "self_s" -> Json.num(ss.map(selfS).sum)))
    }
    Json.obj(Seq(
      "spans" -> spanJson.mkString("[", ",\n", "]"),
      "layers" -> Json.obj(layers),
      "metrics" -> Json.obj(extra.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })))
  }
}

object Tracer {
  /** Job-local property carrying the id of the span that launched a job. */
  val Key = "perfbench.span"
}

/** Minimal JSON rendering for the harness's result and trace files. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def num(l: Long): String = l.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
}
