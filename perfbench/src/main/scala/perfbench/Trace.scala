package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.{PerfbenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a timed entry call or a Spark job (epoch ms), or a
  * direct layer call of the single-thread pass (ns). Spans of one document
  * or one call share the root id; `parent` is "" at a root. */
final case class Span(id: String, name: String, parent: String, start: Long, end: Long, unit: String)

object Spans {
  /** Length of the union of the [start, end) intervals. */
  def covered(iv: Iterable[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.toVector.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Writes one JSON object per span, with its self time: its duration
    * minus the part of it that its child spans cover. */
  def write(file: java.io.File, spans: Seq[Span]): Unit = {
    file.getParentFile.mkdirs()
    val kids = spans.groupBy(_.parent)
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      val inside = kids.getOrElse(s.id, Nil).filter(_.id != s.id)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))).filter(c => c._2 > c._1)
      w.println(Json.obj(Seq("id" -> Json.str(s.id), "name" -> Json.str(s.name),
        "parent" -> Json.str(s.parent), "start" -> s.start.toString, "end" -> s.end.toString,
        "self" -> (s.end - s.start - covered(inside)).toString, "unit" -> Json.str(s.unit))))
    } finally w.close()
  }
}

/** Jobs and tasks seen by a SparkListener the benchmark registers. */
final class JobTrace extends SparkListener {
  final class Job(val id: Int, val group: String, val label: String, val start: Long,
      val stages: Seq[Int]) {
    @volatile var end: Long = -1L
  }
  final case class Task(stage: Int, runMs: Long, gcMs: Long, shuffleWrite: Long,
      shuffleRead: Long, ok: Boolean)

  val jobs = new ConcurrentLinkedQueue[Job]()
  private val byId = new ConcurrentHashMap[Int, Job]()
  val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val j = new Job(e.jobId, p.map(_.getProperty("spark.jobGroup.id")).orNull,
      p.map(_.getProperty("spark.job.description")).orNull, e.time, e.stageIds)
    jobs.add(j)
    byId.put(e.jobId, j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(byId.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    tasks.add(
      if (m == null) Task(e.stageId, e.taskInfo.duration, 0L, 0L, 0L, ok = false)
      else Task(e.stageId, m.executorRunTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, e.reason == Success))
  }
}

/** Counts shuffle exchanges in every executed plan (QueryExecutionListener).
  * A cached plan is counted once, by the query that reads it first. */
final class PlanTrace extends QueryExecutionListener {
  val exchanges = new AtomicLong()
  private val seenCaches = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    exchanges.addAndGet(count(qe.executedPlan))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def count(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => count(a.executedPlan)
    case q: QueryStageExec => count(q.plan)
    case m: InMemoryTableScanExec =>
      if (seenCaches.add(m.relation.cacheBuilder)) count(m.relation.cacheBuilder.cachedPlan) else 0L
    case e: ShuffleExchangeLike => 1L + e.children.map(count).sum
    case other => other.children.map(count).sum + other.subqueries.map(count).sum
  }
}

/** The traced run's outside view of the program: listeners on its Spark
  * jobs and plans, attributed to the benchmark's timed calls through the
  * job group each call runs under. */
final class Tracer(spark: SparkSession, cores: Int) {
  val jobs = new JobTrace
  val plans = new PlanTrace
  private val sc = spark.sparkContext
  sc.addSparkListener(jobs)
  spark.listenerManager.register(plans)

  final case class CallRec(id: String, kind: String, start: Long, end: Long, exchanges: Long)
  val calls = ArrayBuffer[CallRec]()
  private var exchangeMark = 0L

  def beforeCall(): Unit = {
    PerfbenchBus.drain(sc)
    exchangeMark = plans.exchanges.get
  }

  def afterCall(id: String, kind: String, start: Long, end: Long): Unit = {
    PerfbenchBus.drain(sc)
    calls += CallRec(id, kind, start, end, plans.exchanges.get - exchangeMark)
  }

  def remove(): Unit = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
  }

  private val CommitPhases = Set("write", "stats", "ckpt", "metrics")
  private val DedupStages = Vector("shingles", "candidates", "verified", "groups", "keep")

  /** (run, phase) of a job label `<runId>:<phase>`; null or foreign labels
    * are unlabeled. */
  private def label(j: JobTrace#Job): Option[(String, String)] =
    Option(j.label).flatMap { l =>
      val i = l.lastIndexOf(':')
      if (i <= 0) None
      else if (l.startsWith("labelprop:")) Some(("labelprop", l.substring(i + 1)))
      else if (CommitPhases(l.substring(i + 1))) Some((l.substring(0, i), l.substring(i + 1)))
      else None
    }

  private def callJobs: Vector[JobTrace#Job] = {
    val ids = calls.map(_.id).toSet
    jobs.jobs.asScala.toVector.filter(j => ids(j.group) && j.end >= 0)
  }

  def spans: Vector[Span] =
    calls.toVector.map(c => Span(c.id, s"call.${c.kind}", "", c.start, c.end, "ms")) ++
      callJobs.map(j => Span(s"job-${j.id}", Option(j.label).getOrElse("unlabeled"),
        j.group, j.start, j.end, "ms"))

  /** Per-layer figures over the traced calls, per iteration. */
  def metrics(iterations: Int): Map[String, Double] = {
    val it = math.max(1, iterations).toDouble
    val js = callJobs
    def dur(j: JobTrace#Job): Double = (j.end - j.start) / 1000.0
    val labels = js.map(j => j -> label(j))
    def phaseS(p: String): Double =
      labels.collect { case (j, Some((_, `p`))) => dur(j) }.sum
    val commit = labels.filter(_._2.exists(l => CommitPhases(l._2)))
    val units = labels.count(_._2.exists(_._2 == "ckpt"))
    val commitS = commit.map(x => dur(x._1)).sum
    val wallMs = calls.map(c => c.end - c.start).sum.toDouble
    val coveredMs = calls.map { c =>
      Spans.covered(js.filter(_.group == c.id).map(j =>
        (math.max(j.start, c.start), math.min(j.end, c.end))).filter(x => x._2 > x._1))
    }.sum.toDouble
    val stageIds = js.flatMap(_.stages).toSet
    val ts = jobs.tasks.asScala.toVector.filter(t => stageIds(t.stage))
    val byStage = ts.groupBy(_.stage)
    // task skew of each write job's heaviest stage (the extraction stage)
    val skews = labels.collect { case (j, Some((_, "write"))) => j }.flatMap { j =>
      j.stages.flatMap(byStage.get).filter(_.nonEmpty).maxByOption(_.map(_.runMs).sum).map { st =>
        val sorted = st.map(_.runMs).sorted
        sorted.last.toDouble / math.max(1L, sorted(sorted.length / 2))
      }
    }
    def stageOf(j: JobTrace#Job): Option[String] = label(j).map(_._1).map {
      case "labelprop" => "groups"
      case r => r
    }.filter(DedupStages.contains)
    val mib = 1024.0 * 1024.0
    Map(
      "io.commit_jobs" -> commit.size / it,
      "io.commit_jobs_per_unit" -> (if (units == 0) 0.0 else commit.size.toDouble / units),
      "io.write_s" -> phaseS("write") / it,
      "io.stats_s" -> phaseS("stats") / it,
      "io.ckpt_s" -> phaseS("ckpt") / it,
      "io.metrics_s" -> phaseS("metrics") / it,
      "io.unlabeled_s" -> labels.collect { case (j, None) => dur(j) }.sum / it,
      "io.driver_gap_s" -> (wallMs - coveredMs) / 1000.0 / it,
      "io.write_share" -> (if (commitS == 0) 0.0 else phaseS("write") / commitS),
      "dedup.labelprop_rounds" ->
        labels.collect { case (j, Some(("labelprop", _))) => (j.group, j.label) }.distinct.size / it,
      "spark.jobs" -> js.size / it,
      "spark.tasks" -> ts.size / it,
      "spark.task_busy_s" -> ts.map(_.runMs).sum / 1000.0 / it,
      "spark.core_busy_share" -> (if (wallMs == 0) 0.0 else ts.map(_.runMs).sum / (wallMs * cores)),
      "spark.gc_s" -> ts.map(_.gcMs).sum / 1000.0 / it,
      "spark.shuffle_write_mib" -> ts.map(_.shuffleWrite).sum / mib / it,
      "spark.shuffle_read_mib" -> ts.map(_.shuffleRead).sum / mib / it,
      "spark.exchanges" -> calls.map(_.exchanges).sum / it,
      "spark.task_skew" -> Stats.median(skews),
      "spark.failed_tasks" -> ts.count(!_.ok) / it,
      "trace.span_cover_share" -> (if (wallMs == 0) 0.0 else coveredMs / wallMs),
    ) ++ DedupStages.map(s => s"dedup.${s}_s" -> js.filter(j => stageOf(j).contains(s)).map(dur).sum / it)
  }
}

/** Thread CPU time and allocated bytes around direct calls on one thread. */
object Layers {
  private val tmx = ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  final case class Measured[A](value: A, startNs: Long, endNs: Long, cpuNs: Long, allocBytes: Long)

  def measure[A](body: => A): Measured[A] = {
    val tid = Thread.currentThread.getId
    val a0 = tmx.getThreadAllocatedBytes(tid)
    val c0 = tmx.getCurrentThreadCpuTime
    val s0 = System.nanoTime()
    val v = body
    val s1 = System.nanoTime()
    val c1 = tmx.getCurrentThreadCpuTime
    val a1 = tmx.getThreadAllocatedBytes(tid)
    Measured(v, s0, s1, c1 - c0, a1 - a0)
  }
}
