package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo

/** Metric names and units, in the order `BENCHMARK.json` lists them. */
object Catalog {
  val EndToEnd: Vector[(String, String)] = Vector(
    "docs_per_s" -> "1/s", "full_s" -> "s", "delta_s" -> "s",
    "heap_peak_mib" -> "MiB", "setup_s" -> "s")

  val PerLayer: Vector[(String, String)] =
    Vector(
      "kernel.analyze_us_per_doc" -> "us", "kernel.analyze_alloc_kib_per_doc" -> "KiB",
      "kernel.pages_per_doc" -> "count",
      "pipeline.pageops_us_per_doc" -> "us", "pipeline.pageops_alloc_kib_per_doc" -> "KiB",
      "pipeline.assemble_us_per_doc" -> "us", "pipeline.assemble_alloc_kib_per_doc" -> "KiB",
      "pipeline.spans_per_doc" -> "count") ++
    Inputs.Tiers.flatMap(t => Vector(
      s"$t.convert_ms_p50" -> "ms", s"$t.convert_ms_p99" -> "ms",
      s"$t.alloc_kib_per_doc" -> "KiB", s"$t.threw" -> "count")) ++
    Vector(
      "io.sniff_rejected" -> "count", "io.sniff_salvaged" -> "count",
      "io.commit_jobs" -> "count", "io.commit_jobs_per_unit" -> "count",
      "io.write_s" -> "s", "io.stats_s" -> "s", "io.ckpt_s" -> "s", "io.metrics_s" -> "s",
      "io.unlabeled_s" -> "s", "io.driver_gap_s" -> "s", "io.write_share" -> "share",
      "dedup.shingles_s" -> "s", "dedup.candidates_s" -> "s", "dedup.verified_s" -> "s",
      "dedup.groups_s" -> "s", "dedup.keep_s" -> "s", "dedup.labelprop_rounds" -> "count",
      "dedup.delta_buckets_reprocessed" -> "count", "dedup.buckets" -> "count",
      "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.task_busy_s" -> "s",
      "spark.core_busy_share" -> "share", "spark.gc_s" -> "s",
      "spark.shuffle_write_mib" -> "MiB", "spark.shuffle_read_mib" -> "MiB",
      "spark.exchanges" -> "count", "spark.task_skew" -> "ratio", "spark.failed_tasks" -> "count",
      "trace.span_cover_share" -> "share",
      "trace.overhead_docs_per_s" -> "share", "trace.overhead_full_s" -> "share",
      "trace.overhead_delta_s" -> "share", "trace.overhead_heap_peak_mib" -> "share")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Nearest-rank quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
    }
}

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < 0x20 => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite metric value $d")
    d.toString
  }

  def arr(xs: Seq[Double]): String = xs.map(num).mkString("[", ", ", "]")

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** Outcome of the correctness checks: attempted and failed operations, with
  * the first failures named by doc id. */
final case class Check(attempted: Long, failed: Long, examples: Vector[String]) {
  def +(o: Check): Check =
    Check(attempted + o.attempted, failed + o.failed, (examples ++ o.examples).take(Check.Keep))
  def ok: Check = copy(attempted = attempted + 1)
  def fail(id: Any, why: String): Check =
    Check(attempted + 1, failed + 1, (examples :+ s"$id: $why").take(Check.Keep))
}

object Check {
  val Keep = 50
  val empty: Check = Check(0, 0, Vector.empty)
}

/** Largest heap in use right after any GC while `active` is set. */
object Heap {
  @volatile var active = false
  @volatile private var peak = 0L
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: AnyRef): Unit =
      if (active && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (used > peak) peak = used
      }
  }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  def reset(): Unit = peak = 0L

  /** Peak after-GC heap in MiB; the heap in use now if no GC ran. */
  def peakMiB: Double = {
    val p = if (peak > 0) peak else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    p / (1024.0 * 1024.0)
  }
}
