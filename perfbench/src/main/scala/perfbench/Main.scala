package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession

/** `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  * --traces DIR`: one benchmark run. Prints an environment line, a
  * summary line with sample counts, and as its last line the result JSON
  * with every end-to-end metric (trace 0) or every per-layer metric
  * (trace 1). Exits 1 when any output fails its check. */
object Main {

  final case class Config(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, traces: String, scale: Double = 1.0)

  final case class Result(correct: Boolean, check: Check, errors: Vector[String],
      metrics: Vector[(String, Double, String)], summary: String) {
    def json: String = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> math.max(1L, check.attempted).toString,
      "failed" -> check.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
  }

  /** Cores the run uses: local[k] with k = nproc - 1, at most 4. The spare
    * core keeps the driver thread, the JIT and the GC from competing with
    * the executor threads, which makes the timings steadier. */
  val Cores: Int = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors() - 1))
  /** Set-up (session start plus warm-up pass) is repeated this many times. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, { System.err.println(s"perfbench: missing --$k"); sys.exit(2) })
    val cfg = Config(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("traces"))
    if (!Workload.Names.contains(cfg.workload)) {
      System.err.println(s"perfbench: unknown workload ${cfg.workload}; one of ${Workload.Names.mkString(", ")}")
      sys.exit(2)
    }
    println(envLine(cfg))
    val res =
      try run(cfg)
      catch { case scala.util.control.NonFatal(e) =>
        e.printStackTrace()
        sys.exit(1)
      }
    println(res.summary)
    if (!res.correct) {
      res.errors.foreach(e => System.err.println(s"perfbench: $e"))
      res.check.examples.foreach(e => System.err.println(s"perfbench: mismatch $e"))
    }
    println(res.json)
    sys.exit(if (res.correct) 0 else 1)
  }

  def session(cfg: Config): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def envLine(cfg: Config): String = {
    val mem = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getTotalMemorySize
    Json.obj(Seq(
      "env" -> Json.obj(Seq(
        "workload" -> Json.str(cfg.workload), "seed" -> cfg.seed.toString,
        "seconds" -> Json.num(cfg.seconds), "trace" -> (if (cfg.trace) "1" else "0"),
        "nproc" -> Runtime.getRuntime.availableProcessors().toString,
        "cores" -> Cores.toString,
        "mem_total_mib" -> (mem / (1024 * 1024)).toString,
        "heap_max_mib" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
        "jvm" -> Json.str(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}"),
        "jvm_flags" -> Json.str(java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
          .toArray.map(_.toString).filter(a => a.startsWith("-X") && !a.startsWith("-Xshare")).mkString(" ")),
        "gc" -> Json.str(java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
          .toArray.map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getName).mkString("+")),
        "spark" -> Json.str(org.apache.spark.SPARK_VERSION),
        "source" -> Json.str(sys.env.getOrElse("PERFBENCH_SOURCE", "unknown"))))))
  }

  private final case class Loop(metrics: Map[String, Double], check: Check, errors: Vector[String],
      calls: Vector[Timer.Call], iterations: Int, counts: Map[String, Double]) {
    /** Wall times of each kind of call and the calls' heap peaks: the
      * samples behind the metrics, as JSON values. */
    def samples: Seq[(String, String)] =
      calls.groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, cs) =>
        s"${k}_call_s" -> Json.arr(cs.map(_.wallS))
      } :+ ("call_heap_peak_mib" -> Json.arr(calls.map(_.heapPeakMiB)))
  }

  /** Iterations of timed calls until `seconds` of timed calls have run. */
  private def loop(spark: SparkSession, w: Workload, dir: String, seconds: Double,
      tracer: Option[Tracer], itBase: Int): Loop = {
    val timer = new Timer(spark, tracer)
    var check = Check.empty
    var it = 0
    val counts = ArrayBuffer[Map[String, Double]]()
    val rates = ArrayBuffer[Double]()
    while (it == 0 || timer.timedSeconds < seconds) {
      val tIt = System.nanoTime()
      val before = timer.calls.size
      val (c, k) = w.iteration(spark, dir, itBase + it, timer)
      phase(s"iteration $it", tIt)
      val cs = timer.calls.drop(before)
      rates += cs.map(_.docs).sum / math.max(1e-9, cs.map(_.wallS).sum)
      check += c
      counts += k
      it += 1
    }
    val calls = timer.calls.toVector
    def medianOf(kind: String) = Stats.median(calls.filter(_.kind == kind).map(_.wallS))
    val metrics = Map(
      "docs_per_s" -> Stats.median(rates.toVector),
      "full_s" -> medianOf("full"),
      "delta_s" -> medianOf("delta"),
      "heap_peak_mib" -> calls.map(_.heapPeakMiB).max)
    val meanCounts = counts.flatMap(_.keys).distinct.map(k =>
      k -> counts.map(_.getOrElse(k, 0.0)).sum / counts.size).toMap
    Loop(metrics, check, calls.flatMap(_.error), calls, it, meanCounts)
  }

  def run(cfg: Config): Result = {
    val w = Workload(cfg.workload, cfg.scale)
    val tGen = System.nanoTime()
    w.generate(cfg.seed)
    phase("generate", tGen)
    val dir = s"${cfg.work}/data"
    // set-up: session start plus the warm-up pass, several times; writing
    // the generated inputs is excluded
    var spark: SparkSession = null
    val setups = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      spark = session(cfg)
      val tStarted = System.nanoTime()
      if (rep == 0) { w.materialise(spark, dir); phase("materialise", tStarted) }
      val t1 = System.nanoTime()
      w.warmUp(spark, dir, rep)
      val t2 = System.nanoTime()
      if (rep < SetupReps - 1) spark.stop()
      ((tStarted - t0) + (t2 - t1)) / 1e9
    }
    val setupS = Stats.median(setups)
    try {
      val settle = settleJit(spark, w, dir)
      if (!cfg.trace) {
        val l = loop(spark, w, dir, cfg.seconds, None, 0)
        val m = l.metrics + ("setup_s" -> setupS)
        finish(cfg, l.check, settle.flatMap(_.error) ++ l.errors,
          Catalog.EndToEnd.map { case (k, u) => (k, m(k), u) },
          Seq("iterations" -> l.iterations.toString, "setup_s_samples" -> Json.arr(setups),
            "settle_call_s" -> Json.arr(settle.map(_.wallS))) ++ l.samples)
      } else traced(cfg, spark, w, dir, setupS, settle)
    } finally spark.stop()
  }

  /** Wall time of a phase of the run, on standard error. */
  private def phase(name: String, t0: Long): Unit =
    System.err.println(f"perfbench: phase $name ${(System.nanoTime() - t0) / 1e9}%.2f s")

  /** JIT settling, after set-up and outside the timed loop. The program
    * runs under the JVM's default tiered JIT, whose C2 tier keeps
    * compiling long after the set-up passes. */
  private def settleJit(spark: SparkSession, w: Workload, dir: String): Vector[Timer.Call] = {
    val timer = new Timer(spark, None)
    val t0 = System.nanoTime()
    w.settle(spark, dir, timer)
    phase("settle", t0)
    timer.calls.toVector
  }

  /** The traced run: an untraced loop and a traced loop of half the time
    * each (their difference is the tracing overhead), then the
    * single-thread pass over each layer. */
  private def traced(cfg: Config, spark: SparkSession, w: Workload, dir: String,
      setupS: Double, settle: Vector[Timer.Call]): Result = {
    val plain = loop(spark, w, dir, cfg.seconds / 2, None, 0)
    val tracer = new Tracer(spark, Cores)
    val withTrace = try loop(spark, w, dir, cfg.seconds / 2, Some(tracer), plain.iterations)
      finally tracer.remove()
    val spans = ArrayBuffer[Span]()
    spans ++= tracer.spans
    val layers = w.layerPass(spans)
    Spans.write(new java.io.File(s"${cfg.traces}/${cfg.workload}-seed${cfg.seed}.spans.jsonl"), spans.toVector)
    def overhead(k: String) = {
      val base = plain.metrics(k)
      if (base == 0) 0.0 else withTrace.metrics(k) / base - 1.0
    }
    val m = tracer.metrics(withTrace.iterations) ++ withTrace.counts ++ layers ++
      Seq("docs_per_s", "full_s", "delta_s", "heap_peak_mib").map(k => s"trace.overhead_$k" -> overhead(k))
    finish(cfg, plain.check + withTrace.check,
      settle.flatMap(_.error) ++ plain.errors ++ withTrace.errors,
      Catalog.PerLayer.map { case (k, u) => (k, m.getOrElse(k, 0.0), u) },
      Seq("untraced_iterations" -> plain.iterations.toString,
        "traced_iterations" -> withTrace.iterations.toString, "spans" -> spans.size.toString,
        "setup_s" -> Json.num(setupS)) ++ withTrace.samples)
  }

  private def finish(cfg: Config, check: Check, errors: Vector[String],
      metrics: Vector[(String, Double, String)], samples: Seq[(String, String)]): Result = {
    val correct = check.failed == 0 && errors.isEmpty && check.attempted > 0
    val summary = Json.obj(Seq("summary" -> Json.obj(Seq(
      "workload" -> Json.str(cfg.workload),
      "failed_share" -> Json.num(if (check.attempted == 0) 0.0 else check.failed.toDouble / check.attempted),
      "failed_ids" -> check.examples.map(Json.str).mkString("[", ", ", "]")) ++ samples)))
    Result(correct, check, errors, metrics, summary)
  }
}
