package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import graft.io.{DedupPipeline, ExtractJob, Sniff}
import graft.kernel.StubModel
import graft.pipeline.{Assemble, PageOps}
import graft.schema.{DocResult, DocRow, OutSpan}

/** Times entry calls. Each call runs under its own Spark job group, so its
  * jobs stay attributable even when the program resets job descriptions;
  * a call that throws is recorded, and its missing output fails the check. */
final class Timer(spark: SparkSession, tracer: Option[Tracer]) {
  val calls = ArrayBuffer[Timer.Call]()

  def timedSeconds: Double = calls.map(_.wallS).sum

  /** Runs `body`, which returns the documents it committed. */
  def apply(kind: String)(body: => Long): Unit = {
    val id = s"perfbench-${calls.size}-$kind"
    val sc = spark.sparkContext
    // each call starts from a collected heap, so neither its time nor its
    // heap peak depends on garbage the previous call or check left behind
    System.gc()
    tracer.foreach(_.beforeCall())
    sc.setJobGroup(id, id)
    sc.setJobDescription(null)
    Heap.reset()
    Heap.active = true
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (docs, error) =
      try (body, None)
      catch { case NonFatal(e) => (0L, Some(s"$kind call failed: $e")) }
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    Heap.active = false
    sc.clearJobGroup()
    tracer.foreach(_.afterCall(id, kind, startMs, endMs))
    error.foreach(e => System.err.println(s"perfbench: $e"))
    calls += Timer.Call(kind, wall, docs, error, Heap.peakMiB)
  }
}

object Timer {
  /** One timed call: its wall time, the documents it committed, and the
    * largest heap in use right after any GC during it. */
  final case class Call(kind: String, wallS: Double, docs: Long, error: Option[String],
      heapPeakMiB: Double)
}

/** One workload: seeded inputs, a warm-up pass, and iterations of timed
  * entry calls whose outputs are checked against the generators' goldens
  * outside the timed calls. */
trait Workload {
  /** Builds the inputs in memory on the calling thread. */
  def generate(seed: Long): Unit
  /** Writes the inputs as the program's input tables under `dir`. */
  def materialise(spark: SparkSession, dir: String): Unit
  def warmUp(spark: SparkSession, dir: String, rep: Int): Unit
  /** JIT settling after set-up, before the timed loop: calls recorded by
    * `timer`, which is not the timed loop's. */
  def settle(spark: SparkSession, dir: String, timer: Timer): Unit
  /** Timed calls of iteration `it`, then the check of their outputs. Returns
    * the check and any per-layer counts the program's own reports give. */
  def iteration(spark: SparkSession, dir: String, it: Int, timer: Timer): (Check, Map[String, Double])
  /** Single-thread direct calls into each layer over the inputs. */
  def layerPass(spans: ArrayBuffer[Span]): Map[String, Double]
}

object Workload {
  /** Commit-protocol shape for a k-core box: 16 buckets in 2 commit units,
    * extraction over 2k partitions. The program's defaults (64 buckets in
    * 8 units over 32 partitions) are sized for a 32-core box; here they
    * would spend most of each call on per-unit job and file overhead. */
  val Buckets = 16
  val Groups = 2
  def partitions: Int = 2 * Main.Cores

  val Names: Vector[String] = Vector("extract_commit", "crawl_ingest", "dedup_chain")

  /** `scale` multiplies the input sizes; the benchmark runs at 1. */
  def apply(name: String, scale: Double): Workload = name match {
    case "extract_commit" => new ExtractCommit(scale)
    case "crawl_ingest" => new CrawlIngest(scale)
    case "dedup_chain" => new DedupChain(scale)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private[perfbench] def sized(n: Int, scale: Double): Int = math.max(8, (n * scale).round.toInt)

  /** Settling for the extraction workloads: the timed iteration's three
    * calls (full, stop after one commit unit, resume) on the warm-up
    * input, so every path a timed call takes has run and the timed calls
    * start from the same point of the JIT's warm-up slope in every run. */
  def settleCalls(dir: String, timer: Timer)(call: (String, Int) => Long): Unit = {
    val out = s"$dir/out/settle"
    timer("full")(call(s"$out/full", Int.MaxValue))
    timer("stop")(call(s"$out/resumed", 1))
    timer("delta")(call(s"$out/resumed", Int.MaxValue))
    deleteDir(new java.io.File(out))
  }

  def deleteDir(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteDir)
    f.delete(): Unit
  }
}

/** Interleaved text+media documents through `ExtractJob.run`: the kernel
  * and page pipeline do the work, no converter runs. Each iteration builds
  * a fresh output (full), then stops a second build after half of its
  * commit units and resumes it (delta). */
final class ExtractCommit(scale: Double) extends Workload {
  private val n = Workload.sized(2000, scale)
  private var set: Inputs.DocSet = _
  private var warm: Inputs.DocSet = _

  def generate(seed: Long): Unit = {
    set = Inputs.docs(seed, "extract", n)
    warm = Inputs.docs(seed, "extract-warm", math.max(8, n / 4))
  }

  def materialise(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    spark.createDataset(set.rows).write.parquet(s"$dir/docs")
    spark.createDataset(warm.rows).write.parquet(s"$dir/warm")
  }

  private def input(spark: SparkSession, path: String): Dataset[DocRow] = {
    import spark.implicits._
    spark.read.parquet(path).as[DocRow]
  }

  private def run(spark: SparkSession, ds: Dataset[DocRow], out: String,
      failAfterGroups: Int = Int.MaxValue) =
    ExtractJob.run(spark, ds, out, buckets = Workload.Buckets, groups = Workload.Groups,
      partitions = Workload.partitions, failAfterGroups = failAfterGroups)

  def warmUp(spark: SparkSession, dir: String, rep: Int): Unit = {
    run(spark, input(spark, s"$dir/warm"), s"$dir/out/warm-$rep")
    Workload.deleteDir(new java.io.File(s"$dir/out/warm-$rep"))
  }

  def settle(spark: SparkSession, dir: String, timer: Timer): Unit =
    Workload.settleCalls(dir, timer) { (out, failAfterGroups) =>
      run(spark, input(spark, s"$dir/warm"), out, failAfterGroups).docs
    }

  def iteration(spark: SparkSession, dir: String, it: Int, timer: Timer): (Check, Map[String, Double]) = {
    val ds = input(spark, s"$dir/docs")
    val full = s"$dir/out/full-$it"
    val resumed = s"$dir/out/resumed-$it"
    timer("full")(run(spark, ds, full).docs)
    timer("stop")(run(spark, ds, resumed, failAfterGroups = 1).docs)
    timer("delta")(run(spark, ds, resumed).docs)
    val check = Checks.extract(spark, full, set.golden) + Checks.extract(spark, resumed, set.golden)
    Seq(full, resumed).foreach(d => Workload.deleteDir(new java.io.File(d)))
    (check, Map.empty)
  }

  def layerPass(spans: ArrayBuffer[Span]): Map[String, Double] = {
    val sample = set.rows.take(math.min(n, 400))
    var analyzeNs, analyzeB, pageNs, pageB, asmNs, asmB, pages, outSpans = 0L
    sample.foreach { d =>
      val a = Layers.measure(StubModel.analyze(d))
      val blocks = a.value.map { p =>
        val m = Layers.measure(PageOps.process(p))
        pageNs += m.cpuNs; pageB += m.allocBytes
        spans += Span(s"${d.doc_id}/p${p.page_idx}", "pipeline.pageops", d.doc_id, m.startNs, m.endNs, "ns")
        m.value
      }
      val r = Layers.measure(Assemble.assemble(d.doc_id, blocks))
      analyzeNs += a.cpuNs; analyzeB += a.allocBytes; asmNs += r.cpuNs; asmB += r.allocBytes
      pages += a.value.size; outSpans += r.value.spans.size
      spans += Span(d.doc_id, "doc", "", a.startNs, r.endNs, "ns")
      spans += Span(s"${d.doc_id}/analyze", "kernel.analyze", d.doc_id, a.startNs, a.endNs, "ns")
      spans += Span(s"${d.doc_id}/assemble", "pipeline.assemble", d.doc_id, r.startNs, r.endNs, "ns")
    }
    val k = sample.size.toDouble
    Map(
      "kernel.analyze_us_per_doc" -> analyzeNs / 1e3 / k,
      "kernel.analyze_alloc_kib_per_doc" -> analyzeB / 1024.0 / k,
      "kernel.pages_per_doc" -> pages / k,
      "pipeline.pageops_us_per_doc" -> pageNs / 1e3 / k,
      "pipeline.pageops_alloc_kib_per_doc" -> pageB / 1024.0 / k,
      "pipeline.assemble_us_per_doc" -> asmNs / 1e3 / k,
      "pipeline.assemble_alloc_kib_per_doc" -> asmB / 1024.0 / k,
      "pipeline.spans_per_doc" -> outSpans / k)
  }
}

/** Raw crawl blobs of every converter tier, about 2% of them truncated,
  * through `ExtractJob.runRaw`: the converters behind `io.Sniff` do the
  * work, the kernel none. Same full / stop / resume calls as extract. */
final class CrawlIngest(scale: Double) extends Workload {
  private val n = Workload.sized(2500, scale)
  private var set: Inputs.BlobSet = _
  private var warm: Inputs.BlobSet = _

  def generate(seed: Long): Unit = {
    set = Inputs.blobs(seed, "crawl", n)
    warm = Inputs.blobs(seed, "crawl-warm", math.max(8, n / 4))
  }

  def materialise(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    Seq(set -> "blobs", warm -> "warm").foreach { case (s, sub) =>
      spark.createDataset(s.blobs.map(b => (b.id, b.bytes))).toDF("doc_id", "content")
        .write.parquet(s"$dir/$sub")
    }
  }

  private def run(spark: SparkSession, df: DataFrame, out: String,
      failAfterGroups: Int = Int.MaxValue) =
    ExtractJob.runRaw(spark, df, out, buckets = Workload.Buckets, groups = Workload.Groups,
      failAfterGroups = failAfterGroups)

  def warmUp(spark: SparkSession, dir: String, rep: Int): Unit = {
    run(spark, spark.read.parquet(s"$dir/warm"), s"$dir/out/warm-$rep")
    Workload.deleteDir(new java.io.File(s"$dir/out/warm-$rep"))
  }

  def settle(spark: SparkSession, dir: String, timer: Timer): Unit =
    Workload.settleCalls(dir, timer) { (out, failAfterGroups) =>
      run(spark, spark.read.parquet(s"$dir/warm"), out, failAfterGroups).docs
    }

  def iteration(spark: SparkSession, dir: String, it: Int, timer: Timer): (Check, Map[String, Double]) = {
    val df = spark.read.parquet(s"$dir/blobs")
    val full = s"$dir/out/full-$it"
    val resumed = s"$dir/out/resumed-$it"
    timer("full")(run(spark, df, full).docs)
    timer("stop")(run(spark, df, resumed, failAfterGroups = 1).docs)
    timer("delta")(run(spark, df, resumed).docs)
    val corrupt = set.corruptIds
    val check = Checks.crawl(spark, full, set.golden, corrupt) +
      Checks.crawl(spark, resumed, set.golden, corrupt)
    Seq(full, resumed).foreach(d => Workload.deleteDir(new java.io.File(d)))
    (check, Map.empty)
  }

  def layerPass(spans: ArrayBuffer[Span]): Map[String, Double] = {
    var rejected, salvaged = 0L
    val perTier = set.blobs.groupBy(_.tier)
    val tierMetrics = Inputs.Tiers.flatMap { tier =>
      val bs = perTier.getOrElse(tier, Vector.empty)
      var threw = 0L
      val ms = bs.map { b =>
        val m = Layers.measure(try Some(Inputs.tierConvert(tier, b.id, b.bytes))
          catch { case NonFatal(_) => threw += 1; None })
        spans += Span(b.id, s"$tier.convert", "", m.startNs, m.endNs, "ns")
        (m.cpuNs / 1e6, m.allocBytes)
      }
      Vector(
        s"$tier.convert_ms_p50" -> Stats.quantile(ms.map(_._1), 0.5),
        s"$tier.convert_ms_p99" -> Stats.quantile(ms.map(_._1), 0.99),
        s"$tier.alloc_kib_per_doc" -> (if (bs.isEmpty) 0.0 else ms.map(_._2).sum / 1024.0 / bs.size),
        s"$tier.threw" -> threw.toDouble)
    }
    set.blobs.filter(_.corrupt).foreach { b =>
      val spansOut = try Sniff.convert(b.id, b.bytes).spans catch { case NonFatal(_) => Nil }
      if (spansOut.isEmpty) rejected += 1 else salvaged += 1
    }
    tierMetrics.toMap ++ Map(
      "io.sniff_rejected" -> rejected.toDouble, "io.sniff_salvaged" -> salvaged.toDouble)
  }
}

/** A `documents`-shaped corpus with planted duplicates through a fresh
  * `DedupPipeline.run` with fingerprints on (full), then the same directory
  * re-run over the corpus plus a ~5% delta (delta). Commit-protocol jobs
  * and shuffles dominate; no kernel or converter runs. */
final class DedupChain(scale: Double) extends Workload {
  private val n = Workload.sized(1000, scale)
  private var corpus: Inputs.Corpus = _
  private var warm: Inputs.Corpus = _
  private var cold: Map[Long, (Long, Int)] = _

  def generate(seed: Long): Unit = {
    corpus = Inputs.corpus(seed, "dedup", n)
    warm = Inputs.corpus(seed, "dedup-warm", math.max(8, n / 8))
  }

  private def write(spark: SparkSession, rows: Vector[(Long, String)], path: String): Unit = {
    import spark.implicits._
    spark.createDataset(rows).toDF("doc_id", "text").write.parquet(s"$path/documents.parquet")
  }

  def materialise(spark: SparkSession, dir: String): Unit = {
    write(spark, corpus.base, s"$dir/v1")
    write(spark, corpus.full, s"$dir/v2")
    write(spark, warm.base, s"$dir/warm")
  }

  /** The first stage of a chain on the warm-up corpus: a whole chain is
    * ~100 Spark jobs, too slow to repeat for every set-up. */
  def warmUp(spark: SparkSession, dir: String, rep: Int): Unit = {
    DedupPipeline.run(spark, s"$dir/warm", s"$dir/out/warm-$rep", failAfterStages = 1)
    Workload.deleteDir(new java.io.File(s"$dir/out/warm-$rep"))
  }

  /** None: a chain is ~100 Spark jobs whose time goes to driver-side
    * planning, which the set-up passes warm; a settling chain would not
    * fit the run. */
  def settle(spark: SparkSession, dir: String, timer: Timer): Unit = ()

  def iteration(spark: SparkSession, dir: String, it: Int, timer: Timer): (Check, Map[String, Double]) = {
    val out = s"$dir/out/chain-$it"
    var reprocessed = 0.0
    var buckets = 0.0
    // documents per call: the corpus rows whose keep output the call
    // leaves committed, not the rows its keep stage rewrote, so a narrower
    // fingerprint-gated rewrite does not read as fewer documents
    timer("full") {
      val r = DedupPipeline.run(spark, s"$dir/v1", out)
      buckets = r.head._2.buckets
      corpus.base.size.toLong
    }
    val afterFull = Checks.dedup(spark, out, corpus.base, corpus.exactDups, None)
    timer("delta") {
      val r = DedupPipeline.run(spark, s"$dir/v2", out)
      reprocessed = r.filter(_._2.buckets > 1).map(_._2.processed).sum
      corpus.full.size.toLong
    }
    if (cold == null) {
      // a cold build of the final corpus, outside the timed calls, in the
      // one-shot shape (no fingerprints, one commit unit per stage), which
      // must give the same tables with fewer jobs
      val coldDir = s"$dir/out/cold"
      DedupPipeline.run(spark, s"$dir/v2", coldDir, recordFp = false, unitGroups = 1)
      cold = Checks.keepRows(spark, coldDir).map(r => r._1 -> (r._2, r._3)).toMap
      Workload.deleteDir(new java.io.File(coldDir))
    }
    val afterDelta = Checks.dedup(spark, out, corpus.full, corpus.exactDups, Some(cold))
    Workload.deleteDir(new java.io.File(out))
    (afterFull + afterDelta,
      Map("dedup.delta_buckets_reprocessed" -> reprocessed, "dedup.buckets" -> buckets))
  }

  def layerPass(spans: ArrayBuffer[Span]): Map[String, Double] = Map.empty
}

/** Output checks against the generators' goldens. */
object Checks {

  /** A missing or unreadable output reads as no rows. */
  private def readOr[A: scala.reflect.ClassTag](read: => Array[A]): Array[A] =
    try read catch { case NonFatal(_) => Array.empty[A] }

  /** Every document's committed `(kind, text, media_ref, order)` sequence
    * and markdown equal `DocGen.golden`; each doc is one attempt. */
  def extract(spark: SparkSession, out: String, golden: Map[String, DocResult]): Check = {
    import spark.implicits._
    val got = readOr(spark.read.parquet(s"$out/data")
      .select(col("doc_id"), col("spans"), col("markdown")).as[DocResult].collect())
      .groupBy(_.doc_id)
    golden.foldLeft(extras(got.keySet, golden.keySet)) { case (c, (id, want)) =>
      got.get(id) match {
        case Some(Array(g)) if g.spans == want.spans && g.markdown == want.markdown => c.ok
        case Some(Array(g)) if g.spans != want.spans => c.fail(id, "span sequence differs from golden")
        case Some(Array(_)) => c.fail(id, "markdown differs from golden")
        case Some(_) => c.fail(id, "committed more than once")
        case None => c.fail(id, "no committed row")
      }
    }
  }

  /** Valid blobs match their tier's golden; a corrupt blob must yield a row. */
  def crawl(spark: SparkSession, out: String, golden: Map[String, Seq[OutSpan]],
      corrupt: Set[String]): Check = {
    import spark.implicits._
    val got = readOr(spark.read.parquet(s"$out/data")
      .select(col("doc_id"), col("spans")).as[(String, Seq[OutSpan])].collect())
      .groupBy(_._1)
    val ids = golden.keySet ++ corrupt
    ids.foldLeft(extras(got.keySet, ids)) { (c, id) =>
      got.get(id) match {
        case Some(Array(_)) if corrupt(id) => c.ok
        case Some(Array((_, s))) if s == golden(id) => c.ok
        case Some(Array(_)) => c.fail(id, "span sequence differs from golden")
        case Some(_) => c.fail(id, "committed more than once")
        case None => c.fail(id, "no committed row")
      }
    }
  }

  private def extras(got: collection.Set[String], want: collection.Set[String]): Check =
    (got -- want).foldLeft(Check.empty)((c, id) => c.fail(id, "row for a document not in the input"))

  def keepRows(spark: SparkSession, out: String): Array[(Long, Long, Int)] = {
    import spark.implicits._
    readOr(spark.read.parquet(s"$out/keep/data")
      .select(col("doc_id"), col("group_id"), col("keep")).as[(Long, Long, Int)].collect())
  }

  /** Dedup invariants, one attempt per corpus row: one keep row per doc;
    * keep = 1 exactly for doc_id == group_id, and every group has that
    * keeper; every planted exact duplicate shares its source's group; and,
    * when given, the row equals the cold build's. */
  def dedup(spark: SparkSession, out: String, rows: Vector[(Long, String)],
      exactDups: Map[Long, Long], cold: Option[Map[Long, (Long, Int)]]): Check = {
    val got = keepRows(spark, out).groupBy(_._1)
    val group = got.collect { case (id, Array(r)) => id -> r._2 }
    val keepers = got.values.flatten.filter(_._3 == 1).map(_._2).toVector
      .groupBy(identity).map { case (g, ks) => g -> ks.size }
    val ids = rows.map(_._1).toSet
    val extra = (got.keySet -- ids).foldLeft(Check.empty)((c, id) => c.fail(id, "row for a document not in the corpus"))
    ids.foldLeft(extra) { (c, id) =>
      got.get(id) match {
        case None => c.fail(id, "no keep row")
        case Some(rs) if rs.length > 1 => c.fail(id, "more than one keep row")
        case Some(Array((d, g, k))) =>
          if ((k == 1) != (d == g)) c.fail(id, s"keep=$k with group_id $g")
          else if (!keepers.get(g).contains(1)) c.fail(id, s"group $g has ${keepers.getOrElse(g, 0)} keepers")
          else if (exactDups.get(id).exists(src => ids(src) && !group.get(src).contains(g)))
            c.fail(id, s"exact duplicate of ${exactDups(id)} not grouped with it")
          else if (cold.exists(m => !m.get(id).contains((g, k)))) c.fail(id, "differs from a cold build")
          else c.ok
      }
    }
  }
}
