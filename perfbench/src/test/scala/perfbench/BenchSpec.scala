package perfbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.scalatest.funsuite.AnyFunSuite
import graft.io.ExtractJob
import graft.schema.{DocResult, OutSpan}

/** The benchmark's own tests: its correctness gate catches a deliberately
  * altered span and a failed job, and a tiny-size run of every workload
  * prints the metric names, units and JSON shape that `BENCHMARK.json`
  * declares. */
class BenchSpec extends AnyFunSuite {

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private lazy val declared: JValue = {
    val src = scala.io.Source.fromFile("../BENCHMARK.json", "UTF-8")
    try parse(src.mkString) finally src.close()
  }

  private def declaredMetrics(key: String): Vector[(String, String)] =
    (declared \ key).asInstanceOf[JArray].arr.toVector.map { m =>
      ((m \ "name").asInstanceOf[JString].s, (m \ "unit").asInstanceOf[JString].s)
    }

  private def withSpark[A](body: SparkSession => A): A = {
    val spark = Main.session(Main.Config("test", 0, 0, trace = false, tmp("spark"), tmp("traces")))
    try body(spark) finally spark.stop()
  }

  test("BENCHMARK.json declares exactly the metrics the runs print") {
    assert(declaredMetrics("end_to_end") == Catalog.EndToEnd)
    assert(declaredMetrics("per_layer") == Catalog.PerLayer)
    val workloads = (declared \ "workloads").asInstanceOf[JArray].arr
      .map(w => (w \ "name").asInstanceOf[JString].s)
    assert(workloads == Workload.Names)
  }

  test("negative control: an altered committed span and a failed job both count as failed") {
    withSpark { spark =>
      import spark.implicits._
      val set = Inputs.docs(7, "negative", 12)
      val dir = tmp("negative")
      ExtractJob.run(spark, spark.createDataset(set.rows), s"$dir/good", buckets = 4, groups = 2,
        partitions = 2)
      assert(Checks.extract(spark, s"$dir/good", set.golden) == Check(12, 0, Vector.empty))

      // one span of one committed document altered
      val rows = spark.read.parquet(s"$dir/good/data")
        .select("doc_id", "spans", "markdown").as[DocResult].collect()
      val victim = rows.head.doc_id
      val altered = rows.map { r =>
        if (r.doc_id != victim) r
        else r.copy(spans = r.spans.updated(0, r.spans.head.copy(text = r.spans.head.text + " ")))
      }
      spark.createDataset(altered.toSeq).write.parquet(s"$dir/altered/data")
      val c = Checks.extract(spark, s"$dir/altered", set.golden)
      assert(c.attempted == 12 && c.failed == 1)
      assert(c.examples == Vector(s"$victim: span sequence differs from golden"))

      // a failed job: the call is recorded as an error and every document
      // it should have committed fails the check
      val timer = new Timer(spark, None)
      timer("full") {
        ExtractJob.run(spark, spark.read.parquet(s"$dir/missing-input").as[graft.schema.DocRow],
          s"$dir/failed").docs
      }
      assert(timer.calls.head.error.nonEmpty)
      val f = Checks.extract(spark, s"$dir/failed", set.golden)
      assert(f.attempted == 12 && f.failed == 12)
    }
  }

  test("negative control: crawl and dedup checks reject altered rows") {
    withSpark { spark =>
      import spark.implicits._
      val dir = tmp("negative-rows")
      val blobs = Inputs.blobs(7, "negative", 10)
      val good = blobs.blobs.map(b => (b.id, blobs.golden.getOrElse(b.id, Seq.empty[OutSpan])))
      val bad = good.updated(0, (good.head._1, Seq(OutSpan("text", "not the golden", "", 0))))
      spark.createDataset(good).toDF("doc_id", "spans").write.parquet(s"$dir/good/data")
      spark.createDataset(bad).toDF("doc_id", "spans").write.parquet(s"$dir/bad/data")
      val corrupt = blobs.corruptIds
      assert(Checks.crawl(spark, s"$dir/good", blobs.golden, corrupt).failed == 0)
      val expected = if (corrupt(good.head._1)) 0 else 1
      assert(Checks.crawl(spark, s"$dir/bad", blobs.golden, corrupt).failed == expected)

      // keep = 1 on a doc that is not its group's keeper
      val rows = Vector((1L, "a b c d"), (2L, "a b c d"), (3L, "x y z w"))
      val keep = Seq((1L, 1L, 1), (2L, 1L, 0), (3L, 3L, 1))
      keep.toDF("doc_id", "group_id", "keep").write.parquet(s"$dir/keep-good/keep/data")
      keep.updated(1, (2L, 1L, 1)).toDF("doc_id", "group_id", "keep")
        .write.parquet(s"$dir/keep-bad/keep/data")
      val dups = Map(2L -> 1L)
      assert(Checks.dedup(spark, s"$dir/keep-good", rows, dups, None).failed == 0)
      assert(Checks.dedup(spark, s"$dir/keep-bad", rows, dups, None).failed >= 1)
      // an exact duplicate split from its source
      Seq((1L, 1L, 1), (2L, 2L, 1), (3L, 3L, 1)).toDF("doc_id", "group_id", "keep")
        .write.parquet(s"$dir/keep-split/keep/data")
      assert(Checks.dedup(spark, s"$dir/keep-split", rows, dups, None).failed == 1)
    }
  }

  private def smoke(workload: String, trace: Boolean): Unit = {
    val cfg = Main.Config(workload, 3, 0.1, trace, tmp(s"smoke-$workload"), tmp("traces"), scale = 0.005)
    val res = Main.run(cfg)
    assert(res.correct, s"$workload: ${res.check.examples} ${res.errors}")
    val json = parse(res.json)
    assert(json.asInstanceOf[JObject].obj.map(_._1) == List("correct", "attempted", "failed", "metrics"))
    val metrics = (json \ "metrics").asInstanceOf[JObject].obj.map { case (k, v) =>
      (k, (v \ "unit").asInstanceOf[JString].s)
    }.toVector
    assert(metrics == (if (trace) Catalog.PerLayer else Catalog.EndToEnd))
    if (!trace)
      (json \ "metrics").asInstanceOf[JObject].obj.foreach { case (k, v) =>
        assert((v \ "value").asInstanceOf[JDouble].num > 0, s"$workload $k is not positive")
      }
  }

  Workload.Names.foreach { w =>
    test(s"smoke: $w at tiny size, untraced and traced") {
      smoke(w, trace = false)
      smoke(w, trace = true)
    }
  }
}
