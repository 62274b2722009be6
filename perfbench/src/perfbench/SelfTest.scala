package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger

/** Tests of the benchmark's own pieces: generator determinism, the
  * percentile rule, span attribution, and agreement of the metric names
  * with BENCHMARK.json (its path is the first argument). Run with
  * `python3 perfbench/run.py --self-test`; exits 1 if any test fails.
  */
object SelfTest {

  private val failed = mutable.ArrayBuffer.empty[String]

  private def test(name: String)(body: => Unit): Unit =
    try { body; println(s"ok   $name") }
    catch {
      case e: Throwable =>
        failed += name
        println(s"FAIL $name: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }

  private def expect[A](got: A, want: A, what: String): Unit =
    if (got != want) throw new AssertionError(s"$what: got $got, want $want")

  def main(args: Array[String]): Unit = {
    val tmp = Files.createTempDirectory("perfbench-selftest").toFile

    test("ratings generator is deterministic per seed") {
      def hash(seed: Long) = {
        val f = new File(tmp, s"r$seed.csv")
        Gen.writeCsv(Gen.ratings(seed), f)
      }
      expect(hash(3), hash(3), "same seed")
      assert(hash(3) != hash(4), "different seeds gave identical ratings")
      val (ok, line) = Gen.ratingsCheck(Gen.ratings(3), "-")
      assert(ok, s"self-check failed: $line")
    }

    test("corpus generator is deterministic per seed") {
      val spec = Gen.CorpusSpec(600, parts = 3)
      expect(Gen.corpusHash(Gen.corpus(5, spec)), Gen.corpusHash(Gen.corpus(5, spec)), "same seed")
      assert(Gen.corpusHash(Gen.corpus(5, spec)) != Gen.corpusHash(Gen.corpus(6, spec)),
        "different seeds gave identical corpora")
      assert(Gen.corpusCheck(Gen.corpus(5, spec))._1, "corpus self-check")
    }

    test("corpus copies only reach back to earlier parts") {
      val docs = Gen.corpus(9, Gen.CorpusSpec(900, parts = 3))
      val srcPart = docs.filter(_.original).map(d => d.cluster -> d.part).toMap
      docs.filter(d => d.cluster >= 0 && !d.original).foreach { d =>
        assert(srcPart(d.cluster) < d.part, s"copy ${d.id} in part ${d.part}")
      }
    }

    test("BENCHMARK.json names the workloads and metrics the program reports") {
      import org.json4s._
      implicit val formats: Formats = DefaultFormats
      val b = org.json4s.jackson.JsonMethods.parse(
        new String(Files.readAllBytes(new File(args(0)).toPath), "UTF-8"))
      def names(k: String) = (b \ k).children.map(x => (x \ "name").extract[String])
      expect(names("workloads"), Workloads.names, "workloads")
      expect(names("end_to_end"), Main.EndToEnd, "end_to_end")
      expect(names("per_layer"), PerLayer.names, "per_layer")
      expect((b \ "per_layer").children.map(x => (x \ "unit").extract[String]),
        PerLayer.names.map(PerLayer.unit), "per_layer units")
    }

    test("median") {
      expect(Stats.median(Seq(3.0, 1.0, 2.0)), 2.0, "odd")
      expect(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)), 2.5, "even")
    }

    test("tail: highest percentile with at least 10 samples beyond it") {
      val ten = (1 to 10).map(_.toDouble)
      expect(Stats.tail(ten), Stats.Tail(10.0, 100.0, 10), "n=10 reports the max")
      val eleven = (1 to 11).map(_.toDouble)
      expect(Stats.tail(eleven).value, 1.0, "n=11")
      val hundred = scala.util.Random.shuffle((1 to 100).map(_.toDouble))
      val t = Stats.tail(hundred)
      expect(t.value, 90.0, "n=100 value")
      expect(t.percentile, 90.0, "n=100 percentile")
      expect(hundred.count(_ > t.value), 10, "samples beyond")
    }

    test("attribution: back-to-back spans keep their own jobs and task CPU") {
      import Tracer._
      val a = SpanRec(1, "a", "g1", None, None, 1000, 2000)
      val b = SpanRec(2, "b", "g2", None, None, 2000, 3000)
      val jobs = Seq(
        JobRec(1, 1100, 1500, Some("g1"), None),
        JobRec(2, 1600, 1990, Some("g1"), None),
        // a pooled thread still carrying span a's group, inside span b
        JobRec(3, 2100, 2900, Some("g1"), None),
        JobRec(4, 2950, 2990, Some("g2"), None))
      val stageJob = Map(10 -> 1, 20 -> 2, 30 -> 3, 40 -> 4)
      val tasks = Seq(
        TaskRec(10, 100, 1000000000L, 0, 0, 0),
        TaskRec(20, 100, 2000000000L, 0, 0, 0),
        TaskRec(30, 100, 4000000000L, 0, 0, 0),
        TaskRec(40, 100, 8000000000L, 0, 0, 0))
      val t = attribute(Seq(a, b), jobs, stageJob, tasks, Nil, Map.empty, Nil, 4)
      val by = t.spans.map(s => s.rec.name -> s.counters).toMap
      expect(by("a")("jobs"), 2.0, "a jobs")
      expect(by("b")("jobs"), 2.0, "b jobs")
      expect(by("a")("cpu_s"), 3.0, "a cpu")
      expect(by("b")("cpu_s"), 12.0, "b cpu")
      expect(by("a")("gap_s"), 0.21, "a gap")
      expect(t.unattributedJobs, 0, "unattributed")
    }

    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.warehouse.dir", new File(tmp, "wh").toURI.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      test("attribution on a live session: spans and a streaming trigger") {
        val tr = Tracer(spark, enabled = true)
        // an independent job count per span body, to compare against
        val started = new java.util.concurrent.atomic.AtomicInteger()
        spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
            started.incrementAndGet()
        })
        def counted(body: => Unit): Int = {
          org.apache.spark.sql.PerfbenchBridge.drain(spark.sparkContext)
          val before = started.get
          body
          org.apache.spark.sql.PerfbenchBridge.drain(spark.sparkContext)
          started.get - before
        }
        val one = counted(tr.span("x.one") {
          spark.range(0, 200000, 1, 4).selectExpr("sum(id)").collect()
        })
        val two = counted(tr.span("x.two") {
          spark.range(0, 1000, 1, 2).selectExpr("sum(id)").collect()
          spark.range(0, 1000, 1, 2).selectExpr("max(id)").collect()
        })
        val in = new File(tmp, "stream-in"); in.mkdirs()
        spark.range(0, 100).toDF("id").write.parquet(new File(in, "a").getPath)
        val q = spark.readStream.schema("id LONG").parquet(new File(in, "a").getPath)
          .writeStream.trigger(Trigger.AvailableNow())
          .option("checkpointLocation", new File(tmp, "ckpt").getPath)
          .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) => df.count(); () }
          .start()
        tr.watchStream(q, "none")
        q.awaitTermination()
        val t = tr.finish()
        val by = t.spans.groupBy(_.rec.name)
        expect(by("x.one").map(_.counters("jobs")), Seq(one.toDouble), "x.one jobs")
        expect(by("x.two").map(_.counters("jobs")), Seq(two.toDouble), "x.two jobs")
        assert(by("x.one").head.counters("tasks") >= 4.0, "x.one ran its 4 scan tasks")
        val trig = by.getOrElse("streaming.trigger", Nil)
        assert(trig.nonEmpty, "no streaming.trigger span")
        assert(trig.forall(_.counters("jobs") >= 1.0), "a trigger without jobs")
        expect(trig.head.rec.runId, Some(q.runId.toString), "trigger run id")
      }
    } finally spark.stop()

    if (failed.nonEmpty) {
      println(s"${failed.size} failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
    println("all self-tests passed")
  }
}
