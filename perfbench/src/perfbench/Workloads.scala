package perfbench

import java.io.File
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.io.RatingsIO
import graft.pipeline.Pipelines
import graft.recommender.{Evaluator, GdMf}
import graft.streaming.StreamingDedup

/** The workloads. Each sets up its seeded inputs (timed as set-up),
  * warms up where users would not pay a cold start, then runs its
  * operation for the run's seconds and checks every output.
  */
object Workloads {

  val names: Seq[String] = Seq("mf_train", "stream_dedup")

  final case class Ctx(spark: SparkSession, tracer: Tracer, seed: Long,
      seconds: Int, work: File, cores: Int, epochs: Int) {
    def span[A](name: String)(body: => A): A = tracer.span(name)(body)
    /** Force a lazy result at its span boundary, traced run only: the
      * noop sink evaluates every column without caching, so the
      * downstream plan is the untraced one.
      */
    def materialize(df: DataFrame): Unit =
      if (tracer.enabled) df.write.format("noop").mode("overwrite").save()
  }

  final case class Outcome(
      setupRepsS: Seq[Double], warmupS: Double,
      latenciesMs: Seq[Double], measuredS: Double, qualityPct: Double,
      attemptedOps: Int, failedOps: Int, failures: Seq[String],
      named: ListMap[String, (Double, String)],
      details: ListMap[String, Any],
      layerExtras: ListMap[String, Double] => ListMap[String, Double] = _ => ListMap.empty)

  /** Input set-up repetitions; set-up time is their median. */
  val SetupReps = 3

  // sizes and rates; the reason for each is in perfbench/README.md
  /** `mf_train` epochs per program; `--epochs` overrides it for the
    * ungated reference-config record.
    */
  val TrainEpochs = 2
  val StreamFileDocs = 200
  val StreamPeriodMs = 5000L

  def run(workload: String, ctx: Ctx): Outcome = workload match {
    case "mf_train" => mfTrain(ctx)
    case "stream_dedup" => streamDedup(ctx)
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def timedReps[A](n: Int)(body: => A): (A, Seq[Double]) = {
    var last: Option[A] = None
    val ts = (0 until n).map { _ =>
      val t0 = System.nanoTime(); last = Some(body); secs(t0)
    }
    (last.get, ts)
  }

  /** Generate, write and self-check the ratings CSV. */
  private def ratingsInput(ctx: Ctx): (File, Gen.Ratings, Seq[String]) = {
    val csv = new File(ctx.work, "input/ratings.csv")
    val rs = Gen.ratings(ctx.seed)
    val hash = Gen.writeCsv(rs, csv)
    val (ok, line) = Gen.ratingsCheck(rs, hash)
    Main.say("perfbench check " + line)
    (csv, rs, if (ok) Nil else Seq("input.ratings: generator self-check failed"))
  }

  // ------------------------------------------------------------ mf_train

  final case class Program(wallMs: Double, rmse: Double, failures: Seq[String])

  /** One reference program: CSV → prepare → GdMf.fit → predict → RMSE,
    * then the output checks (untimed).
    */
  private def program(ctx: Ctx, csv: File, distinctPairs: Long,
      alternating: Boolean, epochs: Int): Program = {
    val spark = ctx.spark
    val t0 = System.nanoTime()
    val raw = ctx.span("io.read_csv") {
      val d = RatingsIO.readRatingsCsv(spark, csv.getPath); ctx.materialize(d); d
    }
    val (train, test) = ctx.span("prep.prepare") {
      val (a, b) = Pipelines.prepare(raw); ctx.materialize(a); ctx.materialize(b); (a, b)
    }
    val fitSpan = if (alternating) "recommender.fit_als" else "recommender.fit_funk"
    val model = ctx.span(fitSpan) {
      GdMf.fit(train, GdMf.Config(nFactors = 30, epochs = epochs,
        lr = 0.001, reg = 0.001, alternating = alternating))
    }
    val (metrics, pred) = ctx.span("recommender.eval") {
      val p = model.predict(test)
      (Evaluator.evaluate(p, "rating", "prediction"), p)
    }
    val wallMs = secs(t0) * 1e3
    val name = if (alternating) "als_gd" else "funk_svd"
    val fails = {
      val f = mutable.ArrayBuffer.empty[String]
      // oracles: the generator knows how many distinct (user, item)
      // pairs survive the dedup, so the test split holds all of them but
      // the rows the fit trained on; range, mean and the known ids are
      // the training facts as the fit saw them
      val st = model.stats
      val (lo, hi, mean) = (st.minRating, st.maxRating, st.meanRating)
      val users = model.userState.select("user").collect().map(_.getString(0)).toSet
      val items = model.itemState.select("item").collect().map(_.getString(0)).toSet
      val nTest = distinctPairs - st.nRatings
      val rows = pred.select("user", "item", "prediction").collect()
      val cold = rows.filter(r => !users(r.getString(0)) || !items(r.getString(1)))
      val outside = rows.count(r => r.getDouble(2) < lo - 1e-9 || r.getDouble(2) > hi + 1e-9)
      val coldOff = cold.count(r => math.abs(r.getDouble(2) - mean) > 1e-9)
      if (rows.length != nTest)
        f += s"mf_train.$name.one_prediction_per_test_row: ${rows.length} predictions for $nTest rows"
      if (outside != 0)
        f += s"mf_train.$name.prediction_in_training_range: $outside outside [$lo, $hi]"
      if (cold.isEmpty)
        f += s"mf_train.$name.cold_start_rows_present: no cold-start test rows"
      if (coldOff != 0)
        f += s"mf_train.$name.cold_start_is_global_mean: $coldOff rows differ from $mean"
      if (metrics.rmse.isNaN || metrics.rmse.isInfinite)
        f += s"mf_train.$name.rmse_finite: ${metrics.rmse}"
      f.toSeq
    }
    model.release()
    Program(wallMs, metrics.rmse, fails)
  }

  def mfTrain(ctx: Ctx): Outcome = {
    val ((csv, rs, genFails), reps) = timedReps(SetupReps)(ratingsInput(ctx))
    val pairs = (0 until rs.rows).filter(rs.kind(_) == Gen.Original).size.toLong
    // no warm-up: each program is a batch job that users launch cold
    val runs = mutable.ArrayBuffer.empty[(String, Program)]
    val t0 = System.nanoTime()
    do {
      runs += "funk_svd" -> program(ctx, csv, pairs, alternating = false, ctx.epochs)
      runs += "als_gd" -> program(ctx, csv, pairs, alternating = true, ctx.epochs)
    } while (secs(t0) < ctx.seconds)
    // throughput counts program time only, not the output checks
    val measured = runs.map(_._2.wallMs).sum / 1e3
    val failures = genFails ++ runs.flatMap(_._2.failures)
    def med(n: String, f: Program => Double) = Stats.median(runs.filter(_._1 == n).map(r => f(r._2)).toSeq)
    // quality: test RMSE as a share of the 1..5 rating scale, inverted
    val quality = Stats.median(runs.map(r => 100.0 * (1.0 - r._2.rmse / 4.0)).toSeq)
    Outcome(reps, 0.0, runs.map(_._2.wallMs).toSeq, measured, quality,
      runs.size, runs.count(_._2.failures.nonEmpty), failures.toSeq,
      ListMap(
        "funk_svd_s" -> (med("funk_svd", _.wallMs) / 1e3, "s"),
        "als_gd_s" -> (med("als_gd", _.wallMs) / 1e3, "s"),
        "funk_svd_rmse" -> (med("funk_svd", _.rmse), "rmse"),
        "als_gd_rmse" -> (med("als_gd", _.rmse), "rmse")),
      ListMap("epochs" -> ctx.epochs, "programs" -> runs.size),
      layerExtras = m => ListMap(Seq("fit_funk", "fit_als").flatMap { f =>
        m.get(s"recommender.$f.jobs").map(j => s"recommender.$f.jobs_per_epoch" -> j / ctx.epochs)
      }: _*))
  }

  // -------------------------------------------------------- stream_dedup

  /** An open loop: a generator thread lands one parquet file of the
    * streaming corpus every [[StreamPeriodMs]] by atomic rename, and
    * `StreamingDedup.start(..., indexTable = Some(tbl))` reads them one
    * file per trigger. Each file's latency runs from its due time until
    * its verdicts are collected in `onBatch`.
    */
  def streamDedup(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val nFiles = math.max(2, (ctx.seconds * 1000L / StreamPeriodMs).toInt)
    val stage = new File(ctx.work, "input/stage")
    val ((docs, files, genFails), reps) = timedReps(SetupReps) {
      val docs = Gen.corpus(ctx.seed,
        Gen.CorpusSpec(StreamFileDocs * nFiles, parts = nFiles))
      val (ok, line) = Gen.corpusCheck(docs)
      Main.say("perfbench check " + line)
      (docs, stageFiles(spark, docs, stage, "main"),
        if (ok) Nil else Seq("input.corpus: generator self-check failed"))
    }
    val w0 = System.nanoTime()
    val warmDocs = Gen.corpus(ctx.seed + 1, Gen.CorpusSpec(3 * StreamFileDocs, parts = 3))
    streamRun(ctx.copy(tracer = Tracer(spark, enabled = false)), warmDocs,
      stageFiles(spark, warmDocs, stage, "warm"), "warm", 0L)
    val warm = secs(w0)
    val t0 = System.nanoTime()
    val r = streamRun(ctx, docs, files, "main", StreamPeriodMs)
    val measured = secs(t0)
    val lat = r.latencyMs
    val tail = Stats.tail(lat)
    val late = Stats.median(r.lateMs)
    val (indexFiles, indexMb) = r.index
    Outcome(reps, warm, lat, measured, r.quality, nFiles,
      r.failedFiles, genFails ++ r.failures,
      ListMap(
        "stream_p50_ms" -> (Stats.median(lat), "ms"),
        "stream_tail_ms" -> (tail.value, "ms"),
        "stream_backlog_max" -> (r.backlogMax.toDouble, "count")),
      ListMap("files" -> nFiles, "docs_per_file" -> StreamFileDocs,
        "period_ms" -> StreamPeriodMs, "stream_tail_percentile" -> tail.percentile,
        "generator_late_p50_ms" -> late, "generator_late_max_ms" -> r.lateMs.max,
        "latency_ms" -> lat),
      layerExtras = _ => ListMap("io.index.files" -> indexFiles.toDouble,
        "io.index.mb" -> indexMb))
  }

  /** Write each part of a streaming corpus as one parquet file under
    * `stage/<tag>/`, ready to be renamed into the input directory.
    */
  private def stageFiles(spark: SparkSession, docs: Seq[Gen.Doc], stage: File,
      tag: String): IndexedSeq[File] = {
    import spark.implicits._
    val dir = new File(stage, tag)
    docs.map(d => (d.id, d.text, d.part)).toDF("id", "text", "part")
      .repartition(col("part")).write.mode("overwrite").partitionBy("part")
      .parquet(dir.getPath)
    val parts = docs.map(_.part).max + 1
    (0 until parts).map { p =>
      val fs = new File(dir, s"part=$p").listFiles().filter(_.getName.endsWith(".parquet"))
      require(fs.length == 1, s"part $p staged as ${fs.length} files")
      fs.head
    }
  }

  final case class StreamResult(latencyMs: Seq[Double], lateMs: Seq[Double],
      backlogMax: Int, quality: Double, failedFiles: Int,
      failures: Seq[String], index: (Int, Double))

  private def streamRun(ctx: Ctx, docs: Seq[Gen.Doc], files: IndexedSeq[File],
      tag: String, periodMs: Long): StreamResult = {
    val spark = ctx.spark
    val in = new File(ctx.work, s"input/stream-$tag"); in.mkdirs()
    val table = s"perfbench_index_$tag"
    val partOf = docs.map(d => d.id -> d.part).toMap
    val verdicts = new ConcurrentLinkedQueue[(Long, Option[Long])]()
    val doneAt = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val landed = new AtomicInteger()
    val processed = new AtomicInteger()
    val backlog = new AtomicInteger()
    def sampleBacklog(): Unit = backlog.accumulateAndGet(landed.get - processed.get, math.max)
    val stream = spark.readStream.schema(StructType(Seq(
        StructField("id", LongType), StructField("text", StringType))))
      .option("maxFilesPerTrigger", 1).parquet(in.getPath)
    val run = StreamingDedup.start(stream, "id", "text", indexTable = Some(table)) {
      (batch: DataFrame, _: Long) =>
        val vs = batch.select("id", "dup_of").collect()
        val now = System.nanoTime()
        vs.foreach(r => verdicts.add(r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))))
        vs.headOption.foreach(r => doneAt.put(partOf(r.getLong(0)), now))
        processed.incrementAndGet(); sampleBacklog()
    }
    ctx.tracer.watchStream(run.query, table)
    val t0 = System.nanoTime() + 500L * 1000000L
    val due = files.indices.map(i => t0 + i * periodMs * 1000000L)
    val late = files.indices.map { i =>
      val wait = due(i) - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      val f = files(i)
      f.setLastModified(System.currentTimeMillis())
      java.nio.file.Files.move(f.toPath, new File(in, f"f-$i%05d.parquet").toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      val l = (System.nanoTime() - due(i)) / 1e6
      landed.incrementAndGet(); sampleBacklog()
      l
    }
    // wait until every file's trigger has finished, its index append too
    val limit = System.nanoTime() + 60L * 1000000000L
    def finished = run.query.recentProgress.count(_.numInputRows > 0)
    while (finished < files.size && System.nanoTime() < limit &&
        run.query.exception.isEmpty) Thread.sleep(5)
    run.query.stop()
    run.query.awaitTermination()
    val failures = mutable.ArrayBuffer.empty[String]
    run.query.exception.foreach(e => failures += s"stream_dedup.query_failed: ${e.getMessage.take(200)}")
    // checks
    val got = verdicts.asScala.toSeq.groupBy(_._1)
    val byId = docs.map(d => d.id -> d).toMap
    val badParts = mutable.Set.empty[Int]
    def bad(d: Gen.Doc, msg: String): Unit = {
      badParts += d.part; if (failures.size < 20) failures += msg
    }
    var caught = 0
    var planted = 0
    docs.foreach { d =>
      got.get(d.id) match {
        case Some(Seq((_, dup))) =>
          if (d.cluster >= 0 && !d.original) {
            planted += 1
            val ok = dup.flatMap(byId.get).exists(o => o.cluster == d.cluster && o.part < d.part)
            if (ok) caught += 1
            else bad(d, s"stream_dedup.dup_of_earlier_member: doc ${d.id} (cluster ${d.cluster}) -> $dup")
          } else if (dup.isDefined)
            bad(d, s"stream_dedup.new_doc_kept: doc ${d.id} marked dup_of ${dup.get}")
        case Some(vs) => bad(d, s"stream_dedup.one_verdict_per_doc: doc ${d.id} got ${vs.size}")
        case None =>
          if (d.cluster >= 0 && !d.original) planted += 1
          bad(d, s"stream_dedup.one_verdict_per_doc: doc ${d.id} got none")
      }
    }
    val lat = files.indices.flatMap(i => Option(doneAt.get(i)).map(t => (t - due(i)) / 1e6))
    val index = {
      val dir = new File(new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, table)
      val fs = Option(dir.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))
      (fs.size, fs.map(_.length).sum / 1e6)
    }
    StreamResult(if (lat.isEmpty) Seq(Double.NaN) else lat, late,
      backlog.get, 100.0 * caught / math.max(1, planted), badParts.size,
      failures.toSeq, index)
  }
}
