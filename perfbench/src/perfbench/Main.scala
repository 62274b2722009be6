package perfbench

import java.io.File

import scala.collection.immutable.ListMap

import org.apache.spark.sql.SparkSession

/** The graft benchmark: one seeded workload per invocation.
  *
  * {{{
  * Main --workload <mf_train|stream_dedup>
  *      --seed <n> --seconds <s> --trace <0|1> --work <dir> [--epochs <n>]
  * }}}
  *
  * Prints the environment, the input self-checks, every metric by name
  * with its unit, every failed output check by name, and as its last
  * line one JSON object `{"correct", "attempted", "failed", "metrics"}`:
  * the end-to-end metrics with `--trace 0`, the per-layer metrics with
  * `--trace 1`. Exits non-zero without a result line on any error.
  */
object Main {

  /** The end-to-end metrics every workload reports, as BENCHMARK.json lists them. */
  val EndToEnd: Seq[String] = Seq("setup_s", "op_p50_ms", "op_tail_ms", "ops_per_s", "quality_pct")

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: File, sourceHash: String, epochs: Int)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    val w = need("--workload")
    require(Workloads.names.contains(w), s"unknown workload $w")
    val secs = need("--seconds").toInt
    require(secs >= 1, "--seconds must be >= 1")
    val trace = need("--trace") match {
      case "0" => false
      case "1" => true
      case t => sys.error(s"--trace must be 0 or 1, got $t")
    }
    Opts(w, need("--seed").toLong, secs, trace, new File(need("--work")),
      m.getOrElse("--source-hash", "unknown"),
      m.get("--epochs").map(_.toInt).getOrElse(Workloads.TrainEpochs))
  }

  /** Session settings of the repo's tools, with the core count taken
    * from the machine instead of hard-coded.
    */
  def session(work: File, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toURI.toString)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "hadoop-tmp").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def say(line: String): Unit = { println(line); Console.out.flush() }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    opts.work.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = session(opts.work, cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val env = ListMap(
        "workload" -> opts.workload, "seed" -> opts.seed,
        "seconds" -> opts.seconds, "trace" -> opts.trace, "epochs" -> opts.epochs,
        "nproc" -> cores, "master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1L << 20),
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString,
        "jdk" -> System.getProperty("java.version"),
        "source_hash" -> opts.sourceHash,
        "git_commit" -> sys.env.getOrElse("PERFBENCH_GIT_COMMIT", "unknown"))
      say("perfbench env " + Stats.json(env))
      val tracer = Tracer(spark, opts.trace)
      val ctx = Workloads.Ctx(spark, tracer, opts.seed, opts.seconds,
        opts.work, cores, opts.epochs)
      val out = Workloads.run(opts.workload, ctx)
      val trace = tracer.finish()
      report(opts, env, sessionS, out, trace)
    } finally spark.stop()
  }

  private def report(opts: Opts, env: ListMap[String, Any], sessionS: Double,
      out: Workloads.Outcome, trace: Tracer.Trace): Unit = {
    val lat = out.latenciesMs
    val tail = Stats.tail(lat)
    val setupS = sessionS + Stats.median(out.setupRepsS) + out.warmupS
    val e2e = ListMap[String, (Double, String)](
      "setup_s" -> (setupS, "s"),
      "op_p50_ms" -> (Stats.median(lat), "ms"),
      "op_tail_ms" -> (tail.value, "ms"),
      "ops_per_s" -> (lat.size / out.measuredS, "1/s"),
      "quality_pct" -> (out.qualityPct, "%"))
    require(e2e.keys.toSeq == EndToEnd, "end-to-end metrics out of step with EndToEnd")
    val failed = out.failedOps
    val attempted = out.attemptedOps
    val record = ListMap(
      "env" -> env,
      "setup" -> ListMap("session_s" -> sessionS, "warmup_s" -> out.warmupS,
        "input_reps_s" -> out.setupRepsS),
      "ops" -> ListMap("attempted" -> attempted, "failed" -> failed,
        "ops_failed_pct" -> 100.0 * failed / math.max(1, attempted),
        "latency_n" -> lat.size, "tail_percentile" -> tail.percentile,
        "measured_s" -> out.measuredS),
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> ListMap("value" -> v, "unit" -> u) },
      "workload_metrics" -> out.named.map { case (k, (v, u)) =>
        k -> ListMap("value" -> v, "unit" -> u) },
      "details" -> out.details,
      "failures" -> out.failures)
    e2e.foreach { case (k, (v, u)) => say(f"metric $k = $v%.6f $u") }
    out.named.foreach { case (k, (v, u)) => say(f"metric ${opts.workload}.$k = $v%.6f $u") }
    say(f"tail = p${tail.percentile}%.1f of ${tail.n} samples")
    out.failures.foreach(f => say(s"FAIL $f"))
    val recDir = new File(opts.work, "records"); recDir.mkdirs()
    val tag = s"${opts.workload}-seed${opts.seed}-trace${if (opts.trace) 1 else 0}"
    java.nio.file.Files.writeString(new File(recDir, tag + ".json").toPath,
      Stats.json(record) + "\n")
    val metrics: ListMap[String, (Double, String)] =
      if (!opts.trace) e2e
      else {
        val got = trace.metrics ++ out.layerExtras(trace.metrics)
        java.nio.file.Files.writeString(new File(recDir, tag + ".trace.json").toPath,
          trace.json + "\n")
        say(s"trace: ${trace.spans.size} spans, ${trace.jobsSeen} jobs, " +
          s"${trace.unattributedJobs} outside any span; traced end-to-end " +
          Stats.json(e2e.map { case (k, (v, _)) => k -> v }))
        ListMap(PerLayer.names.map(n => n -> (got.getOrElse(n, 0.0), PerLayer.unit(n))): _*)
      }
    if (opts.trace) metrics.foreach { case (k, (v, u)) => say(f"layer $k = $v%.6f $u") }
    say(Stats.json(ListMap(
      "correct" -> out.failures.isEmpty,
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) =>
        k -> ListMap("value" -> v, "unit" -> u) })))
  }
}

/** The per-layer metric names the traced run reports, in the order
  * BENCHMARK.json lists them; a span a workload does not run reads 0.
  */
object PerLayer {
  val spans: Seq[String] = Seq(
    "io.read_csv", "prep.prepare", "recommender.fit_funk",
    "recommender.fit_als", "recommender.eval", "streaming.trigger",
    "io.index_append")
  val counters: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "jobs" -> "count", "tasks" -> "count", "cpu_s" -> "s",
    "util" -> "ratio", "gap_s" -> "s", "plan_ms" -> "ms",
    "shuffle_mb" -> "MB", "spill_mb" -> "MB", "out_mb" -> "MB",
    "skew" -> "ratio")
  val derived: Seq[(String, String)] = Seq(
    "recommender.fit_funk.jobs_per_epoch" -> "count",
    "recommender.fit_als.jobs_per_epoch" -> "count",
    "streaming.trigger.add_batch_ms" -> "ms",
    "streaming.trigger.query_planning_ms" -> "ms",
    "streaming.trigger.wal_commit_ms" -> "ms",
    "io.index.files" -> "count",
    "io.index.mb" -> "MB")
  private val all: Seq[(String, String)] =
    spans.flatMap(s => counters.map { case (c, u) => s"$s.$c" -> u }) ++ derived
  val names: Seq[String] = all.map(_._1)
  def unit(n: String): String = all.toMap.apply(n)
}
