package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into the layers, with Spark's own
  * counters attributed to them.
  *
  * The benchmark wraps each call into a `graft.*` public function in
  * [[Tracer.span]]. While tracing, each span sets its own job group;
  * three listeners record raw job, task, SQL-execution, planning and
  * streaming-progress events, and [[Tracer.finish]] attributes them to
  * spans after the run:
  *
  *  - a job of a SQL execution that writes the streaming index table
  *    belongs to an `io.index_append` span made from that write's
  *    executions (and to the `streaming.trigger` it ran inside);
  *  - a job of a streaming query (job group = the query's run id)
  *    belongs to the trigger whose window holds its submission;
  *  - a job whose group is a span that is open at submission belongs
  *    to that span;
  *  - any other job (a pooled thread carrying a stale or no group)
  *    belongs to the one span open at its submission, if exactly one
  *    is, and is counted as unattributed otherwise.
  *
  * Task metrics follow their job through its stages; planning time
  * follows the SQL execution.
  */
final class Tracer private (spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val cores = spark.sparkContext.defaultParallelism
  private val seq = new AtomicLong()
  private val spans = new ConcurrentLinkedQueue[SpanRec]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val execs = new ConcurrentHashMap[Long, ExecRec]()
  private val planMs = new ConcurrentHashMap[Long, java.lang.Double]()
  private val progress = new ConcurrentLinkedQueue[Progress]()
  private val indexWrites = ConcurrentHashMap.newKeySet[Long]()
  private val runIds = ConcurrentHashMap.newKeySet[String]()
  @volatile private var indexTable: Option[String] = None
  private val open = new ThreadLocal[SpanRec]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
      jobs.put(e.jobId, JobRec(e.jobId, e.time, Long.MaxValue,
        prop("spark.jobGroup.id"),
        prop("spark.sql.execution.id").map(_.toLong)))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(e.stageId, e.taskInfo.duration,
        m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled, m.outputMetrics.bytesWritten))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execs.put(s.executionId, ExecRec(s.executionId, s.time, Long.MaxValue,
          s.jobGroupId))
      case s: SparkListenerSQLExecutionEnd =>
        // the QueryExecution rides along on the in-process event; its id
        // links this execution to the QueryExecutionListener's records
        val qeId = org.apache.spark.sql.PerfbenchBridge.queryExecutionId(s)
        execs.computeIfPresent(s.executionId, (_, x) => x.copy(end = s.time, qeId = qeId))
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
      val ph = qe.tracker.phases.values.map(p => p.durationMs.toDouble).sum
      planMs.put(qe.id, ph)
      indexTable.foreach { t =>
        val plan = qe.commandExecuted.toString
        if (plan.contains("InsertIntoHadoopFsRelationCommand") && plan.contains(t))
          indexWrites.add(qe.id)
      }
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        progress.add(Progress(p.runId.toString, p.batchId, start,
          start + d.getOrElse("triggerExecution", 0L),
          d.getOrElse("addBatch", 0L), d.getOrElse("queryPlanning", 0L),
          d.getOrElse("walCommit", 0L)))
      }
    }
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Attribute the triggers of `query` to `streaming.trigger` spans and
    * its appends to the catalog table `indexTable` to `io.index_append`.
    */
  def watchStream(query: org.apache.spark.sql.streaming.StreamingQuery,
      indexTable: String): Unit = {
    runIds.add(query.runId.toString)
    this.indexTable = Some(indexTable)
  }

  /** Run `body` as span `name` (`<module>.<call>`). Nested spans record
    * their parent. A no-op wrapper when tracing is off.
    */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val parent = Option(open.get)
      val id = seq.incrementAndGet()
      val group = s"perfbench-span-$id"
      val rec = SpanRec(id, name, group, parent.map(_.id), None,
        System.currentTimeMillis(), Long.MaxValue)
      open.set(rec)
      sc.setJobGroup(group, name, interruptOnCancel = false)
      try body
      finally {
        spans.add(rec.copy(end = System.currentTimeMillis()))
        parent match {
          case Some(p) => open.set(p); sc.setJobGroup(p.group, p.name, interruptOnCancel = false)
          case None => open.remove(); sc.clearJobGroup()
        }
      }
    }

  /** Stop listening, wait for the listener bus to drain, and attribute
    * every recorded event to spans.
    */
  def finish(): Trace = {
    if (!enabled) return Trace(Nil, 0, 0)
    org.apache.spark.sql.PerfbenchBridge.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    attribute(spans.asScala.toSeq, jobs.asScala.values.toSeq,
      stageJob.asScala.map { case (s, j) => s.intValue -> j.intValue }.toMap,
      tasks.asScala.toSeq,
      execs.asScala.values.toSeq.map(e =>
        e.copy(isIndexWrite = e.qeId.exists(q => indexWrites.contains(q)))),
      execs.asScala.values.toSeq.flatMap(e =>
        e.qeId.flatMap(q => Option(planMs.get(q))).map(e.id -> _.doubleValue)).toMap,
      progress.asScala.toSeq.filter(p => runIds.contains(p.runId)), cores)
  }
}

object Tracer {

  def apply(spark: SparkSession, enabled: Boolean): Tracer = new Tracer(spark, enabled)

  final case class SpanRec(id: Long, name: String, group: String,
      parent: Option[Long], runId: Option[String], start: Long, end: Long)
  final case class JobRec(id: Int, start: Long, end: Long,
      group: Option[String], execId: Option[Long])
  final case class TaskRec(stage: Int, durationMs: Long, cpuNs: Long,
      shuffleWrite: Long, spill: Long, output: Long)
  final case class ExecRec(id: Long, start: Long, end: Long,
      group: Option[String], qeId: Option[Long] = None,
      isIndexWrite: Boolean = false)
  final case class Progress(runId: String, batchId: Long, start: Long,
      end: Long, addBatchMs: Long, planningMs: Long, walMs: Long)

  /** One span instance with its attributed counters. */
  final case class Span(rec: SpanRec, counters: ListMap[String, Double])

  final case class Trace(spans: Seq[Span], unattributedJobs: Int, jobsSeen: Int) {

    /** Per-layer metrics: each counter's median over the instances of
      * its span name.
      */
    def metrics: ListMap[String, Double] = {
      val byName = spans.groupBy(_.rec.name)
      ListMap(byName.toSeq.sortBy(_._1).flatMap { case (name, ss) =>
        ss.head.counters.keys.toSeq.map { c =>
          s"$name.$c" -> Stats.median(ss.map(_.counters(c)))
        }
      }: _*)
    }

    def json: String = Stats.json(ListMap(
      "jobs_seen" -> jobsSeen, "jobs_unattributed" -> unattributedJobs,
      "spans" -> spans.map { s =>
        ListMap("id" -> s.rec.id, "name" -> s.rec.name,
          "parent" -> s.rec.parent, "run_id" -> s.rec.runId,
          "start_ms" -> s.rec.start, "end_ms" -> s.rec.end) ++ s.counters
      }))
  }

  /** Attribute raw events to spans; see the class comment for the rules.
    * `planMs` is keyed by SQL execution id.
    */
  def attribute(batchSpans: Seq[SpanRec], jobs: Seq[JobRec],
      stageJob: Map[Int, Int], tasks: Seq[TaskRec], execs: Seq[ExecRec],
      planMs: Map[Long, Double], progress: Seq[Progress],
      cores: Int): Trace = {
    val execById = execs.map(e => e.id -> e).toMap
    val ids = new AtomicLong(batchSpans.map(_.id).foldLeft(0L)(math.max))
    // one trigger span per streaming batch with input
    val triggers = progress.groupBy(p => (p.runId, p.batchId)).values
      .map(_.maxBy(_.end)).toSeq.sortBy(_.start)
      .map(p => p -> SpanRec(ids.incrementAndGet(), "streaming.trigger",
        p.runId, None, Some(p.runId), p.start, p.end))
    val runIds = triggers.map(_._1.runId).toSet
    def triggerAt(t: Long): Option[SpanRec] =
      triggers.map(_._2).find(s => s.start <= t && t <= s.end)
    // index appends: one append nests several write commands (save,
    // create-as-select, insert); their overlapping windows form one span
    val writes = execs.filter(_.isIndexWrite).sortBy(_.start)
    val appendGroups = writes.foldLeft(List.empty[List[ExecRec]]) {
      case (g :: rest, e) if e.start <= g.map(_.end).max => (e :: g) :: rest
      case (acc, e) => List(e) :: acc
    }.reverse
    val appendOfExec: Map[Long, SpanRec] = appendGroups.flatMap { g =>
      val (start, end) = (g.map(_.start).min, g.map(_.end).max)
      val parent = triggerAt(start)
      val span = SpanRec(ids.incrementAndGet(), "io.index_append",
        s"exec-${g.map(_.id).min}", parent.map(_.id), parent.flatMap(_.runId), start, end)
      g.map(_.id -> span)
    }.toMap
    val appends = appendOfExec.values.toSeq.distinct
    val all = batchSpans ++ triggers.map(_._2) ++ appends
    val byGroup = batchSpans.map(s => s.group -> s).toMap
    def within(s: SpanRec, t: Long) = s.start <= t && t <= s.end
    val jobSpans: Map[Int, Seq[SpanRec]] = jobs.map { j =>
      val group = j.group.orElse(j.execId.flatMap(execById.get).flatMap(_.group))
      val viaAppend = j.execId.flatMap(appendOfExec.get)
      val owners: Seq[SpanRec] = viaAppend match {
        case Some(a) => a +: all.filter(_.id == a.parent.getOrElse(-1L))
        // the stream's own jobs, and pool-thread jobs inside a trigger
        case None if group.exists(runIds) || triggerAt(j.start).isDefined &&
            !group.exists(byGroup.contains) =>
          triggerAt(j.start).toSeq
        case None => group.flatMap(byGroup.get).filter(within(_, j.start)) match {
          case Some(s) => Seq(s)
          case None =>
            val open = batchSpans.filter(within(_, j.start))
            // nested spans: the innermost open span owns the job; two
            // unrelated open spans (concurrent clients) are ambiguous
            val leaves = open.filterNot(o => open.exists(_.parent.contains(o.id)))
            if (leaves.size == 1) Seq(leaves.head) else Nil
        }
      }
      j.id -> owners
    }.toMap
    // a parent span's counters include its children's jobs
    val parentOf = all.map(s => s.id -> s.parent).toMap
    def withAncestors(ss: Seq[SpanRec]): Set[Long] = {
      def up(id: Long): List[Long] = id :: parentOf.getOrElse(id, None).toList.flatMap(up)
      ss.flatMap(s => up(s.id)).toSet
    }
    val spanJobs: Map[Long, Seq[JobRec]] = jobs
      .flatMap(j => withAncestors(jobSpans(j.id)).map(_ -> j))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val tasksByJob = tasks.groupBy(t => stageJob.getOrElse(t.stage, -1))
    val stagesByJob = stageJob.groupBy(_._2).map { case (j, m) => j -> m.keys.toSeq }
    val progressBySpan = triggers.map { case (p, s) => s.id -> p }.toMap
    val spansOut = all.sortBy(s => (s.start, s.id)).map { s =>
      val js = spanJobs.getOrElse(s.id, Nil)
      val ts = js.flatMap(j => tasksByJob.getOrElse(j.id, Nil))
      val wallMs = math.max(0L, s.end - s.start)
      // time inside the span with no attributed job running
      val covered = js.map(j => (math.max(j.start, s.start), math.min(j.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          if (b <= reach) (sum, reach)
          else (sum + b - math.max(a, reach), b)
        }._1
      val cpu = ts.map(_.cpuNs).sum / 1e9
      val skew = js.flatMap(j => stagesByJob.getOrElse(j.id, Nil)).flatMap { st =>
        val ds = ts.filter(_.stage == st).map(t => math.max(1L, t.durationMs).toDouble)
        if (ds.size >= 2) Some(ds.max / Stats.median(ds)) else None
      }
      val execIds = js.flatMap(_.execId).toSet
      val base = ListMap(
        "wall_s" -> wallMs / 1e3,
        "jobs" -> js.size.toDouble,
        "tasks" -> ts.size.toDouble,
        "cpu_s" -> cpu,
        "util" -> (if (wallMs > 0) cpu / (wallMs / 1e3 * cores) else 0.0),
        "gap_s" -> math.max(0L, wallMs - covered) / 1e3,
        "plan_ms" -> execIds.toSeq.flatMap(planMs.get).sum,
        "shuffle_mb" -> ts.map(_.shuffleWrite).sum / 1e6,
        "spill_mb" -> ts.map(_.spill).sum / 1e6,
        "out_mb" -> ts.map(_.output).sum / 1e6,
        "skew" -> (if (skew.isEmpty) 1.0 else skew.max))
      val progressMs = progressBySpan.get(s.id).toSeq.flatMap { p =>
        Seq("add_batch_ms" -> p.addBatchMs.toDouble,
          "query_planning_ms" -> p.planningMs.toDouble,
          "wal_commit_ms" -> p.walMs.toDouble)
      }
      Span(s, base ++ progressMs)
    }
    val unattributed = jobs.count(j => jobSpans(j.id).isEmpty)
    Trace(spansOut, unattributed, jobs.size)
  }
}
