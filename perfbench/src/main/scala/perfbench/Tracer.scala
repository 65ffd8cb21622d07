package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds at nanoTime resolution, on the same
  * base as the millisecond times in Spark's listener events. */
object Clock {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6
}

/** One call the benchmark makes into a layer of the program while it
  * runs an item, e.g. `queries.build` (inside the query function) or
  * `streaming.feed` (adding a slice and waiting for its batch). */
final case class Call(name: String, startMs: Double, endMs: Double) {
  def layer: String = name.takeWhile(_ != '.')
}

/** A traced interval. Spans of one item execution share `queryId`;
  * `parent` is the id of the span that caused it (0 for the item). */
final case class Span(id: Long, parent: Long, queryId: String, name: String,
                      layer: String, startMs: Double, endMs: Double)

/** The traced run's listeners, registered on Spark's public buses:
  * `SparkListener` (jobs, stages, tasks), `QueryExecutionListener`
  * (planning phases and rule counts of each QueryExecution) and
  * `StreamingQueryListener` (micro-batch progress). Events are buffered
  * in memory; [[attribute]] assigns them to the item executions whose
  * window contains them (the load is a closed loop, one item at a
  * time) and derives each layer's self time from the spans. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val jobStarts = new ConcurrentHashMap[Int, (Double, Seq[Int])]
  private val jobs = new ConcurrentLinkedQueue[JobRec]
  private val stages = new ConcurrentLinkedQueue[Double]
  private val tasks = new ConcurrentLinkedQueue[TaskRec]
  private val qes = new ConcurrentLinkedQueue[QeRec]
  private val progress = new ConcurrentLinkedQueue[ProgressRec]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStarts.put(e.jobId, (e.time.toDouble, e.stageIds))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach { case (start, stageIds) =>
        jobs.add(JobRec(e.jobId, start, e.time.toDouble, stageIds))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      e.stageInfo.completionTime.foreach(t => stages.add(t.toDouble))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime.toDouble,
        e.taskInfo.finishTime.toDouble, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.collect {
        case (k, p) if PlanPhases.contains(k) =>
          k -> (p.startTimeMs.toDouble, p.endTimeMs.toDouble)
      }
      val rules = qe.tracker.rules.collect {
        case (k, r) if GraftRules.contains(k) =>
          GraftRules(k) -> r.numEffectiveInvocations
      }
      qes.add(QeRec(phases, rules))
    }
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = p.stateOperators
      progress.add(ProgressRec(
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap,
        p.numInputRows, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsDroppedByWatermark).sum))
    }
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Waits until every queued event has reached the listeners, then
    * removes them. */
  def unregister(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  private def take[A](q: ConcurrentLinkedQueue[A]): Vector[A] = {
    val b = Vector.newBuilder[A]
    var x = q.poll()
    while (x != null) { b += x; x = q.poll() }
    b.result()
  }

  /** Splits the buffered events among the given item executions and
    * empties the buffers. Returns, per execution, its layer metrics and
    * its spans. An event belongs to the first execution whose window
    * contains its start (Spark stamps events in whole milliseconds, so
    * a window is widened by one millisecond). */
  def attribute(execs: Seq[Exec], nextId: () => Long): Seq[(Map[String, Double], Seq[Span])] = {
    val allJobs = take(jobs); val allStages = take(stages); val allTasks = take(tasks)
    val allQes = take(qes).filter(_.phases.nonEmpty); val allProgress = take(progress)
    def owner(t: Double): Int =
      execs.indexWhere(x => t >= x.startMs - 1 && t <= x.endMs + 1)
    val jobOf = allJobs.flatMap(j => j.stageIds.map(_ -> j.id)).toMap
    def group[A](xs: Seq[A])(t: A => Double): Map[Int, Seq[A]] =
      xs.groupBy(x => owner(t(x))).withDefaultValue(Nil)
    val jobsBy = group(allJobs)(_.startMs)
    val stagesBy = group(allStages)(identity)
    val tasksBy = group(allTasks)(_.launchMs)
    val qesBy = group(allQes)(q => q.phases.values.map(_._1).min)
    val progressBy = group(allProgress)(_.startMs)
    execs.indices.map { i =>
      one(execs(i), jobsBy(i), stagesBy(i).size, tasksBy(i), qesBy(i),
        progressBy(i), jobOf, nextId)
    }
  }

  private def one(x: Exec, js: Seq[JobRec], nStages: Int, ts: Seq[TaskRec],
                  qs: Seq[QeRec], ps: Seq[ProgressRec], jobOf: Map[Int, Int],
                  nextId: () => Long): (Map[String, Double], Seq[Span]) = {
    val qid = s"p${x.pass}/${x.item}"
    val spans = ArrayBuffer.empty[Span]
    def span(parent: Long, name: String, layer: String, s: Double, e: Double): Long = {
      val id = nextId(); spans += Span(id, parent, qid, name, layer, s, e); id
    }
    val root = span(0, x.item, "bench", x.startMs, x.endMs)
    val callIds = x.calls.map(c => c -> span(root, c.name, c.layer, c.startMs, c.endMs))
    def callAt(t: Double): Long =
      callIds.find { case (c, _) => t >= c.startMs - 1 && t <= c.endMs + 1 }
        .map(_._2).getOrElse(root)
    val triggers = ps.map(p => (p.startMs, p.startMs + p.duration("triggerExecution")))
    val triggerIds = triggers.map { case (s, e) => (s, e, span(callAt(s), "streaming.trigger", "streaming", s, e)) }
    qs.foreach(q => q.phases.foreach { case (k, (s, e)) => span(callAt(s), s"plans.$k", "plans", s, e) })
    val jobIds = js.map { j =>
      val parent = triggerIds.find { case (s, e, _) => j.startMs >= s && j.startMs <= e }
        .map(_._3).getOrElse(callAt(j.startMs))
      j.id -> span(parent, s"job ${j.id}", "scheduler", j.startMs, j.endMs)
    }.toMap
    ts.foreach(t => span(jobOf.get(t.stageId).flatMap(jobIds.get).getOrElse(root),
      s"task stage ${t.stageId}", "executor", t.launchMs, t.finishMs))

    // Self time: each instant of the execution's window goes to the
    // innermost layer active then, in the order of `Priority`.
    val intervals = ArrayBuffer.empty[(Double, Double, Int)]
    ts.foreach(t => intervals += ((t.launchMs, t.finishMs, 0)))
    qs.foreach(_.phases.values.foreach { case (s, e) => intervals += ((s, e, 1)) })
    js.foreach(j => intervals += ((j.startMs, j.endMs, 2)))
    triggers.foreach { case (s, e) => intervals += ((s, e, 3)) }
    x.calls.foreach(c => intervals += ((c.startMs, c.endMs, if (c.layer == "queries") 4 else 3)))
    val self = selfTimes(x.startMs, x.endMs, intervals.toSeq)

    def sum[A](xs: Seq[A])(f: A => Double): Double = xs.iterator.map(f).sum
    def calls(n: String) = sum(x.calls.filter(_.name == n))(c => c.endMs - c.startMs) / 1e3
    def phase(k: String) = sum(qs)(q => q.phases.get(k).fold(0.0)(p => p._2 - p._1)) / 1e3
    def dur(k: String) = sum(ps)(_.duration(k))
    val wall = (x.endMs - x.startMs) / 1e3
    val m = Map[String, Double](
      "queries.build_s" -> calls("queries.build"),
      "queries.materialise_s" -> calls("queries.materialise"),
      "plans.analysis_s" -> phase("analysis"),
      "plans.optimization_s" -> phase("optimization"),
      "plans.planning_s" -> phase("planning"),
      "plans.query_executions" -> qs.size.toDouble,
      "scheduler.jobs" -> js.size.toDouble,
      "scheduler.stages" -> nStages.toDouble,
      "scheduler.tasks" -> ts.size.toDouble,
      "scheduler.idle_s" -> (wall - self(0) - self(1)),
      "executor.run_s" -> sum(ts)(_.runMs) / 1e3,
      "executor.cpu_s" -> sum(ts)(_.cpuNs) / 1e9,
      "executor.gc_s" -> sum(ts)(_.gcMs) / 1e3,
      "shuffle.write_mb" -> sum(ts)(_.shuffleWriteBytes) / MB,
      "shuffle.read_mb" -> sum(ts)(_.shuffleReadBytes) / MB,
      "shuffle.fetch_wait_s" -> sum(ts)(_.fetchWaitMs) / 1e3,
      "shuffle.spill_mb" -> sum(ts)(_.spillBytes) / MB,
      "streaming.batches" -> ps.size.toDouble,
      "streaming.empty_batches" -> ps.count(_.inputRows == 0).toDouble,
      "streaming.addBatch_ms" -> dur("addBatch"),
      "streaming.queryPlanning_ms" -> dur("queryPlanning"),
      "streaming.walCommit_ms" -> dur("walCommit"),
      "streaming.commitOffsets_ms" -> dur("commitOffsets"),
      "streaming.source_ms" -> (dur("latestOffset") + dur("getBatch")),
      "streaming.trigger_ms" -> dur("triggerExecution"),
      "streaming.state_rows" -> sum(ps)(_.stateRows.toDouble),
      "streaming.state_mem_mb" -> sum(ps)(_.stateMemBytes / MB),
      "streaming.state_commit_ms" -> sum(ps)(_.stateCommitMs.toDouble),
      "streaming.late_rows_dropped" -> sum(ps)(_.droppedRows.toDouble),
    ) ++ GraftRules.values.map(r =>
      s"plans.rule_effective.$r" -> sum(qs)(_.rules.getOrElse(r, 0L).toDouble)) ++
      Priority.indices.groupBy(Priority).map { case (layer, is) =>
        s"$layer.self_s" -> is.map(self).sum
      }
    (m, spans.toSeq)
  }
}

object Tracer {
  private val MB = 1024.0 * 1024.0

  /** Innermost first: a running task, an open planning phase, an open
    * job, an open micro-batch or streaming call, a call into the query
    * function or result collection, and last the benchmark itself. */
  val Priority: Vector[String] =
    Vector("executor", "plans", "scheduler", "streaming", "queries", "bench")

  private val PlanPhases = Set("analysis", "optimization", "planning")

  /** The rules GraftExtensions injects, by Catalyst rule name. */
  private val GraftRules = Map(
    "graft.plans.GateBroadcastHints" -> "GateBroadcastHints",
    "graft.plans.SplitDistinctAggRule" -> "SplitDistinctAggRule",
    "graft.plans.AsOfJoinRule" -> "AsOfJoinRule")

  final case class JobRec(id: Int, startMs: Double, endMs: Double, stageIds: Seq[Int])
  final case class TaskRec(stageId: Int, launchMs: Double, finishMs: Double,
                           runMs: Long, cpuNs: Long, gcMs: Long,
                           shuffleReadBytes: Long, fetchWaitMs: Long,
                           shuffleWriteBytes: Long, spillBytes: Long)
  final case class QeRec(phases: Map[String, (Double, Double)], rules: Map[String, Long])
  final case class ProgressRec(startMs: Double, durations: Map[String, Double],
                               inputRows: Long, stateRows: Long, stateMemBytes: Long,
                               stateCommitMs: Long, droppedRows: Long) {
    def duration(k: String): Double = durations.getOrElse(k, 0.0)
  }

  /** Seconds of [start, end] during which each priority level is the
    * innermost one open; the last level covers the rest. */
  def selfTimes(start: Double, end: Double, ivs: Seq[(Double, Double, Int)]): Vector[Double] = {
    val last = Priority.size - 1
    val edges = ivs.flatMap { case (s, e, p) =>
      val (a, b) = (s max start, e min end)
      if (b > a) Seq((a, 1, p), (b, -1, p)) else Nil
    }.sortBy(_._1)
    val open = Array.fill(Priority.size)(0)
    val out = Array.fill(Priority.size)(0.0)
    var t = start
    edges.foreach { case (at, d, p) =>
      if (at > t) {
        val inner = open.indexWhere(_ > 0)
        out(if (inner < 0) last else inner) += (at - t) / 1e3
        t = at
      }
      open(p) += d
    }
    if (end > t) out(last) += (end - t) / 1e3
    out.toVector
  }
}
