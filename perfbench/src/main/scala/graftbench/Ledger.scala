package graftbench

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's Spark ledger: per span, the Spark work the span caused.
  *
  * Work is first booked per job; [[report]] then gives each job to a span,
  * first rule that applies:
  *  1. the `graftbench.span` local property, set on the benchmark's own
  *     thread around each call it makes into the program;
  *  2. the time window of a span the benchmark opened around work that
  *     runs on other threads (served requests: the facade runs them on
  *     its server threads, under its `graft.serve/<id>` job group or none,
  *     and dispatch is serial, so a request's window holds only its jobs).
  *     Windows are known only once a request returns, which is why jobs
  *     are resolved at report time;
  *  3. otherwise the job counts as `other`.
  * Tasks and stages follow their job. Planning time comes from the
  * `QueryExecution.tracker` phases of each successful query, booked by
  * the window its planning started in.
  *
  * Everything stays in memory until [[report]], which drains the listener
  * bus first. While `enabled` is false every event is ignored, which is how
  * the traced run measures its own overhead. */
final class Ledger extends SparkListener with QueryExecutionListener {

  @volatile var enabled = true

  private final class Acc {
    var jobs = 0L; var tasks = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleBytes = 0L; var criticalMs = 0L; var planningMs = 0L
    var wallNs = 0L; var calls = 0L
    def add(o: Acc): Unit = {
      jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
      shuffleBytes += o.shuffleBytes; criticalMs += o.criticalMs; planningMs += o.planningMs
    }
  }

  private final case class Job(span: Option[String], atMs: Long, acc: Acc = new Acc)
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageMaxTaskMs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val plans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private final case class Window(startMs: Long, endMs: Long, span: String)
  private val windows = new java.util.concurrent.CopyOnWriteArrayList[Window]()
  private val walls = new ConcurrentHashMap[String, Acc]()

  private def byWindow(atMs: Long): Option[String] =
    windows.asScala.filter(w => w.startMs <= atMs && atMs <= w.endMs)
      .sortBy(-_.startMs).headOption.map(_.span)

  /** Book work between `startMs` and `endMs` to `span`, adding its wall
    * time and one call. Jobs without the span property (served requests
    * run on the servers' threads) and planned queries are attributed by
    * these windows. */
  def window(span: String, startMs: Long, endMs: Long, wallNs: Long): Unit =
    if (enabled) {
      windows.add(Window(startMs, endMs, span))
      addWall(span, wallNs, 1)
    }

  def addWall(span: String, wallNs: Long, calls: Long): Unit =
    if (enabled) {
      val a = walls.computeIfAbsent(span, _ => new Acc)
      a.synchronized { a.wallNs += wallNs; a.calls += calls }
    }

  private def prop(p: Properties, key: String): Option[String] =
    Option(p).flatMap(p => Option(p.getProperty(key)))

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val job = Job(prop(e.properties, Ledger.SpanKey), e.time)
    job.acc.jobs = 1
    jobs.put(e.jobId, job)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  private def accOfStage(stageId: Int): Option[Acc] =
    Option(stageJob.get(stageId)).flatMap(j => Option(jobs.get(j))).map(_.acc)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    accOfStage(e.stageId).foreach { a =>
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        if (m != null) {
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
      stageMaxTaskMs.merge(e.stageId, e.taskInfo.duration, (x, y) => math.max(x, y))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
    val id = e.stageInfo.stageId
    val ms = Option(stageMaxTaskMs.remove(id)).map(_.longValue).getOrElse(0L)
    accOfStage(id).foreach(a => a.synchronized { a.criticalMs += ms })
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (enabled) {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        plans.add((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Per-call figures for every span in `spans` (zero for a span that did
    * no work in this run). Drains the listener bus before reading. */
  def report(sc: SparkContext, spans: Seq[String]): Seq[(String, Double, String)] = {
    org.apache.spark.GraftbenchBridge.drainListenerBus(sc)
    System.err.println(s"[graftbench] ledger: ${jobs.size} jobs, ${plans.size} planned queries, ${windows.size} windows")
    val bySpan = scala.collection.mutable.Map.empty[String, Acc]
    def book(span: String, a: Acc): Unit = bySpan.getOrElseUpdate(span, new Acc).add(a)
    jobs.values.asScala.foreach(j => book(j.span.orElse(byWindow(j.atMs)).getOrElse("other"), j.acc))
    plans.asScala.foreach { case (startMs, ms) =>
      val span = byWindow(startMs).getOrElse("other")
      val a = new Acc
      a.planningMs = ms
      book(span, a)
    }
    spans.flatMap { s =>
      val a = bySpan.getOrElse(s, new Acc)
      val w = Option(walls.get(s)).getOrElse(new Acc)
      val n = math.max(1L, w.calls).toDouble
      val delayS = math.max(0.0, w.wallNs / 1e9 - a.criticalMs / 1e3)
      Seq(
        (s"spark.$s.jobs", a.jobs / n, "count"),
        (s"spark.$s.tasks", a.tasks / n, "count"),
        (s"spark.$s.executor_cpu_s", a.cpuNs / 1e9 / n, "s"),
        (s"spark.$s.scheduler_delay_s", delayS / n, "s"),
        (s"spark.$s.shuffle_bytes", a.shuffleBytes / n, "bytes"),
        (s"spark.$s.gc_s", a.gcMs / 1e3 / n, "s"),
        (s"spark.$s.planning_s", a.planningMs / 1e3 / n, "s"))
    }
  }
}

object Ledger {
  val SpanKey = "graftbench.span"

  /** The twelve spans, in the order the per-layer metrics list them. */
  val Spans: Seq[String] = Seq("ann_build", "knn_batch", "ivfpq_search", "lsh_search",
    "serve_build", "warm_search", "cold_search", "write",
    "profile", "exact_dedup", "minhash_pairs", "components")
}
