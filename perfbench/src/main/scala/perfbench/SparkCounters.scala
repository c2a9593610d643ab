package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's own Spark listeners. They only record events; events
  * are attributed to spans after the session has stopped (which drains the
  * listener bus), by time for jobs and queries and through the job's stage
  * ids for stages and tasks. Calls run one at a time, so the span open when
  * a job was submitted is the span that caused it.
  */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  private final case class Job(id: Int, startMs: Long, stages: Seq[Int])
  private final case class Task(stage: Int, runMs: Long, gcMs: Long,
                                shuffleBytes: Long, spillBytes: Long)
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stagesDone = new ConcurrentLinkedQueue[Int]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val plans = new ConcurrentLinkedQueue[(Long, Long)]() // (startMs, planMs)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.add(Job(e.jobId, e.time, e.stageIds))
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.put(e.jobId, e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stagesDone.add(e.stageInfo.stageId)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(e.taskMetrics).foreach { m =>
      tasks.add(Task(e.stageId, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled))
    }

  /** Catalyst time of each executed query: parsing, analysis, optimisation
    * and physical planning, from the query's own planning tracker.
    */
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      plans.add((phases.map(_.startTimeMs).min, phases.map(_.durationMs).sum))
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Counters per span id (inclusive of children): jobs, stages, tasks,
    * task_ms, gc_ms, shuffle_bytes, spill_bytes, plan_ms, job_ms (the part
    * of the span's interval covered by Spark jobs).
    */
  def attribute(spans: Seq[Span]): Map[Int, Map[String, Double]] = {
    val top = spans.filter(_.parent < 0).sortBy(_.startMs).toIndexedSeq
    val starts = top.map(_.startMs).toArray
    def innermost(t: Long): Option[Span] = {
      var (lo, hi, i) = (0, starts.length - 1, -1) // last span starting at or before t
      while (lo <= hi) {
        val m = (lo + hi) >>> 1
        if (starts(m) <= t) { i = m; lo = m + 1 } else hi = m - 1
      }
      if (i < 0 || t > top(i).endMs) None
      else {
        var s = top(i)
        var deeper = true
        while (deeper) s.children.find(c => c.startMs <= t && t <= c.endMs) match {
          case Some(c) => s = c
          case None => deeper = false
        }
        Some(s)
      }
    }
    val byId = spans.map(s => s.id -> s).toMap
    val acc = mutable.Map[Int, mutable.Map[String, Double]]()
    def add(s: Span, k: String, v: Double): Unit = {
      var cur: Option[Span] = Some(s)
      while (cur.isDefined) {
        val m = acc.getOrElseUpdate(cur.get.id, mutable.Map())
        m(k) = m.getOrElse(k, 0.0) + v
        cur = byId.get(cur.get.parent)
      }
    }
    val stageSpan = mutable.Map[Int, Span]()
    val jobIntervals = mutable.Map[Int, mutable.Buffer[(Long, Long)]]()
    jobs.asScala.toSeq.sortBy(_.id).foreach { j =>
      innermost(j.startMs).foreach { s =>
        add(s, "jobs", 1)
        j.stages.foreach(st => stageSpan.getOrElseUpdate(st, s))
        val end = Option(jobEnds.get(j.id)).getOrElse(j.startMs)
        var cur: Option[Span] = Some(s)
        while (cur.isDefined) {
          jobIntervals.getOrElseUpdate(cur.get.id, mutable.Buffer()) += ((j.startMs, end))
          cur = byId.get(cur.get.parent)
        }
      }
    }
    stagesDone.asScala.foreach(st => stageSpan.get(st).foreach(add(_, "stages", 1)))
    tasks.asScala.foreach { t =>
      stageSpan.get(t.stage).foreach { s =>
        add(s, "tasks", 1); add(s, "task_ms", t.runMs); add(s, "gc_ms", t.gcMs)
        add(s, "shuffle_bytes", t.shuffleBytes); add(s, "spill_bytes", t.spillBytes)
      }
    }
    plans.asScala.foreach { case (t, ms) => innermost(t).foreach(add(_, "plan_ms", ms)) }
    jobIntervals.foreach { case (id, ivs) =>
      val s = byId(id)
      val clipped = ivs.map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var reach = Long.MinValue
      clipped.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) covered += b - from
        reach = math.max(reach, b)
      }
      acc.getOrElseUpdate(id, mutable.Map())("job_ms") = covered.toDouble
    }
    acc.map { case (k, v) => k -> v.toMap }.toMap
  }
}
