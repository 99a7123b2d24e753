package mktbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Records Spark's public scheduler events for the catalog's traced run.
  * The benchmark tags each call it makes with two local properties,
  * `mktbench.query` and `mktbench.phase`; jobs, stages and tasks are
  * attributed through them. Nothing is added inside the program. */
object EngineListener {
  final case class Job(id: Int, query: String, phase: String, startMs: Long)
  final case class Stage(id: Int, query: String, phase: String, startMs: Double,
                         endMs: Double, tasks: Int)
  final case class Task(stage: Int, durMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
                        shuffleBytes: Long, spillBytes: Long)
}

final class EngineListener extends SparkListener {
  import EngineListener._

  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  val tasks = new ConcurrentLinkedQueue[Task]()
  private val stageOwner = new java.util.concurrent.ConcurrentHashMap[Int, (String, String)]()
  private val jobsEnded = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val q = p.flatMap(x => Option(x.getProperty("mktbench.query"))).getOrElse("")
    val ph = p.flatMap(x => Option(x.getProperty("mktbench.phase"))).getOrElse("")
    jobs.add(Job(e.jobId, q, ph, e.time))
    e.stageIds.foreach(s => stageOwner.put(s, (q, ph)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.add(e.jobId)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val (q, ph) = Option(stageOwner.get(i.stageId)).getOrElse(("", ""))
    for (s <- i.submissionTime; c <- i.completionTime)
      stages.add(Stage(i.stageId, q, ph, s.toDouble, c.toDouble, i.numTasks))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null)
      tasks.add(Task(e.stageId, e.taskInfo.duration, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.diskBytesSpilled + m.memoryBytesSpilled))
  }

  /** Block until the end event of every recorded job has been
    * delivered, so the task and stage events before it are in. */
  def awaitQuiet(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!jobs.asScala.forall(j => jobsEnded.contains(j.id)) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
  }

  def clear(): Unit = { jobs.clear(); jobsEnded.clear(); stages.clear(); tasks.clear() }
}

/** Per-family roll-up of the engine events for the queries `qs`, each
  * with its execute span `[start, end]` in epoch ms. */
object EngineRollup {
  def apply(l: EngineListener, qs: Map[String, (Double, Double)], cores: Int,
            planMs: Double): Map[String, Double] = {
    val stages = l.stages.asScala.toSeq.filter(s => qs.contains(s.query) && s.phase == "execute")
    val ids = stages.map(_.id).toSet
    val tasks = l.tasks.asScala.toSeq.filter(t => ids(t.stage))
    var busyMs = 0.0
    var outsideMs = 0.0
    qs.foreach { case (q, (lo, hi)) =>
      val u = Stats.unionMs(stages.filter(_.query == q).map(s => (s.startMs, s.endMs)), lo, hi)
      busyMs += u
      outsideMs += (hi - lo) - u
    }
    val runMs = tasks.map(_.runMs).sum.toDouble
    val longest = stages.sortBy(s => s.startMs - s.endMs).headOption
    val skew = longest.map { s =>
      val ds = tasks.filter(_.stage == s.id).map(_.durMs.toDouble)
      val med = Stats.median(ds)
      if (med > 0) ds.max / med else 1.0
    }.getOrElse(0.0)
    Map(
      "plan_s" -> planMs / 1000,
      "stage_busy_s" -> busyMs / 1000,
      "outside_stage_s" -> outsideMs / 1000,
      "stages" -> stages.size.toDouble,
      "tasks_per_stage" -> (if (stages.isEmpty) 0.0 else tasks.size.toDouble / stages.size),
      "core_busy_share" -> (if (busyMs > 0) runMs / (busyMs * cores) else 0.0),
      "cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
      "gc_s" -> tasks.map(_.gcMs).sum / 1e3,
      "shuffle_mb" -> tasks.map(_.shuffleBytes).sum / 1e6,
      "spill_mb" -> tasks.map(_.spillBytes).sum / 1e6,
      "task_skew" -> skew)
  }
}
