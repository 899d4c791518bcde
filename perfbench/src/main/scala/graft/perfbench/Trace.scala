package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-side counters for the traced run, gathered from outside the
  * program by a listener: jobs, stages, tasks, the wall time during
  * which at least one job was active, executor run time, the time
  * tasks waited for an executor slot, and bytes read, shuffled and
  * written. Each job is also attributed to the program module whose
  * code launched it (the first `graft.<module>` frame of the job's
  * call site). */
final class Trace extends SparkListener {

  private var jobs, stages, tasks = 0L
  private var jobWallMs, taskMs, taskWaitMs = 0L
  private var inputBytes, shuffleBytes, outputBytes = 0L
  private var active = 0
  private var activeSince = 0L
  private val jobOf = mutable.Map.empty[Int, (String, Long)]
  private val executionModule = mutable.Map.empty[Long, String]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val moduleJobs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val moduleMs = mutable.Map.empty[String, Long].withDefaultValue(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    if (active == 0) activeSince = e.time
    active += 1
    // a SQL execution's jobs may be launched from Spark's own threads
    // (adaptive query stages); its call site was captured where the
    // program started the execution
    val fromExecution = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(id => executionModule.get(id.toLong))
    val fromStage = Trace.moduleOf(e.stageInfos.headOption.map(_.details).getOrElse(""))
    jobOf(e.jobId) = (fromExecution.filter(_ != "other").getOrElse(fromStage), e.time)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => synchronized {
      executionModule(x.executionId) = Trace.moduleOf(x.details)
    }
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd => synchronized {
      executionModule.remove(x.executionId)
    }
    case _ => ()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    active -= 1
    if (active == 0) jobWallMs += e.time - activeSince
    jobOf.remove(e.jobId).foreach { case (m, t0) =>
      moduleJobs(m) += 1
      moduleMs(m) += e.time - t0
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmitted(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
    stageSubmitted.remove(e.stageInfo.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    stageSubmitted.get(e.stageId).foreach { t =>
      taskWaitMs += math.max(0L, e.taskInfo.launchTime - t)
    }
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      inputBytes += m.inputMetrics.bytesRead
      shuffleBytes += m.shuffleReadMetrics.totalBytesRead
      outputBytes += m.outputMetrics.bytesWritten
    }
  }

  def snapshot(): Trace.Snap = synchronized {
    Trace.Snap(jobs, stages, tasks, jobWallMs, taskMs, taskWaitMs,
      inputBytes, shuffleBytes, outputBytes, moduleJobs.toMap, moduleMs.toMap)
  }
}

object Trace {

  /** The program modules jobs are attributed to. */
  val Modules: Seq[String] = Seq("server", "parser", "streaming", "meta", "engine")

  private val Frame = """graft\.([a-z]+)\.""".r

  /** Module of the first program frame in a call site's stack; frames
    * of the benchmark itself are skipped. */
  def moduleOf(callSite: String): String =
    callSite.linesIterator.map(_.trim).flatMap { l =>
      Frame.findPrefixMatchOf(l).map(_.group(1))
    }.find(_ != "perfbench").getOrElse("other")

  final case class Snap(jobs: Long, stages: Long, tasks: Long, jobWallMs: Long,
      taskMs: Long, taskWaitMs: Long, inputBytes: Long, shuffleBytes: Long,
      outputBytes: Long, moduleJobs: Map[String, Long], moduleMs: Map[String, Long]) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
      jobWallMs - o.jobWallMs, taskMs - o.taskMs, taskWaitMs - o.taskWaitMs,
      inputBytes - o.inputBytes, shuffleBytes - o.shuffleBytes, outputBytes - o.outputBytes,
      moduleJobs.map { case (k, v) => k -> (v - o.moduleJobs.getOrElse(k, 0L)) },
      moduleMs.map { case (k, v) => k -> (v - o.moduleMs.getOrElse(k, 0L)) })
  }

  /** Contexts the listener is attached to. Attaching is idempotent:
    * a context that already carries it is left alone. */
  private val attached = mutable.Map.empty[SparkContext, Trace]

  def setup(sc: SparkContext): Trace = synchronized {
    if (!attached.contains(sc)) {
      val t = new Trace
      sc.addSparkListener(t)
      attached(sc) = t
    }
    attached(sc)
  }

  /** Remove the listener from `sc` (after delivering pending events),
    * so the next requests run untraced. */
  def detach(sc: SparkContext): Unit = synchronized {
    attached.remove(sc).foreach { t =>
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.removeSparkListener(t)
    }
  }

  /** Current counters, after every event posted so far has been
    * delivered. */
  def read(sc: SparkContext): Snap = {
    org.apache.spark.PerfbenchBus.drain(sc)
    setup(sc).snapshot()
  }
}
