package perfbench

import org.apache.spark.{ListenerDrain, SparkContext}
import org.apache.spark.scheduler._
import scala.collection.mutable

/** What one task cost, as the task-end event reports it. */
final case class TaskRec(stageId: Int, durationMs: Long, cpuNs: Long,
    gcMs: Long, bytesRead: Long, recordsRead: Long, shuffleWriteBytes: Long,
    shuffleWriteRecords: Long, spillBytes: Long, peakExecMem: Long,
    outputBytes: Long)

/** One completed stage: its task count and wall interval (epoch ms). */
final case class StageRec(stageId: Int, numTasks: Int, submitMs: Long,
    doneMs: Long)

/** Listener owned by the benchmark. It files every job, stage and task
  * under the job group that was active when the job started, so one
  * job group per span gives that span's Spark-side accounting.
  */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val jobs = mutable.Map.empty[String, Int]
  private val tasks = mutable.Map.empty[String, mutable.ArrayBuffer[TaskRec]]
  private val stages = mutable.Map.empty[String, mutable.ArrayBuffer[StageRec]]

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      jobs(g) = jobs.getOrElse(g, 0) + 1
      e.stageInfos.foreach(s => stageGroup(s.stageId) = g)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      groupOf(e.properties).foreach(g => stageGroup(e.stageInfo.stageId) = g)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageGroup.get(e.stageId).foreach { g =>
      tasks.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += TaskRec(
        e.stageId, e.taskInfo.duration, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleWriteMetrics.recordsWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.peakExecutionMemory,
        m.outputMetrics.bytesWritten)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val s = e.stageInfo
      stageGroup.get(s.stageId).foreach { g =>
        stages.getOrElseUpdate(g, mutable.ArrayBuffer.empty) += StageRec(
          s.stageId, s.numTasks, s.submissionTime.getOrElse(0L),
          s.completionTime.getOrElse(0L))
      }
    }

  def usage(group: String): Usage = synchronized {
    Usage(jobs.getOrElse(group, 0),
      stages.get(group).map(_.toVector).getOrElse(Vector.empty),
      tasks.get(group).map(_.toVector).getOrElse(Vector.empty))
  }
}

/** Spark-side accounting of one span. */
final case class Usage(jobs: Int, stages: Vector[StageRec],
    tasks: Vector[TaskRec]) {
  def cpuS: Double = tasks.map(_.cpuNs).sum / 1e9
  def gcS: Double = tasks.map(_.gcMs).sum / 1e3
  def bytesRead: Long = tasks.map(_.bytesRead).sum
  def recordsRead: Long = tasks.map(_.recordsRead).sum
  def shuffleWriteBytes: Long = tasks.map(_.shuffleWriteBytes).sum
  def shuffleWriteRecords: Long = tasks.map(_.shuffleWriteRecords).sum
  def spillBytes: Long = tasks.map(_.spillBytes).sum
  def peakExecMemMb: Double =
    tasks.map(_.peakExecMem).maxOption.getOrElse(0L) / (1024.0 * 1024.0)
  def outputBytes: Long = tasks.map(_.outputBytes).sum

  /** Tasks of the stage that used the most task time. */
  def heaviestStage: Vector[TaskRec] =
    if (tasks.isEmpty) Vector.empty
    else tasks.groupBy(_.stageId).values.maxBy(_.map(_.durationMs).sum)

  /** Tasks of the span's last stage, where a plan's final operator runs. */
  def lastStage: Vector[TaskRec] =
    if (tasks.isEmpty) Vector.empty
    else tasks.filter(_.stageId == tasks.map(_.stageId).max)

  /** Wall time in [startMs, endMs] that no stage of the span covers:
    * planning, driver-side collects and scheduling gaps.
    */
  def driverGapS(startMs: Long, endMs: Long): Double = {
    val iv = stages.map(s => (math.max(s.submitMs, startMs),
      math.min(s.doneMs, endMs))).filter { case (a, b) => b > a }
      .sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0L, endMs - startMs - covered) / 1e3
  }
}

object Usage {

  /** Max over median task time of one stage's tasks: its straggler
    * ratio.
    */
  def skew(stage: Vector[TaskRec]): Double = {
    val med = Stats.median(stage.map(_.durationMs.toDouble))
    if (stage.isEmpty) 0.0 else if (med <= 0) 1.0 else stage.map(_.durationMs).max / med
  }
}

/** One timed span: a layer boundary crossed from the benchmark. */
final case class Span(name: String, parent: String, startMs: Long,
    endMs: Long, wallS: Double, usage: Usage)

/** Runs spans under their own job groups and keeps them in memory
  * until [[write]].
  */
final class Tracer(sc: SparkContext) {
  val listener = new GroupListener
  sc.addSparkListener(listener)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var next = 0

  def span[A](name: String, parent: String = "")(body: => A): (A, Span) = {
    next += 1
    val group = f"span-$next%04d-$name"
    sc.setJobGroup(group, name)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out =
      try body
      finally sc.clearJobGroup()
    val wall = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    ListenerDrain(sc)
    val s = Span(name, parent, startMs, endMs, wall, listener.usage(group))
    spans += s
    (out, s)
  }

  /** Detaches the listener, for untraced work between spans. */
  def pause(): Unit = sc.removeSparkListener(listener)

  def resume(): Unit = sc.addSparkListener(listener)

  /** Writes every span, with its accounting, as one JSON document. */
  def write(file: java.io.File): Unit = {
    val rows = spans.map { s =>
      val u = s.usage
      Json.obj(Seq(
        "name" -> Json.str(s.name), "parent" -> Json.str(s.parent),
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "wall_s" -> Json.num(s.wallS), "jobs" -> u.jobs.toString,
        "stages" -> u.stages.size.toString, "tasks" -> u.tasks.size.toString,
        "executor_cpu_s" -> Json.num(u.cpuS), "gc_s" -> Json.num(u.gcS),
        "bytes_read" -> u.bytesRead.toString,
        "records_read" -> u.recordsRead.toString,
        "shuffle_write_bytes" -> u.shuffleWriteBytes.toString,
        "spill_bytes" -> u.spillBytes.toString,
        "peak_exec_mem_mb" -> Json.num(u.peakExecMemMb),
        "task_skew" -> Json.num(Usage.skew(u.heaviestStage)),
        "driver_gap_s" -> Json.num(u.driverGapS(s.startMs, s.endMs))))
    }
    file.getParentFile.mkdirs()
    java.nio.file.Files.writeString(file.toPath,
      rows.mkString("[\n", ",\n", "\n]\n"))
  }
}
