package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** One timed call into the program: a stage call or a gate call.
  *
  * `id` is also the Spark job-group id set around the call, `parent` the
  * pass span that contains it, and `run` the benchmark run id. Times are
  * wall-clock milliseconds since the epoch, the clock Spark stamps its
  * listener events with.
  */
final case class Span(id: String, name: String, layer: String, parent: String,
    run: String, startMs: Long, endMs: Long)

/** Spark counters summed over the jobs attributed to one span. */
final case class Counters(jobs: Int = 0, singleTaskStages: Int = 0,
    tasks: Long = 0, shuffleWrite: Long = 0, input: Long = 0, output: Long = 0,
    spill: Long = 0, cpuNs: Long = 0, gcMs: Long = 0) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs,
    singleTaskStages + o.singleTaskStages, tasks + o.tasks,
    shuffleWrite + o.shuffleWrite, input + o.input, output + o.output,
    spill + o.spill, cpuNs + o.cpuNs, gcMs + o.gcMs)
}

/** Records jobs and completed stages and attributes them to spans.
  *
  * A job belongs to the span whose id is its `spark.jobGroup.id`. A job
  * without a group (a streaming micro-batch, say) belongs to the span whose
  * time window holds its submission time. Listener events arrive on
  * Spark's bus thread, so every read drains the bus first.
  */
final class Tracer extends SparkListener {
  private final case class Job(group: Option[String], submitMs: Long, stages: Seq[Int])
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.Map.empty[Int, Counters]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs += Job(group, e.time, e.stageIds)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val c = Option(info.taskMetrics).map { m =>
      Counters(tasks = info.numTasks, shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        input = m.inputMetrics.bytesRead, output = m.outputMetrics.bytesWritten,
        spill = m.memoryBytesSpilled + m.diskBytesSpilled,
        cpuNs = m.executorCpuTime, gcMs = m.jvmGCTime)
    }.getOrElse(Counters(tasks = info.numTasks))
    stages(info.stageId) = c.copy(singleTaskStages = if (info.numTasks == 1) 1 else 0)
  }

  /** Counters per span id; jobs that fall in no span are dropped. */
  def attribute(spans: Seq[Span]): Map[String, Counters] = synchronized {
    val byId = spans.map(s => s.id -> s).toMap
    val seen = mutable.Set.empty[Int]
    val out = mutable.Map.empty[String, Counters].withDefaultValue(Counters())
    jobs.foreach { j =>
      val owner = j.group.filter(byId.contains).orElse(
        spans.find(s => s.startMs <= j.submitMs && j.submitMs <= s.endMs).map(_.id))
      // a stage shared by two jobs is counted once, for the first
      val c = j.stages.filter(seen.add).flatMap(stages.get)
        .foldLeft(Counters(jobs = 1))(_ + _)
      owner.foreach(id => out(id) += c)
    }
    out.toMap
  }
}
