package graft.bench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The traced run's Spark listener: folds every completed stage's task
  * metrics into totals, and charges each job and its stages to the layer
  * whose code started it.
  *
  * The layer is the first `graft.*` frame of the call site that started
  * the work, innermost first: `graft.SparkEntry`, `graft.operators`,
  * `graft.pipeline`, `graft.streaming`, or `graft.bench` for jobs this
  * benchmark starts itself (the noop materialization and the mart
  * writes). A job of a SQL execution takes the call site recorded when
  * the execution started: adaptive execution submits its stages from a
  * pool thread whose own stack holds no user frame. Work with no `graft`
  * frame goes to `streaming` inside a streaming query, else to `other`.
  * Jobs also carry the benchmark's `bench.phase` local property, so jobs
  * started while an entry builds its DataFrame are counted apart.
  */
final class StageLedger extends SparkListener {
  private val frame = """graft\.(SparkEntry|operators|pipeline|streaming|bench)\b""".r
  private val sums = scala.collection.mutable.Map.empty[String, Double]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val execLayer = scala.collection.mutable.Map.empty[Long, String]
  private val stageLayer = scala.collection.mutable.Map.empty[Int, String]

  private def add(key: String, v: Double): Unit = sums(key) = sums.getOrElse(key, 0.0) + v

  private def layerOf(details: String): Option[String] =
    frame.findFirstMatchIn(details).map(_.group(1))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      // a nested execution inherits its root's layer when its own
      // call site shows no graft frame
      val root = s.rootExecutionId.flatMap(r => execLayer.get(r.asInstanceOf[Long]))
      layerOf(s.details).orElse(root).foreach(execLayer(s.executionId) = _)
    }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val layer = prop("spark.sql.execution.id").flatMap(id => execLayer.get(id.toLong))
      .orElse(layerOf(e.stageInfos.sortBy(_.stageId).headOption.map(_.details).getOrElse("")))
      .getOrElse(if (prop("sql.streaming.queryId").isDefined) "streaming" else "other")
    e.stageIds.foreach(id => if (!stageLayer.contains(id)) stageLayer(id) = layer)
    jobStart(e.jobId) = e.time
    add("spark.jobs", 1)
    add(s"$layer.jobs", 1)
    prop("bench.phase").foreach(p => add(s"phase.$p.jobs", 1))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => add("spark.job_s", (e.time - t0) / 1e3))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val secs = (for (a <- info.submissionTime; b <- info.completionTime)
      yield (b - a) / 1e3).getOrElse(0.0)
    val layer = stageLayer.getOrElse(info.stageId, "other")
    add("spark.stages", 1)
    add("spark.tasks", info.numTasks)
    if (info.numTasks == 1) add("spark.single_task_stage_s", secs)
    add(s"$layer.stage_s", secs)
    Option(info.taskMetrics).foreach { m =>
      add("spark.executor_run_s", m.executorRunTime / 1e3)
      add("spark.executor_cpu_s", m.executorCpuTime / 1e9)
      add(s"$layer.cpu_s", m.executorCpuTime / 1e9)
      add("spark.gc_s", m.jvmGCTime / 1e3)
      add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("spark.input_bytes", m.inputMetrics.bytesRead)
      add("spark.output_bytes", m.outputMetrics.bytesWritten)
    }
  }

  /** Totals so far; keys never seen read as 0. */
  def snapshot(): Map[String, Double] = synchronized { sums.toMap }
}
