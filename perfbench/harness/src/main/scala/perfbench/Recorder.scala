package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed op, a step inside it (a CLI call or a query), or a
  * Spark job. Times are epoch milliseconds. `parent` is the id of the span
  * that caused this one (-1 for ops).
  */
final case class Span(id: Int, kind: String, name: String, startMs: Long,
    endMs: Long, parent: Int, workload: String)

final case class JobRec(id: Int, startMs: Long, var endMs: Long,
    stageIds: Seq[Int], module: String, cut: Boolean)

/** Per-stage totals from the stage's aggregated task metrics. */
final case class StageRec(stageId: Int, tasks: Int, cpuNs: Long, runMs: Long,
    gcMs: Long, shuffleReadB: Long, shuffleWriteB: Long, fetchWaitMs: Long,
    spillB: Long, inputB: Long, inputRecs: Long, outputB: Long,
    outputRecs: Long)

final case class QeRec(startMs: Long, analysisMs: Long, optimizationMs: Long,
    planningMs: Long)

/** Listener pair the benchmark attaches from its own files.
  *
  * Untraced runs only keep job start times (the per-rep job counts) and
  * RDD block sizes (the storage peak). Traced runs also keep stages, task
  * scheduler delay and Catalyst phase times. Everything is attributed to ops
  * afterwards by timestamp, so nothing here needs to know which op is
  * running; read the buffers only after the SparkContext has stopped,
  * which drains the listener bus.
  */
final class Recorder(traced: Boolean) extends SparkListener
    with QueryExecutionListener {
  val jobs = mutable.ArrayBuffer[JobRec]()
  private val jobById = mutable.Map[Int, JobRec]()
  val stages = mutable.ArrayBuffer[StageRec]()
  val taskDelay = mutable.Map[Int, Long]() // stageId → summed delay ms
  val qes = mutable.ArrayBuffer[QeRec]()
  // (time, RDD block bytes in memory) after each block update.
  val storage = mutable.ArrayBuffer[(Long, Long)]()
  private val blockMem = mutable.Map[String, Long]()
  private var storageNow = 0L

  // SQL execution id → call site of the thread that started it. Jobs that
  // AQE or a broadcast submits from a pool thread carry no graft frame of
  // their own; they take their execution's.
  private val execSite = mutable.Map[String, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart if traced => synchronized {
      execSite(s.executionId.toString) = s.details
    }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val (module, cut) = if (!traced) ("", false) else {
      val own = e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).getOrElse("")
      val exec = Option(e.properties).toSeq
        .flatMap(p => Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
          .flatMap(k => Option(p.getProperty(k))))
        .flatMap(execSite.get)
      Recorder.attribute((own +: exec).mkString("\n"))
    }
    val j = JobRec(e.jobId, e.time, -1L, e.stageIds, module, cut)
    jobs += j
    jobById(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (traced) synchronized {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) {
        val sr = m.shuffleReadMetrics
        stages += StageRec(i.stageId, i.numTasks, m.executorCpuTime,
          m.executorRunTime, m.jvmGCTime,
          sr.remoteBytesRead + sr.localBytesRead,
          m.shuffleWriteMetrics.bytesWritten, sr.fetchWaitTime,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten)
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (traced && e.taskMetrics != null) synchronized {
      val m = e.taskMetrics
      // Spark UI's scheduler delay: task wall time not spent deserializing,
      // running or serializing the result.
      val d = e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime
      taskDelay(e.stageId) = taskDelay.getOrElse(e.stageId, 0L) + math.max(0L, d)
    }

  // Memory held by cached and cut RDD blocks; broadcast blocks are left
  // out, their lifetime follows driver GC rather than the op.
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    if (e.blockUpdatedInfo.blockId.isRDD) synchronized {
      val b = e.blockUpdatedInfo
      val key = b.blockId.name
      val mem = if (b.storageLevel.isValid) b.memSize else 0L
      storageNow += mem - blockMem.getOrElse(key, 0L)
      if (mem > 0) blockMem(key) = mem else blockMem.remove(key)
      storage += ((System.currentTimeMillis(), storageNow))
    }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = if (traced) synchronized {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
    val start = if (p.isEmpty) System.currentTimeMillis()
      else p.values.map(_.startTimeMs).min
    qes += QeRec(start, ms("analysis"), ms("optimization"), ms("planning"))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = onSuccess(funcName, qe, 0L)
}

object Recorder {
  // graft modules that never own a job: shared primitives and code that
  // runs inside executors. The job belongs to the graft frame that called
  // into them.
  private val passThrough = Seq("graft.core.", "graft.functions.",
    "graft.plans.", "graft.operators.BloomPrune", "graft.operators.Skew",
    "graft.operators.model")

  /** Layer of a job from its call-site stack (`StageInfo.details`): the
    * first `graft.*` frame outside the pass-through modules, mapped to a
    * layer name, else "other". The flag is set when the stack passes
    * through `graft.core.Lineage`, i.e. the job materializes a cut.
    */
  def attribute(details: String): (String, Boolean) = {
    val frames = details.split('\n').map(_.trim).filter(_.startsWith("graft."))
    val cut = frames.exists(_.startsWith("graft.core.Lineage"))
    val owner = frames.find(f => !passThrough.exists(f.startsWith))
    // A query's frame is lazy; the harness's collect is what runs it.
    val layer = owner.map(layerOf).getOrElse(
      if (details.contains("perfbench.QueryMix")) "queries" else "other")
    (layer, cut)
  }

  private def layerOf(frame: String): String = {
    val file = frame.substring(frame.lastIndexOf('(') + 1).takeWhile(_ != ':')
    if (frame.startsWith("graft.cli.")) "cli"
    else if (frame.startsWith("graft.config.")) "config"
    else if (file == "ExtractEngine.scala") "operators.extract"
    else if (file == "LoadEngine.scala") "operators.load"
    else if (frame.startsWith("graft.sources.")) "sources"
    else if (frame.startsWith("graft.queries.") ||
      frame.startsWith("graft.Tables") || frame.startsWith("graft.SparkEntry"))
      "queries"
    else "other"
  }

  val layers: Seq[String] = Seq("cli", "config", "operators.extract",
    "operators.load", "sources", "queries", "other")
}
