package graft.enginebench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Bench-side Spark listener for the traced run. It keeps the raw job,
  * stage and task records in memory; [[LayerListener#summary]] rolls them up
  * per layer for a time window once the listener bus has drained.
  *
  * A stage belongs to the layer of the source file that triggered it
  * (`LakeTable.scala` → lake, `ChangeJournal.scala` or `Chunker.scala` →
  * journal, `GzArchive.scala` → archive): the first engine frame of the
  * stage's own call site, or else of the call site of the SQL execution its
  * job belongs to (adaptive execution submits most stages from a pool
  * thread, whose own stack names no caller). Stages whose action the
  * benchmark itself triggers (the scan of `lake.read()`, the decode of
  * `GzArchive.readFrom`) fall back to the layer of the innermost benchmark
  * span open at their submission time.
  */
final class LayerListener extends SparkListener {
  final case class StageRec(id: Int, name: String, site: String, submitMs: Long, var endMs: Long)
  final case class TaskRec(stage: Int, durationMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long)

  private val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val jobs = mutable.ArrayBuffer.empty[(Long, Seq[Int])] // (start ms, stage ids)
  private val executionSite = mutable.Map.empty[Long, String] // SQL execution id -> call site
  private val stageExecution = mutable.Map.empty[Int, Long]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized { executionSite(x.executionId) = x.details }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += ((e.time, e.stageIds))
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => e.stageIds.foreach(stageExecution(_) = id.toLong))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = e.stageInfo
    stages(s.stageId) = StageRec(s.stageId, s.name, s.details,
      s.submissionTime.getOrElse(System.currentTimeMillis()), 0L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach(_.endMs =
      e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.duration, m.executorRunTime,
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.totalBytesRead, m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  final class LayerTotals {
    var jobs, stages, tasks, shuffleWrite, shuffleRead, spill, cpuNs, runMs, gcMs = 0L
    /** Union of the layer's stage intervals, in seconds: the time some
      * stage of this layer was running.
      */
    var busyS = 0.0
  }

  final case class Summary(layers: Map[String, LayerTotals], executorRunS: Double, taskSkew: Double)

  /** Roll up every job and stage submitted inside `[fromMs, toMs]`.
    * `spanAt(ms)` names the innermost benchmark span open at that instant.
    */
  def summary(fromMs: Long, toMs: Long, spanAt: Long => String): Summary = synchronized {
    val inWindow = stages.values.filter(s => s.submitMs >= fromMs && s.submitMs <= toMs).toSeq
    val layerOf = inWindow.map { s =>
      val site = LayerListener.engineLayer(s.name + "\n" + s.site)
        .orElse(stageExecution.get(s.id).flatMap(executionSite.get).flatMap(LayerListener.engineLayer))
      s.id -> site.getOrElse(LayerListener.spanLayer(spanAt(s.submitMs)))
    }.toMap
    val totals = mutable.Map.empty[String, LayerTotals]
    def t(layer: String) = totals.getOrElseUpdate(layer, new LayerTotals)
    jobs.filter(j => j._1 >= fromMs && j._1 <= toMs).foreach { case (_, ids) =>
      ids.flatMap(layerOf.get).headOption.foreach(l => t(l).jobs += 1)
    }
    inWindow.groupBy(s => layerOf(s.id)).foreach { case (l, ss) =>
      t(l).stages += ss.size
      t(l).busyS = LayerListener.unionSeconds(ss.map(s => (s.submitMs, math.max(s.endMs, s.submitMs))))
    }
    val byStage = tasks.filter(x => layerOf.contains(x.stage)).groupBy(_.stage)
    byStage.foreach { case (sid, ts) =>
      val a = t(layerOf(sid))
      a.tasks += ts.size
      ts.foreach { x =>
        a.shuffleWrite += x.shuffleWrite; a.shuffleRead += x.shuffleRead; a.spill += x.spill
        a.cpuNs += x.cpuNs; a.runMs += x.runMs; a.gcMs += x.gcMs
      }
    }
    // skew of the widest stage: its slowest task over its median task
    val skew = if (byStage.isEmpty) 1.0 else {
      val (_, ts) = byStage.toSeq.maxBy { case (sid, ts) => (ts.size, -sid) }
      val d = ts.map(_.durationMs.toDouble).sorted
      val med = d(d.size / 2)
      if (med <= 0) 1.0 else d.last / med
    }
    Summary(totals.toMap, totals.values.map(_.runMs).sum / 1e3, skew)
  }
}

object LayerListener {
  val layers: Seq[String] = Seq("lake", "journal", "archive")

  private val engineFrame = """graft\.[\w.$]+\((\w+)\.scala:""".r

  /** Layer of the first engine frame in a call site; None when that frame
    * is the benchmark's own (or there is none).
    */
  def engineLayer(callSite: String): Option[String] =
    engineFrame.findFirstMatchIn(callSite).map(_.group(1)).collect {
      case "LakeTable" => "lake"
      case "ChangeJournal" | "Chunker" => "journal"
      case "GzArchive" => "archive"
    }

  def spanLayer(span: String): String = span.takeWhile(_ != '.') match {
    case l @ ("lake" | "journal" | "archive") => l
    case _ => "other"
  }

  def unionSeconds(intervals: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }
}
