package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}
import org.apache.spark.scheduler._

/** One traced call into a layer. Counters are the span's own deltas plus
  * everything its children did (jobs attach to the innermost open span).
  */
final class Span(val id: Long, val name: String, val parent: Long, val req: Long,
                 val startNs: Long) {
  var endNs = 0L
  var jobs, stages, tasks, taskMs, inputBytes, recordsRead = 0L
  var shuffleBytes, spillBytes, bytesWritten = 0L
  var filesDiscovered, codegenCompiles = 0L
  var codegenMs = 0.0
  /** Job (start, end) wall intervals in epoch ms, for the driver gap. */
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  var startWallMs = 0L
  var endWallMs = 0L

  def wallMs: Double = (endNs - startNs) / 1e6

  /** Wall time not covered by any Spark job of this span: planning, file
    * listing, driver-side collect and the benchmark's own work.
    */
  def driverGapMs: Double = {
    val ivs = jobIntervals.map { case (s, e) =>
      (math.max(s, startWallMs), math.min(e, endWallMs)) }.filter(i => i._2 > i._1)
      .sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    ivs.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, wallMs - covered)
  }
}

/** Spans plus a Spark listener that attributes jobs, stages and tasks to the
  * span open when the job was submitted (through a local property). All
  * shared state sits behind ONE lock; [[drain]] waits until the listener bus
  * has delivered every queued event instead of sleeping a fixed time.
  */
final class Tracer(sc: SparkContext) {
  private val Key = "perfbench.span"
  private val lock = new Object
  private val all = mutable.ArrayBuffer[Span]()
  private val byId = mutable.HashMap[Long, Span]()
  private val jobSpans = mutable.HashMap[Int, List[Span]]()
  private val stageSpans = mutable.HashMap[Int, List[Span]]()
  private val jobStarts = mutable.HashMap[Int, Long]()
  private var open: List[Span] = Nil
  private var nextId = 1L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val chain = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .flatMap(s => byId.get(s.toLong)).map(ancestry).getOrElse(Nil)
      jobSpans(e.jobId) = chain
      jobStarts(e.jobId) = e.time
      e.stageIds.foreach(s => stageSpans(s) = chain)
      chain.foreach(_.jobs += 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      val start = jobStarts.remove(e.jobId).getOrElse(e.time)
      jobSpans.remove(e.jobId).getOrElse(Nil).foreach(_.jobIntervals += ((start, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stageSpans.getOrElse(e.stageInfo.stageId, Nil).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      stageSpans.getOrElse(e.stageId, Nil).foreach { s =>
        s.tasks += 1
        if (m != null) {
          s.taskMs += m.executorRunTime
          s.inputBytes += m.inputMetrics.bytesRead
          s.recordsRead += m.inputMetrics.recordsRead
          s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          s.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
    }
  }
  sc.addSparkListener(listener)

  private def ancestry(s: Span): List[Span] =
    s :: (if (s.parent == 0L) Nil else byId.get(s.parent).map(ancestry).getOrElse(Nil))

  /** Deterministic drain: returns once every posted event reached the listener. */
  def drain(): Unit = org.apache.spark.PerfbenchBridge.drainListeners(sc)

  def close(): Unit = { drain(); sc.removeSparkListener(listener) }

  def span[T](name: String, req: Long = 0L)(body: => T): (T, Span) = {
    val s = lock.synchronized {
      val parent = open.headOption
      val sp = new Span(nextId, name, parent.map(_.id).getOrElse(0L),
        if (req != 0L) req else parent.map(_.req).getOrElse(0L), System.nanoTime())
      nextId += 1
      all += sp
      byId(sp.id) = sp
      open = sp :: open
      sp
    }
    val prevProp = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, s.id.toString)
    val files0 = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    val cg0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val cgVals0 = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues
    s.startWallMs = System.currentTimeMillis()
    try {
      val out = body
      (out, s)
    } finally {
      s.endNs = System.nanoTime()
      s.endWallMs = System.currentTimeMillis()
      sc.setLocalProperty(Key, prevProp)
      s.filesDiscovered = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - files0
      s.codegenCompiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - cg0
      s.codegenMs = newSamplesSum(cgVals0,
        CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getValues)
      lock.synchronized { open = open.filterNot(_ eq s) }
    }
  }

  /** Sum of the histogram samples added between two sorted snapshots (a
    * multiset difference — exact while the reservoir still holds every sample).
    */
  private def newSamplesSum(before: Array[Long], after: Array[Long]): Double = {
    var i = 0
    var sum = 0L
    after.foreach { v =>
      while (i < before.length && before(i) < v) i += 1
      if (i < before.length && before(i) == v) i += 1 else sum += v
    }
    sum.toDouble
  }

  def spans: Seq[Span] = lock.synchronized(all.toList)

  /** The span tree as JSON lines. */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb ++= f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"req":${s.req},""" +
        f""""start_ms":${s.startNs / 1e6}%.3f,"end_ms":${s.endNs / 1e6}%.3f,""" +
        f""""jobs":${s.jobs},"stages":${s.stages},"tasks":${s.tasks},"task_ms":${s.taskMs},""" +
        f""""driver_gap_ms":${s.driverGapMs}%.3f,"input_bytes":${s.inputBytes},""" +
        f""""records_read":${s.recordsRead},"shuffle_bytes":${s.shuffleBytes},""" +
        f""""spill_bytes":${s.spillBytes},"bytes_written":${s.bytesWritten},""" +
        f""""files_discovered":${s.filesDiscovered},"codegen_compiles":${s.codegenCompiles},""" +
        f""""codegen_ms":${s.codegenMs}%.1f}""" + "\n"
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
