package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Engine counters of one span (summed over its jobs' tasks). */
final class Counters {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var busyMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var maxTaskMs = 0L
  var peakExecMem = 0L
  // the same split for leaf stages (no parent stage: the source scans)
  var scanTasks = 0L
  var scanBusyMs = 0L
  var scanInput = 0L
  var scanMaxTaskMs = 0L
  // stages that read a shuffle (sorts, aggregations, joins)
  var shuffleStageBusyMs = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; busyMs += o.busyMs; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    fetchWaitMs += o.fetchWaitMs; spill += o.spill; maxTaskMs = math.max(maxTaskMs, o.maxTaskMs)
    peakExecMem = math.max(peakExecMem, o.peakExecMem)
    scanTasks += o.scanTasks; scanBusyMs += o.scanBusyMs; scanInput += o.scanInput
    scanMaxTaskMs = math.max(scanMaxTaskMs, o.scanMaxTaskMs); shuffleStageBusyMs += o.shuffleStageBusyMs
  }
}

/** One traced call: name, start, end, parent. Times are wall clock ms
  * (the listener's event clock) plus nanoTime for durations. */
final case class Span(id: Int, parent: Int, name: String, startMs: Long, startNs: Long) {
  var endMs: Long = -1
  var endNs: Long = -1
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into the program. With `listen`
  * on, a SparkListener records job, stage and task counters and files
  * them under the span named by the job's `perfbench.span` local
  * property (falling back to the innermost open span, for jobs submitted
  * from pool threads that inherited an older property). Without it,
  * only span wall times are kept. */
final class Tracer(sc: SparkContext, val listen: Boolean) {
  import Tracer.Prop
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  @volatile private var open: Set[Int] = Set.empty
  @volatile private var innermost: Int = -1

  private val jobSpan = mutable.HashMap.empty[Int, Int]
  private val jobTimes = mutable.HashMap.empty[Int, (Long, Long)]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val stageLeaf = mutable.HashMap.empty[Int, Boolean]
  private val bySpan = mutable.HashMap.empty[Int, Counters]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).flatMap(_.toIntOption)
      val span = prop.filter(open.contains).getOrElse(innermost)
      jobSpan(e.jobId) = span
      jobTimes(e.jobId) = (e.time, -1L)
      counters(span).jobs += 1
      for (s <- e.stageInfos) {
        stageSpan.getOrElseUpdate(s.stageId, span)
        stageLeaf.getOrElseUpdate(s.stageId, s.parentIds.isEmpty)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobTimes.get(e.jobId).foreach { case (st, _) => jobTimes(e.jobId) = (st, e.time) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      if (e.stageInfo.numTasks > 0)
        counters(stageSpan.getOrElse(e.stageInfo.stageId, innermost)).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val c = counters(stageSpan.getOrElse(e.stageId, innermost))
        val dur = e.taskInfo.duration
        val sr = m.shuffleReadMetrics
        c.tasks += 1
        c.busyMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += sr.remoteBytesRead + sr.localBytesRead
        c.fetchWaitMs += sr.fetchWaitTime
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.maxTaskMs = math.max(c.maxTaskMs, dur)
        c.peakExecMem = math.max(c.peakExecMem, m.peakExecutionMemory)
        if (stageLeaf.getOrElse(e.stageId, false)) {
          c.scanTasks += 1
          c.scanBusyMs += m.executorRunTime
          c.scanInput += m.inputMetrics.bytesRead
          c.scanMaxTaskMs = math.max(c.scanMaxTaskMs, dur)
        }
        if (sr.totalBlocksFetched > 0) c.shuffleStageBusyMs += m.executorRunTime
      }
    }
  }

  if (listen) sc.addSparkListener(listener)

  private def counters(span: Int): Counters = bySpan.getOrElseUpdate(span, new Counters)

  def span[T](name: String)(body: => T): (T, Span) = {
    val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name,
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    stack.push(s)
    open += s.id
    innermost = s.id
    val before = sc.getLocalProperty(Prop)
    if (listen) sc.setLocalProperty(Prop, s.id.toString)
    try (body, s)
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack.pop()
      open -= s.id
      innermost = stack.headOption.map(_.id).getOrElse(-1)
      if (listen) sc.setLocalProperty(Prop, before)
    }
  }

  /** Stops listening and makes the counters final. */
  def finish(): Unit = if (listen) {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  private def descendants(id: Int): Set[Int] = {
    val kids = spans.filter(_.parent == id).map(_.id)
    kids.toSet ++ kids.flatMap(descendants)
  }

  /** Counters of a span and everything under it. */
  def total(s: Span): Counters = synchronized {
    val c = new Counters
    (descendants(s.id) + s.id).foreach(i => bySpan.get(i).foreach(c.add))
    c
  }

  /** Span wall time during which none of its jobs was running. */
  def driverGapSeconds(s: Span): Double = synchronized {
    val ids = descendants(s.id) + s.id
    val ivs = jobSpan.collect { case (j, sp) if ids.contains(sp) => jobTimes(j) }
      .map { case (a, b) => (math.max(a, s.startMs), if (b < 0) s.endMs else math.min(b, s.endMs)) }
      .filter { case (a, b) => b > a }.toVector.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    for ((a, b) <- ivs) {
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0.0, (s.endMs - s.startMs - covered) / 1000.0)
  }

  /** One JSON object per span, with its engine counters. */
  def spanLines: Seq[String] = spans.toSeq.map { s =>
    val c = total(s)
    val fields = Seq(
      "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Util.jsonString(s.name),
      "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
      "wall_s" -> Util.jsonNumber(s.seconds)) ++
      (if (listen) Seq("jobs" -> c.jobs.toString, "stages" -> c.stages.toString,
        "tasks" -> c.tasks.toString, "task_busy_s" -> Util.jsonNumber(c.busyMs / 1e3),
        "shuffle_write_mb" -> Util.jsonNumber(c.shuffleWrite / 1e6),
        "shuffle_read_mb" -> Util.jsonNumber(c.shuffleRead / 1e6),
        "driver_gap_s" -> Util.jsonNumber(driverGapSeconds(s)))
      else Nil) ++
      s.attrs.map { case (k, v) => k -> Util.jsonNumber(v) }
    fields.map { case (k, v) => s"${Util.jsonString(k)}:$v" }.mkString("{", ",", "}")
  }
}

object Tracer {
  val Prop = "perfbench.span"
}
