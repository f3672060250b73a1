package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Outside-in tracer. Spans are kept in memory and written as JSON lines
  * at exit; Spark work is counted by one listener per operation; stages
  * are attributed to the program module named in their call site.
  */
final class Tracer(runId: String) {
  import Tracer.Span

  private val spans = ArrayBuffer.empty[Span]
  private val stageLines = ArrayBuffer.empty[String]
  private var stack: List[Int] = Nil
  private var nextId = 0
  var drainMisses = 0

  /** Times `body` as a span under the innermost open span. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      stack = stack.tail
      spans += Span(id, name, t0, System.nanoTime(), parent)
    }
  }

  /** Drains the listener bus; a timeout is logged and counted. */
  def drain(sc: SparkContext, timeoutMs: Long = 10000): Unit =
    if (!org.apache.spark.perfbench.Drain(sc, timeoutMs)) {
      drainMisses += 1
      System.err.println(s"[perfbench] listener bus drain timed out " +
        s"after $timeoutMs ms (miss $drainMisses); counts may be short")
    }

  /** Records the stages a traced operation ran: module, call site, tasks,
    * wall time and executor time, in completion order. */
  def stages(op: String, l: OpListener): Unit = l.stageInfos.foreach { st =>
    val dur = (for (a <- st.submissionTime; b <- st.completionTime)
      yield (b - a) / 1e3).getOrElse(0.0)
    stageLines += f"""{"run_id":"$runId","op":"$op","stage":${st.stageId},""" +
      f""""module":"${Tracer.moduleOf(st.details, l.module)}",""" +
      f""""site":"${st.name.replace("\"", "'")}","tasks":${st.numTasks},""" +
      f""""dur_s":$dur%.3f,"exec_s":${l.stageExecMs(st.stageId) / 1e3}%.3f}"""
  }

  /** Writes every span with its self time (duration minus children). */
  def write(f: Path): Unit = {
    val child = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.end - c.start).sum }
    val lines = spans.sortBy(_.start).map { s =>
      val dur = (s.end - s.start) / 1e9
      val self = dur - child.getOrElse(s.id, 0L) / 1e9
      f"""{"run_id":"$runId","id":${s.id},"parent":${s.parent},""" +
        f""""name":"${s.name}","start_s":${s.start / 1e9}%.6f,""" +
        f""""dur_s":$dur%.6f,"self_s":$self%.6f}"""
    }
    Files.write(f, (lines ++ stageLines).mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

object Tracer {
  final case class Span(id: Int, name: String, start: Long, end: Long,
                        parent: Int)

  /** Program module of a stage, from the first program frame of its long
    * call site (`StageInfo.details`); `default` when the action was called
    * from outside the program (the benchmark's own write of a plan a
    * module built, or an adaptive query stage). */
  def moduleOf(details: String, default: String): String =
    details.split("\n").iterator.map(_.trim)
      .filterNot(_.startsWith("perfbench."))
      .flatMap(l => frame.findFirstMatchIn(l).map(_.group(1)))
      .nextOption().getOrElse(default)

  private val frame = "graft\\.(functions|sources|operators|plans|streaming)\\.".r
}

/** Per-operation Spark counts. Register before the operation, drain the
  * bus and unregister after it. `module` is the module whose public
  * function the operation calls. */
final class OpListener(val module: String) extends SparkListener {
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  var stages = 0
  var tasks = 0
  var execRunMs = 0L
  var peakExecMem = 0L
  var shuffleWrite = 0L
  var spill = 0L
  private val stageTaskMs =
    scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }
  val stageInfos = ArrayBuffer.empty[StageInfo]
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1; stageInfos += e.stageInfo }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      execRunMs += m.executorRunTime
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      stageTaskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  def jobs: Int = jobIntervals.size

  def stageExecMs(stageId: Int): Long =
    synchronized { stageTaskMs.get(stageId).map(_.sum).getOrElse(0L) }

  /** Seconds covered by at least one job. */
  def jobUnionS: Double = {
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    jobIntervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered / 1e3
  }

  /** Task skew: over stages with at least 4 tasks, the largest ratio of
    * the slowest task to the stage's median task. */
  def taskSkew: Double = {
    val ratios = stageTaskMs.values.filter(_.size >= 4).map { ts =>
      val s = ts.sorted
      val med = math.max(1L, s(s.size / 2))
      s.last.toDouble / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}
