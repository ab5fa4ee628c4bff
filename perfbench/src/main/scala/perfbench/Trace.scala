package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One call (or group of calls) into the program, timed from the
  * benchmark's side. `count` is how many operations it stands for (a drain
  * of n micro-batches counts n).
  */
final class OpRec(val id: Int, val kind: String, val round: Int, val timed: Boolean,
                  val count: Int) {
  var startNs = 0L
  var endNs = 0L
  var failed = false
  var expectedFault = false
  var note = ""
  /** Rows the operation wrote or returned (workload-defined). */
  var rows = 0L
  def seconds: Double = (endNs - startNs) / 1e9
}

final case class Span(id: Int, name: String, parent: Int, op: Int,
                      startNs: Long, endNs: Long)

final case class RoundRec(round: Int, timed: Boolean, startNs: Long, endNs: Long, cpuNs: Long)

/** The run's record of rounds and operations. Spans are kept only in a
  * traced run; operations are always timed because the end-to-end metrics
  * are made from them.
  */
final class RunLog(val traced: Boolean) {
  val t0Ns: Long = System.nanoTime()
  val t0Ms: Long = System.currentTimeMillis()
  /** Wall-clock milliseconds of a `System.nanoTime` reading. */
  def wallMs(ns: Long): Double = t0Ms + (ns - t0Ns) / 1e6

  val ops = ArrayBuffer.empty[OpRec]
  val rounds = ArrayBuffer.empty[RoundRec]
  val spans = ArrayBuffer.empty[Span]
  private var curRound = 0
  private var curTimed = false
  private var parents: List[Int] = Nil
  private var curOp = -1

  private def openSpan(): Int = { spans += null; spans.size - 1 }
  private def closeSpan(ix: Int, name: String, op: Int, t0: Long): Unit =
    spans(ix) = Span(ix, name, parents.headOption.getOrElse(-1), op, t0, System.nanoTime())

  /** A span around benchmark-side work that is not an operation. */
  def phase[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val ix = openSpan(); val t0 = System.nanoTime()
      parents = ix :: parents
      try body finally { parents = parents.tail; closeSpan(ix, name, curOp, t0) }
    }

  def round[T](r: Int, timed: Boolean)(body: => T): T = {
    curRound = r; curTimed = timed
    val (t0, c0) = (System.nanoTime(), RunLog.processCpuNs())
    try phase(s"round.$r")(body)
    finally rounds += RoundRec(r, timed, t0, System.nanoTime(), RunLog.processCpuNs() - c0)
  }

  /** Time one operation. An exception fails the operation (unexpectedly,
    * unless the caller marks it as the named fault) and yields `None`.
    */
  def op[T](kind: String, call: String, count: Int = 1)(body: => T): (Option[T], OpRec) = {
    val rec = new OpRec(ops.size, kind, curRound, curTimed, count)
    ops += rec
    curOp = rec.id
    val ix = if (traced) openSpan() else -1
    if (traced) parents = ix :: parents
    rec.startNs = System.nanoTime()
    val res =
      try Some(body)
      catch { case e: Exception => fail(rec, s"${e.getClass.getSimpleName}: ${e.getMessage}"); None }
    rec.endNs = System.nanoTime()
    if (traced) { parents = parents.tail; closeSpan(ix, call, rec.id, rec.startNs) }
    curOp = -1
    (res, rec)
  }

  /** A span for one public call inside an operation (traced runs only). */
  def call[T](name: String)(body: => T): T = phase(name)(body)

  def fail(rec: OpRec, why: String): Unit = {
    rec.failed = true
    rec.note = why.take(300)
  }
  /** Run a check outside the timed section; a mismatch, or an exception
    * while reading the output back, fails the operation.
    */
  def check(rec: OpRec, result: => Option[String]): Unit =
    try result.foreach(fail(rec, _))
    catch { case e: Exception => fail(rec, s"check: ${e.getClass.getSimpleName}: ${e.getMessage}") }

  /** Mark a failure of this operation as the known, named fault. */
  def namedFault(rec: OpRec, name: String): Unit =
    if (rec.failed) { rec.expectedFault = true; rec.note = s"$name: ${rec.note}" }

  def timedRounds: Seq[Int] = rounds.filter(_.timed).map(_.round).toSeq.distinct
  def timedOps: Seq[OpRec] = ops.filter(_.timed).toSeq
  /** A round's time: the sum of its operations' timed sections (checks
    * and bookkeeping between them excluded).
    */
  def roundSeconds: Seq[Double] =
    timedRounds.map(r => timedOps.filter(_.round == r).map(_.seconds).sum)
}

object RunLog {
  /** CPU time of the whole JVM: driver, executor threads, GC and JIT. */
  def processCpuNs(): Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
}

/** Counters recorded at the same boundaries as the spans, from Spark's
  * public listener APIs: jobs, stages and task metrics from a
  * `SparkListener`, planning phase times from a `QueryExecutionListener`.
  */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  final class JobRec(val id: Int, val startMs: Long, val stages: Seq[Int]) { var endMs: Long = startMs }
  final class StageAgg {
    var tasks = 0L; var cpuNs = 0L; var runMs = 0L; var shuffleBytes = 0L
    var shuffleRecords = 0L; var spillBytes = 0L; var inBytes = 0L; var inRecords = 0L
    var outBytes = 0L; var outRecords = 0L; var resultTasks = 0L; var mapRunMs = 0L
    var resultRunMs = 0L
  }
  val jobs = ArrayBuffer.empty[JobRec]
  val stages = scala.collection.mutable.HashMap.empty[Int, StageAgg]
  /** (end of planning, ms; analysis + optimization + planning seconds). */
  val planning = ArrayBuffer.empty[(Long, Double)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += new JobRec(e.jobId, e.time, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.reverseIterator.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inBytes += m.inputMetrics.bytesRead
      a.inRecords += m.inputMetrics.recordsRead
      a.outBytes += m.outputMetrics.bytesWritten
      a.outRecords += m.outputMetrics.recordsWritten
      if (e.taskType == "ResultTask") { a.resultTasks += 1; a.resultRunMs += m.executorRunTime }
      else a.mapRunMs += m.executorRunTime
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = synchronized {
    val ph = qe.tracker.phases
    if (ph.nonEmpty)
      planning += ((ph.values.map(_.endTimeMs).max, ph.values.map(_.durationMs).sum / 1e3))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
