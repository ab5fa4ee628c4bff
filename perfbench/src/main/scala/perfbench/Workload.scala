package perfbench

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, unit: String, value: Double)

/** One closed-loop workload: a single client thread that sends its next
  * call only after the previous one has returned.
  *
  * `setup(dir)` stages the inputs into a fresh directory; `round(r)` runs
  * round r's operations through `log`, checking each output outside its
  * timed section. Round r's operations depend only on (seed, r), and every
  * run starts from the same staged state, so two runs apply the same
  * operation sequence to the same table.
  */
abstract class Workload(val spark: SparkSession, val seed: Long, val log: RunLog) {
  def setup(dir: String): Unit
  def round(r: Int): Unit
  /** Called once after the timed rounds, before the end-of-run metrics. */
  def finish(): Unit = ()
  /** The workload's own end-to-end metric: `rows_per_s`. */
  def endToEnd(): Seq[Metric]
  /** The workload's own per-layer metrics (traced runs). */
  def perLayer(a: Attribution): Seq[Metric]
  /** Extra records for the trace file, as JSON values. */
  def traceExtras: Seq[(String, String)] = Nil

  protected def timedSeconds: Double = log.roundSeconds.sum
  protected def medianOf(kind: String): Double =
    Stats.medianOr0(log.timedOps.filter(_.kind == kind).map(_.seconds))
}

object Workload {
  /** Bytes of every file under `path`. */
  def bytesUnder(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(walk).sum else f.length
    walk(new java.io.File(path))
  }
}
