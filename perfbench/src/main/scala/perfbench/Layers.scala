package perfbench

/** Attributes the Spark counters of a traced run to the benchmark's
  * operations. The client is single-threaded, so every job starts inside
  * the time window of the one operation that caused it.
  */
final class Attribution(val log: RunLog, val c: SparkCounters, val gcSeconds: Double) {
  private val windows = log.timedOps.map(o => (log.wallMs(o.startNs) - 1, log.wallMs(o.endNs) + 1, o))
  private def opAt(ms: Double): Option[OpRec] =
    windows.find { case (s, e, _) => ms >= s && ms <= e }.map(_._3)

  val rounds: Int = math.max(1, log.timedRounds.size)
  val jobsByOp: Map[Int, Seq[c.JobRec]] =
    c.jobs.toSeq.flatMap(j => opAt(j.startMs.toDouble).map(_.id -> j))
      .groupMap(_._1)(_._2)
  /** Each stage belongs to the first job that lists it (later jobs list
    * the stages they reuse and skip).
    */
  private val stageOwner: Map[Int, Int] =
    c.jobs.toSeq.sortBy(_.id).flatMap(j => j.stages.map(_ -> j.id)).reverse.toMap

  def jobs(ops: Seq[OpRec]): Seq[c.JobRec] = ops.flatMap(o => jobsByOp.getOrElse(o.id, Nil))
  def stages(ops: Seq[OpRec]): Seq[c.StageAgg] =
    jobs(ops).flatMap(j => j.stages.filter(s => stageOwner.get(s).contains(j.id)))
      .distinct.flatMap(c.stages.get)
  def ofKinds(kinds: String*): Seq[OpRec] = log.timedOps.filter(o => kinds.contains(o.kind))
  def perRound(x: Double): Double = x / rounds

  /** Wall time inside the operations' windows during which no job ran. */
  def driverGapSeconds(ops: Seq[OpRec]): Double = ops.map { o =>
    val (s, e) = (log.wallMs(o.startNs), log.wallMs(o.endNs))
    val iv = jobsByOp.getOrElse(o.id, Nil)
      .map(j => (math.max(s, j.startMs.toDouble), math.min(e, j.endMs.toDouble)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var busy = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) { if (!curS.isNaN) busy += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (!curS.isNaN) busy += curE - curS
    math.max(0.0, (e - s) - busy) / 1e3
  }.sum

  def planningSeconds(ops: Seq[OpRec]): Double = {
    val ids = ops.map(_.id).toSet
    c.planning.toSeq.filter { case (ms, _) => opAt(ms.toDouble).exists(o => ids(o.id)) }
      .map(_._2).sum
  }

  /** The engine-level metrics every workload reports. */
  def sparkMetrics: Seq[Metric] = {
    val ops = log.timedOps
    val st = stages(ops)
    val mb = 1e6
    Seq(
      Metric("spark.jobs", "count/round", perRound(jobs(ops).size)),
      Metric("spark.tasks", "count/round", perRound(st.map(_.tasks).sum.toDouble)),
      Metric("spark.driver_gap_s", "s/round", perRound(driverGapSeconds(ops))),
      Metric("spark.planning_s", "s/round", perRound(planningSeconds(ops))),
      Metric("spark.executor_cpu_s", "s/round", perRound(st.map(_.cpuNs).sum / 1e9)),
      Metric("spark.shuffle_write_mb", "MB/round", perRound(st.map(_.shuffleBytes).sum / mb)),
      Metric("spark.spill_mb", "MB/round", perRound(st.map(_.spillBytes).sum / mb)),
      Metric("spark.input_mb", "MB/round", perRound(st.map(_.inBytes).sum / mb)),
      Metric("spark.output_mb", "MB/round", perRound(st.map(_.outBytes).sum / mb)),
      Metric("jvm.gc_s", "s/round", perRound(gcSeconds)))
  }
}

object Layers {
  /** Every per-layer metric, in report order, with its unit. A workload
    * reports 0 for a metric of a layer it does not use.
    */
  val all: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count/round", "spark.tasks" -> "count/round",
    "spark.driver_gap_s" -> "s/round", "spark.planning_s" -> "s/round",
    "spark.executor_cpu_s" -> "s/round", "spark.shuffle_write_mb" -> "MB/round",
    "spark.spill_mb" -> "MB/round", "spark.input_mb" -> "MB/round",
    "spark.output_mb" -> "MB/round", "jvm.gc_s" -> "s/round",
    "core.word_count_s" -> "s", "core.char_count_s" -> "s",
    "core.char_count_df_s" -> "s", "core.sorted_reduce_s" -> "s",
    "core.map_stage_s" -> "s/round", "core.reduce_stage_s" -> "s/round",
    "core.shuffle_records" -> "count/round",
    "tables.merge_s" -> "s", "tables.update_s" -> "s", "tables.delete_s" -> "s",
    "tables.jobs_per_write" -> "count",
    "tables.lookup_s" -> "s", "tables.scan_s" -> "s", "tables.time_travel_s" -> "s",
    "tables.history_s" -> "s", "tables.manifest_s" -> "s",
    "tables.compact_s" -> "s", "tables.vacuum_s" -> "s",
    "tables.write_p50_s" -> "s", "tables.read_p50_s" -> "s",
    "tables.files" -> "count", "tables.bytes_per_row_written" -> "B",
    "tables.table_mb" -> "MB",
    "sources.rows_read_per_row_returned" -> "ratio",
    "streaming.batch_p50_s" -> "s", "streaming.latest_offset_s" -> "s", "streaming.get_batch_s" -> "s",
    "streaming.query_planning_s" -> "s", "streaming.add_batch_s" -> "s",
    "streaming.wal_commit_s" -> "s", "streaming.batches" -> "count/round",
    "streaming.state_rows" -> "count", "streaming.state_mb" -> "MB")

  def complete(measured: Seq[Metric]): Seq[Metric] = {
    val byName = measured.map(m => m.name -> m).toMap
    val unknown = byName.keySet -- all.map(_._1)
    require(unknown.isEmpty, s"unlisted per-layer metrics: ${unknown.mkString(",")}")
    all.map { case (n, u) => byName.getOrElse(n, Metric(n, u, 0.0)) }
  }
}
