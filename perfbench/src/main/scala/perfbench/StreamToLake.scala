package perfbench

import java.io.File
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.{col, timestamp_micros, unix_micros}
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._
import graft.streaming.EventStreams
import graft.tables.Versioned
import Gen.Event

/** `stream_to_lake`: drains a landing directory of time-ordered event
  * shards (with planted redeliveries) through `EventStreams.dedupEvents`
  * into a versioned table via `VersionedSink`, one file per trigger, one
  * table version per micro-batch. Every round starts from a fresh
  * checkpoint and a fresh table. The landing directory is staged before
  * the drain, so the rate is the highest this pipeline sustains here.
  */
final class StreamToLake(spark: SparkSession, seed: Long, log: RunLog)
    extends Workload(spark, seed, log) {
  import spark.implicits._

  val shape = Gen.StreamShape(events = 30000, shards = 6, redeliveryRate = 0.02, days = 12)
  /** Longer than a shard's time span, so a redelivery in the next shard
    * is still inside the watermark.
    */
  val delay = "3 days"
  lazy val shards: Array[Array[Event]] = Gen.eventShards(seed, shape)
  lazy val inputRows: Long = shards.map(_.length.toLong).sum

  private val sinkSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts_us", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))
  private var dir = ""
  private var landing = ""
  private var lastTable = ""
  private val progress = scala.collection.mutable.ArrayBuffer.empty[(Int, Boolean, StreamingQueryProgress)]

  def setup(d: String): Unit = {
    shards
    dir = d
    landing = s"$d/stream/landing"
    val staging = s"$d/stream/staging"
    log.phase("stage.shards") {
      // one task per shard, so each shard is written as exactly one file
      val rdd = spark.sparkContext.parallelize(shards.toSeq, shards.length)
        .flatMap(_.iterator.map(e => (e.id, e.tsMicros, e.user, e.etype, e.value, e.props)))
      spark.createDataset(rdd).toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
        .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))
        .write.parquet(staging)
    }
    // The file source orders files by modification time: give the shards
    // increasing times, a second apart, in shard order.
    val parts = new File(staging).listFiles.filter(_.getName.startsWith("part-")).sortBy(_.getName)
    require(parts.length == shards.length,
      s"staged ${parts.length} shard files, want ${shards.length}")
    new File(landing).mkdirs()
    val t0 = System.currentTimeMillis() - 1000L * (parts.length + 10)
    parts.zipWithIndex.foreach { case (f, i) =>
      val to = new File(landing, f"shard-$i%03d.parquet")
      require(f.renameTo(to) && to.setLastModified(t0 + 1000L * i), s"cannot stage $to")
    }
  }

  def round(r: Int): Unit = {
    val table = s"$dir/stream/r$r/table"
    val ckpt = s"$dir/stream/r$r/checkpoint"
    lastTable = table
    val (_, cOp) = log.op("create", "tables.Versioned.createEmpty") {
      Versioned.createEmpty(spark, table, sinkSchema, partCol = Some("event_type"),
        statsKey = Some("event_id"))
    }
    if (cOp.failed) return
    val (prog, dOp) = log.op("drain", "streaming.EventStreams.dedupEvents+VersionedSink",
        count = shards.length) {
      val q = EventStreams.dedupEvents(EventStreams.readEventStream(spark, landing, 1), delay)
        .select(col("event_id"), unix_micros(col("ts")).as("ts_us"), col("user_id"),
          col("event_type"), col("value"), col("props"))
        .writeStream.format("graft.sources.VersionedSink")
        .option("checkpointLocation", ckpt)
        .option("partCol", "event_type").option("fileStatsKey", "event_id")
        .trigger(Trigger.AvailableNow())
        .start(table)
      try q.awaitTermination() finally q.stop()
      q.exception.foreach(e => throw e)
      q.recentProgress
    }
    prog.foreach { ps =>
      ps.foreach(p => progress += ((r, dOp.timed, p)))
      val data = ps.filter(_.numInputRows > 0)
      dOp.rows = data.map(_.numInputRows).sum
      log.check(dOp, {
        lazy val v = Versioned.latestVersion(spark, table)
        if (data.length != shards.length)
          Some(s"${data.length} micro-batches carried rows, want ${shards.length}")
        else if (dOp.rows != inputRows) Some(s"drained ${dOp.rows} input rows, want $inputRows")
        else if (v != 1 + shards.length) Some(s"table at v$v, want v${1 + shards.length}")
        else Checks.streamTable(Versioned.read(spark, table).collect().toSeq.map(fromRow), shards)
      })
    }
  }

  private def fromRow(r: Row): Event =
    Event(r.getAs[Long]("event_id"), r.getAs[Long]("ts_us"), r.getAs[Long]("user_id"),
      r.getAs[String]("event_type"), r.getAs[Double]("value"), r.getAs[String]("props"))

  private var tableBytes = 0L
  private var tableRows = 0L
  override def finish(): Unit = {
    tableBytes = Workload.bytesUnder(lastTable)
    tableRows = Versioned.read(spark, lastTable).count()
  }

  private def timedProgress: Seq[StreamingQueryProgress] =
    progress.collect { case (_, true, p) if p.numInputRows > 0 => p }.toSeq
  private def msMedian(key: String): Double =
    Stats.msMedianSeconds(timedProgress.flatMap(p => Option(p.durationMs.get(key)).map(_.longValue)))

  /** Input rows drained per second of drain time. */
  def endToEnd(): Seq[Metric] = {
    val drains = log.timedOps.filter(_.kind == "drain")
    Seq(Metric("rows_per_s", "rows/s", drains.map(_.rows).sum / drains.map(_.seconds).sum))
  }

  def perLayer(a: Attribution): Seq[Metric] = {
    val last = timedProgress.lastOption.flatMap(_.stateOperators.headOption)
    Seq(
      Metric("streaming.batch_p50_s", "s", msMedian("triggerExecution")),
      Metric("streaming.latest_offset_s", "s", msMedian("latestOffset")),
      Metric("streaming.get_batch_s", "s", msMedian("getBatch")),
      Metric("streaming.query_planning_s", "s", msMedian("queryPlanning")),
      Metric("streaming.add_batch_s", "s", msMedian("addBatch")),
      Metric("streaming.wal_commit_s", "s", msMedian("walCommit")),
      Metric("streaming.batches", "count/round",
        a.perRound(progress.count { case (_, timed, _) => timed }.toDouble)),
      Metric("streaming.state_rows", "count", last.map(_.numRowsTotal.toDouble).getOrElse(0.0)),
      Metric("streaming.state_mb", "MB", last.map(_.memoryUsedBytes / 1e6).getOrElse(0.0)),
      Metric("tables.table_mb", "MB", tableBytes / 1e6),
      Metric("tables.bytes_per_row_written", "B",
        if (tableRows == 0) 0.0 else tableBytes.toDouble / tableRows))
  }

  override def traceExtras: Seq[(String, String)] =
    Seq("streaming_progress" -> Json.arr(progress.map { case (r, timed, p) =>
      Json.obj(Seq("round" -> r.toString, "timed" -> timed.toString, "progress" -> p.json))
    }))
}
