package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import graft.tables.Versioned
import Gen.Order
import Checks.LakeModel

/** `lake_rw`: a partitioned versioned table (partitioned by order year,
  * file stats on the order key) staged from orders-shaped rows. Each round
  * writes (merge, updateWhere, deleteWhere), reads (lookupKeys, a predicate
  * scan, a time-travel read, history) and maintains the table
  * (compactFiles, vacuum) so its size stays level from round to round.
  * Each round also rebuilds a small decimal-keyed side table and merges a
  * wider-decimal-keyed source into it: the known key-type merge fault.
  */
final class LakeRw(spark: SparkSession, seed: Long, log: RunLog)
    extends Workload(spark, seed, log) {
  import spark.implicits._

  val rowsAtStart = 150000 // sf0.1 orders
  val updates = 300        // U rows per touched year
  val merged = 200         // D rows of the merge, and deleteWhere keys
  val pairs = 50           // keys carrying two ops (precedence cases)
  val lookups = 100

  lazy val orders: Array[Order] = Gen.orders(seed, rowsAtStart)
  private var table = ""
  private var dir = ""
  private var model = LakeModel(Map.empty)
  private var version = 0
  private var nextKey = 0L

  def setup(d: String): Unit = {
    dir = d
    table = s"$d/lake/orders"
    model = LakeModel(orders.iterator.map(o => o.key -> o).toMap)
    nextKey = rowsAtStart
    version = log.phase("stage.orders") {
      Versioned.publish(spark, table,
        toDf(orders.toSeq).repartitionByRange(4, col("o_orderkey")),
        partCol = Some("o_year"), fileStatsKey = Some("o_orderkey"))
    }
  }

  private def toDf(os: Seq[Order]): DataFrame =
    os.map(o => (o.key, o.cust, o.status, o.price, o.priority, o.year))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority", "o_year")

  private def fromRow(r: Row): Order =
    Order(r.getAs[Long]("o_orderkey"), r.getAs[Long]("o_custkey"),
      r.getAs[String]("o_orderstatus"), r.getAs[Double]("o_totalprice"),
      r.getAs[String]("o_orderpriority"), r.getAs[Number]("o_year").intValue)

  private def keysOf(year: Int): Array[Long] =
    model.rows.valuesIterator.filter(_.year == year).map(_.key).toArray.sorted

  /** `n` distinct elements of `xs`, seeded. */
  private def pick(rng: java.util.SplittableRandom, xs: Array[Long], n: Int): Array[Long] = {
    val a = xs.clone()
    for (i <- 0 until n) { val j = i + rng.nextInt(a.length - i); val t = a(i); a(i) = a(j); a(j) = t }
    a.take(n)
  }

  /** Commits must advance the version by exactly one. */
  private def committed(rec: OpRec, got: Option[Int]): Unit = got.foreach { v =>
    if (v != version + 1) log.fail(rec, s"${rec.kind} committed v$v, want v${version + 1}")
    version = v
  }

  private def rowsCheck(rec: OpRec, got: Option[Array[Row]], want: => Iterable[Order]): Unit =
    got.foreach { rows =>
      rec.rows = rows.length
      log.check(rec, Checks.sameRows(rec.kind, rows.toSeq.map(fromRow), want))
    }

  def round(r: Int): Unit = {
    val rng = Gen.rng(seed, 10, r)
    val ys = new scala.util.Random(rng.nextLong()).shuffle(Gen.Years.toVector)
    val (y1, y2) = (ys(0), ys(1))
    val vStart = version
    val snapshot = model

    // ---- writes
    val u1 = pick(rng, keysOf(y1), updates + merged)
    val u2 = pick(rng, keysOf(y2), updates + pairs)
    val (upd1, del1) = u1.splitAt(updates)
    val (upd2, keep2) = u2.splitAt(updates)
    val fresh = (0 until merged + pairs + merged).map(i => nextKey + i)
    nextKey += fresh.size
    def cur(k: Long) = model.rows(k)
    val batch: Seq[(Order, String)] =
      (upd1 ++ upd2).toSeq.map(k => Gen.order(rng, k, cur(k).year) -> "U") ++
        del1.toSeq.map(k => cur(k) -> "D") ++
        upd1.take(pairs).toSeq.map(k => cur(k) -> "D") ++          // U + D: delete wins
        upd2.take(pairs).toSeq.map(k => cur(k) -> "K") ++          // U + K: update wins
        keep2.toSeq.map(k => cur(k) -> "K") ++                     // K alone: no change
        fresh.take(merged + pairs).map(k => Gen.order(rng, k, y1) -> "I") ++
        fresh.take(pairs).map(k => Gen.order(rng, k, y1) -> "K") ++ // I + K: insert wins
        fresh.drop(merged + pairs).map(k => Gen.order(rng, k, y2) -> "I")
    val batchDf = batch.map { case (o, op) =>
      (o.key, o.cust, o.status, o.price, o.priority, o.year, op)
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority",
      "o_year", "_op")
    model = model.merge(batch)
    val (mv, mOp) = log.op("merge", "tables.Versioned.merge") {
      Versioned.merge(spark, table, batchDf, "o_orderkey", "o_year")
    }
    committed(mOp, mv)
    mOp.rows = batch.size

    val c = rng.nextInt(50)
    val upd: Order => Boolean = o => o.year == y1 && o.cust % 50 == c
    val nUpd = model.rows.valuesIterator.count(upd)
    model = model.updateWhere(upd, o => o.copy(price = o.price + 1.0, status = "X"))
    val (uv, uOp) = log.op("update", "tables.Versioned.updateWhere") {
      Versioned.updateWhere(spark, table,
        col("o_year") === y1 && col("o_custkey") % 50 === c,
        Map("o_totalprice" -> (col("o_totalprice") + 1.0), "o_orderstatus" -> lit("X")),
        "o_year")
    }
    committed(uOp, uv)
    uOp.rows = nUpd

    val gone = pick(rng, keysOf(y2), merged).toSet
    model = model.deleteWhere(o => gone(o.key))
    val (dv, dOp) = log.op("delete", "tables.Versioned.deleteWhere") {
      Versioned.deleteWhere(spark, table, col("o_orderkey").isin(gone.toSeq: _*), "o_year")
    }
    committed(dOp, dv)
    dOp.rows = gone.size

    // ---- reads
    val present = model.rows.keysIterator.toArray.sorted
    val probe = (pick(rng, present, lookups - 20) ++ gone.take(10) ++
      fresh.takeRight(5) ++ (nextKey until nextKey + 5)).toSeq.distinct
    val (lk, lkOp) = log.op("lookup", "tables.Versioned.lookupKeys") {
      Versioned.lookupKeys(spark, table, probe).collect()
    }
    rowsCheck(lkOp, lk, probe.flatMap(model.rows.get))

    val lo = 1L + rng.nextInt(Gen.Customers - 100)
    val (sc, scOp) = log.op("scan", "tables.Versioned.read") {
      Versioned.read(spark, table).filter(col("o_custkey").between(lo, lo + 99)).collect()
    }
    rowsCheck(scOp, sc, model.rows.values.filter(o => o.cust >= lo && o.cust <= lo + 99))

    val (tt, ttOp) = log.op("time_travel", "tables.Versioned.readAt") {
      Versioned.readAt(spark, table, vStart).filter(col("o_year") === y1).collect()
    }
    rowsCheck(ttOp, tt, snapshot.rows.values.filter(_.year == y1))

    val (hs, hsOp) = log.op("history", "tables.Versioned.history") {
      Versioned.history(spark, table).collect()
    }
    hs.foreach { rows =>
      hsOp.rows = rows.length
      val ops = rows.map(h => h.getAs[Int]("version") -> h.getAs[String]("op")).toMap
      val want = Seq(vStart + 1 -> "MERGE", vStart + 2 -> "UPDATE", vStart + 3 -> "DELETE")
      log.check(hsOp,
        if (ops.keys.maxOption.contains(version) && want.forall { case (v, op) => ops.get(v).contains(op) }) None
        else Some(s"history: ${ops.toSeq.sorted.takeRight(4)} does not end with $want"))
    }

    // ---- maintenance
    val (mf, mfOp) = log.op("manifest", "tables.Versioned.fileEntriesOf") {
      val v = Versioned.latestVersion(spark, table)
      (v, Versioned.fileEntriesOf(spark, table, v))
    }
    val target = mf.flatMap { case (v, files) =>
      mfOp.rows = files.size
      log.check(mfOp,
        if (v != version) Some(s"latestVersion $v, want $version")
        else if (files.isEmpty) Some(s"v$v lists no files") else None)
      files.groupBy(_._1).toSeq.sortBy { case (p, fs) => (-fs.size, p) }.headOption.map(_._1)
    }
    target.foreach { partDir =>
      val (cv, cOp) = log.op("compact", "tables.Versioned.compactFiles") {
        Versioned.compactFiles(spark, table, partDir, "o_orderkey", "o_year")
      }
      committed(cOp, cv)
    }
    log.op("vacuum", "tables.Versioned.vacuum") {
      Versioned.vacuum(spark, table, Set(version), retentionMs = 0L)
    }

    sideTable(r)
  }

  private val sideSchema = StructType(Seq(StructField("k", DecimalType(10, 2)),
    StructField("v", LongType), StructField("p", IntegerType)))
  private val srcSchema = StructType(Seq(StructField("k", DecimalType(12, 4)),
    StructField("v", LongType), StructField("p", IntegerType), StructField("_op", StringType)))
  private def dec(s: String) = new java.math.BigDecimal(s)
  private def sideRows(path: String): Seq[(java.math.BigDecimal, Long)] =
    Versioned.read(spark, path).collect().toSeq
      .map(r => (r.getAs[java.math.BigDecimal]("k").stripTrailingZeros, r.getAs[Long]("v")))

  /** Merge a decimal(12,4)-keyed source into a decimal(10,2)-keyed table:
    * U 2.0000 -> 99 and I 3.0000 (a present key, so ignored). The inputs do
    * not depend on the seed.
    */
  private def sideTable(r: Int): Unit = {
    val path = s"$dir/lake/side_r$r"
    val init = Seq(("1.00", 10L), ("2.00", 20L), ("3.00", 30L))
    val (_, pOp) = log.op("side_publish", "tables.Versioned.publish") {
      Versioned.publish(spark, path, spark.createDataFrame(
        java.util.Arrays.asList(init.map { case (k, v) => Row(dec(k), v, 1) }: _*), sideSchema),
        partCol = Some("p"))
    }
    if (!pOp.failed)
      log.check(pOp, Checks.sameRows("side table", sideRows(path),
        init.map { case (k, v) => (dec(k).stripTrailingZeros, v) }))
    val src = spark.createDataFrame(java.util.Arrays.asList(
      Row(dec("2.0000"), 99L, 1, "U"), Row(dec("3.0000"), 77L, 1, "I")), srcSchema)
    val (_, smOp) = log.op("side_merge", "tables.Versioned.merge") {
      Versioned.merge(spark, path, src, "k", "p")
    }
    if (!smOp.failed)
      log.check(smOp, Checks.sameRows("side table after merge", sideRows(path),
        Seq(("1", 10L), ("2", 99L), ("3", 30L)).map { case (k, v) => (dec(k), v) }))
    log.namedFault(smOp, "decimal-key merge")
  }

  private var tableBytes = 0L
  private var liveFiles = 0
  /** The whole latest version must equal the model; a mismatch fails the
    * run's last maintenance operation.
    */
  override def finish(): Unit = {
    log.check(log.ops.filter(_.kind == "vacuum").last, Checks.sameRows("latest version",
      Versioned.read(spark, table).collect().toSeq.map(fromRow), model.rows.values))
    tableBytes = Workload.bytesUnder(table)
    liveFiles = Versioned.fileEntriesOf(spark, table, Versioned.latestVersion(spark, table)).size
  }

  private def perRoundMedian(kinds: String*): Double =
    Stats.medianOr0(log.timedRounds.map(r =>
      log.timedOps.filter(o => o.round == r && kinds.contains(o.kind)).map(_.seconds).sum))

  /** Rows the write calls apply (merge source rows, updated and deleted
    * rows), per second.
    */
  def endToEnd(): Seq[Metric] = Seq(
    Metric("rows_per_s", "rows/s",
      log.timedOps.filter(o => Set("merge", "update", "delete")(o.kind)).map(_.rows).sum / timedSeconds))

  def perLayer(a: Attribution): Seq[Metric] = {
    val writes = a.ofKinds("merge", "update", "delete")
    val reads = a.ofKinds("lookup", "scan", "time_travel")
    val wst = a.stages(writes)
    val outRecords = wst.map(_.outRecords).sum
    Seq(
      Metric("tables.merge_s", "s", medianOf("merge")),
      Metric("tables.update_s", "s", medianOf("update")),
      Metric("tables.delete_s", "s", medianOf("delete")),
      Metric("tables.jobs_per_write", "count", a.jobs(writes).size.toDouble / math.max(1, writes.size)),
      Metric("tables.lookup_s", "s", medianOf("lookup")),
      Metric("tables.scan_s", "s", medianOf("scan")),
      Metric("tables.time_travel_s", "s", medianOf("time_travel")),
      Metric("tables.history_s", "s", medianOf("history")),
      Metric("tables.manifest_s", "s", medianOf("manifest")),
      Metric("tables.compact_s", "s", medianOf("compact")),
      Metric("tables.vacuum_s", "s", medianOf("vacuum")),
      Metric("tables.write_p50_s", "s", perRoundMedian("merge", "update", "delete")),
      Metric("tables.read_p50_s", "s", perRoundMedian("lookup", "scan", "time_travel", "history")),
      Metric("tables.files", "count", liveFiles.toDouble),
      Metric("tables.bytes_per_row_written", "B",
        if (outRecords == 0) 0.0 else wst.map(_.outBytes).sum.toDouble / outRecords),
      Metric("tables.table_mb", "MB", tableBytes / 1e6),
      Metric("sources.rows_read_per_row_returned", "ratio",
        a.stages(reads).map(_.inRecords).sum.toDouble / math.max(1L, reads.map(_.rows).sum)))
  }
}
