package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its result as the last stdout line:
  * `{"correct", "attempted", "failed", "metrics"}` — the end-to-end metrics
  * untraced, the per-layer metrics with `--trace 1`.
  *
  * Arguments: --workload NAME --seed N --seconds S --trace 0|1 --root DIR
  * [--trace-file FILE]. Everything the run writes goes under DIR.
  */
object Main {
  /** Stagings per run; `setup_s` is session start + their median + the
    * warm rounds.
    */
  val SetupReps = 3
  /** Untimed rounds before the timed ones: the first execution of each
    * call pays class loading, codegen and JIT.
    */
  val WarmRounds = 1

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val root = a("root")
    val log = new RunLog(traced)

    val t0 = System.nanoTime()
    val spark = log.phase("setup.session")(session(root))
    val sessionS = (System.nanoTime() - t0) / 1e9
    val counters = new SparkCounters
    if (traced) {
      spark.sparkContext.addSparkListener(counters)
      spark.listenerManager.register(counters)
    }
    val w: Workload = name match {
      case "mapreduce_corpus" => new MapReduceCorpus(spark, seed, log)
      case "lake_rw" => new LakeRw(spark, seed, log)
      case "stream_to_lake" => new StreamToLake(spark, seed, log)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // Stage the inputs SetupReps times, each into a fresh directory, and
    // keep the last; then the untimed warm rounds on it.
    val stagings = (0 until SetupReps).map { rep =>
      if (rep > 0) deleteTree(new java.io.File(s"$root/data-${rep - 1}"))
      val s0 = System.nanoTime()
      log.phase(s"setup.stage.$rep")(w.setup(s"$root/data-$rep"))
      (System.nanoTime() - s0) / 1e9
    }
    val w0 = System.nanoTime()
    for (wr <- 1 - WarmRounds to 0) log.phase("setup.warm")(log.round(wr, timed = false)(w.round(wr)))
    val warmS = (System.nanoTime() - w0) / 1e9

    // Timed rounds: whole rounds only; another round starts only while it
    // is expected to end within the run length (at least one round runs).
    val gc0 = gcSeconds()
    val m0 = System.nanoTime()
    var r = 1
    var last = 0.0
    while (r == 1 || (System.nanoTime() - m0) / 1e9 + last <= seconds) {
      val t = System.nanoTime()
      log.round(r, timed = true)(w.round(r))
      last = (System.nanoTime() - t) / 1e9
      r += 1
    }
    val gcS = gcSeconds() - gc0
    log.phase("finish")(w.finish())
    // Spark's ContextCleaner releases shuffle and broadcast state only
    // after a GC has found it unreachable: collect a few times, keep the low.
    val heapMb = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }.min

    val ops = log.ops.toSeq
    val failedOps = ops.filter(_.failed)
    failedOps.groupBy(o => (o.kind, o.expectedFault)).foreach { case ((k, exp), os) =>
      System.err.println(s"[perfbench] ${os.size} x $k failed" +
        (if (exp) " (known fault)" else "") + s": ${os.head.note}")
    }
    val metrics: Seq[Metric] =
      if (!traced) {
        val rounds = log.roundSeconds
        Seq(
          Metric("setup_s", "s", sessionS + Stats.median(stagings) + warmS),
          Metric("round_p50_s", "s", Stats.median(rounds)),
          Metric("ops_per_s", "ops/s", log.timedOps.map(_.count).sum / rounds.sum),
          Metric("heap_live_mb", "MB", heapMb),
          Metric("cpu_s_per_round", "s", Stats.median(log.rounds.filter(_.timed).map(_.cpuNs / 1e9).toSeq))) ++
          w.endToEnd()
      } else {
        org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
        val attr = new Attribution(log, counters, gcS)
        val all = Layers.complete(attr.sparkMetrics ++ w.perLayer(attr))
        a.get("trace-file").foreach(f => writeTrace(f, name, seed, log, attr, all, w.traceExtras))
        all
      }
    System.err.println(s"[perfbench] $name seed=$seed rounds=${log.timedRounds.size} " +
      s"stagings=${stagings.map(s => f"$s%.2f").mkString(",")} warm=${f"$warmS%.2f"} " +
      s"session=${f"$sessionS%.2f"} rounds_s=${log.roundSeconds.map(s => f"$s%.2f").mkString(",")}")
    metrics.foreach(m => println(f"${m.name}%-40s ${m.value}%14.6f ${m.unit}"))
    val result = Json.obj(Seq(
      "correct" -> failedOps.forall(_.expectedFault).toString,
      "attempted" -> ops.map(_.count).sum.toString,
      "failed" -> failedOps.map(_.count).sum.toString,
      "metrics" -> Json.obj(metrics.map(m =>
        m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit)))))))
    spark.stop()
    println(result)
  }

  def session(root: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val s = graft.SessionEnv.applyMaster(SparkSession.builder().appName("perfbench"), cpus)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  private def writeTrace(path: String, name: String, seed: Long, log: RunLog, attr: Attribution,
                         metrics: Seq[Metric], extras: Seq[(String, String)]): Unit = {
    val spans = log.spans.map(s => Json.obj(Seq(
      "id" -> s.id.toString, "name" -> Json.str(s.name), "parent" -> s.parent.toString,
      "op" -> s.op.toString, "start_ms" -> Json.num(log.wallMs(s.startNs)),
      "end_ms" -> Json.num(log.wallMs(s.endNs)))))
    val ops = log.ops.map(o => Json.obj(Seq(
      "id" -> o.id.toString, "kind" -> Json.str(o.kind), "round" -> o.round.toString,
      "timed" -> o.timed.toString, "count" -> o.count.toString, "rows" -> o.rows.toString,
      "failed" -> o.failed.toString, "known_fault" -> o.expectedFault.toString,
      "note" -> Json.str(o.note), "seconds" -> Json.num(o.seconds),
      "jobs" -> attr.jobsByOp.getOrElse(o.id, Nil).size.toString)))
    val jobs = attr.c.jobs.map(j => Json.obj(Seq(
      "id" -> j.id.toString, "start_ms" -> j.startMs.toString, "end_ms" -> j.endMs.toString,
      "stages" -> Json.arr(j.stages.map(_.toString)))))
    val body = Json.obj(Seq(
      "workload" -> Json.str(name), "seed" -> seed.toString,
      "metrics" -> Json.obj(metrics.map(m => m.name -> Json.num(m.value))),
      "spans" -> Json.arr(spans), "ops" -> Json.arr(ops), "jobs" -> Json.arr(jobs)) ++ extras)
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.write(f.toPath, body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
