package perfbench

import java.util.concurrent.locks.LockSupport
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.core.{JobTracker, MapReduce}
import graft.queries.Relational

/** The client's map and reduce functions. They live in an object so the
  * closures Spark ships capture nothing but their arguments.
  */
object CorpusJobs {
  val words: String => Iterator[(String, Long)] =
    t => t.split(" ").iterator.filter(_.nonEmpty).map(w => (w, 1L))
  val chars: String => Iterator[(String, Long)] =
    t => t.iterator.map(c => (String.valueOf(c), 1L))
  val sum: (String, Iterator[Long]) => Iterator[(String, Long)] =
    (k, vs) => Iterator((k, vs.sum))
  val postings: ((Long, String)) => Iterator[(String, Long)] =
    d => d._2.split(" ").iterator.filter(_.nonEmpty).map(w => (w, d._1))
  /** Per key (occurrences, sum of values, values arrived in order). */
  val orderedSum: (String, Iterator[Long]) => Iterator[(String, Long, Long, Boolean)] =
    (k, vs) => {
      var prev = Long.MinValue; var ordered = true; var n = 0L; var s = 0L
      vs.foreach { v => if (v < prev) ordered = false; prev = v; n += 1; s += v }
      Iterator((k, n, s, ordered))
    }
}

/** `mapreduce_corpus`: the reference's own job shape over a seeded corpus
  * of Zipf-distributed words. Each round runs four jobs, each started with
  * `JobTracker.start`, polled with `getJobState` and finished with
  * `close()`.
  */
final class MapReduceCorpus(spark: SparkSession, seed: Long, log: RunLog)
    extends Workload(spark, seed, log) {
  import spark.implicits._

  val shape = Gen.CorpusShape(docs = 6000, vocab = 20000, zipfS = 1.07,
    minWords = 10, maxWords = 80)
  lazy val docs: Array[(Long, String)] = Gen.corpus(seed, shape)
  lazy val wantWords = Checks.wordCounts(docs.iterator.map(_._2))
  lazy val wantChars = Checks.charCounts(docs.iterator.map(_._2))
  lazy val wantPostings = Checks.postingSums(docs.iterator)
  private var dir = ""

  def setup(d: String): Unit = {
    docs; wantWords; wantChars; wantPostings
    dir = d
    log.phase("stage.corpus") {
      docs.toSeq.toDF("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism)
        .write.parquet(s"$dir/documents.parquet")
    }
  }

  private val Done = JobTracker.JobState(JobTracker.REDUCE, 100f)

  private def job[T](kind: String, call: String)(action: => T): (Option[T], OpRec) =
    log.op(kind, call) {
      val h = log.call("core.JobTracker.start")(JobTracker.start(spark, kind)(action))
      log.call("core.JobHandle.getJobState") {
        while (h.getJobState != Done) LockSupport.parkNanos(1000000L)
      }
      val out = log.call("core.JobHandle.close")(h.close())
      val st = h.getJobState
      if (st != Done) throw new IllegalStateException(s"handle reports $st after close()")
      out
    }

  private def texts: Dataset[String] =
    spark.read.parquet(s"$dir/documents.parquet").select("text").as[String]

  def round(r: Int): Unit = {
    val (wc, wcOp) = job("word_count", "core.MapReduce.run") {
      MapReduce.run(texts)(CorpusJobs.words)(CorpusJobs.sum).collect()
    }
    wc.foreach(rows => log.check(wcOp, Checks.sameCounts("word count", rows.toSeq, wantWords)))

    val (cc, ccOp) = job("char_count", "core.MapReduce.run") {
      MapReduce.run(texts)(CorpusJobs.chars)(CorpusJobs.sum).collect()
    }
    cc.foreach(rows => log.check(ccOp, Checks.sameCounts("char count", rows.toSeq, wantChars)))

    val (cd, cdOp) = job("char_count_df", "queries.Relational.charCount") {
      Relational.charCount(spark, dir).as[(String, Long)].collect()
    }
    cd.foreach(rows => log.check(cdOp, Checks.sameCounts("char count (DataFrame)", rows.toSeq, wantChars)))

    val (sr, srOp) = job("sorted_reduce", "core.MapReduce.runSorted") {
      MapReduce.runSorted(spark.read.parquet(s"$dir/documents.parquet")
          .select("doc_id", "text").as[(Long, String)])(CorpusJobs.postings)(
          CorpusJobs.orderedSum).collect()
    }
    sr.foreach(rows => log.check(srOp, Checks.sortedReduce(rows.toSeq, wantPostings)))
  }

  /** Corpus documents each job reads, per second. */
  def endToEnd(): Seq[Metric] = Seq(
    Metric("rows_per_s", "rows/s", docs.length.toDouble * log.timedOps.size / timedSeconds))

  def perLayer(a: Attribution): Seq[Metric] = {
    val st = a.stages(log.timedOps)
    Seq(
      Metric("core.word_count_s", "s", medianOf("word_count")),
      Metric("core.char_count_s", "s", medianOf("char_count")),
      Metric("core.char_count_df_s", "s", medianOf("char_count_df")),
      Metric("core.sorted_reduce_s", "s", medianOf("sorted_reduce")),
      Metric("core.map_stage_s", "s/round", a.perRound(st.map(_.mapRunMs).sum / 1e3)),
      Metric("core.reduce_stage_s", "s/round", a.perRound(st.map(_.resultRunMs).sum / 1e3)),
      Metric("core.shuffle_records", "count/round", a.perRound(st.map(_.shuffleRecords).sum.toDouble)))
  }
}
