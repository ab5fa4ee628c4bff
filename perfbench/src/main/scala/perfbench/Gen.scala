package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Pure Scala, no Spark: the same seed always
  * yields the same inputs, and the benchmark's correctness models are built
  * from these values, never from the program's output.
  */
object Gen {

  /** One independent random stream per (seed, purpose, index). */
  def rng(seed: Long, purpose: Long, index: Long = 0L): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (purpose * 0xBF58476D1CE4E5B9L + index))

  // ---------------------------------------------------------------- corpus

  final case class CorpusShape(docs: Int, vocab: Int, zipfS: Double,
                               minWords: Int, maxWords: Int)

  /** Documents of Zipf-distributed words: `(doc_id, text)`, words joined by
    * single spaces. The vocabulary is random lowercase words, distinct.
    */
  def corpus(seed: Long, shape: CorpusShape): Array[(Long, String)] = {
    val vr = rng(seed, 1)
    val seen = scala.collection.mutable.HashSet.empty[String]
    val vocab = new Array[String](shape.vocab)
    var i = 0
    while (i < shape.vocab) {
      val len = 2 + vr.nextInt(9)
      val w = new String(Array.fill(len)(('a' + vr.nextInt(26)).toChar))
      if (seen.add(w)) { vocab(i) = w; i += 1 }
    }
    val cdf = new Array[Double](shape.vocab)
    var acc = 0.0
    i = 0
    while (i < shape.vocab) { acc += math.pow(i + 1.0, -shape.zipfS); cdf(i) = acc; i += 1 }
    i = 0
    while (i < shape.vocab) { cdf(i) /= acc; i += 1 }
    val dr = rng(seed, 2)
    Array.tabulate(shape.docs) { d =>
      val n = shape.minWords + dr.nextInt(shape.maxWords - shape.minWords + 1)
      val sb = new StringBuilder
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        val ix = java.util.Arrays.binarySearch(cdf, dr.nextDouble())
        sb.append(vocab(math.min(if (ix >= 0) ix else -ix - 1, shape.vocab - 1)))
        j += 1
      }
      (d.toLong, sb.toString)
    }
  }

  // ---------------------------------------------------------------- orders

  final case class Order(key: Long, cust: Long, status: String, price: Double,
                         priority: String, year: Int)

  val Years: Seq[Int] = 1995 to 2001
  val Priorities: Array[String] =
    Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val Statuses: Array[String] = Array("O", "F", "P")
  val Customers = 15000

  def order(r: SplittableRandom, key: Long, year: Int): Order =
    Order(key, 1L + r.nextInt(Customers), Statuses(r.nextInt(3)),
      cents(900 + r.nextDouble() * 450000), Priorities(r.nextInt(5)), year)

  /** Orders-shaped rows (the sf0.1 orders row count by default): keys
    * 0..n-1, order years 1995-2001 drawn at random.
    */
  def orders(seed: Long, n: Int): Array[Order] = {
    val r = rng(seed, 3)
    Array.tabulate(n)(k => order(r, k.toLong, Years(r.nextInt(Years.size))))
  }

  def cents(x: Double): Double = math.rint(x * 100) / 100

  // ---------------------------------------------------------------- events

  final case class Event(id: Long, tsMicros: Long, user: Long, etype: String,
                         value: Double, props: String)

  final case class StreamShape(events: Int, shards: Int, redeliveryRate: Double,
                               days: Int)

  val EventTypes: Array[String] = Array("view", "click", "purchase", "signup", "error")
  /** 2024-01-01T00:00:00Z in microseconds. */
  val EventEpochMicros = 1704067200000000L

  /** Time-ordered event shards with planted redeliveries: every original
    * event lands in the shard of its time slice; a redelivered copy (same
    * row) is appended to the same shard or to the next one.
    */
  def eventShards(seed: Long, shape: StreamShape): Array[Array[Event]] = {
    val r = rng(seed, 4)
    val span = shape.days * 86400L * 1000000L
    val ts = Array.fill(shape.events)((r.nextDouble() * span).toLong)
    java.util.Arrays.sort(ts)
    val evs = Array.tabulate(shape.events) { i =>
      Event(i.toLong, EventEpochMicros + ts(i), 1L + r.nextInt(1500),
        EventTypes(r.nextInt(EventTypes.length)), cents(r.nextDouble() * 200),
        s"""{"k": ${r.nextInt(100)}}""")
    }
    val per = shape.events / shape.shards
    val originals = Array.tabulate(shape.shards) { s =>
      evs.slice(s * per, if (s == shape.shards - 1) shape.events else (s + 1) * per)
    }
    val shards = originals.map(scala.collection.mutable.ArrayBuffer.from(_))
    val dr = rng(seed, 5)
    for (s <- 0 until shape.shards; e <- originals(s)) {
      if (dr.nextDouble() < shape.redeliveryRate) {
        val to = if (s + 1 < shape.shards && dr.nextBoolean()) s + 1 else s
        shards(to) += e
      }
    }
    shards.map(_.toArray)
  }
}
