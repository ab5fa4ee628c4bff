package perfbench

import org.scalatest.funsuite.AnyFunSuite
import Gen.{Event, Order}
import Checks.LakeModel

/** The benchmark's own checks must reject wrong program output, and its
  * inputs must be a pure function of the seed.
  */
class ChecksSpec extends AnyFunSuite {

  private val corpus = Gen.corpus(7, Gen.CorpusShape(docs = 200, vocab = 500, zipfS = 1.07,
    minWords = 5, maxWords = 30))

  test("word count check accepts the reference counts and rejects one dropped key") {
    val want = Checks.wordCounts(corpus.iterator.map(_._2))
    assert(Checks.sameCounts("wc", want.toSeq, want).isEmpty)
    assert(Checks.sameCounts("wc", want.toSeq.tail, want).isDefined)
    val (k, n) = want.head
    assert(Checks.sameCounts("wc", want.updated(k, n + 1).toSeq, want).isDefined)
    assert(Checks.sameCounts("wc", want.toSeq :+ want.head, want).isDefined, "duplicate key")
  }

  test("char counts include spaces and agree with the text length") {
    val chars = Checks.charCounts(corpus.iterator.map(_._2))
    assert(chars.values.sum == corpus.map(_._2.length.toLong).sum)
    assert(chars.contains(" "))
  }

  test("sorted reduce check rejects values that arrived out of order") {
    val want = Checks.postingSums(corpus.iterator)
    val good = want.toSeq.map { case (w, (n, s)) => (w, n, s, true) }
    assert(Checks.sortedReduce(good, want).isEmpty)
    val bad = good.updated(0, good.head.copy(_4 = false))
    assert(Checks.sortedReduce(bad, want).isDefined)
  }

  private def o(k: Long, price: Double = 10.0, year: Int = 1995) =
    Order(k, 1L, "O", price, "5-LOW", year)

  test("lake model applies D > U > I > K per key") {
    val m0 = LakeModel(Seq(o(1), o(2), o(3), o(4)).map(r => r.key -> r).toMap)
    val m1 = m0.merge(Seq(
      o(1, 11) -> "U", o(1) -> "D",   // delete wins
      o(2, 22) -> "U", o(2) -> "K",   // update wins
      o(3, 33) -> "I",                // insert of a present key: ignored
      o(5, 55) -> "I", o(5) -> "K",   // insert wins
      o(6, 66) -> "U", o(7) -> "D"))  // absent keys: nothing
    assert(m1.rows == Map(2L -> o(2, 22), 3L -> o(3), 4L -> o(4), 5L -> o(5, 55)))
  }

  test("lake check rejects one stale row") {
    val m0 = LakeModel(Seq(o(1), o(2), o(3)).map(r => r.key -> r).toMap)
    val m1 = m0.updateWhere(_.key == 2, r => r.copy(price = r.price + 1.0))
    assert(Checks.sameRows("t", m1.rows.values.toSeq, m1.rows.values).isEmpty)
    assert(Checks.sameRows("t", m0.rows.values.toSeq, m1.rows.values).isDefined)
    val deleted = m1.deleteWhere(_.key == 3)
    assert(Checks.sameRows("t", m1.rows.values.toSeq, deleted.rows.values).isDefined)
  }

  private val streamShape = Gen.StreamShape(events = 2000, shards = 5, redeliveryRate = 0.05, days = 5)

  test("stream check accepts the distinct events and rejects a duplicate event") {
    val shards = Gen.eventShards(3, streamShape)
    val distinct = shards.flatten.distinct.toSeq
    assert(shards.map(_.length).sum > distinct.size, "redeliveries are planted")
    assert(distinct.size == streamShape.events)
    assert(Checks.streamTable(distinct, shards).isEmpty)
    assert(Checks.streamTable(distinct :+ distinct.head, shards).isDefined)
    assert(Checks.streamTable(distinct.tail, shards).isDefined)
  }

  test("shards are time-ordered and redeliveries stay within one shard of the original") {
    val shards = Gen.eventShards(3, streamShape)
    val firstShard = shards.zipWithIndex.flatMap { case (s, i) => s.map(_.id -> i) }
      .groupMapReduce(_._1)(_._2)(math.min)
    shards.zipWithIndex.foreach { case (s, i) =>
      s.foreach(e => assert(i - firstShard(e.id) <= 1))
      val originals = s.toSeq.distinct.filter(e => firstShard(e.id) == i).map(_.tsMicros)
      assert(originals == originals.sorted)
    }
  }

  test("the same seed regenerates identical inputs; another seed changes them") {
    val shape = Gen.CorpusShape(docs = 50, vocab = 100, zipfS = 1.07, minWords = 5, maxWords = 10)
    assert(Gen.corpus(1, shape).sameElements(Gen.corpus(1, shape)))
    assert(!Gen.corpus(1, shape).sameElements(Gen.corpus(2, shape)))
    assert(Gen.orders(1, 100).sameElements(Gen.orders(1, 100)))
    assert(!Gen.orders(1, 100).sameElements(Gen.orders(2, 100)))
    def flat(seed: Long): Seq[Event] = Gen.eventShards(seed, streamShape).toSeq.flatMap(_.toSeq)
    assert(flat(1) == flat(1))
    assert(flat(1) != flat(2))
  }

  test("millisecond median interpolates within tied readings") {
    assert(Stats.msMedianSeconds(Seq.empty) == 0.0)
    assert(math.abs(Stats.msMedianSeconds(Seq(10L, 10L, 10L, 10L)) - 0.010) < 1e-12)
    val (low, high) = (Stats.msMedianSeconds(Seq(10L, 10L, 10L, 11L)),
      Stats.msMedianSeconds(Seq(10L, 11L, 11L, 11L)))
    assert(0.0095 < low && low < high && high < 0.0115)
  }
}
