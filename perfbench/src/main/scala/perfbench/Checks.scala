package perfbench

import Gen.{Event, Order}

/** Reference computations made apart from the program, and the comparisons
  * that decide whether an operation's output is correct. Each check returns
  * `None` when the output matches and `Some(reason)` otherwise.
  */
object Checks {

  // ------------------------------------------------------- mapreduce corpus

  def wordCounts(texts: Iterator[String]): Map[String, Long] = {
    val m = scala.collection.mutable.HashMap.empty[String, Long]
    texts.foreach(_.split(" ").foreach(w => if (w.nonEmpty) m(w) = m.getOrElse(w, 0L) + 1))
    m.toMap
  }

  /** Counts of every character, spaces included (the sample client's job). */
  def charCounts(texts: Iterator[String]): Map[String, Long] = {
    val m = scala.collection.mutable.HashMap.empty[Char, Long]
    texts.foreach(_.foreach(c => m(c) = m.getOrElse(c, 0L) + 1))
    m.iterator.map { case (c, n) => c.toString -> n }.toMap
  }

  /** Per word: (occurrences, sum of the doc ids holding them). */
  def postingSums(docs: Iterator[(Long, String)]): Map[String, (Long, Long)] = {
    val m = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
    docs.foreach { case (id, t) =>
      t.split(" ").foreach { w =>
        if (w.nonEmpty) { val (n, s) = m.getOrElse(w, (0L, 0L)); m(w) = (n + 1, s + id) }
      }
    }
    m.toMap
  }

  def sameCounts[K, V](what: String, got: Seq[(K, V)], want: Map[K, V]): Option[String] = {
    val gotMap = got.toMap
    if (gotMap.size != got.size) Some(s"$what: ${got.size - gotMap.size} duplicate keys")
    else if (gotMap == want) None
    else {
      val missing = want.keySet -- gotMap.keySet
      val extra = gotMap.keySet -- want.keySet
      val wrong = want.collectFirst { case (k, v) if gotMap.get(k).exists(_ != v) =>
        s"$k: got ${gotMap(k)}, want $v" }
      Some(s"$what: ${missing.size} keys missing, ${extra.size} unexpected" +
        wrong.map(w => s", first wrong count $w").getOrElse(""))
    }
  }

  /** `runSorted` output rows are (word, occurrences, sum of doc ids, values
    * arrived in order).
    */
  def sortedReduce(got: Seq[(String, Long, Long, Boolean)],
                   want: Map[String, (Long, Long)]): Option[String] = {
    val unordered = got.filterNot(_._4)
    if (unordered.nonEmpty)
      Some(s"runSorted: values of ${unordered.size} keys arrived out of order " +
        s"(first: ${unordered.head._1})")
    else sameCounts("runSorted", got.map(r => r._1 -> (r._2, r._3)), want)
  }

  // ---------------------------------------------------------------- lake

  /** The table as the store's documented semantics say it must be. */
  final case class LakeModel(rows: Map[Long, Order]) {
    /** MERGE: per key at most one op applies, precedence D > U > I > K;
      * U and D of an absent key and I of a present key change nothing.
      */
    def merge(batch: Seq[(Order, String)]): LakeModel =
      LakeModel(batch.groupBy(_._1.key).values
        .map(_.minBy(r => "DUIK".indexOf(r._2)))
        .foldLeft(rows) { case (m, (o, op)) =>
          op match {
            case "D" => m - o.key
            case "U" if m.contains(o.key) => m.updated(o.key, o)
            case "I" if !m.contains(o.key) => m.updated(o.key, o)
            case _ => m
          }
        })
    def updateWhere(p: Order => Boolean, f: Order => Order): LakeModel =
      LakeModel(rows.map { case (k, o) => k -> (if (p(o)) f(o) else o) })
    def deleteWhere(p: Order => Boolean): LakeModel =
      LakeModel(rows.filterNot { case (_, o) => p(o) })
  }

  /** Multiset equality of table rows, reporting the first difference. */
  def sameRows[T](what: String, got: Seq[T], want: Iterable[T]): Option[String] = {
    def counts(xs: Iterable[T]) = xs.groupMapReduce(identity)(_ => 1)(_ + _)
    val (g, w) = (counts(got), counts(want))
    if (g == w) None
    else {
      val extra = g.collectFirst { case (r, n) if w.getOrElse(r, 0) < n => r }
      val missing = w.collectFirst { case (r, n) if g.getOrElse(r, 0) < n => r }
      Some(s"$what: ${got.size} rows, want ${want.size}" +
        extra.map(r => s"; unexpected $r").getOrElse("") +
        missing.map(r => s"; missing $r").getOrElse(""))
    }
  }

  // ---------------------------------------------------------------- stream

  /** After a drain the table must hold each distinct input event once. */
  def streamTable(got: Seq[Event], shards: Array[Array[Event]]): Option[String] = {
    val ids = got.map(_.id)
    val dupIds = ids.size - ids.distinct.size
    if (dupIds > 0) Some(s"stream table: $dupIds event_id values appear more than once")
    else sameRows("stream table", got, shards.iterator.flatten.toSeq.distinct)
  }
}
