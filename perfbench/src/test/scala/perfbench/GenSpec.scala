package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  /** Every generated input of one seed, in its canonical encoding. */
  private def inputs(seed: Long): Seq[Array[Byte]] = {
    val txs = Gen.cardTransactions(seed, 2000)
    val h = Gen.health(seed, 2000)
    val z = Gen.zipf(seed)
    val docs = Gen.corpus(seed, z, 300)
    val (ups, dels) = Gen.cdcRound(seed, z, 0, docs.map(_.id), docs.size.toLong, 6, 4)
    Seq(Gen.csv(txs.map(_.csv)),
      Gen.csv(Gen.dayBatch(seed, 3, 200, 5, txs).map(_.csv)),
      Gen.csv(h.exercise.map(_.csv)), Gen.csv(h.weights.map(_.csv)),
      Gen.csv(h.recipes.map(_.csv)), Gen.csv(h.shopping.map(_.csv)),
      Gen.csv(docs.map(_.csv)), Gen.csv(ups.map(_.csv)),
      Gen.csv(dels.map(_.toString)))
  }

  test("the same seed gives byte-identical inputs") {
    val a = inputs(7)
    val b = inputs(7)
    assert(a.size == b.size)
    a.zip(b).foreach { case (x, y) => assert(java.util.Arrays.equals(x, y)) }
  }

  test("another seed gives other inputs") {
    inputs(7).zip(inputs(8)).foreach { case (x, y) =>
      assert(!java.util.Arrays.equals(x, y))
    }
  }

  test("card rows keep (date, amount, card, description) unique, and a day " +
      "batch re-sends only keys of the history") {
    val txs = Gen.cardTransactions(3, 5000)
    assert(txs.map(t => (t.date, t.cents, t.card, t.description)).distinct.size == txs.size)
    assert(txs.map(_.date).forall(d => !d.isBefore(Gen.start) && !d.isAfter(Gen.asOf)))
    val batch = Gen.dayBatch(3, 0, 500, 5, txs)
    assert(batch.map(_.key).distinct.size == batch.size)
    val keys = txs.map(_.key).toSet
    val resent = batch.filter(t => keys(t.key))
    assert(resent.nonEmpty && resent.size < batch.size / 5)
    assert(batch.filterNot(t => keys(t.key)).forall(_.date == Gen.asOf.plusDays(1)))
  }

  test("the document vocabulary is Zipfian: the top term far outnumbers the median one") {
    val z = Gen.zipf(5)
    val toks = Gen.corpus(5, z, 500).flatMap(_.text.split(' '))
    val counts = toks.groupBy(identity).map(_._2.size).toSeq.sorted
    assert(counts.last > 50 * counts(counts.size / 2))
  }

  test("a CDC round upserts and deletes disjoint live ids") {
    val z = Gen.zipf(9)
    val live = (0L until 1000L).toIndexedSeq
    val (ups, dels) = Gen.cdcRound(9, z, 2, live, 1000L, 10, 10)
    assert(ups.size == 10 && dels.size == 10)
    assert(ups.map(_.id).toSet.intersect(dels.toSet).isEmpty)
    assert(dels.forall(live.contains))
    assert(ups.count(_.id >= 1000L) == 5)
  }
}
