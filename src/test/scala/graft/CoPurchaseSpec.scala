package graft

import graft.graph.CoPurchase

/** The co-purchase kernel against a hand recount on planted baskets:
  * an item repeated within one order, a single-item basket, baskets
  * right at and one past the size cap, pairs seen once and twice.
  */
class CoPurchaseSpec extends SparkSpec {
  import spark.implicits._

  private val cap = CoPurchase.MaxBasket

  /** (order, item) rows. */
  private val planted: Seq[(Long, Long)] =
    Seq(1L -> 1L, 1L -> 2L, 1L -> 2L, 1L -> 3L) ++ // item 2 twice in one order
      Seq(2L -> 1L, 2L -> 2L, 2L -> 3L, 2L -> 9L) ++ // {1,2,3} again: support 2
      Seq(3L -> 4L) ++ // a basket of one item
      Seq(4L -> 1L, 4L -> 5L) ++ // (1,5) seen exactly once
      Seq(5L, 6L).flatMap(o => (0 until cap).map(i => o -> (100L + i))) ++
      Seq(7L, 8L).flatMap(o => (0 until cap + 1).map(i => o -> (300L + i))) ++
      Seq(9L -> 1L, 9L -> 9L, 9L -> 100L, 9L -> 101L)

  private def plantedBaskets(minSize: Int) =
    CoPurchase.baskets(planted.toDF("ok", "pk"), minSize)

  /** Sorted distinct item sets of the baskets a hand count keeps. */
  private def handBaskets(minSize: Int): Seq[Seq[Long]] =
    planted.groupBy(_._1).values.map(_.map(_._2).distinct.sorted).toSeq
      .filter(b => b.size >= minSize && b.size <= cap)

  /** Support of every k-combination seen in >= 2 baskets. */
  private def handCount(k: Int, minSize: Int): Map[Seq[Long], Long] =
    handBaskets(minSize).flatMap(_.combinations(k)).groupBy(identity)
      .map { case (c, xs) => c -> xs.size.toLong }.filter(_._2 >= 2)

  test("baskets: sorted distinct items; size-1 and over-cap baskets dropped") {
    val got = plantedBaskets(2).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(got(1L) == Seq(1L, 2L, 3L))
    assert(got(5L).size == cap)
    assert(got.keySet == Set(1L, 2L, 4L, 5L, 6L, 9L))
    assert(handBaskets(2).toSet == got.values.toSet)
  }

  test("pairs: equal the hand recount; once-seen and over-cap pairs are not edges") {
    val got = CoPurchase.pairs(plantedBaskets(2)).collect()
      .map(r => Seq(r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = handCount(2, 2)
    assert(got == want)
    assert(got(Seq(1L, 2L)) == 2L && got(Seq(1L, 3L)) == 2L)
    assert(got(Seq(100L, 149L)) == 2L) // a basket of exactly cap items counts
    assert(got(Seq(1L, 9L)) == 2L && got(Seq(100L, 101L)) == 3L)
    assert(!got.contains(Seq(1L, 5L))) // seen once
    assert(!got.keys.exists(_.exists(_ >= 300L))) // cap + 1 items: dropped
    assert(got.size == cap * (cap - 1) / 2 + 4)
  }

  test("directed: exactly the edges plus their reverses, no duplicates") {
    val b = plantedBaskets(2)
    val edges = CoPurchase.pairs(b).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val dir = CoPurchase.directed(b).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(edges.nonEmpty && edges.forall { case (a, c) => a < c })
    assert(dir.distinct.size == dir.size)
    assert(dir.toSet == edges ++ edges.map(_.swap))
  }

  test("triples: equal the hand recount over baskets of 3..cap items") {
    val got = CoPurchase.triples(plantedBaskets(3)).collect()
      .map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3))
      .toMap
    val want = handCount(3, 3)
    assert(got == want)
    assert(got(Seq(1L, 2L, 3L)) == 2L)
    assert(!got.contains(Seq(1L, 2L, 9L))) // seen once
    assert(got.size == cap * (cap - 1) * (cap - 2) / 6 + 1)
  }
}
