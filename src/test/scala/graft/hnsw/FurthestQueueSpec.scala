package graft.hnsw

import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** Queue invariants (reference: src/data_structures/queue.rs:207-226 smoke
  * test, strengthened to seeded property loops). */
class FurthestQueueSpec extends AnyFunSuite {

  private def randomEntries(rng: Random, n: Int): List[(Long, Double)] =
    List.fill(n)((rng.nextInt(50).toLong, (rng.nextInt(100) / 10.0)))

  test("insert keeps ascending (dist, id) order for arbitrary sequences") {
    val rng = new Random(1)
    for (_ <- 1 to 200) {
      val es = randomEntries(rng, rng.nextInt(40))
      val q = FurthestQueue.empty
      es.foreach { case (id, d) => q.insert(id, d) }
      val got = q.toArray.map(n => (n.dist, n.dst)).toList
      assert(got == es.map { case (id, d) => (d, id) }.sorted)
    }
  }

  test("getNearest/getFurthest/popFurthest agree with sorted order") {
    val rng = new Random(2)
    for (_ <- 1 to 200) {
      val es = randomEntries(rng, 1 + rng.nextInt(40))
      val q = FurthestQueue.empty
      es.foreach { case (id, d) => q.insert(id, d) }
      val sorted = es.map { case (id, d) => (d, id) }.sorted
      assert(q.getNearest.map(n => (n.dist, n.dst)).contains(sorted.head))
      assert(q.getFurthest.map(n => (n.dist, n.dst)).contains(sorted.last))
      val popped = q.popFurthest()
      assert(popped.map(n => (n.dist, n.dst)).contains(sorted.last))
      assert(q.size == es.size - 1)
    }
  }

  test("dropFurthest leaves the queue popFurthest leaves; loadFrom reuses a NearestQueue") {
    val rng = new Random(6)
    val nq = NearestQueue.empty
    for (_ <- 1 to 200) {
      val es = randomEntries(rng, rng.nextInt(40))
      val a = FurthestQueue.empty
      es.foreach { case (id, d) => a.insert(id, d) }
      val b = a.copy()
      a.popFurthest()
      b.dropFurthest()
      assert(a == b)
      // a reused frontier pops what a fresh one pops
      nq.loadFrom(b)
      val fresh = NearestQueue.fromFurthestQueue(b)
      while (fresh.nonEmpty) {
        assert(nq.nearestDist == fresh.nearestDist)
        assert(nq.popNearestDst() == fresh.popNearestDst())
      }
      assert(!nq.nonEmpty)
    }
  }

  test("trimToKNearest keeps the k best; kNearest is a prefix") {
    val rng = new Random(3)
    for (_ <- 1 to 200) {
      val es = randomEntries(rng, rng.nextInt(40))
      val k = rng.nextInt(10)
      val q = FurthestQueue.empty
      es.foreach { case (id, d) => q.insert(id, d) }
      val expect = es.map { case (id, d) => (d, id) }.sorted.take(k)
      assert(q.kNearest(k).map(n => (n.dist, n.dst)) == expect)
      q.trimToKNearest(k)
      assert(q.toArray.map(n => (n.dist, n.dst)).toList == expect)
    }
  }

  test("NearestQueue pops candidates in ascending (dist, id) order") {
    val rng = new Random(4)
    for (_ <- 1 to 200) {
      val es = randomEntries(rng, rng.nextInt(40))
      val fq = FurthestQueue.empty
      es.foreach { case (id, d) => fq.insert(id, d) }
      val nq = NearestQueue.fromFurthestQueue(fq)
      val popped = Iterator.continually(nq.popNearest())
        .takeWhile(_.isDefined).map(_.get).map(n => (n.dist, n.dst)).toList
      assert(popped == es.map { case (id, d) => (d, id) }.sorted)
    }
  }

  test("NearestQueue.insert maintains pop order mid-traversal") {
    val fq = FurthestQueue.empty
    fq.insert(1, 1.0); fq.insert(2, 3.0)
    val nq = NearestQueue.fromFurthestQueue(fq)
    nq.insert(3, 2.0)
    nq.insert(4, 0.5)
    val order = Iterator.continually(nq.popNearest())
      .takeWhile(_.isDefined).map(_.get.dst).toList
    assert(order == List(4, 1, 3, 2))
  }

  test("map remaps ids and distances preserving order (queue.rs:68-85)") {
    val q = FurthestQueue.fromUnsorted(Seq(Neighbor(1, 0.5), Neighbor(2, 0.1)))
    val mapped = q.map(_ * 10, _ * 2)
    assert(mapped.toArray.toList == List(Neighbor(20, 0.2), Neighbor(10, 1.0)))
  }
}
