package perfbench

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

class ChurnGenSpec extends AnyFunSuite {

  private def placementSet(s: Snapshot) = s.placements.toSet

  test("each round retires, adds and moves exactly 1 %") {
    val shards = 20000
    val rnd = new Random(42)
    var prev = ChurnGen.initial(rnd, shards)
    var nextId = prev.ids.max + 1
    (1 to 3).foreach { _ =>
      val next = ChurnGen.next(prev, rnd, nextId)
      nextId += shards / 100
      val (a, b) = (prev.ids.toSet, next.ids.toSet)
      assert(next.shards == shards)
      assert((a -- b).size == shards / 100, "retired shards")
      assert((b -- a).size == shards / 100, "new shards")
      val (pa, pb) = (placementSet(prev), placementSet(next))
      assert(pb.size == shards * ChurnGen.replicas)
      val churned = ChurnGen.replicas * shards / 100
      val moved = shards * ChurnGen.replicas / 100
      assert((pa -- pb).size == churned + moved, "deleted placement rows")
      assert((pb -- pa).size == churned + moved, "inserted placement rows")
      prev = next
    }
  }

  test("every shard keeps its replicas on distinct hosts") {
    val rnd = new Random(7)
    var s = ChurnGen.initial(rnd, 5000)
    (1 to 5).foreach(i => s = ChurnGen.next(s, rnd, 1L << 40 | i * 1000L))
    assert(s.hosts.forall(h => h.distinct.length == ChurnGen.replicas))
    assert(s.ids.distinct.length == s.shards)
  }

  test("the same seed gives the same sequence; another seed another one") {
    def run(seed: Long) = {
      val rnd = new Random(seed)
      val s0 = ChurnGen.initial(rnd, 2000)
      placementSet(ChurnGen.next(s0, rnd, s0.ids.max + 1))
    }
    assert(run(1) == run(1))
    assert(run(1) != run(2))
  }
}
