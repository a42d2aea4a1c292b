package perfbench

import scala.util.Random

/** One table's block placements: shard `i` has id `ids(i)`, length
  * `lengths(i)` and one replica on each host in `hosts(i)`. */
final case class Snapshot(ids: Array[Long], lengths: Array[Long],
                          hosts: Array[Array[Int]]) {
  def shards: Int = ids.length

  /** Placement rows (shard_id, shard_length, hostname) of shard `i`. */
  def placementsOf(i: Int): Seq[(Long, Long, String)] =
    hosts(i).toSeq.map(h => (ids(i), lengths(i), ChurnGen.hostname(h)))

  def placements: Iterator[(Long, Long, String)] = ids.indices.iterator.flatMap(placementsOf)
}

/** Seeded generator of the `sync_churn` snapshot sequence. Each snapshot
  * retires `frac` of the previous snapshot's shards, adds as many new
  * shards, and moves `frac` of the placements to another host, so the
  * shard and placement counts stay constant and every diff has the same
  * size: 2 × round(frac × shards) shard ids and
  * 2 × (replicas × round(frac × shards) + round(frac × placements))
  * placement rows.
  */
object ChurnGen {
  val hostCount = 32
  val replicas = 3
  val frac = 0.01

  def hostname(h: Int): String = f"dn$h%02d.cluster.local"

  private def newShard(rnd: Random): (Long, Array[Int]) = {
    val length = 1L + rnd.nextInt(128 * 1024 * 1024)
    (length, distinctHosts(rnd, replicas, Set.empty))
  }

  private def distinctHosts(rnd: Random, k: Int, avoid: Set[Int]): Array[Int] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (out.size < k) {
      val h = rnd.nextInt(hostCount)
      if (!avoid(h)) out += h
    }
    out.toArray
  }

  /** `k` distinct indices in [0, n), in random order. */
  private def sample(rnd: Random, n: Int, k: Int): Array[Int] = {
    val chosen = scala.collection.mutable.LinkedHashSet.empty[Int]
    while (chosen.size < k) chosen += rnd.nextInt(n)
    chosen.toArray
  }

  def initial(rnd: Random, shards: Int, firstId: Long = 1L << 30): Snapshot = {
    val fresh = Array.fill(shards)(newShard(rnd))
    Snapshot(Array.tabulate(shards)(i => firstId + i), fresh.map(_._1), fresh.map(_._2))
  }

  /** The next snapshot; new shard ids start at `nextId`. */
  def next(prev: Snapshot, rnd: Random, nextId: Long): Snapshot = {
    val n = prev.shards
    val churn = math.round(frac * n).toInt
    val moves = math.round(frac * n * replicas).toInt
    val retired = sample(rnd, n, churn).toSet
    val kept = (0 until n).filterNot(retired)
    val hosts = kept.map(i => prev.hosts(i).clone()).toArray
    // move distinct placements of surviving shards; the new host holds
    // neither an old nor a new replica of the shard, so each move is one
    // deleted plus one inserted placement row
    sample(rnd, kept.size * replicas, moves).foreach { p =>
      val (s, r) = (p / replicas, p % replicas)
      val avoid = prev.hosts(kept(s)).toSet ++ hosts(s)
      hosts(s)(r) = distinctHosts(rnd, 1, avoid).head
    }
    val fresh = Array.fill(churn)(newShard(rnd))
    Snapshot(
      kept.map(prev.ids).toArray ++ Array.tabulate(churn)(nextId + _),
      kept.map(prev.lengths).toArray ++ fresh.map(_._1),
      hosts ++ fresh.map(_._2))
  }
}
