package perfbench

import scala.collection.mutable
import scala.util.Random

/** A generated directed graph with known structure:
  *  - `communities` contiguous id blocks; most edges stay inside a block;
  *  - a skewed-degree hub overlay (a few nodes with Zipf-popular in- and
  *    out-links);
  *  - planted directed cycles over runs of consecutive ids.
  * Every non-cycle edge climbs the (level, id) order of
  * [[GraphGen.level]], and every cycle occupies ids that are consecutive
  * in that order, so the strongly connected components are exactly the
  * planted cycles plus singletons.
  * Only cross-level pairs exist (the DAG is at most `Levels - 1` steps
  * deep outside the cycles), so the planted core — `coreSize` nodes
  * spread evenly over the levels and linked across them — gives each
  * member `coreSize * (Levels - 1) / Levels` core neighbours.
  */
final case class PlantedGraph(
    n: Int,
    edges: Array[(Long, Long)],
    community: Array[Int],
    cycles: Seq[Seq[Long]],
    core: Set[Long]) {

  /** Undirected simple adjacency, self-loops dropped. */
  lazy val undirected: Array[Array[Int]] = {
    val adj = Array.fill(n)(mutable.HashSet.empty[Int])
    edges.foreach { case (s, d) =>
      if (s != d) { adj(s.toInt) += d.toInt; adj(d.toInt) += s.toInt }
    }
    adj.map(_.toArray)
  }

  /** k-core by sequential peeling over distinct undirected neighbours. */
  def kCore(k: Int): Set[Long] = {
    val adj = undirected
    val deg = adj.map(_.length)
    val alive = Array.fill(n)(true)
    val queue = mutable.Queue.empty[Int]
    (0 until n).foreach(v => if (deg(v) < k) { alive(v) = false; queue += v })
    while (queue.nonEmpty) {
      val v = queue.dequeue()
      adj(v).foreach { u =>
        if (alive(u)) {
          deg(u) -= 1
          if (deg(u) < k) { alive(u) = false; queue += u }
        }
      }
    }
    (0 until n).filter(alive).map(_.toLong).toSet
  }

  /** Hop distances along directed edges from `root` (plain BFS). */
  def bfs(root: Long): Map[Long, Int] = {
    val out = Array.fill(n)(mutable.ArrayBuffer.empty[Int])
    edges.foreach { case (s, d) => out(s.toInt) += d.toInt }
    val dist = Array.fill(n)(-1)
    dist(root.toInt) = 0
    val q = mutable.Queue(root.toInt)
    while (q.nonEmpty) {
      val v = q.dequeue()
      out(v).foreach { u =>
        if (dist(u) < 0) { dist(u) = dist(v) + 1; q += u }
      }
    }
    (0 until n).filter(dist(_) >= 0).map(v => v.toLong -> dist(v)).toMap
  }
}

object GraphGen {

  /** Number of DAG levels: every non-cycle edge climbs the (level, id)
    * order, so the condensation is at most a few steps deep.
    */
  val Levels = 3

  /** Level of a node: ids in aligned blocks of 8 share a level, so a
    * planted cycle inside one block is consecutive in (level, id) order.
    */
  def level(v: Long): Int = ((v / 8) % Levels).toInt

  val CycleLen = 5

  def generate(seed: Long, n: Int, communities: Int, avgOut: Int,
      hubs: Int, hubLinks: Int, cycles: Int, coreSize: Int): PlantedGraph = {
    val rnd = new Random(seed)
    val block = n / communities
    val community = Array.tabulate(n)(v => math.min(v / block,
      communities - 1))
    val es = mutable.LinkedHashSet.empty[(Long, Long)]
    def key(v: Int): (Int, Int) = (level(v), v)
    def addOrdered(a: Int, b: Int): Unit =
      if (a != b) {
        val (lo, hi) =
          if (Ordering[(Int, Int)].lt(key(a), key(b))) (a, b) else (b, a)
        es += ((lo.toLong, hi.toLong))
      }
    // inter-level links only (same-level pairs are skipped), 9 in 10
    // inside the node's community
    (0 until n).foreach { v =>
      val c = community(v)
      val lo = c * block
      val hi = if (c == communities - 1) n else lo + block
      (0 until avgOut).foreach { _ =>
        val u = if (rnd.nextInt(10) < 9) lo + rnd.nextInt(hi - lo)
          else rnd.nextInt(n)
        if (level(u) != level(v)) addOrdered(v, u)
      }
    }
    // hub overlay: Zipf-popular hubs spread over the id range
    val hubIds = Array.tabulate(hubs)(i => (i.toLong * n / hubs +
      rnd.nextInt(math.max(1, n / hubs))).toInt)
    val hubZ = new Zipf(hubs, 1.1, rnd)
    (0 until hubLinks).foreach { _ =>
      val h = hubIds(hubZ.next())
      val r = rnd.nextInt(n)
      if (level(r) != level(h)) addOrdered(r, h)
    }
    // planted core: coreSize / Levels ids from each level, linked by all
    // cross-level pairs (a clique minus its same-level pairs)
    val byLevel = rnd.shuffle((0 until n).toVector).groupBy(v => level(v))
    val core = (0 until Levels).flatMap(l => byLevel(l).take(coreSize / Levels))
      .sorted
    for (i <- core.indices; j <- i + 1 until core.size
         if level(core(i)) != level(core(j)))
      addOrdered(core(i), core(j))
    // planted cycles: a run of `CycleLen` consecutive ids inside one
    // aligned block of 8, closed by one back edge
    val blocks = n / 8
    val planted = rnd.shuffle((0 until blocks).toVector).take(cycles)
      .sorted.map { b =>
        val start = b * 8 + rnd.nextInt(8 - CycleLen + 1)
        val ids = (start until start + CycleLen).map(_.toLong)
        ids.sliding(2).foreach { case Seq(a, b) => es += ((a, b)) }
        es += ((ids.last, ids.head))
        ids
      }
    PlantedGraph(n, es.toArray, community, planted, core.map(_.toLong).toSet)
  }
}
