package graft.perfbench

import scala.util.Random

/** Seeded sparse graphs for the connected-components workload.
  *
  * The distributed min-label loop in `Dedup.duplicateClusters` costs far
  * more per round as rounds accumulate, so a seed that happened to draw a
  * graph needing more rounds would read as a slowdown. Every graph drawn
  * here therefore needs exactly `rounds` rounds: candidates are drawn
  * from the seeded generator and kept only when a local replay of the
  * loop's label rule converges in that many rounds. */
object CcGraphs {

  type Edge = (Long, Long)

  /** Rounds the loop runs on `edges` (the final, unchanged round
    * included), replaying its rule: a node's next label is the least of
    * its own label, its neighbours' labels and its label's label. */
  def loopRounds(edges: Seq[Edge]): Int = {
    val adj = (edges ++ edges.map(_.swap)).distinct.groupMap(_._1)(_._2)
    var label: Map[Long, Long] = adj.keys.map(v => v -> v).toMap
    var rounds = 0
    var changed = true
    while (changed) {
      val next = label.map { case (v, l) =>
        val nl = adj(v).map(label).min
        v -> math.min(math.min(l, nl), label(l))
      }
      changed = next.exists { case (v, l) => l < label(v) }
      label = next
      rounds += 1
    }
    rounds
  }

  /** Exact components by union-find: node → least id of its component,
    * the labelling `duplicateClusters` returns. */
  def unionFind(edges: Seq[Edge]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** One graph: `nodes` ids drawn from a seeded permutation, joined by
    * short random hops, redrawn until it needs exactly `rounds`
    * loop rounds. */
  def graph(rnd: Random, nodes: Int, edges: Int, rounds: Int): Seq[Edge] = {
    var g: Seq[Edge] = Nil
    var tries = 0
    while (g.isEmpty || loopRounds(g) != rounds) {
      tries += 1
      require(tries <= 10000,
        s"no graph with $nodes nodes and $edges edges needs $rounds rounds")
      val ids = rnd.shuffle((0L until nodes.toLong * 4).toVector).take(nodes)
      g = Seq.fill(edges) {
        // short hops along the drawn id order: long, thin components
        val a = rnd.nextInt(nodes)
        val b = math.min(nodes - 1, a + 1 + rnd.nextInt(3))
        (ids(a), ids(b))
      }.filter { case (a, b) => a != b }
    }
    g
  }

  /** The graphs one run feeds the loop, in order, from the run's seed. */
  def graphs(seed: Long, count: Int, nodes: Int, edges: Int,
             rounds: Int): Seq[Seq[Edge]] = {
    val rnd = new Random(seed)
    Seq.fill(count)(graph(rnd, nodes, edges, rounds))
  }
}
