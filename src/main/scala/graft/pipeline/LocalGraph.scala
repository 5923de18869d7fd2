package graft.pipeline

import org.apache.spark.sql.Row
import org.apache.spark.unsafe.types.UTF8String

/** A small graph held on the driver: the one kernel behind every "fits
  * on the driver" path of [[Graph]] and [[KgPipeline.canonFromEdges]]
  * (the dedup closures of `dupClusters` and `semDedup` reach it through
  * [[Graph.components]]).
  *
  * Built from collected edges `src(i) → dst(i)`. Node ids map to the
  * dense range `0 until n` by binary search over the sorted distinct ids
  * (the CompactDict convention), so dense order IS id order and the
  * smallest dense id of a set names its smallest node. The edges are
  * kept as given (directed, duplicates and self-loops included) for
  * [[pageRank]] and [[components]]; the per-node counts read an
  * undirected simple view built once on first use, as `Graph.canon`
  * builds it: self-loops dropped, `{a, b}` kept once, CSR adjacency
  * with each neighbor list ascending. Every array is primitive, so a
  * probe is an array read, not a hash lookup (the CAMEL Hash Table
  * idea: compact, read-only probe arrays).
  */
private[graft] final class LocalGraph private (
    val ids: Array[Long], src: Array[Int], dst: Array[Int]) {

  def n: Int = ids.length

  private lazy val (off, adj): (Array[Int], Array[Int]) = {
    val keys = new Array[Long](src.length)
    var m = 0
    for (i <- src.indices) if (src(i) != dst(i)) {
      val (a, b) = (math.min(src(i), dst(i)), math.max(src(i), dst(i)))
      keys(m) = (a.toLong << 32) | b
      m += 1
    }
    java.util.Arrays.sort(keys, 0, m)
    val off = new Array[Int](n + 1)
    var u = 0
    var prev = -1L
    for (i <- 0 until m) if (keys(i) != prev) {
      prev = keys(i)
      keys(u) = prev
      off((prev >>> 32).toInt + 1) += 1
      off(prev.toInt + 1) += 1
      u += 1
    }
    for (v <- 0 until n) off(v + 1) += off(v)
    // keys ascend by (a, b): every node's lower neighbors arrive before
    // its higher ones, each run ascending, so the lists come out sorted
    val adj = new Array[Int](2 * u)
    val fill = off.clone()
    for (i <- 0 until u) {
      val (a, b) = ((keys(i) >>> 32).toInt, keys(i).toInt)
      adj(fill(a)) = b; fill(a) += 1
      adj(fill(b)) = a; fill(b) += 1
    }
    (off, adj)
  }

  /** Distinct-neighbor count per node of the undirected simple view. */
  def degrees: Array[Long] = Array.tabulate(n)(v => (off(v + 1) - off(v)).toLong)

  /** Triangles each node belongs to. Each undirected edge is oriented
    * from its lower endpoint under (degree, id), the order the
    * distributed `Graph.triangles` uses, which bounds every oriented
    * out-degree by O(sqrt(m)); a marker array over `u`'s out-neighbors
    * then closes each wedge `u → v → w` in O(1), so the work is
    * O(m^1.5) and each triangle is found once, from its lowest node.
    */
  def triangles: Array[Long] = {
    def below(a: Int, b: Int): Boolean = {
      val (da, db) = (off(a + 1) - off(a), off(b + 1) - off(b))
      da < db || (da == db && a < b)
    }
    val outOff = new Array[Int](n + 1)
    for (v <- 0 until n; i <- off(v) until off(v + 1) if below(v, adj(i)))
      outOff(v + 1) += 1
    for (v <- 0 until n) outOff(v + 1) += outOff(v)
    val out = new Array[Int](outOff(n))
    val fill = outOff.clone()
    for (v <- 0 until n; i <- off(v) until off(v + 1) if below(v, adj(i))) {
      out(fill(v)) = adj(i); fill(v) += 1
    }
    val tri = new Array[Long](n)
    val mark = Array.fill(n)(-1)
    for (u <- 0 until n) {
      var i = outOff(u)
      while (i < outOff(u + 1)) { mark(out(i)) = u; i += 1 }
      i = outOff(u)
      while (i < outOff(u + 1)) {
        val v = out(i)
        var j = outOff(v)
        while (j < outOff(v + 1)) {
          val w = out(j)
          if (mark(w) == u) { tri(u) += 1; tri(v) += 1; tri(w) += 1 }
          j += 1
        }
        i += 1
      }
    }
    tri
  }

  /** Nodes at undirected distance exactly 2 per node: reached through a
    * shared neighbor, not adjacent, not the node itself. Two stamp
    * arrays (adjacent to `x`, already counted for `x`) replace the
    * distributed path's pair distinct and anti-join; the work is the
    * wedge count, sum over nodes of degree squared, the row volume the
    * distributed mid-join shuffles.
    */
  def twoHop: Array[Long] = {
    val adjacent = Array.fill(n)(-1)
    val counted = Array.fill(n)(-1)
    val out = new Array[Long](n)
    for (x <- 0 until n) {
      adjacent(x) = x
      var i = off(x)
      while (i < off(x + 1)) { adjacent(adj(i)) = x; i += 1 }
      i = off(x)
      while (i < off(x + 1)) {
        val y = adj(i)
        var j = off(y)
        while (j < off(y + 1)) {
          val z = adj(j)
          if (adjacent(z) != x && counted(z) != x) { counted(z) = x; out(x) += 1 }
          j += 1
        }
        i += 1
      }
    }
    out
  }

  /** Min-label connected components: each node's label is the smallest
    * dense id (hence the smallest node id) of its component, over every
    * collected edge. Union-find with path halving whose roots are
    * always their set's minimum: a union hangs the larger root under
    * the smaller, and compression never changes a root.
    */
  def components: Array[Int] = {
    val parent = Array.tabulate(n)(identity)
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    for (i <- src.indices) {
      val (ra, rb) = (find(src(i)), find(dst(i)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    Array.tabulate(n)(find)
  }

  /** PageRank over the collected DIRECTED multigraph, the recurrence of
    * `Graph.pageRank`'s distributed loop with the same double
    * operations: `pr(u) / out(u)` summed per target, dangling mass
    * summed over the out-degree-0 nodes, then `(1-d) + d * (in_sum +
    * dmass / |V|)`. The in-edges form a CSR whose per-node source lists
    * are sorted, which fixes the summation order: ranks are
    * bit-identical whatever the collect order or partitioning.
    */
  def pageRank(iters: Int, damping: Double): Array[Double] = {
    val (s, t) = (src, dst)
    val outDeg = new Array[Int](n)
    s.foreach(u => outDeg(u) += 1)
    val inOff = new Array[Int](n + 1)
    t.foreach(v => inOff(v + 1) += 1)
    for (v <- 0 until n) inOff(v + 1) += inOff(v)
    val inSrc = new Array[Int](s.length)
    val fill = inOff.clone()
    for (i <- s.indices) { inSrc(fill(t(i))) = s(i); fill(t(i)) += 1 }
    for (v <- 0 until n) java.util.Arrays.sort(inSrc, inOff(v), inOff(v + 1))

    var pr = Array.fill(n)(1.0)
    for (_ <- 1 to iters) {
      var dmass = 0.0
      for (u <- 0 until n) if (outDeg(u) == 0) dmass += pr(u)
      val share = dmass / n.toDouble
      val next = new Array[Double](n)
      for (v <- 0 until n) {
        var inSum = 0.0
        var i = inOff(v)
        while (i < inOff(v + 1)) {
          val u = inSrc(i)
          inSum += pr(u) / outDeg(u).toDouble
          i += 1
        }
        next(v) = (1.0 - damping) + damping * (inSum + share)
      }
      pr = next
    }
    pr
  }
}

private[graft] object LocalGraph {

  def apply(src: Array[Long], dst: Array[Long]): LocalGraph = {
    val ids = (src ++ dst).distinct
    java.util.Arrays.sort(ids)
    new LocalGraph(ids, src.map(java.util.Arrays.binarySearch(ids, _)),
      dst.map(java.util.Arrays.binarySearch(ids, _)))
  }

  /** From collected `(long, long)` rows with no NULL. */
  def fromRows(rows: Array[Row]): LocalGraph =
    apply(rows.map(_.getLong(0)), rows.map(_.getLong(1)))

  /** A graph over string-named nodes, with the names in dense-id order:
    * ascending UTF-8 byte order, the order of Spark's `min` on strings
    * (not `String.compareTo`, which orders UTF-16 units). So a
    * component's min-label names its byte-order-least member.
    */
  def ofNames(src: Array[String], dst: Array[String])
      : (LocalGraph, Array[String]) = {
    val names = (src ++ dst).distinct.map(UTF8String.fromString)
      .sortWith(_.binaryCompare(_) < 0).map(_.toString)
    val index = names.zipWithIndex.toMap
    (apply(src.map(index(_).toLong), dst.map(index(_).toLong)), names)
  }
}
