package graft.pipeline

import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Capped per-context item sets held on the driver: the kernel behind
  * [[Graph.coOccurrence]]'s driver path and q83's co-mention edges, as
  * [[LocalGraph]] is behind the graph ops.
  *
  * Built from collected `(ctx, item)` rows already mapped to dense ids
  * by [[LocalSets.rank]], whose item ids ascend in Spark's item order.
  * The rows are packed into `ctx << 32 | item` longs and sorted once:
  * that deduplicates them and lines each context's items up in Spark's
  * order, so the first `cap` of each run are exactly the set
  * `Graph.cappedSets` keeps (row_number over the distinct rows, ordered
  * by item). The sets form a CSR over contexts, every array primitive.
  */
private[graft] final class LocalSets private (
    off: Array[Int], members: Array[Int], val nItems: Int) {

  /** Distinct contexts: the cap never drops one, only items within one. */
  def nContexts: Int = off.length - 1

  /** Pairs [[pairCounts]] enumerates: the sum over contexts of
    * C(|capped set|, 2), known before any pair is built.
    */
  def pairVolume: Long = {
    var v = 0L
    for (c <- 0 until nContexts) {
      val k = (off(c + 1) - off(c)).toLong
      v += k * (k - 1) / 2
    }
    v
  }

  /** Each item pair `x < y` sharing a capped set, packed `x << 32 | y`
    * and ascending, with the number of sets it shares. One long per
    * enumerated pair, sorted then run-length counted in place.
    */
  def pairCounts: (Array[Long], Array[Int]) = {
    val vol = pairVolume
    require(vol <= Int.MaxValue - 8, s"$vol pairs do not fit one array")
    val keys = new Array[Long](vol.toInt)
    var p = 0
    for (c <- 0 until nContexts) {
      var i = off(c)
      while (i < off(c + 1)) {
        val x = members(i).toLong << 32
        var j = i + 1
        while (j < off(c + 1)) { keys(p) = x | members(j); p += 1; j += 1 }
        i += 1
      }
    }
    java.util.Arrays.sort(keys)
    val counts = new Array[Int](keys.length)
    var u = -1
    for (i <- keys.indices) {
      if (u < 0 || keys(i) != keys(u)) { u += 1; keys(u) = keys(i) }
      counts(u) += 1
    }
    (java.util.Arrays.copyOf(keys, u + 1), java.util.Arrays.copyOf(counts, u + 1))
  }

  /** Capped sets holding each item: the marginals, from the same capped
    * view as the pairs.
    */
  def marginals: Array[Int] = {
    val m = new Array[Int](nItems)
    for (x <- members) m(x) += 1
    m
  }
}

private[graft] object LocalSets {

  /** The sets of `nCtx` contexts and `nItems` items from dense-id rows
    * (duplicates allowed), each capped at its first `cap` items.
    */
  def apply(ctx: Array[Int], item: Array[Int], nCtx: Int, nItems: Int,
            cap: Int): LocalSets = {
    val keys = Array.tabulate(ctx.length)(i => ctx(i).toLong << 32 | item(i))
    java.util.Arrays.sort(keys)
    val off = new Array[Int](nCtx + 1)
    val members = new Array[Int](keys.length)
    var m = 0
    var run = 0
    for (i <- keys.indices) if (i == 0 || keys(i) != keys(i - 1)) {
      val c = (keys(i) >>> 32).toInt
      if (i == 0 || c != (keys(i - 1) >>> 32).toInt) run = 0
      if (run < cap) { members(m) = keys(i).toInt; off(c + 1) += 1; m += 1 }
      run += 1
    }
    for (c <- 0 until nCtx) off(c + 1) += off(c)
    new LocalSets(off, java.util.Arrays.copyOf(members, m), nItems)
  }

  /** Whether [[rank]] orders values of type `dt`. */
  def orders(dt: DataType): Boolean = dt match {
    case StringType | LongType | IntegerType => true
    case _ => false
  }

  /** Dense ids of collected non-NULL values of type `dt` (see
    * [[orders]]), ascending in Spark's order, and the distinct values in
    * that order. Strings order by UTF-8 bytes (`UTF8String`, the order
    * of Spark's `<`, `min` and sorts; not `String.compareTo`, which
    * orders UTF-16 units), numbers numerically.
    */
  def rank(values: Array[Any], dt: DataType): (Array[Int], Array[Any]) =
    dt match {
      case StringType =>
        val names = values.distinct.map(v => UTF8String.fromString(v.asInstanceOf[String]))
          .sortWith(_.binaryCompare(_) < 0).map(_.toString)
        val index = new java.util.HashMap[Any, Int](names.length * 2)
        for (i <- names.indices) index.put(names(i), i)
        (values.map(index.get(_)), names.toArray[Any])
      case LongType | IntegerType =>
        val ls = values.map(_.asInstanceOf[Number].longValue)
        val ids = ls.distinct
        java.util.Arrays.sort(ids)
        val back: Long => Any = if (dt == IntegerType) _.toInt else identity
        (ls.map(java.util.Arrays.binarySearch(ids, _)), ids.map(back))
    }
}
