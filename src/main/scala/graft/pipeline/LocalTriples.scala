package graft.pipeline

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Collected triple rows evaluated on the driver: the kernel behind the
  * driver paths of [[KgPipeline.kgAudit]], [[KgPipeline.ntriples]] and
  * [[KgPipeline.matchPattern]], as [[LocalGraph]] is behind the graph
  * ops and [[LocalSets]] behind co-occurrence.
  *
  * The rows come from one [[LocalPath.decide]] and keep Spark's
  * grouping semantics because every caller collects only columns whose
  * values `Row` equality compares as Spark groups them ([[groupsLikeRow]];
  * the `subj`, `pred` and `obj` columns are always strings): NULL equals
  * NULL, strings compare by value (equal exactly when their UTF-8 bytes
  * are), numbers numerically. Each method returns plain values or
  * rows; [[LocalPath]] turns rows into a local relation.
  */
private[graft] object LocalTriples {

  /** Whether Spark groups values of type `dt` the way `Row` equality
    * compares the values it collects: strings of the default collation,
    * integral numbers, booleans, dates and timestamps. Floating values
    * (NaN and -0.0 normalization), binary, decimal and complex values
    * are left to Spark.
    */
  def groupsLikeRow(dt: DataType): Boolean = dt match {
    case StringType | ByteType | ShortType | IntegerType | LongType |
         BooleanType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** Whether `df` has `subj`, `pred` and `obj` columns of type `string`. */
  def hasStringKeys(df: org.apache.spark.sql.DataFrame): Boolean =
    Seq("subj", "pred", "obj").forall(c =>
      df.schema.exists(f => f.name == c && f.dataType == StringType))

  /** Per-id state of the audit's id fold: referenced by a mention, and
    * its first type plus whether a second distinct type was seen.
    */
  private final class IdState {
    var refd = false
    var tp: String = null
    var multi = false
  }

  /** The ten [[KgPipeline.kgAudit]] metrics over collected rows, in its
    * order; `subj`, `pred` and `obj` are the key columns' positions.
    * One pass: the full-row distinct, the volume counts and the per-id
    * (referenced?, distinct types) fold, NULL-key rows excluded from the
    * id sets.
    */
  def audit(rows: Array[Row], subj: Int, pred: Int, obj: Int): Array[Long] = {
    val distinct = new java.util.HashSet[Row](rows.length * 2)
    val ids = new java.util.HashMap[String, IdState]()
    def state(id: String): IdState = {
      var s = ids.get(id)
      if (s == null) { s = new IdState; ids.put(id, s) }
      s
    }
    var (mentions, types, nullKeys) = (0L, 0L, 0L)
    for (r <- rows) {
      distinct.add(r)
      val (s, p, o) = (r.getString(subj), r.getString(pred), r.getString(obj))
      if (p == "hasEntity") mentions += 1
      else if (p == "hasType") types += 1
      if (s == null || p == null || o == null) nullKeys += 1
      else if (p == "hasEntity") state(o).refd = true
      else if (p == "hasType") {
        val st = state(s)
        if (st.tp == null) st.tp = o
        else if (st.tp != o) st.multi = true
      }
    }
    var (referenced, typed, dangling, orphan, multi) = (0L, 0L, 0L, 0L, 0L)
    ids.values.forEach { st =>
      if (st.refd) referenced += 1
      if (st.tp != null) typed += 1
      if (st.refd && st.tp == null) dangling += 1
      if (!st.refd && st.tp != null) orphan += 1
      if (st.multi) multi += 1
    }
    Array(rows.length.toLong, mentions, types, referenced, typed, dangling,
      orphan, multi, rows.length.toLong - distinct.size, nullKeys)
  }

  /** The distinct bindings of `patterns` (already in join order) over
    * collected `(subj, pred, obj)` string rows, one row per binding with
    * the variables in `columns` order (names without the `?`), or None
    * as soon as a join's output would pass `budget` rows. Per pattern: a
    * bound term keeps rows equal to it, a variable keeps non-NULL
    * values, and a variable repeated within the pattern keeps rows where
    * its positions agree; the pattern's bindings are deduplicated. Then
    * a hash join on the variables shared with the bindings so far, or a
    * cross product where none is shared. Joins of distinct binding sets
    * stay distinct, so the result needs no final dedup.
    */
  def bindings(rows: Array[Row], patterns: Seq[(String, String, String)],
               columns: Seq[String], budget: Int)
      : Option[collection.Seq[Row]] = {
    def scan(pat: (String, String, String)): (Array[String], Array[Array[String]]) = {
      val terms = Array(pat._1, pat._2, pat._3)
      val isVar = terms.map(_.startsWith("?"))
      val vars = terms.filter(_.startsWith("?")).distinct.sorted
      // for each variable, the positions it occupies; the first is read
      val at = vars.map(v => terms.indices.filter(terms(_) == v).toArray)
      val out = new java.util.LinkedHashSet[java.util.List[String]]()
      for (r <- rows) {
        var ok = true
        var i = 0
        while (ok && i < 3) {
          val x = r.getString(i)
          ok = x != null && (isVar(i) || x == terms(i))
          i += 1
        }
        var v = 0
        while (ok && v < at.length) {
          val x = r.getString(at(v)(0))
          ok = at(v).forall(p => r.getString(p) == x)
          v += 1
        }
        if (ok) out.add(java.util.Arrays.asList(at.map(p => r.getString(p(0))): _*))
      }
      (vars.map(_.stripPrefix("?")),
        out.toArray(Array.empty[java.util.List[String]]).map(_.toArray(Array.empty[String])))
    }
    def key(b: Array[String], at: Array[Int]) =
      java.util.Arrays.asList(at.map(b(_)): _*)
    val scans = patterns.iterator.map(scan)
    var (cols, acc) = scans.next()
    while (acc != null && scans.hasNext) {
      val (nCols, next) = scans.next()
      val shared = cols.filter(nCols.contains)
      val accKey = shared.map(cols.indexOf(_))
      val nextKey = shared.map(nCols.indexOf(_))
      val nextRest = nCols.indices.filterNot(nextKey.contains).toArray
      val byKey = new java.util.HashMap[java.util.List[String],
        java.util.ArrayList[Array[String]]]()
      for (b <- next) byKey.computeIfAbsent(key(b, nextKey),
        _ => new java.util.ArrayList[Array[String]]()).add(b)
      val out = new java.util.ArrayList[Array[String]]()
      val it = acc.iterator
      while (out.size <= budget && it.hasNext) {
        val a = it.next()
        val ms = byKey.get(key(a, accKey))
        if (ms != null) {
          val mi = ms.iterator
          while (out.size <= budget && mi.hasNext) {
            val b = mi.next()
            out.add(a ++ nextRest.map(b(_)))
          }
        }
      }
      acc = if (out.size > budget) null else out.toArray(Array.empty[Array[String]])
      cols = cols ++ nextRest.map(nCols(_))
    }
    Option(acc).map[collection.Seq[Row]] { bs =>
      val pick = columns.map(cols.indexOf(_)).toArray
      bs.map(b => Row.fromSeq(pick.map(b(_)).toSeq))
    }
  }
}
