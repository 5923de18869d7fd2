package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.{Json, TableIO}

/** Persisted canonicalization state for incremental KG maintenance.
  *
  * [[KgPipeline.canonicalize]] derives canonical entity ids from the
  * distinct alias-edge set (entity ↔ normalized surface). That set is
  * bounded by the ALIAS VOCABULARY — KB-scale, not corpus-scale — so
  * persisting it makes incremental canonicalization EXACT: distinct
  * edge-set union is associative and idempotent, so
  * `canon(state ∪ delta)` equals `canon(batch₁ ∪ … ∪ batchₙ)` — the
  * same map a full run over every file ever ingested would produce.
  * This closes the alias-drift caveat of canonicalizing a delta on its
  * own evidence: with state, no periodic full re-canonicalization is
  * needed to reconcile cross-file alias bridges.
  *
  * Evidence is APPEND-ONLY by design: emptying a file retracts its
  * triples ([[KgPipeline.mergeDeltaCanonical]]'s vacated files) but not
  * the linguistic evidence its mentions contributed to alias bridging —
  * a conservative choice (canonical merges never flap when files
  * churn). An operator who wants deletion to retract evidence rebuilds
  * the state from a full run, exactly as before this state existed.
  *
  * Layout (version-pointer swap, the centroid-persistence convention):
  * {{{
  *   stateDir/_current        # JSON: version + rows + XOR checksums
  *   stateDir/v<N>/edges/     # parquet (src, dst) — distinct alias edges
  *   stateDir/v<N>/canon/     # parquet (entity_id, canon_id)
  * }}}
  * `_current` is written atomically ([[Json.write]]) AFTER the
  * new version's data is fully written and read back, so a reader never
  * observes a half-written version; the immediately superseded version
  * is retained for ONE generation (a lazily-loaded frame survives one
  * concurrent save — see [[save]]), older dirs are best-effort deleted. Integrity: row count + order- and
  * split-independent XOR of `xxhash64(columns)` per frame (the
  * table manifests' checksum convention) — a corrupt or truncated state
  * fails LOUD on load, it never silently yields a smaller edge set
  * (which would silently fork canonical ids).
  *
  * Single-writer: like all TableIO maintenance, concurrent saves to one
  * stateDir are the caller's exclusion problem; loads are safe anytime.
  */
object CanonState {

  final case class Meta(version: Long, edgesRows: Long, edgesXor: Long,
                        canonRows: Long, canonXor: Long)

  private def currentPath(dir: String) = s"$dir/_current"

  private[graft] def readMeta(spark: SparkSession, dir: String): Option[Meta] =
    Json.read(currentPath(dir), spark.sessionState.newHadoopConf(),
        "canon state").map { m =>
      Meta(m("version").long, m("edges_rows").long, m("edges_xor").long,
        m("canon_rows").long, m("canon_xor").long)
    }

  private def loadChecked(spark: SparkSession, path: String,
                          wantRows: Long, wantXor: Long,
                          what: String): DataFrame = {
    val df = spark.read.parquet(path)
    val (rows, x) = TableIO.rowsAndChecksum(df)
    require(rows == wantRows && x == wantXor,
      s"canon state $what at $path fails its integrity check " +
        s"(rows $rows vs $wantRows, xor $x vs $wantXor) — the state is " +
        "corrupt or was written by a concurrent maintainer; rebuild it " +
        "from a full canonicalization run")
    df
  }

  /** The persisted edge set, integrity-checked, or None if no state. */
  def loadEdges(spark: SparkSession, dir: String): Option[DataFrame] =
    readMeta(spark, dir).map { m =>
      loadChecked(spark, s"$dir/v${m.version}/edges",
        m.edgesRows, m.edgesXor, "edges")
    }

  /** The persisted canonical map, integrity-checked, or None. */
  def loadCanon(spark: SparkSession, dir: String): Option[DataFrame] =
    readMeta(spark, dir).map { m =>
      loadChecked(spark, s"$dir/v${m.version}/canon",
        m.canonRows, m.canonXor, "canon")
    }

  /** Write edges + canon as version current+1, swap the pointer, then
    * delete versions OLDER than the superseded one. The immediately
    * superseded version is RETAINED for one generation: a load returns
    * a lazy DataFrame over that version's files, and deleting them the
    * moment the pointer moves would yank the files out from under any
    * frame resolved just before the save (FileNotFound mid-job — or,
    * under ignoreMissingFiles, the silently smaller edge set the
    * checksums exist to prevent). One generation is the contract:
    * consume a loaded frame before the SECOND subsequent save.
    * Returns the new version number.
    */
  def save(spark: SparkSession, dir: String,
           edges: DataFrame, canon: DataFrame): Long = {
    val prior = readMeta(spark, dir)
    val v = prior.map(_.version + 1).getOrElse(1L)
    val vDir = s"$dir/v$v"
    edges.select(col("src"), col("dst"))
      .write.mode("overwrite").parquet(s"$vDir/edges")
    canon.select(col("entity_id"), col("canon_id"))
      .write.mode("overwrite").parquet(s"$vDir/canon")
    // checksums from the files ON DISK, not the input frames: the meta
    // must vouch for what a later load will actually read
    def onDisk(what: String) =
      TableIO.rowsAndChecksum(spark.read.parquet(s"$vDir/$what"))
    val (eRows, eXor) = onDisk("edges")
    val (cRows, cXor) = onDisk("canon")
    val meta = Meta(v, eRows, eXor, cRows, cXor)
    val conf = spark.sessionState.newHadoopConf()
    Json.write(currentPath(dir), Json.obj("version" -> meta.version,
      "edges_rows" -> meta.edgesRows, "edges_xor" -> meta.edgesXor,
      "canon_rows" -> meta.canonRows, "canon_xor" -> meta.canonXor), conf)
    // keep v and v-1 (see scaladoc); reap everything older
    prior.foreach { old =>
      val root = new org.apache.hadoop.fs.Path(dir)
      val fs = root.getFileSystem(conf)
      try {
        fs.listStatus(root).foreach { st =>
          val n = st.getPath.getName
          if (n.startsWith("v") && n.drop(1).forall(_.isDigit) &&
              n.drop(1).toLong < old.version)
            fs.delete(st.getPath, true)
        }
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    v
  }
}
