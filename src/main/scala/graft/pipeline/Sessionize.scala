package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Per-key sessionization: events of one user more than `gapMs` apart
  * start a new session; output one row per (user, session) with its
  * event count and start — (userCol, session_id, n_events,
  * sess_start_ms). Backs q58 and is the library entry a pipeline calls
  * directly.
  *
  * SKEW BOUND: the lag/running-sum windows partition by user, so ONE
  * user's entire history lands in ONE task — and a single hot key (bot
  * traffic, exactly what sessionization jobs meet) is a straggler AQE
  * cannot split: skew-join splitting divides join partitions, never
  * window partitions. That is intrinsic to per-key ordered windows.
  */
object Sessionize {

  /** Single-pass sessionization. ONE shuffle on `userCol` serves both
    * windows (lag and the running sum share the same partitioning and
    * ordering — plan-gated in PlanHygieneSpec); the final per-session
    * aggregate is partial-agg friendly and its exchange carries
    * (user, session, count, min) scalars. `tieCol` breaks equal-
    * timestamp order deterministically (a nondeterministic window order
    * would make session ids — and any cross-engine hash — flake).
    */
  def sessions(df: DataFrame, userCol: String, msCol: String,
               tieCol: String, gapMs: Long): DataFrame = {
    val w = Window.partitionBy(userCol).orderBy(msCol, tieCol)
    df.select(col(userCol), col(tieCol), col(msCol))
      .withColumn("new_sess",
        when(lag(col(msCol), 1).over(w).isNull ||
          col(msCol) - lag(col(msCol), 1).over(w) > gapMs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_sess")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(userCol), col("session_id"))
      .agg(count(lit(1)).as("n_events"), min(col(msCol)).as("sess_start_ms"))
  }
}
