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
  * SKEW BOUND of [[sessions]] (the single-pass form): the lag/running-
  * sum windows partition by user, so ONE user's entire history lands in
  * ONE task — and a single hot key (bot traffic, exactly what
  * sessionization jobs meet) is a straggler AQE cannot split: skew-join
  * splitting divides join partitions, never window partitions. That is
  * intrinsic to per-key ordered windows. When a hot key is possible,
  * use [[sessionsTwoPass]]: identical output, per-task work bounded by
  * (user, time-slice) instead of (user).
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

  /** Two-pass skew-mitigated sessionization — same output as
    * [[sessions]], row for row.
    *
    * Pass 1 partitions the window by (user, time-slice of `sliceMs`):
    * a hot user's history spreads over one task PER SLICE instead of
    * one task total, so per-task work is bounded by the user's densest
    * slice — `sliceMs` is the knob. Local sessions are then collapsed
    * to summaries (count, start, end).
    *
    * Pass 2 re-sessionizes the SUMMARIES per user: slices partition
    * time, so a user's summaries are disjoint intervals in time order,
    * and merging consecutive ones whose gap ≤ `gapMs` (the same
    * lag + running-sum shape) reconstructs exactly the single-pass
    * session set — including chains that span many slices. The pass-2
    * window still partitions by user, but over AT MOST one row per
    * (slice, local session): a bot with 10^8 events in a day collapses
    * to a handful of summary rows, which is what makes the hot-key
    * partition small again.
    *
    * Cost: one extra shuffle (events on (user, slice), then summaries
    * on user) versus one — the standard price of the mitigation; run it
    * when a hot key is possible, the single-pass form otherwise.
    * Parity with [[sessions]] is suite-gated on a Zipf-hot fixture.
    */
  def sessionsTwoPass(df: DataFrame, userCol: String, msCol: String,
                      tieCol: String, gapMs: Long,
                      sliceMs: Long = 86400000L): DataFrame = {
    require(sliceMs >= 1, s"sliceMs must be >= 1: $sliceMs")
    val wLocal = Window.partitionBy(col(userCol), col("_slice"))
      .orderBy(msCol, tieCol)
    val summaries = df.select(col(userCol), col(tieCol), col(msCol))
      // floor division (not a cast-truncate) so negative timestamps
      // slice correctly; doubles hold exact integers to 2^53, far past
      // any epoch-millis value
      .withColumn("_slice", floor(col(msCol) / lit(sliceMs)).cast("long"))
      .withColumn("new_sess",
        when(lag(col(msCol), 1).over(wLocal).isNull ||
          col(msCol) - lag(col(msCol), 1).over(wLocal) > gapMs, 1L)
          .otherwise(0L))
      .withColumn("_lsess", sum(col("new_sess")).over(
        wLocal.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(userCol), col("_slice"), col("_lsess"))
      .agg(count(lit(1)).as("_n"), min(col(msCol)).as("_start"),
        max(col(msCol)).as("_end"))
    // summaries are time-disjoint per user, so (start, slice, lsess) is
    // a deterministic total order
    val wUser = Window.partitionBy(userCol)
      .orderBy(col("_start"), col("_slice"), col("_lsess"))
    summaries
      .withColumn("new_glob",
        when(lag(col("_end"), 1).over(wUser).isNull ||
          col("_start") - lag(col("_end"), 1).over(wUser) > gapMs, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_glob")).over(
        wUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(userCol), col("session_id"))
      .agg(sum(col("_n")).as("n_events"),
        min(col("_start")).as("sess_start_ms"))
  }
}
