package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Streaming twin of the batch cohort-retention query (`w11` —
  * SparkEntry.w11Retention): users cohort by their FIRST active week
  * (epoch-micros integer week buckets), and cell (cohort, k) counts
  * the cohort's users active in week cohort + k.
  *
  * Incremental retention is NOT additive per event: a late-arriving
  * event from an EARLIER week retroactively moves its user's cohort,
  * invalidating every cell the user previously contributed to. The
  * standard streaming treatment (this one): per-user state holding
  * (cohort_wk, distinct active weeks), a [[Delta]] stream that emits
  * +1 rows for genuinely-new (cohort, k) memberships and RETRACTION
  * (−1) rows for the old cohort's cells when the min moves, and an
  * additive keyed sink that folds the deltas — after any prefix of
  * batches the store equals the batch query over the events seen so
  * far, and after a full drain it equals `w11` exactly (StreamingSpec
  * asserts cell-for-cell parity, with the fixture split in REVERSE
  * time order so the retraction path is exercised hard, not
  * incidentally).
  *
  * Scale shape: state is keyed by user (hash-partitioned by the state
  * store), one entry per user holding its distinct weeks — bounded by
  * the corpus week horizon (~100s of longs), the same bound
  * mapGroupsWithState session state carries. Delta volume per batch is
  * bounded by touched memberships, not corpus size; the (cohort, k)
  * table itself is cohorts × horizon — driver-small. The two
  * ParquetKpiStore merges are each idempotent per (table, batchId), so
  * a crash between them replays only the missing one (same
  * exactly-once contract as the KPI fan-out, K3–K10).
  *
  * Production note: state here never expires (NoTimeout) because the
  * retention table's whole point is full-history cohorts; a deployment
  * bounding state would add an event-time timeout at the analysis
  * horizon (cohorts older than the horizon stop changing and their
  * users' state can drop). */
object StreamingRetention {

  /** Per-user state: current cohort (min week) + all distinct active
    * weeks seen. */
  case class UserWeeks(cohortWk: Long, weeks: Seq[Long])

  /** One additive delta: a cohort-size component (`isSize`, k unused)
    * or a retention-cell component ((cohortWk, k) += dn). */
  case class Delta(isSize: Boolean, cohortWk: Long, k: Long, dn: Long)

  private val weekMicros = 604800000000L // micros per 7 days — same bucket as w11

  /** Fold one user's new rows into state, emitting deltas.
    * Cases: first sight (size +1, cells +1), same-cohort growth (new
    * cells only), retroactive cohort move (retract EVERY old cell and
    * the old size, re-emit everything under the new cohort). */
  private[graft] def processUser(
      userId: Long,
      rows: Iterator[(Long, Long)],
      state: GroupState[UserWeeks]): Iterator[Delta] = {
    val incoming = rows.map(_._2).toSet
    val (prior, s0) =
      if (state.exists) (Some(state.get.cohortWk), state.get.weeks.toSet)
      else (None, Set.empty[Long])
    val newWeeks = incoming -- s0
    if (newWeeks.isEmpty) Iterator.empty
    else {
      val all = s0 ++ newWeeks
      val newMin = all.min
      val out = Seq.newBuilder[Delta]
      prior match {
        case None =>
          out += Delta(isSize = true, newMin, 0L, 1L)
          newWeeks.foreach(wk => out += Delta(isSize = false, newMin, wk - newMin, 1L))
        case Some(c0) if newMin == c0 =>
          newWeeks.foreach(wk => out += Delta(isSize = false, c0, wk - c0, 1L))
        case Some(c0) =>
          out += Delta(isSize = true, c0, 0L, -1L)
          s0.foreach(wk => out += Delta(isSize = false, c0, wk - c0, -1L))
          out += Delta(isSize = true, newMin, 0L, 1L)
          all.foreach(wk => out += Delta(isSize = false, newMin, wk - newMin, 1L))
      }
      state.update(UserWeeks(newMin, all.toSeq.sorted))
      out.result().iterator
    }
  }

  /** Delta stream over an events frame (user_id, ts zoned-timestamp —
    * the [[EventStream.source]] shape). */
  def deltaStream(events: DataFrame): Dataset[Delta] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long").as("user_id"),
        expr(s"unix_micros(ts) div ${weekMicros}L").as("wk"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout)(processUser)
  }

  private val cellsTable = "retention_cells"
  private val sizesTable = "retention_cohorts"
  private val group = "retention"

  /** Fold one micro-batch of deltas into the store: the batch is
    * pre-aggregated per key (map-side combined — delta rows per batch
    * are membership-bounded already) and merged additively — as ONE
    * [[ParquetKpiStore.mergeGroup]] commit, so a reader can never see
    * the cells table at batch n beside the cohort-sizes table at n−1
    * (retention = cells/sizes would silently misreport across that
    * gap; the crash-injection spec pins the invariant). */
  private def applyBatch(store: ParquetKpiStore)(
      batch: Dataset[Delta], batchId: Long): Unit = {
    val spark = batch.sparkSession
    val staged = batch.persist()
    try {
      store.mergeGroup(spark, group, Seq(
        (sizesTable, Seq("cohort_wk"),
          staged.filter(col("isSize"))
            .groupBy(col("cohortWk").as("cohort_wk"))
            .agg(sum(col("dn")).as("cohort_n"))),
        (cellsTable, Seq("cohort_wk", "k"),
          staged.filter(!col("isSize"))
            .groupBy(col("cohortWk").as("cohort_wk"), col("k"))
            .agg(sum(col("dn")).as("n_active")))),
        batchId)
    } finally { staged.unpersist(); () }
  }

  /** Hook an events stream into the incremental retention store. */
  def start(
      spark: SparkSession,
      events: DataFrame,
      store: ParquetKpiStore,
      checkpointDir: String,
      availableNow: Boolean = true): StreamingQuery = {
    StreamRunner.start(deltaStream(events), "graft_stream_retention", checkpointDir,
        StreamRunner.trigger(availableNow), "update")(applyBatch(store))
  }

  /** The retention table in `w11`'s exact output shape, read from the
    * upserted state. Zero-total rows (fully retracted cells/cohorts
    * after retroactive moves) are identities of the additive fold, not
    * memberships — dropped, matching the batch query, which never
    * creates them. */
  def retentionTable(spark: SparkSession, store: ParquetKpiStore): DataFrame = {
    // grouped reads: both tables resolve through the ONE manifest —
    // the cross-table generation consistency mergeGroup guarantees
    val cells = store.readGrouped(spark, group, cellsTable)
      .getOrElse(ParquetKpiStore.empty(spark, "cohort_wk BIGINT, k BIGINT, n_active BIGINT"))
    val sizes = store.readGrouped(spark, group, sizesTable)
      .getOrElse(ParquetKpiStore.empty(spark, "cohort_wk BIGINT, cohort_n BIGINT"))
    cells.filter(col("n_active") > 0)
      .join(sizes.filter(col("cohort_n") > 0), Seq("cohort_wk"))
      .select(col("cohort_wk"), col("k").cast("long").as("k"),
        col("n_active"), col("cohort_n"),
        (col("n_active").cast("double") / col("cohort_n").cast("double"))
          .as("retention"))
      .orderBy(col("cohort_wk"), col("k"))
  }
}
