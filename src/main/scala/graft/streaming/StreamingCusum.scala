package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Streaming twin of the batch per-user CUSUM changepoint statistic
  * (`e18` — SparkEntry.e18Cusum): s_t = max(0, s_{t−1} + x_t − k) and
  * its running max, maintained while events arrive. The alarm a
  * monitoring pipeline actually runs — batch e18 tells you a shift
  * happened last night; this raises it mid-ingest.
  *
  * CUSUM is ORDER-SENSITIVE float recursion (the exact opposite of
  * the OHLC/drift commutative-state members), so the treatment is the
  * [[StreamingTransitions]] reorder-buffer discipline, simplified by
  * one structural gift: the read-back is per-user LAST-WRITE-WINS
  * state (a recomputed (n, s, m) triple via
  * [[ParquetKpiStore.mergeReplace]]), not a corpus-wide additive
  * delta table — so late arrivals need NO retraction algebra at all;
  * the next emission simply replaces the row.
  *
  * State per user: the frozen prefix COLLAPSED to its fold value
  * (n, s, m — a left fold can resume from its accumulator, so the
  * frozen events themselves are discarded) plus the revisable tail
  * inside the lateness horizon and the frozen boundary key. An
  * arrival sorting at-or-before the boundary is dropped AND counted
  * (the observable-loss contract). Because the incremental fold is
  * literally the batch left fold resumed from a checkpoint — same
  * elements, same order, same IEEE ops — the drained state equals
  * batch `e18` BIT-FOR-BIT under unbounded lateness (spec: hostile
  * reverse drain), with no associativity assumption anywhere.
  *
  * Order contract: events fold in (event-time, event_id) order; batch
  * e18 folds in event_id order. The two agree whenever per-user
  * event-time is monotone in event_id (true of the fixtures; the spec
  * asserts parity, so a divergence would be loud).
  *
  * Scale shape: state per user is O(horizon × arrival rate) events
  * plus three numbers; per-batch work is the re-sort plus one linear
  * fold over the tail. Store rows = |users touched|, merged
  * last-write-wins under the per-(table, batchId) idempotence
  * watermark. */
object StreamingCusum {

  case class Ev(tus: Long, eid: Long, v: Double)

  /** Frozen-prefix fold accumulator + revisable tail. */
  case class CuBuf(
      bound: Option[(Long, Long)],
      frozenN: Long, frozenS: Double, frozenM: Double,
      buf: Seq[Ev])

  /** One user's current statistic (replaces the stored row), or a
    * late-drop count. */
  case class CuRow(userId: Long, n: Long, s: Double, m: Double, drops: Long)

  private def evOrder(e: Ev): (Long, Long) = (e.tus, e.eid)

  private def fold(n0: Long, s0: Double, m0: Double, seq: Seq[Ev], k: Double)
      : (Long, Double, Double) =
    seq.foldLeft((n0, s0, m0)) { case ((n, s, m), e) =>
      val s2 = math.max(0.0, s + e.v - k)
      (n + 1L, s2, math.max(m, s2))
    }

  private[graft] def processUser(k: Double, latenessMicros: Long)(
      userId: Long,
      rows: Iterator[(Long, Ev)],
      state: GroupState[CuBuf]): Iterator[CuRow] = {
    val arrivals = rows.map(_._2).toSeq
    val s0 = if (state.exists) state.get else CuBuf(None, 0L, 0.0, 0.0, Nil)
    val (accepted, dropped) = arrivals.partition(e =>
      s0.bound.forall(bk => Ordering[(Long, Long)].gt(evOrder(e), bk)))
    val out = Seq.newBuilder[CuRow]
    if (dropped.nonEmpty)
      out += CuRow(userId, 0L, 0.0, 0.0, dropped.size.toLong)
    if (accepted.nonEmpty) {
      val seen = s0.buf.iterator.map(evOrder).toSet ++ s0.bound
      val fresh = accepted.filterNot(e => seen.contains(evOrder(e)))
        .distinctBy(evOrder)
      if (fresh.nonEmpty) {
        val newBuf = (s0.buf ++ fresh).sortBy(evOrder)
        // compact FIRST: freeze everything at-or-below (max event time
        // − lateness) into the fold accumulator; the fold resumes from
        // it, so frozen events never need re-reading
        val horizon = newBuf.last.tus - latenessMicros
        val (frozen, live) = newBuf.partition(_.tus <= horizon)
        val (fn, fs, fm) = fold(s0.frozenN, s0.frozenS, s0.frozenM, frozen, k)
        val newBound = frozen.lastOption.map(evOrder).orElse(s0.bound)
        state.update(CuBuf(newBound, fn, fs, fm, live))
        val (n, s, m) = fold(fn, fs, fm, live, k)
        out += CuRow(userId, n, s, m, 0L)
      }
    }
    out.result().iterator
  }

  /** Current-statistic stream over an events frame (user_id, ts,
    * event_id, value — the [[EventStream.source]] shape). */
  def deltaStream(events: DataFrame, k: Double, latenessMicros: Long): Dataset[CuRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long").as("user_id"),
        unix_micros(col("ts")).as("tus"),
        col("event_id").cast("long").as("eid"),
        col("value").cast("double").as("v"))
      .as[(Long, Long, Long, Double)]
      .map { case (u, t, e, v) => (u, Ev(t, e, v)) }
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout)(
        processUser(k, latenessMicros))
  }

  private[streaming] val table = "cusum_user"
  private val dropsTable = "cusum_drops"

  private def applyBatch(store: ParquetKpiStore)(
      batch: Dataset[CuRow], batchId: Long): Unit = {
    val spark = batch.sparkSession
    val staged = batch.persist()
    try {
      store.mergeReplace(spark, table, Seq("user_id"),
        staged.filter(col("drops") === 0L)
          .select(col("userId").as("user_id"), col("n").as("n_events"),
            col("s").as("cusum_final"), col("m").as("cusum_max")),
        batchId)
      store.merge(spark, dropsTable, Seq("k"),
        staged.filter(col("drops") > 0L)
          .groupBy(lit("late").as("k"))
          .agg(sum(col("drops")).as("n_dropped")),
        batchId)
    } finally { staged.unpersist(); () }
  }

  /** Hook an events stream into the incremental CUSUM store. */
  def start(
      spark: SparkSession,
      events: DataFrame,
      store: ParquetKpiStore,
      checkpointDir: String,
      k: Double = 55.0,
      latenessMicros: Long = StreamingTransitions.DefaultLatenessMicros,
      availableNow: Boolean = true): StreamingQuery = {
    StreamRunner.start(deltaStream(events, k, latenessMicros), "graft_stream_cusum", checkpointDir,
        StreamRunner.trigger(availableNow), "update")(applyBatch(store))
  }

  /** Everything that has arrived, in the batch `e18_cusum` shape. */
  def cusumTable(spark: SparkSession, store: ParquetKpiStore): DataFrame =
    store.read(spark, table)
      .map(_.select(col("user_id"), col("n_events"),
        col("cusum_final"), col("cusum_max"))
        .orderBy(col("user_id")))
      .getOrElse(ParquetKpiStore.empty(spark,
        "user_id BIGINT, n_events BIGINT, cusum_final DOUBLE, cusum_max DOUBLE"))
}
