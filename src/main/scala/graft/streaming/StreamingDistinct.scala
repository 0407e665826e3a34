package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Streaming per-user distinct-item count — batch `e12`'s END STATE
  * ("unique items to date", final row per user), maintained
  * incrementally. The deliberately instructive contrast to
  * [[StreamingTransitions]] and [[StreamingRetention]]: those
  * aggregates are ORDER-SENSITIVE, so late data forces exact
  * retraction machinery (multiset diffs, revision cascades). A
  * distinct count's state is a grow-only set — union COMMUTES — so
  * ANY arrival order converges to the same state with no retraction,
  * no watermark compaction, no revision path at all. When a pipeline
  * gets to choose its state representation, choosing a commutative
  * one buys this entire class of machinery for free (the CRDT
  * G-Set argument, applied to stream aggregation).
  *
  * State bound (round-11): the exact set is bounded by the per-user
  * distinct-item domain — which a HOT key can grow without limit. At
  * `maxExactItems` the state DEGRADES OBSERVABLY to a fixed-size
  * HyperLogLog sketch ([[Hll]]: 2^12 registers = 4 KB per hot user,
  * standard error 1.04/√4096 ≈ 1.6%): counts stay exact for every
  * key under the cap, hot keys keep a bounded, still-commutative
  * (register-max merges) estimate, and every emitted row carries
  * `is_approx` so the degradation is a monitored event, not a silent
  * one. Emission is one current-count row per touched user per
  * batch, folded through the last-write-wins store merge
  * ([[ParquetKpiStore.mergeReplace]] — a monotone count is a
  * revision, not an addition). Exactly-once via the per-(table,
  * batchId) idempotence watermark, as every sink here. */
object StreamingDistinct {

  /** Fixed-size HyperLogLog (Flajolet–Fuss–Gandon–Meunier 2007) over
    * int item ids: p = 12 → 4096 one-byte registers, standard error
    * 1.04/√m ≈ 1.6%. Register-max merge is commutative and
    * idempotent — the sketch inherits the G-Set convergence argument
    * the exact mode relies on. Items are mixed through splitmix64
    * (public-domain finalizer) so register indices are uniform even
    * for sequential ids. */
  private[graft] object Hll {
    val p = 12
    val m: Int = 1 << p

    def empty: Array[Byte] = new Array[Byte](m)

    private def mix(x0: Long): Long = {
      var x = x0 + 0x9E3779B97F4A7C15L
      x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
      x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
      x ^ (x >>> 31)
    }

    /** Fold one item; returns true iff a register grew (the "did the
      * estimate possibly change" signal that gates emission). */
    def add(reg: Array[Byte], item: Int): Boolean = {
      val h = mix(item.toLong)
      val idx = (h >>> (64 - p)).toInt
      val rank = math.min(java.lang.Long.numberOfLeadingZeros(h << p) + 1, 64 - p + 1)
      if (rank > reg(idx)) { reg(idx) = rank.toByte; true } else false
    }

    /** Standard estimator with the small-range linear-counting
      * correction (the only regime correction needed at 64 bits). */
    def estimate(reg: Array[Byte]): Long = {
      val alphaM2 = 0.7213 / (1 + 1.079 / m) * m * m
      var sum = 0.0
      var zeros = 0
      var i = 0
      while (i < m) {
        sum += 1.0 / (1L << (reg(i) & 0xff)).toDouble
        if (reg(i) == 0) zeros += 1
        i += 1
      }
      val e = alphaM2 / sum
      val corrected =
        if (e <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) else e
      math.rint(corrected).toLong
    }
  }

  /** Per-user state: EITHER the exact distinct items seen (sorted for
    * a stable encoder round-trip; semantics are the SET) while the
    * key is under the cardinality cap, OR the fixed-size HLL
    * registers once it crossed — never both. */
  case class UserItems(items: Seq[Int], sketch: Option[Array[Byte]])

  /** Current distinct count for a user whose set grew this batch;
    * `approx` marks sketch-mode keys (the observable switch). */
  case class DCount(userId: Long, nDistinct: Long, approx: Boolean)

  private[graft] def processUser(maxExactItems: Int)(
      userId: Long,
      rows: Iterator[(Long, Int)],
      state: GroupState[UserItems]): Iterator[DCount] = {
    val incoming = rows.map(_._2).toSet
    val s0 = if (state.exists) state.get else UserItems(Nil, None)
    s0.sketch match {
      case Some(reg0) =>
        // already degraded: fold into a copy (GroupState contract —
        // never mutate the stored object), emit only on register growth
        val reg = reg0.clone()
        var grew = false
        incoming.foreach { it => if (Hll.add(reg, it)) grew = true }
        if (!grew) Iterator.empty
        else {
          state.update(UserItems(Nil, Some(reg)))
          Iterator(DCount(userId, Hll.estimate(reg), approx = true))
        }
      case None =>
        val exact0 = s0.items.toSet
        val fresh = incoming -- exact0
        if (fresh.isEmpty) Iterator.empty
        else {
          val all = exact0 ++ fresh
          if (all.size <= maxExactItems) {
            state.update(UserItems(all.toSeq.sorted, None))
            Iterator(DCount(userId, all.size.toLong, approx = false))
          } else {
            // crossing the cap: the whole exact set seeds the sketch,
            // then the state drops to the fixed 4 KB registers
            val reg = Hll.empty
            all.foreach(Hll.add(reg, _))
            state.update(UserItems(Nil, Some(reg)))
            Iterator(DCount(userId, Hll.estimate(reg), approx = true))
          }
        }
    }
  }

  /** Delta stream over an events frame (user_id, props JSON carrying
    * the item id at $.k — the j17/e12 item convention). */
  def deltaStream(events: DataFrame, maxExactItems: Int = defaultMaxExactItems): Dataset[DCount] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .select(col("user_id").cast("long").as("user_id"),
        get_json_object(col("props"), "$.k").cast("int").as("item"))
      .filter(col("item").isNotNull)
      .as[(Long, Int)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Update(), GroupStateTimeout.NoTimeout)(processUser(maxExactItems))
  }

  /** Exact-mode bound: 4096 ints ≈ 16 KB of set state, after which a
    * key degrades to the 4 KB sketch. Chosen so state per key is
    * O(16 KB) worst-case either way. */
  val defaultMaxExactItems: Int = 4096

  private val table = "distinct_counts"

  private def applyBatch(store: ParquetKpiStore)(
      batch: Dataset[DCount], batchId: Long): Unit = {
    val spark = batch.sparkSession
    store.mergeReplace(spark, table, Seq("user_id"),
      batch.groupBy(col("userId").as("user_id"))
        .agg(max(col("nDistinct")).as("n_distinct"),
          max(col("approx")).as("is_approx")),
      batchId)
  }

  def start(
      spark: SparkSession,
      events: DataFrame,
      store: ParquetKpiStore,
      checkpointDir: String,
      maxExactItems: Int = defaultMaxExactItems,
      availableNow: Boolean = true): StreamingQuery = {
    StreamRunner.start(deltaStream(events, maxExactItems), "graft_stream_distinct", checkpointDir,
        StreamRunner.trigger(availableNow), "update")(applyBatch(store))
  }

  /** (user_id, n_distinct, is_approx), the final curve point per
    * user. `is_approx` is the observability contract: exact for every
    * key that never crossed the cap, HLL-estimated (±1.6% se) for
    * the ones that did. */
  def distinctTable(spark: SparkSession, store: ParquetKpiStore): DataFrame =
    store.read(spark, table)
      .getOrElse(ParquetKpiStore.empty(spark,
        "user_id BIGINT, n_distinct BIGINT, is_approx BOOLEAN"))
      .orderBy(col("user_id"))
}
