package graft

import org.apache.spark.sql.DataFrame

/** Session-lifecycle registry for DataFrames the graft operators persist
  * internally (e.g. [[graft.operators.Dedup.stagedShingles]]).
  *
  * Spark cannot auto-unpersist a frame when its consumers finish — the
  * consumers are lazy plans, and CacheManager keeps an entry alive until
  * someone calls `unpersist`. Operators that persist intermediates
  * therefore register them here, and pipeline drivers release them at
  * pipeline boundaries with [[releaseAll]] (the graft harnesses — Verify
  * and Bench — release after every query; a long-lived 100 TB session
  * running many corpora should do the same between pipelines, or the
  * staged frames of every corpus it ever touched stay resident for the
  * session's lifetime — measured in round 4 as a multi-× slowdown of
  * later queries sharing the session).
  *
  * `releaseAll` is idempotent. What a still-lazy consumer sees after it
  * depends on how the frame was registered:
  *
  *  - [[register]] / [[registerEager]]: unpersisting only drops the
  *    cached blocks; a plan that still references the frame recomputes
  *    it from lineage;
  *  - [[registerLocalCheckpoint]]: the checkpoint's blocks ARE the data
  *    (its lineage was cut), so a consumer run after the release fails
  *    with `CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`. Release only once every
  *    consumer of such a frame has run.
  */
object CachePool {

  private val frames = scala.collection.mutable.ListBuffer.empty[DataFrame]
  private val rdds = scala.collection.mutable.ListBuffer.empty[org.apache.spark.rdd.RDD[_]]

  /** Shared plan-depth budget for iterative DataFrame loops that stack
    * a round's cached/persisted frame on the previous round's
    * (bpeTrain's merge rounds, kCorePeel's peel rounds): every
    * `planTruncateEvery`-th round rebuilds the frame as an eager
    * localCheckpoint so plan depth stays bounded whatever the round
    * budget. The number comes from the r17 BpeBatchProbe measurement —
    * a ~50-deep nested-cache chain OOM'd an 8g driver building an
    * execution-event plan string — with ~6x headroom; ONE constant so
    * a future retune moves every iterative loop together. */
  val planTruncateEvery = 8

  /** Truncation period for iterative loops whose round plan references
    * the previous round's frame MORE than once (kCorePeel: the induce
    * step reads `ed` directly plus twice through the dropped-delta
    * subtree — fan-out 3, so un-truncated plan TREE size is 3^rounds ×
    * the base plan; persisting bounds recompute but tree STRINGS are
    * built from the un-deduplicated logical plan). [[planTruncateEvery]]
    * was calibrated on bpeTrain's fan-out-1 chain (linear growth; ~50
    * rounds OOM'd an 8g driver, 8 gives ~6x headroom); at fan-out 3 the
    * same 8 puts 3^8 ≈ 6.5k copies of the base plan into every
    * execution-event string — measured as a reproducible 8g OOM in
    * GraphSpec's 8-round peel. 4 bounds the tree at 3^4 = 81 copies
    * (~20x headroom against the same budget) while keeping eager
    * checkpoint materializations rare. */
  val planTruncateEveryBranching = 4

  /** Track a persisted frame for later release; returns it unchanged. */
  def register(df: DataFrame): DataFrame = synchronized {
    frames += df
    df
  }

  /** Register a persisted frame AND materialize its cache NOW (one
    * `count()` — the cache-lookup rewrite makes it an InMemoryTableScan
    * that builds every cached buffer exactly once).
    *
    * Exists because `persist()` alone does not serialize CONCURRENT
    * first consumers: AQE materializes independent shuffle/broadcast
    * query stages in parallel futures, so when a staged frame feeds two
    * or more sibling subtrees (bucket index + verify sides, self-join
    * left + right, rank frame + cell frame), every sibling races to
    * compute the not-yet-cached plan from scratch and only the first
    * block per partition wins the cache ("Block rdd_N already exists on
    * this machine" — 37 such races in one r17 bench run; StageProbe
    * showed d21's staging stages duplicated wholesale: 92 s of task
    * time for a plan whose honest work is less than half that). One
    * eager count turns the race into cache reads — at any scale the
    * staging pass is the expensive thing and computing it once is the
    * point of the persist.
    *
    * Use for frames consumed by MULTIPLE sibling subtrees of the same
    * action. Keep plain [[register]] for frames consumed once, consumed
    * only sequentially (iterative rounds whose actions already
    * materialize the previous round), or conditionally consumed. */
  def registerEager(df: DataFrame): DataFrame = {
    register(df)
    df.count()
    df
  }

  /** Eagerly localCheckpoint `df` and track BOTH the resulting frame
    * (so iterative round counts stay observable) and the checkpoint's
    * materialized RDD blocks, which `DataFrame.unpersist` cannot reach
    * (CacheManager has no entry for checkpoint-backed frames — without
    * this, the blocks wait for a GC to run the ContextCleaner, the
    * nondeterministic-residency class [[releaseAll]] exists to
    * prevent). The persistent-RDD diff is taken inside the pool lock:
    * concurrent pool users cannot interleave, and any non-pool RDD a
    * racing persist lands in the window is merely unpersisted at the
    * same pipeline boundary releaseAll already clears.
    *
    * The returned frame has no lineage to fall back on: after
    * [[releaseAll]] any plan over it fails loudly instead of
    * recomputing, so every consumer must run before the release. */
  def registerLocalCheckpoint(df: DataFrame): DataFrame = synchronized {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val cp = df.localCheckpoint(true)
    rdds ++= sc.getPersistentRDDs.collect {
      case (id, rdd) if !before(id) => rdd
    }
    frames += cp
    cp
  }

  /** Number of frames currently tracked (test observability). */
  def trackedCount: Int = synchronized(frames.size)

  /** Unpersist every tracked frame and checkpoint RDD and clear the
    * registry. Failures on individual entries (e.g. a stopped session)
    * never mask the rest. Consumers of a [[register]]ed frame recompute
    * it afterwards; consumers of a [[registerLocalCheckpoint]] frame
    * fail, because its dropped blocks were its only copy. */
  def releaseAll(blocking: Boolean = false): Unit = synchronized {
    frames.foreach { f =>
      try f.unpersist(blocking)
      catch { case _: Throwable => () }
    }
    frames.clear()
    rdds.foreach { r =>
      try r.unpersist(blocking)
      catch { case _: Throwable => () }
    }
    rdds.clear()
  }
}
