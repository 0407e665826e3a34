package graft

import org.apache.spark.sql.SparkSession

/** Session bootstrap for the graft engine.
  *
  * Replaces the reference's `SparkSessionTrait`
  * (reference: src/main/scala/SparkSessionTrait.scala:4-41), which set only
  * appName/master and inherited Spark's default 200 shuffle partitions.
  * Differences by design:
  *
  *  - shuffle partitions sized to the executor-thread count (local mode) —
  *    on a real cluster this would be ~2-3x total cores and AQE coalesces;
  *  - Adaptive Query Execution on: runtime partition coalescing and
  *    skew-join splitting are the 100 TB safety net for mis-sized shuffles;
  *  - UTC session timezone for deterministic timestamp semantics;
  *  - auto-broadcast threshold left at default (10 MB): dimension tables
  *    (region/nation/customer at small SF) broadcast automatically, and we
  *    add explicit `broadcast()` hints where the optimizer lacks stats.
  */
object GraftSession {

  def defaultParallelism: Int =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .master(s"local[$defaultParallelism]")
      .config("spark.sql.shuffle.partitions", defaultParallelism.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // local-mode split size; a real cluster keeps the 128m default
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")

  def get(appName: String = "graft"): SparkSession =
    tune(builder(appName).getOrCreate())

  /** Dynamic SQL confs + the engine's optimizer rule, safe to (re)apply
    * to an externally created session — Verify and Bench build their own
    * SparkSession and call this, so driver-graded behavior does not
    * depend on who built the session. */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // let consumers of a persisted frame SEE the partitioning the frame
    // was repartitioned to before the persist (guide §2.4 "two
    // operations keyed the same way share one exchange"): without this,
    // an InMemoryRelation whose child is an AdaptiveSparkPlan reports
    // unknown partitioning and every keyed consumer re-shuffles the
    // cache — the r18 pageRank loop paid one full edge-frame exchange
    // PER ITERATION for exactly this reason (plans/r18/
    // x38_pagerank_{before,after}.txt). Scale-independent semantics:
    // the same plan shape is the win on a cluster. Trade-off: AQE may
    // now change a cache's output partitioning, so keyed consumers of a
    // cache persisted without an explicit repartition may pay an extra
    // read-side shuffle.
    spark.conf.set(
      "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
    // local mode lists files on the driver: above 32 paths Spark's file
    // index lists them with a Spark job, whose tasks on local[N] run on
    // the driver's own threads against the same disk, so the job only
    // adds scheduling. A KpiStream trigger paid it twice (4-core host,
    // local[2]): latestOffset rose from ~100 ms to 0.7-1.3 s once the
    // `$in/*` glob matched more than 32 segment directories, and a
    // 100-file burst's getBatch took 0.8-1.3 s instead of 25-64 ms.
    // A cluster keeps the default, where the job spreads a large
    // listing over executors.
    if (spark.sparkContext.isLocal)
      spark.conf.set(
        "spark.sql.sources.parallelPartitionDiscovery.threshold", Int.MaxValue.toString)
    // HOF→native rewrite (VectorDotRewrite) — idempotent install so
    // user-authored zip_with/aggregate dot products hit the codegen path
    if (!spark.experimental.extraOptimizations.contains(graft.plans.VectorDotRewrite)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.VectorDotRewrite
    }
    spark
  }
}
