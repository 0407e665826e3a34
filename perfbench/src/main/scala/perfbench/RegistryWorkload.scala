package perfbench

import scala.collection.mutable

import graft.{CachePool, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The registry workload: a fixed list of `SparkEntry.queries` at sf0.1,
  * run in an order shuffled by the seed. An untimed pass warms the JVM.
  * In the timed pass each query is built, planned and fully materialized
  * once through `queryExecution.toRdd`, folding the rows into the digest
  * the output check compares with the golden one; `CachePool` is
  * released after every query. */
object RegistryWorkload {

  /** Execution-dominated queries (scans, shuffles, aggregates, joins)
    * and build-dominated ones (a connected-components loop with eager
    * `CachePool` staging; regex tokenization). */
  val Queries: Seq[String] = Seq(
    "a19_heavy_hitters", "j2_sortmerge_fact", "d8_neardup_groups", "t6_lang_id")

  type Query = (SparkSession, String) => DataFrame

  def run(opts: Opts, raw: Raw): Unit = {
    val setup = Setup.run(opts) {
      new scala.util.Random(opts.seed).shuffle(Queries).map(n => n -> SparkEntry.queries(n))
    }
    val spark = setup.spark
    val order = setup.staged
    raw("setup_s") = setup.setupS
    raw("session_s") = setup.sessionS
    raw("order") = order.map(_._1)
    val listener = new ExecListener
    if (opts.trace) spark.sparkContext.addSparkListener(listener)

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    def pass(kind: String)(one: (String, Query) => Map[String, Any]): Double = {
      System.gc()
      val c0 = Proc.cpuS
      val t0 = Clock.nowMs
      val rows = order.map { case (n, fn) =>
        val r = try one(n, fn) catch {
          case e: Throwable => Map[String, Any]("error" -> e.toString)
        } finally CachePool.releaseAll()
        r ++ Map("name" -> n)
      }
      val wall = (Clock.nowMs - t0) / 1000.0
      passes += Map("kind" -> kind, "wall_s" -> wall, "cpu_s" -> (Proc.cpuS - c0), "queries" -> rows)
      wall
    }

    pass("warm") { (_, fn) => Map("rows" -> fn(spark, opts.dataDir).queryExecution.toRdd.count()) }
    def timed(n: String, fn: Query): Map[String, Any] = {
      val t0 = Clock.nowMs
      val d = Digest.of(fn(spark, opts.dataDir))
      CachePool.releaseAll()
      Map("s" -> (Clock.nowMs - t0) / 1000.0, "rows" -> d.rows, "digest" -> d.render)
    }
    // whole timed passes fill --seconds, at least two: the first timed pass
    // still overlaps JIT compilation (it used 30-40 % more CPU than the next)
    val walls = mutable.ArrayBuffer(pass("timed")(timed), pass("timed")(timed))
    while (walls.sum + walls.sum / walls.size <= opts.seconds) walls += pass("timed")(timed)

    if (opts.trace) {
      Trace.enabled = true
      pass("traced") { (n, fn) =>
        Trace.span("query", n) {
          val t0 = Clock.nowMs
          ExecListener.phase(spark, s"build:$n")
          val df = Trace.span("build")(fn(spark, opts.dataDir))
          val t1 = Clock.nowMs
          ExecListener.phase(spark, s"plan:$n")
          Trace.span("plan")(df.queryExecution.executedPlan)
          val t2 = Clock.nowMs
          ExecListener.phase(spark, s"exec:$n")
          val d = Trace.span("exec")(Digest.of(df))
          val t3 = Clock.nowMs
          ExecListener.phase(spark, s"release:$n")
          val frames = CachePool.trackedCount
          Trace.span("cachepool.release")(CachePool.releaseAll())
          val t4 = Clock.nowMs
          ExecListener.phase(spark, null)
          Map("s" -> (t4 - t0) / 1000.0, "rows" -> d.rows, "digest" -> d.render,
            "family" -> n.take(1), "build_s" -> (t1 - t0) / 1000.0,
            "plan_s" -> (t2 - t1) / 1000.0, "exec_s" -> (t3 - t2) / 1000.0,
            "release_s" -> (t4 - t3) / 1000.0, "frames" -> frames)
        }
      }
      raw("listener") = listener.snapshot(spark)
      // the traced run also drains the streaming views, for the sink's
      // non-additive merges
      val progress = new ProgressLog
      spark.streams.addListener(progress)
      Views.run(spark, opts, raw)
      Trace.enabled = false
      raw("progress") = progress.all
    }
    raw("passes") = passes.toSeq
    spark.stop()
  }
}
