package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.airline.{AirlineFixture, AirlineKpis}
import graft.sources.Tables
import graft.streaming.KpiStream

/** The reference topology under open-loop load: `KpiStream` with its
  * one-second trigger over an airline segment directory, writing to a
  * `ParquetKpiStore`. One generator thread renames staged 1000-row
  * segments into the watched directory at their due times, 4 per
  * second, never waiting for the engine. After a warm-up window and
  * the timed open-loop window, 100 segments land at once, twice (the
  * catch-up bursts). */
object KpiWorkload {
  val RatePerS = 4
  val SegmentRows = 1000
  val PrewarmSegments = 2
  val WarmS = 8
  val BurstSegments = 100
  /** Untraced catch-up bursts per run; the catch-up time is their median. */
  val Bursts = 2
  val Query = "graft_kpi_fanout"
  private val TimeoutMs = 120000L

  /** Segment `k`, landing as the directory `dir`: a segment of its own
    * in the open loop; one directory per burst, so that a burst's
    * segments appear in a single rename. */
  final case class Seg(k: Int, phase: String) {
    def dir: String = if (phase.startsWith("burst")) phase else s"segment_$k"
  }

  def run(opts: Opts, raw: Raw): Unit = {
    val nWarm = RatePerS * WarmS
    val nOpen = RatePerS * opts.seconds
    val bursts = (1 to Bursts).map(i => s"burst_$i") ++ (if (opts.trace) Seq("burst_traced") else Nil)
    val nLoop = PrewarmSegments + nWarm + nOpen
    val segs = (0 until PrewarmSegments).map(Seg(_, "prewarm")) ++
      (PrewarmSegments until PrewarmSegments + nWarm).map(Seg(_, "warm")) ++
      (PrewarmSegments + nWarm until nLoop).map(Seg(_, "open")) ++
      bursts.zipWithIndex.flatMap { case (p, i) =>
        val from = nLoop + i * BurstSegments
        (from until from + BurstSegments).map(Seg(_, p))
      }
    // row ids are offset by the seed, so each seed streams other rows
    val idBase = (math.abs(opts.seed) % 1000).toInt * 1000000
    val stageDir = s"${opts.workDir}/stage"

    val setup = Setup.run(opts) {
      Proc.freshDir(stageDir)
      segs.foreach { s =>
        new File(s"$stageDir/${s.dir}").mkdirs()
        val w = new PrintWriter(s"$stageDir/${s.dir}/part-${s.k}.csv")
        try {
          w.println(AirlineFixture.header)
          (0 until SegmentRows).foreach(i => w.println(AirlineFixture.csvLine(idBase + s.k * SegmentRows + i)))
        } finally w.close()
      }
      segs.size
    }
    val spark = setup.spark
    raw("setup_s") = setup.setupS
    raw("session_s") = setup.sessionS

    val marks = mutable.LinkedHashMap("setup" -> Clock.nowMs)
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val listener = new ExecListener
    if (opts.trace) spark.sparkContext.addSparkListener(listener)
    val in = Proc.freshDir(s"${opts.workDir}/in")
    val cp = Proc.freshDir(s"${opts.workDir}/cp")
    val store = new TimedStore(Proc.freshDir(s"${opts.workDir}/store"), Query)
    ExecListener.phase(spark, null)
    val q = KpiStream.start(spark, s"$in/*", cp, store, availableNow = false)

    val landed = mutable.ArrayBuffer.empty[Map[String, Any]]
    def land(group: Seq[Seg], dueMs: Double): Unit = {
      val dir = group.head.dir
      Files.move(new File(s"$stageDir/$dir").toPath, new File(s"$in/$dir").toPath,
        StandardCopyOption.ATOMIC_MOVE)
      val at = Clock.nowMs
      landed.synchronized {
        landed ++= group.map(s => Map("k" -> s.k, "phase" -> s.phase, "name" -> dir,
          "due" -> dueMs, "at" -> at, "rows" -> SegmentRows))
      }
    }
    def sleepUntil(ms: Double): Unit = {
      val d = ms - Clock.nowMs
      if (d > 0) Thread.sleep(d.toLong, ((d - d.toLong) * 1e6).toInt)
    }
    val run = q.runId.toString
    def awaitRows(n: Long): Boolean = {
      val deadline = System.currentTimeMillis() + TimeoutMs
      while (progress.inputRows(run) < n && System.currentTimeMillis() < deadline && q.isActive)
        Thread.sleep(20)
      progress.inputRows(run) >= n
    }

    // JIT warm-up, closed loop: one segment per trigger, so both the first
    // write and the merge into existing state have run before the open loop
    var ok = true
    segs.filter(_.phase == "prewarm").foreach { s =>
      land(Seq(s), Clock.nowMs)
      ok = awaitRows(landed.size.toLong * SegmentRows) && ok
    }
    marks("prewarm") = Clock.nowMs

    // open loop: due times on a fixed schedule, never waiting for the engine
    val open = segs.filter(s => s.phase == "warm" || s.phase == "open")
    // the trigger fires on whole seconds; due times start half a second off them
    val t0 = math.ceil(Clock.nowMs / 1000.0) * 1000.0 + 500.0
    val gen = new Thread(() => open.zipWithIndex.foreach { case (s, i) =>
      val due = t0 + i * 1000.0 / RatePerS
      sleepUntil(due)
      if (s.phase == "open" && opts.trace) Trace.enabled = true
      land(Seq(s), due)
    }, "perfbench-generator")
    gen.start()
    gen.join()
    ok = awaitRows(landed.size.toLong * SegmentRows) && ok
    marks("open_loop") = Clock.nowMs

    // catch-up bursts: all segments of a burst land in one rename
    bursts.foreach { b =>
      Trace.enabled = opts.trace && b == "burst_traced"
      val burst = segs.filter(_.phase == b)
      val due = math.ceil(Clock.nowMs / 1000.0) * 1000.0 + 100.0
      sleepUntil(due)
      val c0 = Proc.cpuS
      land(burst, due)
      val upTo = landed.size.toLong * SegmentRows
      ok = awaitRows(upTo) && ok
      raw(s"${b}_cpu_s") = Proc.cpuS - c0
    }
    Trace.enabled = false
    marks("bursts") = Clock.nowMs
    q.stop()
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    raw("segments") = landed.toSeq
    raw("checkpoint") = cp
    raw("run") = run
    raw("query_id") = q.id.toString
    raw("completed") = ok
    raw("exception") = q.exception.map(_.toString)

    // output check: store read-back against the batch transforms over
    // every landed segment; the two mean tables compare derived means
    ExecListener.phase(spark, "check")
    val batch = Tables.airlineCsv(spark, s"$in/*").cache()
    // fill the cache once, before the concurrent checks below all read it
    batch.count()
    // the tables are small: check them concurrently, so Spark's per-job
    // latency overlaps instead of adding up
    implicit val ec: ExecutionContext = ExecutionContext.global
    val checks = AirlineKpis.all.map { case (table, transform, _) =>
      Future {
        val got = store.read(spark, table)
        val (want, have) = table match {
          case "flight_distance_impact" =>
            (AirlineKpis.flightDistanceImpact(batch), got.map(AirlineKpis.deriveFlightDistanceImpact))
          case "mean_satisfaction_by_feature" =>
            (AirlineKpis.meanSatisfactionByFeature(batch), got.map(AirlineKpis.deriveMeanSatisfaction))
          case _ => (transform(batch), got)
        }
        Map("name" -> table, "want" -> Digest.of(want).render, "got" -> have.map(Digest.of(_).render))
      }
    }
    raw("checks") = checks.map(Await.result(_, Duration.Inf))
    batch.unpersist()
    marks("check") = Clock.nowMs
    raw("store_bytes") = Proc.dirBytes(new File(s"${opts.workDir}/store"))
    if (opts.trace) {
      raw("merges") = store.all
      raw("listener") = listener.snapshot(spark)
    }
    raw("progress") = progress.all
    raw("marks") = marks
    spark.stop()
  }
}
