package graft

import graft.airline.AirlineKpis
import graft.streaming.{KpiStream, ParquetKpiStore, Reconstitution}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end streaming tests over a generated airline-shaped CSV segment
  * directory (the reference's own dataset is not in the fixture set, so
  * the stream fixture is synthesized in-test with a fixed seed). */
class StreamingSpec extends SparkTestBase {

  import graft.airline.AirlineFixture
  import AirlineFixture.{csvLine, header}

  private def writeSegments(dir: String, nSegments: Int, rows: Int): Unit =
    AirlineFixture.writeSegments(dir, nSegments, rows)

  /** Every KPI table read from `store` equals its batch transform over `batch`. */
  private def assertKpis(store: ParquetKpiStore, batch: DataFrame, clue: String): Unit =
    AirlineKpis.all.foreach { case (table, transform, keys) =>
      val want = transform(batch).orderBy(keys.map(col): _*).collect().toSeq
      val got = store.read(batch.sparkSession, table).get.orderBy(keys.map(col): _*).collect().toSeq
      assert(got == want, s"KPI $table mismatch $clue")
    }

  test("KPI fan-out stream: final store state == batch groupBy on same input") {
    val in = tmpDir("kpi-in"); val cp = tmpDir("kpi-cp"); val st = tmpDir("kpi-store")
    writeSegments(in, 3, 40)
    val store = new ParquetKpiStore(st)
    KpiStream.runToCompletion(spark, s"$in/*", cp, store)

    val batch = graft.sources.Tables.airlineCsv(spark, s"$in/*")
    // the full reference workload: 8 tables on the delivery path (K8's
    // flight_distance_impact included — round-5 gap)
    assert(AirlineKpis.all.size == 8, "the streaming fan-out must ship all 8 KPI tables")
    AirlineKpis.all.foreach { case (table, transform, keys) =>
      val want = transform(batch).orderBy(keys.map(col): _*).collect().toSeq
      val got = store.read(spark, table).get.orderBy(keys.map(col): _*).collect().toSeq
      assert(got == want, s"KPI $table mismatch")
    }
  }

  test("KPI fan-out: a merge failing mid-batch replays from the checkpoint to exactly-once state") {
    val in = tmpDir("replay-in"); val cp = tmpDir("replay-cp"); val st = tmpDir("replay-store")
    writeSegments(in, 3, 40)
    // the file source takes the oldest file first: batch s reads segment s
    val t0 = System.currentTimeMillis() - 60000
    (0 until 3).foreach(s =>
      new java.io.File(s"$in/segment_$s/part-0.csv").setLastModified(t0 + s * 10000L))
    val store = new FailOnceStore(st, AirlineKpis.stateTable, 1L)
    def run() = KpiStream.start(spark, s"$in/*", cp, store,
      availableNow = true, maxFilesPerTrigger = Some(1)).awaitTermination()
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage == FailOnceStore.Message), err.toString)
    // all or nothing: the failed commit left all eight tables at batch 0,
    // equal to the batch reference over segment 0 alone
    AirlineKpis.all.foreach { case (table, _, _) =>
      assert(store.appliedBatch(spark, table) == 0L, s"$table after the failed batch")
    }
    assertKpis(store, graft.sources.Tables.airlineCsv(spark, s"$in/segment_0"),
      "after the failed batch")
    run() // restart: batch 1 replays from the checkpoint
    AirlineKpis.all.foreach { case (table, _, _) =>
      assert(store.appliedBatch(spark, table) == 2L, s"$table after the restart")
    }
    assertKpis(store, graft.sources.Tables.airlineCsv(spark, s"$in/*"), "after replay")
  }

  test("KPI fan-out computes each micro-batch once: summed numInputRows == rows landed") {
    val in = tmpDir("scan-in"); val cp = tmpDir("scan-cp"); val st = tmpDir("scan-store")
    writeSegments(in, 3, 40)
    val q = KpiStream.start(spark, s"$in/*", cp, new ParquetKpiStore(st),
      availableNow = true, maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length == 3, q.recentProgress.map(_.numInputRows).toSeq)
    // every extra evaluation of a batch's source scan adds its rows again
    assert(batches.map(_.numInputRows).sum == 3 * 40L,
      s"numInputRows per batch: ${batches.map(_.numInputRows).toSeq}")
  }

  test("KPI stream: a tuned trigger fires at most 4 jobs, 2 for the fused aggregate and 2 for the state merge") {
    val in = tmpDir("tjobs-in")
    writeSegments(in, 3, 40)
    val tuned = GraftSession.tune(spark.newSession())
    val store = new ParquetKpiStore(tmpDir("tjobs-store"))
    def trigger(p: java.util.Properties) = for {
      q <- Option(p.getProperty("sql.streaming.queryId"))
      b <- Option(p.getProperty("streaming.sql.batchId"))
    } yield s"$q:$b"
    JobCounter.around(spark.sparkContext)(trigger) { jobs =>
      val q = KpiStream.start(tuned, s"$in/*", tmpDir("tjobs-cp"), store,
        availableNow = true, maxFilesPerTrigger = Some(1))
      q.awaitTermination()
      jobs.flush()
      val triggers = q.recentProgress.filter(_.numInputRows > 0).map(p => s"${q.id}:${p.batchId}")
      assert(triggers.length == 3, q.recentProgress.map(_.numInputRows).toSeq)
      triggers.foreach { t =>
        assert(jobs(t) >= 1 && jobs(t) <= 4, s"trigger $t fired ${jobs(t)} jobs: ${jobs.snapshot}")
      }
    }
    assertKpis(store, graft.sources.Tables.airlineCsv(tuned, s"$in/*"), "")
  }

  test("KPI views: a fresh store reads all eight at one batch; a staged, unswapped version changes none") {
    val in = tmpDir("kview-in"); val cp = tmpDir("kview-cp"); val st = tmpDir("kview-store")
    writeSegments(in, 3, 40)
    KpiStream.runToCompletion(spark, s"$in/*", cp, new ParquetKpiStore(st))
    val store = new ParquetKpiStore(st) // a fresh store on the same root
    val state = AirlineKpis.stateTable
    def reads() = AirlineKpis.all.map { case (table, _, keys) =>
      store.read(spark, table).get.orderBy(keys.map(col): _*).collect().toSeq
    }
    assertKpis(store, graft.sources.Tables.airlineCsv(spark, s"$in/*"), "in a fresh store")
    val before = reads()
    val n = store.appliedBatch(spark, state)
    assert(n == 0L)
    assert(AirlineKpis.all.map(t => store.appliedBatch(spark, t._1)).toSet == Set(n))
    AirlineKpis.all.foreach { case (table, _, _) =>
      assert(new java.io.File(s"$st/$table/_VIEW").exists(), s"$table is not a view")
      assert(!new java.io.File(s"$st/$table/_LATEST").exists(), s"$table holds its own data")
    }

    // the crash window: the next version written, its pointer not swapped
    val bumped = Seq("cnt", "loyal", "ct", "sat").foldLeft(store.read(spark, state).get) {
      (d, c) => d.withColumn(c, col(c) + 1)
    }
    bumped.write.parquet(s"$st/$state/v_${n + 1}")
    assert(reads() == before, "a staged version changed a KPI read")
    assert(AirlineKpis.all.map(t => store.appliedBatch(spark, t._1)).toSet == Set(n))
  }

  test("ParquetKpiStore views read through their source, refuse writes and never shadow a table") {
    import spark.implicits._
    val st = tmpDir("view-store")
    val store = new ParquetKpiStore(st)
    def defineEven() = store.defineView(spark, "even", "t", "k % 2 = 0", Seq("k", "v * 10 AS v10"))
    defineEven()
    assert(store.read(spark, "even").isEmpty)
    assert(store.appliedBatch(spark, "even") == -1L)
    store.merge(spark, "t", Seq("k"), Seq((1, 1L), (2, 2L)).toDF("k", "v"), 0L)
    defineEven() // the same definition again: nothing changes
    store.merge(spark, "t", Seq("k"), Seq((2, 5L), (4, 1L)).toDF("k", "v"), 1L)
    assert(store.read(spark, "even").get.orderBy("k").as[(Int, Long)].collect().toSeq ==
      Seq((2, 70L), (4, 10L)))
    assert(store.appliedBatch(spark, "even") == 1L)
    // a changed definition is refused: the stored one stays in force
    val redefined = intercept[IllegalArgumentException](
      store.defineView(spark, "even", "t", "k % 2 = 0", Seq("k", "v")))
    assert(redefined.getMessage.contains("already defined as a different view"),
      redefined.getMessage)
    assert(store.read(spark, "even").get.orderBy("k").as[(Int, Long)].collect().toSeq ==
      Seq((2, 70L), (4, 10L)))

    val upd = Seq((6, 1L)).toDF("k", "v")
    Seq[() => Unit](
      () => store.merge(spark, "even", Seq("k"), upd, 2L),
      () => store.mergeReplace(spark, "even", Seq("k"), upd, 2L),
      () => store.mergeWith(spark, "even", upd, 2L)(identity),
      () => store.mergeGroup(spark, "g", Seq(("even", Seq("k"), upd)), 2L),
      () => store.commitGroup(spark, "g", Seq(("even", upd)), 2L)).foreach { write =>
      val e = intercept[IllegalArgumentException](write())
      assert(e.getMessage.contains("even is a view"), e.getMessage)
    }
    assert(store.appliedGroupBatch(spark, "g") == -1L)

    // a written table never becomes a view, so no stored data is hidden
    val e = intercept[IllegalArgumentException](
      store.defineView(spark, "t", "even", "true", Seq("k")))
    assert(e.getMessage.contains("already holds a table"), e.getMessage)
    assert(store.read(spark, "t").get.count() == 3L)
    assert(!new java.io.File(s"$st/t/_VIEW").exists())
    assert(!new java.io.File(s"$st/even/_VIEW.tmp").exists())
  }

  test("K8 streams as components; derived flight-distance mean == batch KPI") {
    val in = tmpDir("k8-in"); val cp = tmpDir("k8-cp"); val st = tmpDir("k8-store")
    writeSegments(in, 3, 40)
    val store = new ParquetKpiStore(st)
    KpiStream.runToCompletion(spark, s"$in/*", cp, store)
    val derived = AirlineKpis.deriveFlightDistanceImpact(
      store.read(spark, "flight_distance_impact").get)
      .orderBy("flight_distance").collect().toSeq
    val batch = AirlineKpis.flightDistanceImpact(
      graft.sources.Tables.airlineCsv(spark, s"$in/*"))
      .orderBy("flight_distance").collect().toSeq
    assert(derived == batch)
  }

  test("non-additive KPI (A7 mean) streams as components; derived mean == batch mean") {
    val in = tmpDir("a7-in"); val cp = tmpDir("a7-cp"); val st = tmpDir("a7-store")
    writeSegments(in, 3, 40)
    val store = new ParquetKpiStore(st)
    KpiStream.runToCompletion(spark, s"$in/*", cp, store)
    val derived = AirlineKpis.deriveMeanSatisfaction(
      store.read(spark, "mean_satisfaction_by_feature").get)
      .orderBy("feature_name", "feature_value").collect().toSeq
    val batchMean = AirlineKpis.meanSatisfactionByFeature(
      graft.sources.Tables.airlineCsv(spark, s"$in/*"))
      .orderBy("feature_name", "feature_value").collect().toSeq
    assert(derived == batchMean)
  }

  test("KPI stream picks up late-arriving segments incrementally") {
    val in = tmpDir("kpi2-in"); val cp = tmpDir("kpi2-cp"); val st = tmpDir("kpi2-store")
    writeSegments(in, 2, 30)
    val store = new ParquetKpiStore(st)
    KpiStream.runToCompletion(spark, s"$in/*", cp, store)
    // two more segments arrive; a new AvailableNow drain folds ONLY them in
    // (and its start declares the same KPI views over the same store again)
    (2 until 4).foreach { s =>
      val seg = new java.io.File(s"$in/segment_$s"); seg.mkdirs()
      val w = new java.io.PrintWriter(s"$in/segment_$s/part-0.csv")
      w.println(header); (0 until 30).foreach(i => w.println(csvLine(s * 30 + i))); w.close()
    }
    KpiStream.runToCompletion(spark, s"$in/*", cp, store)
    val want = AirlineKpis.genderCounts(graft.sources.Tables.airlineCsv(spark, s"$in/*"))
      .orderBy("Gender").collect().toSeq
    val got = store.read(spark, "gender_counts").get.orderBy("Gender").collect().toSeq
    assert(got == want)
  }

  test("continuous KPI stream: a segment landing mid-second starts its trigger before the next whole second") {
    val stage = tmpDir("cont-stage"); val in = tmpDir("cont-in")
    val cp = tmpDir("cont-cp"); val store = new ParquetKpiStore(tmpDir("cont-store"))
    writeSegments(stage, 2, 40)
    def land(s: Int): Unit = java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$stage/segment_$s"), java.nio.file.Paths.get(s"$in/segment_$s"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    land(0)
    val q = KpiStream.start(spark, s"$in/*", cp, store, availableNow = false)
    try {
      def triggers = q.recentProgress.filter(_.numInputRows > 0)
      def await(batches: Int): Unit = {
        val deadline = System.currentTimeMillis() + 60000
        while ((triggers.length < batches ||
                store.appliedBatch(spark, AirlineKpis.stateTable) < batches - 1) &&
               q.isActive && System.currentTimeMillis() < deadline) Thread.sleep(10)
        assert(triggers.length == batches && q.isActive,
          s"${q.exception} ${q.recentProgress.map(_.numInputRows).toSeq}")
      }
      await(1)
      Thread.sleep(200) // idle: the stream has nothing new to read
      // land 100 ms after a whole second: a fixed one-second interval would
      // start the trigger that reads it exactly on the next whole second
      val nextSecond = (System.currentTimeMillis() / 1000 + 1) * 1000
      Thread.sleep(nextSecond + 100 - System.currentTimeMillis())
      land(1)
      await(2)
      val started = java.time.Instant.parse(triggers.last.timestamp).toEpochMilli
      assert(triggers.last.numInputRows == 40L)
      assert(started < nextSecond + 1000,
        s"the trigger carrying the segment landed at ${nextSecond + 100} started at $started")
      assertKpis(store, graft.sources.Tables.airlineCsv(spark, s"$in/*"), "over both segments")
    } finally q.stop()
  }

  test("ParquetKpiStore merge is idempotent on batch replay") {
    import spark.implicits._
    val st = tmpDir("idem-store")
    val store = new ParquetKpiStore(st)
    val b0: DataFrame = Seq(("a", 2L), ("b", 1L)).toDF("k", "Count")
    store.merge(spark, "t", Seq("k"), b0, 0L)
    store.merge(spark, "t", Seq("k"), b0, 0L) // replay of applied batch: no-op
    val got = store.read(spark, "t").get.orderBy("k").as[(String, Long)].collect().toSeq
    assert(got == Seq(("a", 2L), ("b", 1L)))
    store.merge(spark, "t", Seq("k"), Seq(("a", 3L)).toDF("k", "Count"), 1L)
    val got2 = store.read(spark, "t").get.orderBy("k").as[(String, Long)].collect().toSeq
    assert(got2 == Seq(("a", 5L), ("b", 1L)))
  }

  test("_LATEST pointer swap is atomic: a hammering reader never sees a gap") {
    import spark.implicits._
    val st = tmpDir("atomic-store")
    val store = new ParquetKpiStore(st)
    val distinct = (0 until 4).map(i => s"d$i")
    val tables = "t" +: "pair" +: distinct
    def one(v: Long) = Seq(("a", v)).toDF("k", "Count")
    def valueOf(table: String) = store.read(spark, table).get.as[(String, Long)].head()._2
    tables.foreach(t => store.merge(spark, t, Seq("k"), one(1L), 0L))
    @volatile var stop = false
    @volatile var bad: Option[String] = None
    // reader races every merge's pointer swap; with create-overwrite it
    // could catch a truncated/empty _LATEST — with rename it cannot
    val reader = new Thread(() => {
      while (!stop && bad.isEmpty) {
        tables.foreach { t =>
          try {
            if (store.appliedBatch(spark, t) < 0L)
              bad = Some(s"reader observed a missing/empty pointer on $t")
          } catch { case e: Throwable => bad = Some(s"reader failed on $t: $e") }
        }
      }
    })
    def inThreads(bodies: Seq[() => Unit]): Unit = {
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val ts = bodies.map(b => new Thread(() => try b() catch { case e: Throwable => errors.add(e) }))
      ts.foreach(_.start()); ts.foreach(_.join())
      assert(errors.isEmpty, errors.toString)
    }
    reader.start()
    (1 to 10).foreach { i =>
      store.merge(spark, "t", Seq("k"), one(1L), i.toLong)
    }
    // distinct tables merge at once: each ends where a sequential run would
    inThreads(distinct.map(t => () =>
      (1 to 5).foreach(b => store.merge(spark, t, Seq("k"), one(1L), b.toLong))))
    // one table, two threads, different batch ids: the merges serialize, so
    // each round ends in a sequential outcome — both applied (+101), or
    // the higher id first and the lower one skipped as a replay (+100);
    // a lost update (both folding the same base version) would show +1
    (0 until 4).foreach { r =>
      val before = valueOf("pair")
      val (lo, hi) = (2L * r + 1, 2L * r + 2)
      inThreads(Seq(
        () => store.merge(spark, "pair", Seq("k"), one(1L), lo),
        () => store.merge(spark, "pair", Seq("k"), one(100L), hi)))
      val delta = valueOf("pair") - before
      assert(delta == 101L || delta == 100L, s"round $r: pair grew by $delta")
      assert(store.appliedBatch(spark, "pair") == hi)
    }
    stop = true
    reader.join()
    assert(bad.isEmpty, bad.getOrElse(""))
    assert(store.appliedBatch(spark, "t") == 10L)
    distinct.foreach { t =>
      assert(store.appliedBatch(spark, t) == 5L)
      assert(valueOf(t) == 6L, s"$t lost a concurrent merge")
    }
    // no leftover temp file once the swap completes
    tables.foreach(t => assert(!new java.io.File(s"$st/$t/_LATEST.tmp").exists()))
  }

  test("ParquetKpiStore merge resolves an existing table's current version without a Spark job") {
    import spark.implicits._
    val phase = "graft.test.phase"
    def during[A](name: String)(body: => A): A = {
      spark.sparkContext.setLocalProperty(phase, name)
      try body finally spark.sparkContext.setLocalProperty(phase, null)
    }
    // merge's own resolution step, observed through the real merge path
    val resolutions = new java.util.concurrent.atomic.AtomicInteger(0)
    val store = new ParquetKpiStore(tmpDir("jobs-store")) {
      override private[graft] def readAs(
          s: org.apache.spark.sql.SparkSession, table: String,
          schema: org.apache.spark.sql.types.StructType) = {
        resolutions.incrementAndGet()
        during("resolve")(super.readAs(s, table, schema))
      }
    }
    store.merge(spark, "t", Seq("k"), Seq(("a", 2L)).toDF("k", "Count"), 0L)
    JobCounter.around(spark.sparkContext)(p => Option(p.getProperty(phase))) { jobs =>
      store.merge(spark, "t", Seq("k"), Seq(("a", 3L)).toDF("k", "Count"), 1L)
      // the public read still infers the schema: the listener sees that job
      during("read")(store.read(spark, "t"))
      jobs.flush()
      assert(jobs("read") >= 1, s"inference job not observed: ${jobs.snapshot}")
      assert(resolutions.get() == 2, "merge did not resolve its version through readAs")
      assert(jobs("resolve") == 0, s"merge's version read fired jobs: ${jobs.snapshot}")
    }
    assert(store.read(spark, "t").get.as[(String, Long)].collect().toSeq == Seq(("a", 5L)))
  }

  test("tuned local session lists a >32-directory segment stream on the driver: no listing jobs") {
    val in = tmpDir("list-in")
    writeSegments(in, 40, 5) // 40 segment directories: over Spark's 32-path job threshold
    def listing(p: java.util.Properties) =
      Option(p.getProperty("spark.job.description"))
        .filter(_.startsWith("Listing leaf files and directories")).map(_ => "listing")
    val tuned = GraftSession.tune(spark.newSession())
    val store = new ParquetKpiStore(tmpDir("list-store"))
    JobCounter.around(spark.sparkContext)(listing) { jobs =>
      // drains the whole stream in one session; returns its listing-job count
      def drain(session: org.apache.spark.sql.SparkSession, store: ParquetKpiStore): Int = {
        jobs.reset()
        KpiStream.runToCompletion(session, s"$in/*", tmpDir("list-cp"), store)
        jobs.flush()
        jobs("listing")
      }
      // control: the untuned session lists the glob and the 40-file batch with jobs
      val untunedJobs = drain(spark.newSession(), new ParquetKpiStore(tmpDir("list-store-ctl")))
      assert(untunedJobs >= 1, "control: an untuned session fired no listing job, so this spec cannot fail")
      val tunedJobs = drain(tuned, store)
      assert(tunedJobs == 0, s"tuned session fired $tunedJobs listing jobs")
    }
    val batch = graft.sources.Tables.airlineCsv(tuned, s"$in/*")
    AirlineKpis.all.foreach { case (table, transform, keys) =>
      val want = transform(batch).orderBy(keys.map(col): _*).collect().toSeq
      val got = store.read(tuned, table).get.orderBy(keys.map(col): _*).collect().toSeq
      assert(got == want, s"KPI $table mismatch")
    }
  }

  test("maxFilesPerTrigger bounds micro-batch size (backpressure knob)") {
    val in = tmpDir("bp-in"); val cp = tmpDir("bp-cp"); val st = tmpDir("bp-store")
    writeSegments(in, 4, 20)
    val store = new ParquetKpiStore(st)
    val q = KpiStream.start(spark, s"$in/*", cp, store,
      availableNow = true, maxFilesPerTrigger = Some(1))
    q.awaitTermination()
    // 4 segment files, 1 per trigger -> at least 4 applied batches
    assert(store.appliedBatch(spark, "gender_counts") >= 3)
    val want = AirlineKpis.genderCounts(graft.sources.Tables.airlineCsv(spark, s"$in/*"))
      .orderBy("Gender").collect().toSeq
    assert(store.read(spark, "gender_counts").get.orderBy("Gender").collect().toSeq == want)
  }

  test("ParquetKpiStore prunes old versions, keeping current + previous") {
    import spark.implicits._
    val st = tmpDir("gc-store")
    val store = new ParquetKpiStore(st)
    (0L to 4L).foreach { b =>
      store.merge(spark, "t", Seq("k"), Seq(("a", 1L)).toDF("k", "Count"), b)
    }
    val dirs = new java.io.File(s"$st/t").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq == Seq("v_3", "v_4"), dirs.toSeq.toString)
    // state survived pruning: 5 merges of +1
    assert(store.read(spark, "t").get.as[(String, Long)].head() == ("a", 5L))
  }

  test("reconstitution: normalized lines in segment order, batch == stream") {
    val in = tmpDir("rec-in")
    (0 until 3).foreach { s =>
      val seg = new java.io.File(s"$in/segment_$s"); seg.mkdirs()
      val w = new java.io.PrintWriter(s"$in/segment_$s/lines.txt")
      w.println(s"Seg-$s, Line one!")
      w.println(s"Seg-$s; line TWO?")
      w.close()
    }
    val outBatch = tmpDir("rec-out") + "/batch.txt"
    Reconstitution.batchReconstitute(spark, s"$in/*", outBatch)
    val gotBatch = scala.io.Source.fromFile(outBatch).getLines().toSeq
    assert(gotBatch == Seq(
      "seg0 line one", "seg0 line two",
      "seg1 line one", "seg1 line two",
      "seg2 line one", "seg2 line two"))

    val outStream = tmpDir("rec-out2") + "/stream.txt"
    val q = Reconstitution.streamReconstitute(
      spark, s"$in/*", outStream, tmpDir("rec-cp"))
    q.awaitTermination()
    val gotStream = scala.io.Source.fromFile(outStream).getLines().toSeq
    assert(gotStream.sorted == gotBatch.sorted)
    assert(gotStream == gotBatch, "stream append must preserve segment order")
  }

  test("streaming LSH dedup finds near-dups across micro-batches without reprocessing") {
    import spark.implicits._
    import graft.streaming.StreamingLshDedup
    val base = tmpDir("sdedup")
    val dedup = new StreamingLshDedup(s"$base/index", s"$base/matches")
    val doc = "the quick brown fox jumps over the lazy dog again and again today"

    // batch 0: the original + unrelated docs (plus an in-batch dup pair)
    val batch0 = Seq(
      (1L, doc), (2L, doc.replace("quick", "speedy")),
      (3L, "completely unrelated words about cooking pasta tonight with sauce and basil")
    ).toDF("doc_id", "text")
    dedup.processBatch(spark, batch0, 0L)

    // batch 1: a near-dup of doc 1 arrives later + a fresh doc
    val batch1 = Seq(
      (10L, doc.replace("today", "tonight")),
      (11L, "brand new content unseen before about distributed query engines at scale")
    ).toDF("doc_id", "text")
    dedup.processBatch(spark, batch1, 1L)
    // replay of batch 1 must be a no-op (exactly-once)
    dedup.processBatch(spark, batch1, 1L)

    val matches = spark.read.parquet(s"$base/matches")
      .select("new_id", "old_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(matches.contains((10L, 1L)), s"cross-batch dup missed: $matches")
    assert(matches.contains((2L, 1L)), s"in-batch dup missed: $matches")
    assert(!matches.exists(p => p._1 == 11L || p._2 == 11L), s"false positive: $matches")
    // index holds bucket rows for ALL docs from both batches
    val indexed = spark.read.parquet(s"$base/index/data")
      .select("doc_id").distinct().count()
    assert(indexed == 5)
  }

  test("LSH dedup index: pre-v2 layout fails fast; marker-less v2 is stamped, not refused; duplicate doc_id rows in docs/ don't fan out match rows") {
    import spark.implicits._
    import graft.streaming.StreamingLshDedup
    // pre-v2 layout: data/ rows carry the inline shingle array (`_sh`)
    // — every writer must refuse with a rebuild message rather than
    // append id-only rows into a shingle-inline store (mixed schemas)
    val old = tmpDir("sdedup-oldlayout")
    val oldDedup = new StreamingLshDedup(s"$old/index", s"$old/matches")
    Seq((1L, Seq("inline", "shingle", "era"))).toDF("doc_id", "_sh")
      .write.parquet(s"$old/index/data")
    val ex = intercept[IllegalStateException] {
      oldDedup.processBatch(
        spark, Seq((2L, "some text here")).toDF("doc_id", "text"), 0L)
    }
    assert(ex.getMessage.contains("pre-v2") && ex.getMessage.contains("Rebuild"),
      s"wrong failure message: ${ex.getMessage}")
    val ex2 = intercept[IllegalStateException] {
      oldDedup.seedIndex(spark, Seq((2L, "seed text")).toDF("doc_id", "text"), 0L)
    }
    assert(ex2.getMessage.contains("pre-v2"))

    // marker-less v2: the marker postdates the split, so a healthy v2
    // index built by the prior code has data/ in the id-only shape but
    // no _layout_v2 file — the writer must classify it by schema,
    // stamp the marker, and proceed (r14 ADVICE), never force a rebuild
    val ml = tmpDir("sdedup-markerless")
    val mlDedup = new StreamingLshDedup(s"$ml/index", s"$ml/matches")
    val mlDoc = "the quick brown fox jumps over the lazy dog again and again today"
    mlDedup.seedIndex(spark, Seq((1L, mlDoc)).toDF("doc_id", "text"), 0L)
    val markerFile = new java.io.File(s"$ml/index/_layout_v2")
    assert(markerFile.exists()); assert(markerFile.delete())
    mlDedup.processBatch(
      spark, Seq((10L, mlDoc.replace("today", "tonight"))).toDF("doc_id", "text"), 0L)
    assert(markerFile.exists(), "provably-v2 index must be re-stamped, not refused")
    val mlMatches = spark.read.parquet(s"$ml/matches")
      .select("new_id", "old_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mlMatches.contains((10L, 1L)), s"marker-less v2 index lost its corpus: $mlMatches")

    // duplicate doc_id in docs/ (doc 1 both seeded and streamed): the
    // id-pair distinct runs before the shingle join, so without the
    // old-side dedupe each docs/ copy would emit its own match row
    val base = tmpDir("sdedup-dupdoc")
    val dedup = new StreamingLshDedup(s"$base/index", s"$base/matches")
    val doc = "the quick brown fox jumps over the lazy dog again and again today"
    dedup.seedIndex(spark, Seq((1L, doc)).toDF("doc_id", "text"), 0L)
    // re-ingest of doc 1 through the stream: no self-match (same id is
    // excluded from candidates) but docs/ now holds doc 1 TWICE
    dedup.processBatch(spark, Seq((1L, doc)).toDF("doc_id", "text"), 0L)
    assert(spark.read.parquet(s"$base/index/docs")
      .filter($"doc_id" === 1L).count() == 2,
      "fixture must actually create the duplicate docs/ rows this spec guards")
    dedup.processBatch(
      spark, Seq((10L, doc.replace("today", "tonight"))).toDF("doc_id", "text"), 1L)
    val matchRows = spark.read.parquet(s"$base/matches")
      .filter($"new_id" === 10L && $"old_id" === 1L).count()
    assert(matchRows == 1L,
      s"duplicate docs/ rows fanned the verify join into $matchRows match rows")
  }

  test("seedIndex bootstraps the index without self-dedup; later batches match against it; autoIndexParts follows bytes") {
    import spark.implicits._
    import graft.streaming.StreamingLshDedup
    val base = tmpDir("sdedup-seed")
    val dedup = new StreamingLshDedup(s"$base/index", s"$base/matches")
    val doc = "the quick brown fox jumps over the lazy dog again and again today"
    // the seed corpus CONTAINS a near-dup pair — seedIndex must NOT
    // emit it (already-deduped-corpus contract: no self-join, no
    // matches output), only index it
    val seed = Seq(
      (1L, doc), (2L, doc.replace("quick", "speedy")),
      (3L, "completely unrelated words about cooking pasta tonight with sauce and basil")
    ).toDF("doc_id", "text")
    dedup.seedIndex(spark, seed, 0L)
    dedup.seedIndex(spark, seed, 0L) // idempotent replay
    assert(!new java.io.File(s"$base/matches").exists(),
      "seedIndex must not run the within-batch self-dedup")
    assert(spark.read.parquet(s"$base/index/data")
      .select("doc_id").distinct().count() == 3)
    // a streaming batch against the seeded index behaves exactly as if
    // the seed had arrived before the stream — INCLUDING batchId 0:
    // structured streaming numbers a fresh checkpoint's first batch 0,
    // so the seed marker must live in its own namespace (`_seeded_`) or
    // this batch would see it and silently no-op (r12 ADVICE)
    val batch1 = Seq((10L, doc.replace("today", "tonight"))).toDF("doc_id", "text")
    dedup.processBatch(spark, batch1, 0L)
    val matches = spark.read.parquet(s"$base/matches")
      .select("new_id", "old_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(matches.contains((10L, 1L)), s"seeded-index dup missed: $matches")
    // the measured layout contract: flat until partitions hold parquet-
    // sized chunks, then count follows bytes (never batch shape)
    val mb = 1L << 20
    assert(StreamingLshDedup.autoIndexParts(100 * mb) == 1,
      "a sub-256MB index stays flat — pruning measured strictly slower there")
    assert(StreamingLshDedup.autoIndexParts(255 * mb) == 1)
    assert(StreamingLshDedup.autoIndexParts(10L * 1024 * mb) == 80,
      "10 GB / 128 MB = 80 partitions")
    assert(StreamingLshDedup.autoIndexParts(Long.MaxValue / 4) == 4096,
      "file-count budget cap")
  }

  test("streaming LSH dedup index is bucket-partitioned and the per-batch read prunes to the batch's partitions") {
    import spark.implicits._
    val base = tmpDir("sdedup-prune")
    val dedup = new graft.streaming.StreamingLshDedup(
      s"$base/index", s"$base/matches", indexParts = 16)
    val corpus = (0L until 200L)
      .map(i => (i, s"alpha bravo charlie token$i delta echo word${i * 7} foxtrot golf hotel"))
      .toDF("doc_id", "text")
    dedup.processBatch(spark, corpus, 0L)
    // physical layout: the index directory is partitioned by _bp
    val partDirs = new java.io.File(s"$base/index/data").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("_bp="))
    assert(partDirs.length > 1, s"expected multiple _bp partitions, got ${partDirs.toSeq}")
    // one-doc probe: its 8 band buckets hash into ≤ 8 of the 16
    // partitions — the pruned read must cut at the scan (PartitionFilters),
    // not as a post-scan filter
    val probe = Seq((100000L, "zulu yankee xray unique probe document november")).toDF("doc_id", "text")
    val nb = dedup.bucketed(probe).persist()
    try {
      val touched = nb.select("_bp").distinct().count()
      assert(touched < partDirs.length,
        s"probe touches $touched partitions of ${partDirs.length} — pruning would be vacuous")
      val pruned = dedup.prunedIndex(spark, nb)
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters") && plan.contains("_bp"),
        s"index read must prune on the _bp partition column; plan:\n$plan")
      // semantic parity: rows joining on (band, bucket) always share _bp,
      // so the pruned candidate set == the full-scan candidate set
      val full = spark.read.parquet(s"$base/index/data")
      def cands(idx: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = nb.as("n")
        .join(idx.as("o"),
          col("n.band") === col("o.band") && col("n.bucket") === col("o.bucket") &&
            col("n.doc_id") =!= col("o.doc_id"))
        .select(col("n.doc_id"), col("o.doc_id")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(cands(pruned) == cands(full), "pruning must not change the candidate set")
    } finally { nb.unpersist(); () }
  }

  test("streaming curation == batch x14 composition + first-N quota on the same fixture") {
    import spark.implicits._
    import graft.operators.{Dedup, TextAnalysis}
    import graft.streaming.StreamingCuration
    val base = tmpDir("scur")
    val quota = 2L
    val cur = new StreamingCuration(s"$base/state", s"$base/out", quota = quota)
    // admitted prose; dup groups are cliques against their earliest
    // member (the parity precondition the scaladoc states)
    val docA = "the quick brown fox jumps over the lazy dog again and again today"
    val docB = "a completely different story about cooking pasta tonight with sauce and basil"
    val docC = "distributed query engines shuffle data across the cluster with hash partitioning"
    val docD = "fresh content about sailing boats across the windy northern sea in july"
    val docE = "another clean document describing vector search indexes and the quantization tiers"
    val docF = "yet more text on streaming watermarks and the state store eviction policies"
    val junk = "aaa aaa aaa aaa aaa aaa" // distinct_ratio 1/6 -> admission-rejected
    val b0 = Seq((1L, "s1", docA), (2L, "s1", docB), (3L, "s2", docC), (4L, "s2", junk))
      .toDF("doc_id", "source", "text")
    val b1 = Seq((10L, "s1", docA.replace("today", "tonight")), // cross-batch dup of 1
      (11L, "s1", docD), // fresh but s1 is at quota after 1, 2
      (12L, "s2", docE)).toDF("doc_id", "source", "text")
    val b2 = Seq((20L, "s2", docC.replace("hash", "range")), // cross-batch dup of 3
      (21L, "s2", docF)).toDF("doc_id", "source", "text") // quota-cut
    cur.processBatch(spark, b0, 0L)
    cur.processBatch(spark, b1, 1L)
    cur.processBatch(spark, b1, 1L) // restart replay: must be a no-op
    cur.processBatch(spark, b2, 2L)
    val streamed = spark.read.parquet(s"$base/out/data")
      .select("doc_id", "source")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // batch twin: the x14 stages over the WHOLE fixture + per-source
    // first-N-by-id quota (the arrival order the stream saw)
    val all = b0.unionByName(b1).unionByName(b2)
    val admitted = TextAnalysis.admissionGate(all).filter(col("admit"))
      .select(col("doc_id"), col("source"), col("text"))
    val pairs = Dedup.nearDupPairs(admitted, "doc_id", "text",
      threshold = 0.5, k = 3, numHashes = 32, bands = 8)
    val canon = Dedup.keepCanonical(admitted, "doc_id",
      Dedup.nearDupComponents(admitted, "doc_id", pairs))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("doc_id"))
    val batchKept = canon.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= quota)
      .select("doc_id", "source")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == batchKept, s"streaming $streamed != batch twin $batchKept")
    // every absence is attributable: 4 admission, 10/20 near-dup, 11/21 quota
    assert(streamed == Set((1L, "s1"), (2L, "s1"), (3L, "s2"), (12L, "s2")),
      s"unexpected curation survivors: $streamed")
    // replay left no duplicate admissions behind
    val rows = spark.read.parquet(s"$base/out/data").count()
    assert(rows == streamed.size.toLong, s"replay duplicated output rows: $rows")
  }

  test("streaming curation file stream: checkpoint restart resumes without re-admitting") {
    import spark.implicits._
    import graft.streaming.StreamingCuration
    val base = tmpDir("scur-fs")
    new java.io.File(s"$base/in").mkdirs()
    def stage(name: String, rows: Seq[(Long, String, String)]): Unit = {
      val tmp = tmpDir(s"scur-stage-$name")
      rows.toDF("doc_id", "source", "text").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(s"$base/in/$name.parquet"))
    }
    val docA = "the quick brown fox jumps over the lazy dog again and again today"
    val docB = "a completely different story about cooking pasta tonight with sauce and basil"
    val docC = "distributed query engines shuffle data across the cluster with hash partitioning"
    val docE = "another clean document describing vector search indexes and the quantization tiers"
    val docF = "yet more text on streaming watermarks and the state store eviction policies"
    stage("seg0", Seq((1L, "s1", docA), (2L, "s1", docB), (3L, "s2", docC),
      (4L, "s2", "aaa aaa aaa aaa aaa aaa")))
    stage("seg1", Seq((10L, "s1", docA.replace("today", "tonight")),
      (11L, "s1", docF), (12L, "s2", docE)))
    val cur = new StreamingCuration(s"$base/state", s"$base/out", quota = 2)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    def drain(): Unit = cur.start(spark,
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(s"$base/in"),
      s"$base/cp").awaitTermination()
    drain()
    val first = spark.read.parquet(s"$base/out/data")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(first == Set((1L, "s1"), (2L, "s1"), (3L, "s2"), (12L, "s2")),
      s"unexpected pre-restart survivors: $first")
    // a new segment lands; restart from the SAME checkpoint — only the
    // new file may process, and the quota/index state must carry over
    stage("seg2", Seq((20L, "s2", docC.replace("hash", "range")), // dup of 3
      (21L, "s2", "entirely novel prose about the alpine meadows and the summer hiking trails")))
    drain()
    val after = spark.read.parquet(s"$base/out/data")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // 20 is a cross-restart near-dup (index survived), 21 is fresh but
    // s2 already holds 2 admissions (quota state survived)
    assert(after == first, s"restart changed the admitted set: $after")
    assert(spark.read.parquet(s"$base/out/data").count() == 4,
      "restart duplicated output rows")
  }

  test("streaming curation bridge divergence: zero in id-order arrival, bounded and chain-only when bridges arrive late") {
    // The prefix-monotonicity caveat in StreamingCuration's scaladoc,
    // QUANTIFIED (round-7 verdict item 6): plant bridge chains
    // A ~ B ~ C where A-B and B-C are near-dups but A-C is not
    // (J(A,B) = J(B,C) = 12/18 ≈ 0.67 ≥ 0.5; J(A,C) = 9/21 ≈ 0.43 —
    // one word swapped at positions 4 and 13 of a 17-token doc kills 3
    // of 15 shingles per edit, disjoint windows), and measure the
    // admitted-set symmetric difference vs the batch x14 twin under
    // two arrival orders. Everything is deterministic (seeded minhash),
    // so the measured rate is a number, not a distribution.
    import spark.implicits._
    import graft.operators.{Dedup, TextAnalysis}
    import graft.streaming.StreamingCuration
    val syls = Vector("ba", "de", "fi", "go", "lu", "me", "no", "pa",
      "ri", "su", "ta", "vo")
    def word(c: Int, j: Int): String = {
      val n = c * 17 + j
      syls(n % 12) + syls((n / 12) % 12) + syls((n / 144) % 12)
    }
    val chains = 12
    def doc(c: Int, edits: Map[Int, Int]): String = {
      val base = Vector("the") ++ (0 until 8).map(word(c, _)) ++
        Vector("with") ++ (8 until 15).map(word(c, _))
      edits.foldLeft(base) { case (t, (pos, wi)) => t.updated(pos, word(c, wi)) }
        .mkString(" ")
    }
    val aDocs = (0 until chains).map(c => (1000L + c, "s1", doc(c, Map())))
    val bDocs = (0 until chains).map(c => (2000L + c, "s1", doc(c, Map(4 -> 15))))
    val cDocs = (0 until chains).map(c => (3000L + c, "s1", doc(c, Map(4 -> 15, 13 -> 16))))
    val uniq = (0 until 10).map(i => (4000L + i, "s1", doc(100 + i, Map())))
    def admittedSet(batches: Seq[Seq[(Long, String, String)]]): Set[Long] = {
      val base = tmpDir("scur-bridge")
      val cur = new StreamingCuration(s"$base/state", s"$base/out")
      batches.zipWithIndex.foreach { case (rows, i) =>
        cur.processBatch(spark, rows.toDF("doc_id", "source", "text"), i.toLong)
      }
      if (!new java.io.File(s"$base/out/data").exists()) Set.empty[Long]
      else spark.read.parquet(s"$base/out/data").select("doc_id")
        .collect().map(_.getLong(0)).toSet
    }
    // batch x14 twin over the whole corpus (no quota — the divergence
    // under measurement is the dedup stage's, not the quota's)
    val all = (aDocs ++ bDocs ++ cDocs ++ uniq).toDF("doc_id", "source", "text")
    val admitted = TextAnalysis.admissionGate(all).filter(col("admit"))
      .select(col("doc_id"), col("text"))
    assert(admitted.count() == (3 * chains + 10).toLong,
      "fixture must fully pass the admission gate")
    val pairs = Dedup.nearDupPairs(admitted, "doc_id", "text",
      threshold = 0.5, k = 3, numHashes = 32, bands = 8)
    val batchKept = Dedup.keepCanonical(admitted, "doc_id",
        Dedup.nearDupComponents(admitted, "doc_id", pairs))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the fixture must actually exercise the bridge shape: most chains
    // collapse to their canonical A in batch
    assert(batchKept.count(_ >= 3000L) == 0 || batchKept.count(_ < 2000L) > 0,
      s"degenerate fixture: $batchKept")
    // (a) id-order arrival: A's, then B's, then C's. Dropped docs still
    // enter the index, so C dedups against the dropped B and parity
    // holds EVEN FOR BRIDGES — the documented contract, now asserted
    // on a bridge-heavy corpus.
    val inOrder = admittedSet(Seq(
      aDocs ++ uniq.take(4), bDocs ++ uniq.slice(4, 7), cDocs ++ uniq.drop(7)))
    assert((inOrder diff batchKept).isEmpty && (batchKept diff inOrder).isEmpty,
      s"id-order arrival must match batch: stream-only ${inOrder diff batchKept}, " +
        s"batch-only ${batchKept diff inOrder}")
    // (b) bridge-delayed arrival: A's, then C's, then B's. C is
    // admitted before the bridge B arrives; batch CC would have merged
    // it into A's component. Divergence appears, but ONLY on planted
    // chain docs — never on uniques — and bounded by the chain count.
    val delayed = admittedSet(Seq(
      aDocs ++ uniq.take(4), cDocs ++ uniq.slice(4, 7), bDocs ++ uniq.drop(7)))
    val symDiff = (delayed diff batchKept) ++ (batchKept diff delayed)
    assert(symDiff.nonEmpty,
      "bridge-delayed arrival should diverge from batch (else the fixture has no bridges)")
    assert(symDiff.forall(id => (id >= 2000L && id < 4000L)),
      s"divergence must be confined to bridge/terminal chain docs: $symDiff")
    assert(symDiff.size <= 2 * chains, s"divergence exceeds the per-chain bound: $symDiff")
    val rate = symDiff.size.toDouble / batchKept.size
    info(f"bridge-delayed divergence: ${symDiff.size} docs, " +
      f"$rate%.2f of the ${batchKept.size} batch survivors (chains=$chains)")
    // determinism pin for the scaladoc number: seeded minhash makes the
    // measured set a constant of the fixture, not a sample
    assert(admittedSet(Seq(
      aDocs ++ uniq.take(4), cDocs ++ uniq.slice(4, 7), bDocs ++ uniq.drop(7))) == delayed)
  }

  test("streaming decontamination flags eval leaks per batch, exactly-once") {
    import spark.implicits._
    import graft.streaming.StreamingDecontaminate
    val base = tmpDir("sdecon")
    val evalDoc = "what is the capital of france answer paris a geography benchmark question"
    val evalSet = Seq(
      (900L, evalDoc),
      (901L, "compute the derivative of x squared with respect to x answer two x")
    ).toDF("doc_id", "text")
    val screen = new StreamingDecontaminate(s"$base/flagged")

    // batch 0: clean training docs
    screen.processBatch(spark, evalSet, Seq(
      (1L, "a perfectly ordinary training document about cooking pasta with basil"),
      (2L, "another clean document describing distributed query engines at scale")
    ).toDF("doc_id", "text"), 0L)

    // batch 1: a near-verbatim eval leak arrives
    val batch1 = Seq(
      (10L, evalDoc.replace("question", "item")),
      (11L, "yet more clean content with entirely different words in it ok")
    ).toDF("doc_id", "text")
    screen.processBatch(spark, evalSet, batch1, 1L)
    screen.processBatch(spark, evalSet, batch1, 1L) // replay: no-op

    val flagged = spark.read.parquet(s"$base/flagged/data")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(flagged.toSeq == Seq((900L, 10L)), s"got ${flagged.toSeq}")
  }

  test("streaming embedding screen flags near-reference vectors per batch, exactly-once") {
    import spark.implicits._
    import graft.operators.Similarity
    import graft.streaming.StreamingEmbeddingScreen
    import org.apache.spark.sql.functions.col
    val base = tmpDir("sembed")
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val refSet = Seq((900L, v(1, 0, 0, 0)), (901L, v(0, 1, 0, 0)))
      .toDF("vec_id", "embedding")
    val screen = new StreamingEmbeddingScreen(
      s"$base/flagged", nlist = 2, nprobe = 2, threshold = 0.9)
    val cents = Similarity.collectCentroids(
      Similarity.ivfCentroids(refSet, "vec_id", "embedding", 2))
    val refIndex = Similarity.ivfAssignCollected(refSet, cents, "vec_id", "embedding")
      .select(col("vec_id").as("ref_id"), col("embedding").as("_rv"), col("list_id"))

    // batch 0: clean vectors only
    screen.processBatch(spark, cents, refIndex, Seq(
      (1L, v(0, 0, 1, 0)), (2L, v(0, 0, 0, 1))).toDF("vec_id", "embedding"),
      0L, "vec_id", "embedding")
    // batch 1: a planted near-dup of reference 900 arrives
    val batch1 = Seq(
      (10L, v(0.98, 0.1, 0.05, 0)),
      (11L, v(0, 0, -1, 0.2))).toDF("vec_id", "embedding")
    screen.processBatch(spark, cents, refIndex, batch1, 1L, "vec_id", "embedding")
    screen.processBatch(spark, cents, refIndex, batch1, 1L, "vec_id", "embedding") // replay: no-op
    val flagged = spark.read.parquet(s"$base/flagged/data")
      .select("ref_id", "stream_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(flagged.toSeq == Seq((900L, 10L)), s"got ${flagged.toSeq}")
  }

  test("streaming embedding screen end-to-end: file stream against a static IVF index") {
    import spark.implicits._
    import graft.streaming.StreamingEmbeddingScreen
    val base = tmpDir("sembed-e2e")
    def v(xs: Double*): Seq[Float] = xs.map(_.toFloat)
    val refSet = Seq((900L, v(1, 0, 0, 0)), (901L, v(0, 1, 0, 0)))
      .toDF("vec_id", "embedding")
    // two arrival files -> two micro-batches (maxFilesPerTrigger = 1)
    Seq((1L, v(0, 0, 1, 0))).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(s"$base/in")
    Seq((10L, v(0.99, 0.05, 0, 0)), (11L, v(0, 0, 0, 1)))
      .toDF("vec_id", "embedding")
      .coalesce(1).write.mode("append").parquet(s"$base/in")
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "vec_id BIGINT, embedding ARRAY<FLOAT>"))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in")
    val screen = new StreamingEmbeddingScreen(
      s"$base/flagged", nlist = 2, nprobe = 2, threshold = 0.9)
    spark.catalog.clearCache() // isolate the release assertion below
    screen.start(spark, refSet, stream, s"$base/cp").awaitTermination()
    val flagged = spark.read.parquet(s"$base/flagged/data")
      .select("ref_id", "stream_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(flagged.toSeq == Seq((900L, 10L)), s"got ${flagged.toSeq}")
    // lifecycle: the persisted reference index is released when the
    // query terminates (round-4 leak); the listener fires async → poll
    val deadline = System.nanoTime() + 15_000_000_000L
    while (!org.apache.spark.sql.GraftSqlBridge.cacheManagerIsEmpty(spark)
           && System.nanoTime() < deadline) Thread.sleep(100)
    assert(org.apache.spark.sql.GraftSqlBridge.cacheManagerIsEmpty(spark),
      "reference index cache must be released on query termination")
  }

  test("streaming importance scoring: batch parity, admit threshold, exactly-once") {
    import spark.implicits._
    import graft.operators.Importance
    import graft.streaming.StreamingImportance
    val base = tmpDir("simp")
    val target = Seq(
      (900L, "alpha beta alpha beta gamma"),
      (901L, "alpha gamma beta alpha")
    ).toDF("doc_id", "text")
    val raw = target.unionByName(Seq(
      (902L, "delta epsilon delta epsilon zeta"),
      (903L, "zeta epsilon delta zeta")
    ).toDF("doc_id", "text"))
    val ratios = Importance.logRatioTable(target, raw, "text")
    val scorer = new StreamingImportance(s"$base/scored", minScoreQ = 0L)

    val batch1 = Seq(
      (10L, "alpha beta alpha gamma"),   // target-like -> admitted
      (11L, "delta epsilon zeta delta")  // off-target -> rejected
    ).toDF("doc_id", "text")
    scorer.processBatch(spark, ratios, batch1, 0L)
    scorer.processBatch(spark, ratios, batch1, 0L) // replay: no-op

    val got = spark.read.parquet(s"$base/scored/data")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3))).toSet
    // streaming scores must equal the batch operator's integers exactly
    val expected = Importance.importanceScores(batch1, "doc_id", "text", ratios)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(2) >= 0L)).toSet
    assert(got == expected, s"streaming/batch divergence: $got vs $expected")
    assert(got.find(_._1 == 10L).exists(_._3), "target-like doc must be admitted")
    assert(got.find(_._1 == 11L).exists(!_._3), "off-target doc must be rejected")
  }

  test("streaming importance end-to-end: file stream scored against a static ratio table") {
    import spark.implicits._
    import graft.streaming.StreamingImportance
    val base = tmpDir("simp-e2e")
    val target = Seq((900L, "alpha beta alpha beta")).toDF("doc_id", "text")
    val raw = target.unionByName(
      Seq((902L, "delta epsilon delta epsilon")).toDF("doc_id", "text"))
    // two arrival files -> two micro-batches (maxFilesPerTrigger = 1)
    Seq((10L, "alpha beta gamma")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$base/in")
    Seq((11L, "delta epsilon zeta")).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(s"$base/in")
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, text STRING"))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in")
    val scorer = new StreamingImportance(s"$base/scored", minScoreQ = 0L)
    spark.catalog.clearCache() // isolate the release assertion below
    scorer.start(spark, target, raw, "text", stream, s"$base/cp").awaitTermination()
    val got = spark.read.parquet(s"$base/scored/data")
      .collect().map(r => (r.getLong(0), r.getBoolean(3))).toMap
    assert(got == Map(10L -> true, 11L -> false), s"got $got")
    // lifecycle: the persisted ratio table is released on termination
    val deadline = System.nanoTime() + 15_000_000_000L
    while (!org.apache.spark.sql.GraftSqlBridge.cacheManagerIsEmpty(spark)
           && System.nanoTime() < deadline) Thread.sleep(100)
    assert(org.apache.spark.sql.GraftSqlBridge.cacheManagerIsEmpty(spark),
      "ratio table cache must be released on query termination")
  }

  test("streaming retention: reverse-time drain converges to batch w11 cell-for-cell") {
    import graft.streaming.StreamingRetention
    val dir = "/root/testdata/sf0.001"
    val base = tmpDir("sret")
    // Stage (user_id, ts) in FOUR files split by week quartile in
    // REVERSE time order (latest weeks in _seg=0, earliest in _seg=3;
    // FileStreamSource breaks same-mtime ties by path, so latest weeks
    // drain FIRST) — every multi-quartile user's cohort MOVES
    // retroactively mid-stream, so final parity proves the retraction
    // path, not just the additive one.
    val ev = sources.Tables.events(spark, dir).select(col("user_id"), col("ts"))
      .withColumn("_wk", expr("unix_micros(ts) div 604800000000"))
    val (wkMin, wkMax) = {
      val r = ev.agg(min("_wk"), max("_wk")).head()
      (r.getLong(0), r.getLong(1))
    }
    val span = math.max(wkMax - wkMin, 1L)
    ev.withColumn("_seg",
        least(lit(3), ((lit(wkMax) - col("_wk")) * 4 / (span + 1)).cast("int")))
      .drop("_wk")
      .repartition(1)
      .write.partitionBy("_seg").parquet(s"$base/in")
    val store = new ParquetKpiStore(s"$base/store")
    val schema = spark.read.parquet(s"$base/in/_seg=0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in/_seg=*")
    StreamingRetention.start(spark, stream, store, s"$base/cp").awaitTermination()

    def cells(df: DataFrame): Set[(Long, Long, Long, Long, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    val got = cells(StreamingRetention.retentionTable(spark, store))
    val want = cells(SparkEntry.queries("w11_retention")(spark, dir))
    assert(got == want,
      s"streaming retention diverged from batch w11:\n got=$got\n want=$want")
    assert(got.nonEmpty, "parity on an empty table proves nothing")
  }

  test("mergeGroup: a crash between the two table folds never exposes mixed generations") {
    import spark.implicits._
    val store = new ParquetKpiStore(s"${tmpDir("mgroup")}/store")
    def sizes(n: Long) = Seq((10L, n)).toDF("cohort_wk", "cohort_n")
    def cells(k: Long, n: Long) = Seq((10L, k, n)).toDF("cohort_wk", "k", "n_active")
    def readPairs(): (Seq[(Long, Long)], Seq[(Long, Long, Long)]) = (
      store.readGrouped(spark, "g", "sizes").map(_.collect().toSeq.map(r =>
        (r.getLong(0), r.getLong(1)))).getOrElse(Nil),
      store.readGrouped(spark, "g", "cells").map(_.collect().toSeq.map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2)))).getOrElse(Nil))

    // batch 0 commits both members atomically
    store.mergeGroup(spark, "g", Seq(
      ("sizes", Seq("cohort_wk"), sizes(5L)),
      ("cells", Seq("cohort_wk", "k"), cells(0L, 5L))), 0L)
    assert(readPairs() == (Seq((10L, 5L)), Seq((10L, 0L, 5L))))

    // batch 1 CRASHES after the first member staged its version dir:
    // the second member's frame throws during evaluation — exactly the
    // between-merges window the per-table swap was vulnerable to
    val poison = Seq((10L, 0L, 1L)).toDF("cohort_wk", "k", "n_active")
      .as[(Long, Long, Long)]
      .map { _ => throw new RuntimeException("injected crash between folds"); (0L, 0L, 0L) }
      .toDF("cohort_wk", "k", "n_active")
    intercept[Exception](store.mergeGroup(spark, "g", Seq(
      ("sizes", Seq("cohort_wk"), sizes(2L)),
      ("cells", Seq("cohort_wk", "k"), poison)), 1L))
    // reader still sees generation 0 for BOTH tables — the staged
    // sizes v_1 dir is invisible (per-table _LATEST would now show 7)
    assert(store.appliedGroupBatch(spark, "g") == 0L, "manifest advanced past a crash")
    assert(readPairs() == (Seq((10L, 5L)), Seq((10L, 0L, 5L))),
      "mixed generations exposed after a crash between folds")

    // replay of batch 1 (foreachBatch redelivers it) folds exactly once
    store.mergeGroup(spark, "g", Seq(
      ("sizes", Seq("cohort_wk"), sizes(2L)),
      ("cells", Seq("cohort_wk", "k"), cells(1L, 3L))), 1L)
    assert(readPairs()._1 == Seq((10L, 7L)))
    assert(readPairs()._2.toSet == Set((10L, 0L, 5L), (10L, 1L, 3L)))
    // and a second replay of the same batch is a no-op
    store.mergeGroup(spark, "g", Seq(
      ("sizes", Seq("cohort_wk"), sizes(2L)),
      ("cells", Seq("cohort_wk", "k"), cells(1L, 3L))), 1L)
    assert(readPairs()._1 == Seq((10L, 7L)), "replayed batch double-folded")
  }

  test("streaming skyline: monotone points need no retractions — reverse drain equals batch x40 frontier") {
    import graft.streaming.StreamingSkyline
    import graft.operators.RelationalOps
    val dir = "/root/testdata/sf0.001"
    val base = tmpDir("ssky")
    // hostile reverse-time staging (the StreamingDistinct harness):
    // the frontier is a pure function of commutative per-user totals,
    // so arrival order must not matter despite frontier EVICTIONS
    val ev = sources.Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("value"))
      .withColumn("_tus", expr("unix_micros(ts)"))
    val (tMin, tMax) = {
      val r = ev.agg(min("_tus"), max("_tus")).head()
      (r.getLong(0), r.getLong(1))
    }
    val span = math.max(tMax - tMin, 1L)
    ev.withColumn("_seg",
        least(lit(3), ((lit(tMax) - col("_tus")) * 4 / (span + 1)).cast("int")))
      .drop("_tus")
      .repartition(1)
      .write.partitionBy("_seg").parquet(s"$base/in")
    val store = new ParquetKpiStore(s"$base/store")
    val schema = spark.read.parquet(s"$base/in/_seg=0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in/_seg=*")
    StreamingSkyline.start(spark, stream, store, s"$base/cp").awaitTermination()

    def triples(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getAs[Long]("user_id"),
        r.getAs[Long]("value_cents"), r.getAs[Long]("n_events"))).toSet
    val batchTotals = sources.Tables.events(spark, dir)
      .select(col("user_id").cast("long").as("user_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("_vc"))
      .groupBy(col("user_id"))
      .agg(sum(col("_vc")).as("value_cents"), count(lit(1)).as("n_events"))
    val wantFrontier =
      triples(RelationalOps.skyline2D(batchTotals, "value_cents", "n_events"))
    val gotFrontier = triples(StreamingSkyline.frontier(spark, store))
    assert(gotFrontier == wantFrontier,
      s"frontier diverged: got=$gotFrontier want=$wantFrontier")
    assert(gotFrontier.nonEmpty, "parity on an empty frontier proves nothing")
    // the frontier must be a STRICT subset of users — evictions happened
    assert(triples(StreamingSkyline.totals(spark, store)) == triples(batchTotals))
    assert(gotFrontier.size < batchTotals.count(),
      "no dominated user at all — the fixture should evict most users")
    // both members read at ONE generation via the group manifest
    assert(store.appliedGroupBatch(spark, "skyline") >= 3L,
      "expected at least the four staged segments to commit")
  }

  test("streaming median/MAD: additive histogram state converges to batch a47 bit-for-bit under reverse drain") {
    import graft.streaming.StreamingMedianMad
    val dir = "/root/testdata/sf0.001"
    val base = tmpDir("smm")
    // hostile reverse-key staging: the median is a pure function of
    // the commutative count histogram, so arrival order must not
    // matter even though every batch's median can JUMP anywhere
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_orderkey"))
    val (kMin, kMax) = {
      val r = li.agg(min("l_orderkey"), max("l_orderkey")).head()
      (r.getLong(0), r.getLong(1))
    }
    val span = math.max(kMax - kMin, 1L)
    li.withColumn("_seg",
        least(lit(3), ((lit(kMax) - col("l_orderkey")) * 4 / (span + 1)).cast("int")))
      .drop("l_orderkey")
      .repartition(1)
      .write.partitionBy("_seg").parquet(s"$base/in")
    val store = new ParquetKpiStore(s"$base/store")
    val schema = spark.read.parquet(s"$base/in/_seg=0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in/_seg=*")
    StreamingMedianMad.start(spark, stream, store, s"$base/cp").awaitTermination()

    def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long)] =
      df.collect().map(r => (r.getAs[String]("l_returnflag"),
        r.getAs[Long]("median_cents"), r.getAs[Long]("mad_cents"))).toSeq
    val got = rows(StreamingMedianMad.medianMad(spark, store))
    val want = rows(SparkEntry.queries("a47_mad")(spark, dir))
    assert(want.nonEmpty && got == want,
      s"streaming median/MAD diverged from batch a47:\n got=$got\nwant=$want")
    // the histogram twin reads at the SAME generation and re-derives
    // the result (cross-table consistency through the group manifest)
    val cnt = StreamingMedianMad.counts(spark, store)
    assert(cnt.agg(sum("n")).head().getLong(0) == li.count())
    assert(store.appliedGroupBatch(spark, "median_mad") >= 3L,
      "expected all four staged segments to commit")
  }

  test("streaming skyline: a negative event value fails LOUDLY, never a silently wrong frontier") {
    // round-11 ADVICE: the no-retraction invariant needs value >= 0 —
    // a refund would strand a stale frontier entry undominated. The
    // precondition is enforced, not assumed: the violating batch
    // throws before anything commits.
    import graft.streaming.StreamingSkyline
    import spark.implicits._
    val base = tmpDir("sskyneg")
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), -5.0d))
      .toDF("user_id", "ts", "value")
      .write.parquet(s"$base/in")
    val store = new ParquetKpiStore(s"$base/store")
    val schema = spark.read.parquet(s"$base/in").schema
    val stream = spark.readStream.schema(schema).parquet(s"$base/in")
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      StreamingSkyline.start(spark, stream, store, s"$base/cp").awaitTermination())
    assert(ex.getMessage.contains("value >= 0") ||
      Option(ex.getCause).exists(_.getMessage != null) &&
        ex.getCause.getMessage.contains("value >= 0"),
      s"expected the precondition message, got: ${ex.getMessage}")
    // nothing was committed for the poisoned batch
    assert(store.readGrouped(spark, "skyline", "sky_frontier").isEmpty)
  }

  test("commitGroup: a crash while staging the second member never exposes mixed generations") {
    import spark.implicits._
    val store = new ParquetKpiStore(s"${tmpDir("cgroup")}/store")
    def totals(v: Long) = Seq((1L, v, 2L)).toDF("user_id", "value_cents", "n_events")
    def front(v: Long) = Seq((1L, v, 2L)).toDF("user_id", "value_cents", "n_events")
    def read(t: String): Seq[(Long, Long, Long)] =
      store.readGrouped(spark, "g2", t).map(_.collect().toSeq.map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2)))).getOrElse(Nil)

    store.commitGroup(spark, "g2",
      Seq("tot" -> totals(100L), "fr" -> front(100L)), 0L)
    assert(read("tot") == Seq((1L, 100L, 2L)) && read("fr") == Seq((1L, 100L, 2L)))

    // batch 1 crashes evaluating the SECOND member, after the first
    // staged its v_1 dir — the mixed-generation window
    val poison = Seq((1L, 0L, 0L)).toDF("user_id", "value_cents", "n_events")
      .as[(Long, Long, Long)]
      .map { _ => throw new RuntimeException("injected staging crash"); (0L, 0L, 0L) }
      .toDF("user_id", "value_cents", "n_events")
    intercept[Exception](store.commitGroup(spark, "g2",
      Seq("tot" -> totals(200L), "fr" -> poison), 1L))
    assert(store.appliedGroupBatch(spark, "g2") == 0L, "manifest advanced past a crash")
    assert(read("tot") == Seq((1L, 100L, 2L)) && read("fr") == Seq((1L, 100L, 2L)),
      "mixed generations exposed after a staging crash")

    // redelivered batch 1 commits whole; a second replay is a no-op
    store.commitGroup(spark, "g2",
      Seq("tot" -> totals(200L), "fr" -> front(200L)), 1L)
    assert(read("tot") == Seq((1L, 200L, 2L)) && read("fr") == Seq((1L, 200L, 2L)))
    store.commitGroup(spark, "g2",
      Seq("tot" -> totals(999L), "fr" -> front(999L)), 1L)
    assert(read("tot") == Seq((1L, 200L, 2L)), "replayed batch re-applied")
  }

  test("streaming retention state transitions: growth, and retroactive cohort move retracts exactly") {
    import graft.streaming.StreamingRetention.{processUser, Delta, UserWeeks}
    import org.apache.spark.sql.streaming.TestGroupState
    // first sight: weeks {10, 12} -> cohort 10, size +1, cells k=0,2
    val s1 = TestGroupState.create[UserWeeks](
      optionalState = org.apache.spark.api.java.Optional.empty[UserWeeks](),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[java.lang.Long]().asInstanceOf[org.apache.spark.api.java.Optional[Long]],
      hasTimedOut = false)
    val d1 = processUser(1L, Iterator((1L, 12L), (1L, 10L)), s1).toSet
    assert(d1 == Set(Delta(true, 10L, 0L, 1L),
      Delta(false, 10L, 0L, 1L), Delta(false, 10L, 2L, 1L)))
    assert(s1.get == UserWeeks(10L, Seq(10L, 12L)))
    // same-cohort growth: week 13 adds ONE cell, no size change
    val d2 = processUser(1L, Iterator((1L, 13L), (1L, 12L)), s1).toSet
    assert(d2 == Set(Delta(false, 10L, 3L, 1L)))
    // retroactive move: week 7 arrives -> old size and ALL old cells
    // retract, everything re-emits under cohort 7
    val d3 = processUser(1L, Iterator((1L, 7L)), s1).toSet
    assert(d3 == Set(
      Delta(true, 10L, 0L, -1L),
      Delta(false, 10L, 0L, -1L), Delta(false, 10L, 2L, -1L), Delta(false, 10L, 3L, -1L),
      Delta(true, 7L, 0L, 1L),
      Delta(false, 7L, 0L, 1L), Delta(false, 7L, 3L, 1L),
      Delta(false, 7L, 5L, 1L), Delta(false, 7L, 6L, 1L)))
    assert(s1.get == UserWeeks(7L, Seq(7L, 10L, 12L, 13L)))
    // duplicate-only batch: no deltas, state untouched
    assert(processUser(1L, Iterator((1L, 12L)), s1).isEmpty)
  }

  test("ParquetKpiStore mergeReplace: updated keys replace, untouched keys carry, replay is a no-op") {
    import spark.implicits._
    val st = tmpDir("repl-store")
    val store = new ParquetKpiStore(st)
    store.mergeReplace(spark, "t", Seq("k"),
      Seq(("a", 1L), ("b", 2L)).toDF("k", "v"), 0L)
    store.mergeReplace(spark, "t", Seq("k"),
      Seq(("a", 10L), ("c", 3L)).toDF("k", "v"), 1L)
    store.mergeReplace(spark, "t", Seq("k"),
      Seq(("a", 99L)).toDF("k", "v"), 1L) // replay of applied batch: no-op
    val got = store.read(spark, "t").get.orderBy("k").as[(String, Long)].collect().toSeq
    assert(got == Seq(("a", 10L), ("b", 2L), ("c", 3L)))
  }

  test("streaming funnel: reverse-time drain converges to batch w10 row-for-row") {
    import graft.streaming.StreamingFunnel
    val dir = "/root/testdata/sf0.001"
    val base = tmpDir("sfun")
    // four files in REVERSE time order (purchases and clicks arrive
    // before the views that legitimize them; late-arriving earlier
    // views then REVISE t1 → t2 → t3 cascades constantly)
    val ev = sources.Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("_tus", expr("unix_micros(ts)"))
    val (tMin, tMax) = {
      val r = ev.agg(min("_tus"), max("_tus")).head()
      (r.getLong(0), r.getLong(1))
    }
    val span = math.max(tMax - tMin, 1L)
    ev.withColumn("_seg",
        least(lit(3), ((lit(tMax) - col("_tus")) * 4 / (span + 1)).cast("int")))
      .drop("_tus")
      .repartition(1)
      .write.partitionBy("_seg").parquet(s"$base/in")
    val store = new ParquetKpiStore(s"$base/store")
    val schema = spark.read.parquet(s"$base/in/_seg=0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in/_seg=*")
    StreamingFunnel.start(spark, stream, store, s"$base/cp").awaitTermination()

    def rows(df: DataFrame): Set[(Long, Any, Any, Any, Int)] =
      df.collect().map(r => (r.getLong(0), r.get(1), r.get(2), r.get(3),
        r.getInt(4))).toSet
    val got = rows(StreamingFunnel.funnelTable(spark, store))
    val want = rows(SparkEntry.queries("w10_funnel")(spark, dir))
    assert(got.nonEmpty, "parity on an empty funnel proves nothing")
    assert(got == want,
      s"streaming funnel diverged from batch w10: extra=${got -- want} missing=${want -- got}")
    // the fixture must actually exercise revision: some user reaches a
    // milestone only because a LATER batch delivered an earlier view
    assert(want.exists(_._5 >= 2), "fixture has no multi-stage users")
  }

  test("streaming funnel state transitions: late earlier view revises the whole cascade") {
    import graft.streaming.StreamingFunnel.{processUser, FunnelRow, FunnelState}
    import org.apache.spark.sql.streaming.TestGroupState
    def st = TestGroupState.create[FunnelState](
      optionalState = org.apache.spark.api.java.Optional.empty[FunnelState](),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[java.lang.Long]().asInstanceOf[org.apache.spark.api.java.Optional[Long]],
      hasTimedOut = false)
    val s = st
    // batch 1: click@50, purchase@60, view@100 — the view is too LATE to
    // legitimize them: stage 1 (t1=100, no click after it)
    val d1 = processUser(7L, Iterator((7L, "click", 50L), (7L, "purchase", 60L),
      (7L, "view", 100L)), s).toSeq
    assert(d1 == Seq(FunnelRow(7L, Some(100L), None, None, 1)))
    // batch 2: an EARLIER view@10 arrives — t1 revises to 10, the old
    // click@50 becomes eligible (t2=50), purchase@60 follows (t3=60):
    // the full cascade from one late event
    val d2 = processUser(7L, Iterator((7L, "view", 10L)), s).toSeq
    assert(d2 == Seq(FunnelRow(7L, Some(10L), Some(50L), Some(60L), 3)))
    // batch 3: an ineligible click@5 (before t1) — derivation unchanged,
    // NOTHING emits, but state keeps the click for future revisions
    assert(processUser(7L, Iterator((7L, "click", 5L)), s).isEmpty)
    assert(s.get.clicks.contains(5L))
    // batch 4: view@1 — t1=1 makes click@5 the new t2; purchase@60 still t3
    val d4 = processUser(7L, Iterator((7L, "view", 1L)), s).toSeq
    assert(d4 == Seq(FunnelRow(7L, Some(1L), Some(5L), Some(60L), 3)))
    // strict > at every hop: click exactly AT t1 does not count
    val s2 = st
    val e1 = processUser(8L, Iterator((8L, "view", 10L), (8L, "click", 10L)), s2).toSeq
    assert(e1 == Seq(FunnelRow(8L, Some(10L), None, None, 1)))
  }

  test("upsert SQL quotes identifiers (reference K8 bug fixed)") {
    val sql = graft.streaming.JdbcUpsertSink.upsertSql(
      "flight distance impact", Seq("flight distance"), Seq("mean satisfaction"))
    assert(sql.contains("`flight distance impact`"))
    assert(sql.contains("`mean satisfaction`=VALUES(`mean satisfaction`)"))
  }

  test("streaming distinct: order-free state needs no retractions — reverse drain equals batch count_distinct") {
    import graft.streaming.StreamingDistinct
    val dir = "/root/testdata/sf0.001"
    val base = tmpDir("sdist")
    // the SAME hostile reverse-time staging the transitions test uses —
    // but the grow-only set state converges regardless, with zero
    // retraction machinery (the point of the contrast)
    val ev = sources.Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("props"))
      .withColumn("_tus", expr("unix_micros(ts)"))
    val (tMin, tMax) = {
      val r = ev.agg(min("_tus"), max("_tus")).head()
      (r.getLong(0), r.getLong(1))
    }
    val span = math.max(tMax - tMin, 1L)
    ev.withColumn("_seg",
        least(lit(3), ((lit(tMax) - col("_tus")) * 4 / (span + 1)).cast("int")))
      .drop("_tus")
      .repartition(1)
      .write.partitionBy("_seg").parquet(s"$base/in")
    val store = new ParquetKpiStore(s"$base/store")
    val schema = spark.read.parquet(s"$base/in/_seg=0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in/_seg=*")
    StreamingDistinct.start(spark, stream, store, s"$base/cp").awaitTermination()

    val got = StreamingDistinct.distinctTable(spark, store)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = sources.Tables.events(spark, dir)
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("int").as("item"))
      .filter(col("item").isNotNull)
      .groupBy(col("user_id")).agg(count_distinct(col("item")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"streaming distinct diverged: got=${got.size} want=${want.size}")
    assert(got.nonEmpty, "parity on an empty table proves nothing")
    // nothing in the fixture approaches the cardinality cap: every
    // row must still be EXACT mode (the sketch fallback is for hot
    // keys only — see the planted-hot-user test)
    assert(StreamingDistinct.distinctTable(spark, store)
      .filter(col("is_approx")).count() == 0L)
  }

  test("streaming distinct hot key: state degrades to a bounded HLL sketch, observably, within its error bound") {
    import graft.streaming.StreamingDistinct
    import graft.streaming.StreamingDistinct.{DCount, Hll, UserItems}
    import org.apache.spark.sql.streaming.TestGroupState
    def st() = TestGroupState.create[UserItems](
      optionalState = org.apache.spark.api.java.Optional.empty[UserItems](),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
      batchProcessingTimeMs = 0L, eventTimeWatermarkMs =
        org.apache.spark.api.java.Optional.empty[Long](), hasTimedOut = false)
    val p = StreamingDistinct.processUser(1000) _

    // under the cap: exact, not approx
    val s1 = st()
    val d1 = p(7L, (1 to 500).iterator.map(i => (7L, i)), s1).toSeq
    assert(d1 == Seq(DCount(7L, 500L, approx = false)))
    assert(s1.get.items.size == 500 && s1.get.sketch.isEmpty)

    // crossing the cap: the switch is emitted, and state drops from a
    // growing set to the FIXED 4096-byte register array
    val d2 = p(7L, (501 to 20000).iterator.map(i => (7L, i)), s1).toSeq
    assert(d2.size == 1 && d2.head.approx, s"no observable switch: $d2")
    assert(s1.get.items.isEmpty && s1.get.sketch.get.length == Hll.m,
      "state not bounded after crossing the cap")
    // documented bound: se = 1.04/sqrt(4096) = 1.6%; assert 3 se
    val est = d2.head.nDistinct
    assert(math.abs(est - 20000L) < 20000 * 0.05, s"estimate $est vs 20000 outside 3 se")

    // replaying already-seen items grows nothing and emits nothing —
    // the register-max merge is idempotent like the set union it replaced
    assert(p(7L, (1 to 20000).iterator.map(i => (7L, i)), s1).isEmpty)

    // more novel items keep moving the estimate, state size unchanged
    val d3 = p(7L, (20001 to 40000).iterator.map(i => (7L, i)), s1).toSeq
    assert(d3.size == 1 && d3.head.approx && s1.get.sketch.get.length == Hll.m)
    assert(math.abs(d3.head.nDistinct - 40000L) < 40000 * 0.05,
      s"estimate ${d3.head.nDistinct} vs 40000 outside 3 se")
  }

  test("streaming frequency: additive cell merges converge to the batch sketch cell-for-cell under reverse drain") {
    import graft.streaming.StreamingFrequency
    import graft.operators.FrequencySketch
    val dir = "/root/testdata/sf0.001"
    val base = tmpDir("sfreq")
    // hostile reverse-time staging (the StreamingDistinct harness):
    // counter addition commutes, so arrival order cannot matter
    val ev = sources.Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("props"))
      .withColumn("_tus", expr("unix_micros(ts)"))
    val (tMin, tMax) = {
      val r = ev.agg(min("_tus"), max("_tus")).head()
      (r.getLong(0), r.getLong(1))
    }
    val span = math.max(tMax - tMin, 1L)
    ev.withColumn("_seg",
        least(lit(3), ((lit(tMax) - col("_tus")) * 4 / (span + 1)).cast("int")))
      .drop("_tus")
      .repartition(1)
      .write.partitionBy("_seg").parquet(s"$base/in")
    val store = new ParquetKpiStore(s"$base/store")
    val schema = spark.read.parquet(s"$base/in/_seg=0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in/_seg=*")
    StreamingFrequency.start(spark, stream, store, s"$base/cp",
      depth = 4, hexChars = 2).awaitTermination()

    val items = sources.Tables.events(spark, dir)
      .select(get_json_object(col("props"), "$.k").cast("int").as("item"))
      .filter(col("item").isNotNull)
    val want = FrequencySketch.cmsCells(items, "item", depth = 4, hexChars = 2)
      .collect().map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toMap
    val got = StreamingFrequency.cellsTable(spark, store)
      .collect().map(r => (r.getAs[Int]("d"), r.getAs[String]("cell")) -> r.getAs[Long]("cnt")).toMap
    assert(got == want, s"cell grids diverged: got=${got.size} want=${want.size}")
    assert(got.nonEmpty, "parity on an empty grid proves nothing")
    // the read path over the accumulated grid keeps the CMS contract
    val truth = items.groupBy(col("item")).agg(count(lit(1)).as("true_cnt"))
    val under = StreamingFrequency.estimateTable(spark, store, truth, "item",
      depth = 4, hexChars = 2).filter(col("est") < col("true_cnt")).count()
    assert(under == 0, "accumulated counters only sum — never undercount")
  }

  test("streaming drift: frozen-bound bin merges converge to the batch PSI report bit-for-bit under reverse drain") {
    import graft.streaming.StreamingDrift
    import graft.operators.Evaluation
    val dir = "/root/testdata/sf0.001"
    val base = tmpDir("sdrift")
    val ev = sources.Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("value"))
      .withColumn("_tus", expr("unix_micros(ts)"))
    val (tMin, tMax) = {
      val r = ev.agg(min("_tus"), max("_tus")).head()
      (r.getLong(0), r.getLong(1))
    }
    val span = math.max(tMax - tMin, 1L)
    ev.withColumn("_seg",
        least(lit(3), ((lit(tMax) - col("_tus")) * 4 / (span + 1)).cast("int")))
      .drop("_tus")
      .repartition(1)
      .write.partitionBy("_seg").parquet(s"$base/in")
    val store = new ParquetKpiStore(s"$base/store")
    val schema = spark.read.parquet(s"$base/in/_seg=0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in/_seg=*")
    // reference = the frozen even-user snapshot; current = EVERYTHING arriving
    val ref = sources.Tables.events(spark, dir)
      .filter(col("user_id") % 2 === 0).select(col("value"))
    StreamingDrift.start(spark, stream, ref, "value", store, s"$base/cp")
      .awaitTermination()

    val got = StreamingDrift.psiTable(spark, store).collect()
      .map(r => (r.getAs[Int]("bin"), r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur"),
        r.getAs[Long]("ratio_q"), r.getAs[Double]("psi_contrib")))
    val want = Evaluation.psiDriftBins(ref,
        sources.Tables.events(spark, dir).select(col("value")), "value")
      .collect()
      .map(r => (r.getAs[Int]("bin"), r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur"),
        r.getAs[Long]("ratio_q"), r.getAs[Double]("psi_contrib")))
      .sortBy(_._1)
    assert(got.toSeq == want.toSeq,
      s"streaming PSI diverged from batch:\n got=${got.toSeq}\nwant=${want.toSeq}")
    assert(got.map(_._3).sum > 0, "parity with an empty current side proves nothing")
  }

  test("streaming OHLC: algebraic struct-min/max merges converge to batch e15 bit-for-bit under reverse drain") {
    import graft.streaming.StreamingOhlc
    val dir = "/root/testdata/sf0.001"
    val base = tmpDir("sohlc")
    // four time-quartile files draining NEWEST-first: every candle's
    // open (and most closes) are first recorded WRONG and must be
    // displaced by later batches winning the (eid, value) struct
    // min/max — parity proves the algebraic merge, not arrival luck
    val ev = sources.Tables.events(spark, dir)
      .select(col("ts"), col("event_type"), col("event_id"), col("value"))
      .withColumn("_tus", expr("unix_micros(ts)"))
    val (tMin, tMax) = {
      val r = ev.agg(min("_tus"), max("_tus")).head()
      (r.getLong(0), r.getLong(1))
    }
    val span = math.max(tMax - tMin, 1L)
    ev.withColumn("_seg",
        least(lit(3), ((lit(tMax) - col("_tus")) * 4 / (span + 1)).cast("int")))
      .drop("_tus")
      .repartition(1)
      .write.partitionBy("_seg").parquet(s"$base/in")
    val store = new ParquetKpiStore(s"$base/store")
    val empty = StreamingOhlc.candleTable(spark, store)
    assert(empty.columns.toSeq ==
      Seq("day_idx", "event_type", "open", "high", "low", "close", "n_events")
      && empty.count() == 0, "pre-first-batch poll is an empty panel, not an error")
    val schema = spark.read.parquet(s"$base/in/_seg=0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in/_seg=*")
    StreamingOhlc.start(spark, stream, store, s"$base/cp")
      .awaitTermination()

    def rows(df: DataFrame): Seq[(Long, String, Double, Double, Double, Double, Long)] =
      df.collect().map(r => (r.getAs[Long]("day_idx"), r.getAs[String]("event_type"),
        r.getAs[Double]("open"), r.getAs[Double]("high"), r.getAs[Double]("low"),
        r.getAs[Double]("close"), r.getAs[Long]("n_events"))).toSeq
    val got = rows(StreamingOhlc.candleTable(spark, store))
    val want = rows(SparkEntry.queries("e15_ohlc")(spark, dir))
    assert(got == want, s"streaming candles diverged from batch e15:\n got=$got\nwant=$want")
    assert(got.nonEmpty && got.map(_._7).sum > 100, "parity over a trivial panel proves nothing")
  }

  test("streaming burstiness: additive daily cells converge to batch e26 bit-for-bit under reverse drain") {
    import graft.streaming.StreamingBurstiness
    val dir = "/root/testdata/sf0.001"
    val base = tmpDir("sfano")
    // newest-first quartile drain: every type's daily panel is built
    // out of order and duplicated across merges only via the additive
    // CRDT — parity proves commutativity, not arrival luck
    val ev = sources.Tables.events(spark, dir)
      .select(col("ts"), col("event_type"))
      .withColumn("_tus", expr("unix_micros(ts)"))
    val (tMin, tMax) = {
      val r = ev.agg(min("_tus"), max("_tus")).head()
      (r.getLong(0), r.getLong(1))
    }
    val span = math.max(tMax - tMin, 1L)
    ev.withColumn("_seg",
        least(lit(3), ((lit(tMax) - col("_tus")) * 4 / (span + 1)).cast("int")))
      .drop("_tus")
      .repartition(1)
      .write.partitionBy("_seg").parquet(s"$base/in")
    val store = new ParquetKpiStore(s"$base/store")
    val empty = StreamingBurstiness.fanoTable(spark, store)
    assert(empty.columns.toSeq == Seq("event_type", "n_days", "mean_daily", "fano")
      && empty.count() == 0, "pre-first-batch poll is an empty panel, not an error")
    val schema = spark.read.parquet(s"$base/in/_seg=0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in/_seg=*")
    StreamingBurstiness.start(spark, stream, store, s"$base/cp")
      .awaitTermination()

    def rows(df: DataFrame): Seq[(String, Long, Double, Double)] =
      df.collect().map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_days"),
        r.getAs[Double]("mean_daily"), r.getAs[Double]("fano"))).toSeq
    val got = rows(StreamingBurstiness.fanoTable(spark, store))
    val want = rows(SparkEntry.queries("e26_burstiness")(spark, dir))
    assert(got == want, s"streaming Fano diverged from batch e26:\n got=$got\nwant=$want")
    assert(got.nonEmpty && got.map(_._2).sum > 10, "parity over a trivial panel proves nothing")
  }

  test("streaming Holt-Winters: resumed seasonal fold converges to batch e28 bit-for-bit under reverse drain") {
    import graft.streaming.StreamingHoltWinters
    val dir = "/root/testdata/sf0.001"
    val base = tmpDir("shw")
    // newest-first quartile drain with unbounded lateness: every
    // day's count accretes across out-of-order batches in the
    // revisable tail; nothing ever freezes, so every emission re-folds —
    // parity proves the fold equals batch e28's exactly
    val ev = sources.Tables.events(spark, dir)
      .select(col("ts"), col("event_type"))
      .withColumn("_tus", expr("unix_micros(ts)"))
    val (tMin, tMax) = {
      val r = ev.agg(min("_tus"), max("_tus")).head()
      (r.getLong(0), r.getLong(1))
    }
    val span = math.max(tMax - tMin, 1L)
    ev.withColumn("_seg",
        least(lit(3), ((lit(tMax) - col("_tus")) * 4 / (span + 1)).cast("int")))
      .drop("_tus")
      .repartition(1)
      .write.partitionBy("_seg").parquet(s"$base/in")
    val store = new ParquetKpiStore(s"$base/store")
    val empty = StreamingHoltWinters.hwTable(spark, store)
    assert(empty.columns.toSeq == Seq("event_type", "n_days", "level", "trend",
      "seasonal_next", "forecast_1") && empty.count() == 0)
    val schema = spark.read.parquet(s"$base/in/_seg=0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in/_seg=*")
    StreamingHoltWinters.start(spark, stream, store, s"$base/cp",
      latenessDays = Long.MaxValue / 4)
      .awaitTermination()

    def rows(df: DataFrame): Seq[(String, Long, Double, Double, Double, Double)] =
      df.collect().map(r => (r.getAs[String]("event_type"), r.getAs[Long]("n_days"),
        r.getAs[Double]("level"), r.getAs[Double]("trend"),
        r.getAs[Double]("seasonal_next"), r.getAs[Double]("forecast_1"))).toSeq
    val got = rows(StreamingHoltWinters.hwTable(spark, store))
    val want = rows(SparkEntry.queries("e28_holt_winters")(spark, dir))
    assert(want.nonEmpty, "fixture must span two full seasons for this spec to bite")
    assert(got == want, s"streaming HW diverged from batch e28:\n got=$got\nwant=$want")
  }

  test("streaming Holt-Winters processType: compaction resumes the fold exactly, late days drop loudly") {
    import graft.streaming.StreamingHoltWinters
    import graft.streaming.StreamingHoltWinters.HwBuf
    import org.apache.spark.sql.streaming.TestGroupState
    import org.apache.spark.api.java.Optional
    def freshState() = TestGroupState.create[HwBuf](
      optionalState = Optional.empty[HwBuf](),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = Optional.empty[java.lang.Long]()
        .asInstanceOf[Optional[Long]],
      hasTimedOut = false)
    // 20 days, count on day d = (d % 7) + 1 + d (trend + seasonality)
    val counts = (0 until 20).map(d0 => (d0.toLong, (d0 % 7) + 1L + d0))
    def arrivals(ds: Seq[(Long, Long)]): Iterator[(String, Long)] =
      ds.iterator.flatMap { case (d0, c) => Seq.fill(c.toInt)(("a", d0)) }
    // one-shot fold with unbounded lateness = the reference
    val ref = StreamingHoltWinters.processType(Long.MaxValue / 4)(
      "a", arrivals(counts), freshState()).toSeq
    assert(ref.length == 1 && ref.head.nDays == 20L)
    // two-chunk run with lateness 3: the first chunk (days 0..16)
    // freezes days <= 13 — 14 days, crossing the init phase — and the
    // second resumes from the collapsed accumulator; results must be
    // identical
    val st2 = freshState()
    StreamingHoltWinters.processType(3L)("a", arrivals(counts.take(17)), st2).toSeq
    assert(st2.get.nFrozen >= 14L, s"init must have crossed: ${st2.get.nFrozen}")
    assert(st2.get.init.isEmpty, "init values must be discarded after the accumulator takes over")
    val out2 = StreamingHoltWinters.processType(3L)("a", arrivals(counts.drop(17)), st2).toSeq
    assert(out2.length == 1 && out2.head == ref.head,
      s"compacted fold diverged:\n two-chunk=$out2\n one-shot=${ref.head}")
    // a day at-or-below the frozen boundary drops and is counted
    val late = StreamingHoltWinters.processType(3L)(
      "a", Iterator(("a", 0L)), st2).toSeq
    assert(late.length == 1 && late.head.drops == 1L)
  }

  test("streaming CUSUM: resumed left fold converges to batch e18 bit-for-bit under reverse drain") {
    import graft.streaming.StreamingCusum
    val dir = "/root/testdata/sf0.001"
    val base = tmpDir("scusum")
    // newest-first quartile drain: every user's fold is first computed
    // over a suffix and must be rebuilt as earlier events arrive —
    // parity proves the reorder buffer, not arrival luck
    val ev = sources.Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .withColumn("_tus", expr("unix_micros(ts)"))
    val (tMin, tMax) = {
      val r = ev.agg(min("_tus"), max("_tus")).head()
      (r.getLong(0), r.getLong(1))
    }
    val span = math.max(tMax - tMin, 1L)
    ev.withColumn("_seg",
        least(lit(3), ((lit(tMax) - col("_tus")) * 4 / (span + 1)).cast("int")))
      .drop("_tus")
      .repartition(1)
      .write.partitionBy("_seg").parquet(s"$base/in")
    val store = new ParquetKpiStore(s"$base/store")
    val schema = spark.read.parquet(s"$base/in/_seg=0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in/_seg=*")
    // unbounded lateness: this drain replays the fixture in reverse
    // time order, so the finite production default would drop events
    StreamingCusum.start(spark, stream, store, s"$base/cp",
      latenessMicros = Long.MaxValue).awaitTermination()
    def rows(df: DataFrame): Seq[(Long, Long, Double, Double)] =
      df.collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_events"),
        r.getAs[Double]("cusum_final"), r.getAs[Double]("cusum_max"))).toSeq
    val got = rows(StreamingCusum.cusumTable(spark, store))
    val want = rows(SparkEntry.queries("e18_cusum")(spark, dir))
    assert(got == want, s"streaming CUSUM diverged from batch e18")
    assert(got.nonEmpty && got.exists(_._4 > 0.0), "an all-zero panel proves nothing")
  }

  test("streaming CUSUM processUser: late drops counted, replay deduped, compaction resumes the fold exactly") {
    import graft.streaming.StreamingCusum
    import graft.streaming.StreamingCusum.{CuBuf, Ev}
    import org.apache.spark.sql.streaming.TestGroupState
    import org.apache.spark.api.java.Optional
    val k = 10.0
    def run(lateness: Long, state: CuBuf, arrivals: Seq[Ev]) = {
      val gs = TestGroupState.create[CuBuf](
        optionalState =
          if (state == null) Optional.empty[CuBuf]() else Optional.of(state),
        timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
        batchProcessingTimeMs = 0L,
        eventTimeWatermarkMs = Optional.empty[java.lang.Long]()
          .asInstanceOf[Optional[Long]],
        hasTimedOut = false)
      val out = StreamingCusum.processUser(k, lateness)(
        7L, arrivals.map(e => (7L, e)).iterator, gs).toSeq
      (out, if (gs.exists) Some(gs.get) else None)
    }
    // in-order, unbounded lateness: plain fold, nothing frozen
    val evs = Seq(Ev(100L, 1L, 15.0), Ev(200L, 2L, 5.0), Ev(300L, 3L, 25.0))
    val (out1, st1) = run(Long.MaxValue, null, evs)
    // s: max(0,0+15-10)=5; max(0,5+5-10)=0; max(0,0+25-10)=15; m=15
    assert(out1.map(r => (r.n, r.s, r.m, r.drops)) == Seq((3L, 15.0, 15.0, 0L)))
    assert(st1.get.buf.size == 3 && st1.get.frozenN == 0L)
    // replayed rows dedup: same arrivals again -> no fresh, no output
    val (out2, _) = run(Long.MaxValue, st1.get, evs)
    assert(out2.isEmpty, "replay must not double-fold")
    // tight lateness freezes a prefix; resumed fold equals full fold
    val (out3, st3) = run(50L, st1.get, Seq(Ev(400L, 4L, 30.0)))
    assert(out3.map(r => (r.n, r.s, r.m)) == Seq((4L, 35.0, 35.0)))
    assert(st3.get.frozenN == 3L && st3.get.buf.map(_.eid) == Seq(4L),
      s"events at/below 400-50 freeze into the accumulator: ${st3.get}")
    // an arrival at-or-before the boundary is dropped AND counted
    val (out4, st4) = run(50L, st3.get, Seq(Ev(150L, 99L, 1000.0)))
    assert(out4.map(r => (r.drops, r.n)) == Seq((1L, 0L)))
    assert(st4.get == st3.get, "a dropped event must not mutate state")
  }

  test("streaming transitions: reverse-time drain converges to batch w12 pair-for-pair") {
    import graft.streaming.StreamingTransitions
    val dir = "/root/testdata/sf0.001"
    val base = tmpDir("strans")
    // Stage events in FOUR files by time quartile in REVERSE order
    // (latest quartile drains first): every user's sequence is
    // assembled middle-out, so most pairs are first emitted WRONG and
    // must be exactly retracted — parity proves the diff path
    val ev = sources.Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("_tus", expr("unix_micros(ts)"))
    val (tMin, tMax) = {
      val r = ev.agg(min("_tus"), max("_tus")).head()
      (r.getLong(0), r.getLong(1))
    }
    val span = math.max(tMax - tMin, 1L)
    ev.withColumn("_seg",
        least(lit(3), ((lit(tMax) - col("_tus")) * 4 / (span + 1)).cast("int")))
      .drop("_tus")
      .repartition(1)
      .write.partitionBy("_seg").parquet(s"$base/in")
    val store = new ParquetKpiStore(s"$base/store")
    val schema = spark.read.parquet(s"$base/in/_seg=0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in/_seg=*")
    // unbounded lateness: reverse-time drain (see the CUSUM parity note)
    StreamingTransitions.start(spark, stream, store, s"$base/cp",
      latenessMicros = Long.MaxValue).awaitTermination()

    def rows(df: DataFrame): Set[(String, String, Long, Double)] =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    val got = rows(StreamingTransitions.transitionTable(spark, store))
    val want = rows(SparkEntry.queries("w12_transitions")(spark, dir))
    assert(got == want,
      s"streaming transitions diverged from batch w12:\n got=$got\n want=$want")
    assert(got.nonEmpty, "parity on an empty table proves nothing")
    assert(StreamingTransitions.droppedLate(spark, store) == 0L,
      "unbounded lateness must never drop")
  }

  test("streaming transitions state: out-of-order revision, frozen-prefix drop, compaction keeps counts") {
    import graft.streaming.StreamingTransitions.{processUser, Ev, TDelta, UserBuf}
    import org.apache.spark.sql.streaming.TestGroupState
    def st = TestGroupState.create[UserBuf](
      optionalState = org.apache.spark.api.java.Optional.empty[UserBuf](),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[java.lang.Long]().asInstanceOf[org.apache.spark.api.java.Optional[Long]],
      hasTimedOut = false)
    val p = processUser(150L) _ // lateness horizon: 150 micros

    val s1 = st
    // batch 1: (100 view), (300 purchase) -> one pair
    val d1 = p(1L, Iterator((1L, Ev(100L, 1L, "view")), (1L, Ev(300L, 3L, "purchase"))), s1).toSet
    assert(d1 == Set(TDelta("view", "purchase", 1L, false)))
    // compaction: horizon = 300 - 150 = 150 -> (100 view) froze into
    // the boundary; the pair it anchors stays revisable on the right
    assert(s1.get == UserBuf(Some(Ev(100L, 1L, "view")),
      Seq(Ev(300L, 3L, "purchase"))))

    // batch 2: (200 click) lands BETWEEN boundary and tail:
    // view->purchase retracts, view->click + click->purchase emit
    val d2 = p(1L, Iterator((1L, Ev(200L, 2L, "click"))), s1).toSet
    assert(d2 == Set(
      TDelta("view", "purchase", -1L, false),
      TDelta("view", "click", 1L, false),
      TDelta("click", "purchase", 1L, false)))
    assert(s1.get.bound == Some(Ev(100L, 1L, "view")),
      "horizon 300-150 freezes nothing in [200, 300]; boundary holds")

    // batch 3: (50 stray) sorts before the boundary -> frozen region,
    // dropped AND counted; state untouched
    val d3 = p(1L, Iterator((1L, Ev(50L, 9L, "stray"))), s1).toSet
    assert(d3 == Set(TDelta("", "", 1L, true)))
    assert(s1.get.bound == Some(Ev(100L, 1L, "view")))

    // batch 4: (250 view) revises the mid-sequence pair exactly
    val d4 = p(1L, Iterator((1L, Ev(250L, 4L, "view"))), s1).toSet
    assert(d4 == Set(
      TDelta("click", "purchase", -1L, false),
      TDelta("click", "view", 1L, false),
      TDelta("view", "purchase", 1L, false)))

    // batch 5: (500 view) advances the horizon to 350 -> [200, 250,
    // 300] freeze, the LAST frozen event becomes the boundary, and the
    // only emission is the genuinely-new pair; counts never re-emit
    val d5 = p(1L, Iterator((1L, Ev(500L, 5L, "view"))), s1).toSet
    assert(d5 == Set(TDelta("purchase", "view", 1L, false)))
    assert(s1.get == UserBuf(Some(Ev(300L, 3L, "purchase")),
      Seq(Ev(500L, 5L, "view"))),
      s"compaction must freeze the pre-350 prefix: ${s1.get}")

    // a now-frozen event redelivered: dropped, not double-counted
    val d6 = p(1L, Iterator((1L, Ev(250L, 4L, "view"))), s1).toSet
    assert(d6 == Set(TDelta("", "", 1L, true)))

    // replayed duplicate of a live event: no deltas, no state change
    val before = s1.get
    assert(p(1L, Iterator((1L, Ev(500L, 5L, "view"))), s1).isEmpty)
    assert(s1.get == before)
  }

  test("streaming attribution: reverse-time drain converges to batch w20 row-for-row") {
    import graft.streaming.StreamingAttribution
    val dir = "/root/testdata/sf0.001"
    val base = tmpDir("sattr")
    // the transitions test's hostile staging: four time-quartile files
    // drained latest-first, so most purchases are first credited WRONG
    // (their real last-touch click arrives later) and must be exactly
    // retracted and re-credited
    val ev = sources.Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("_tus", expr("unix_micros(ts)"))
    val (tMin, tMax) = {
      val r = ev.agg(min("_tus"), max("_tus")).head()
      (r.getLong(0), r.getLong(1))
    }
    val span = math.max(tMax - tMin, 1L)
    ev.withColumn("_seg",
        least(lit(3), ((lit(tMax) - col("_tus")) * 4 / (span + 1)).cast("int")))
      .drop("_tus")
      .repartition(1)
      .write.partitionBy("_seg").parquet(s"$base/in")
    val store = new ParquetKpiStore(s"$base/store")
    val schema = spark.read.parquet(s"$base/in/_seg=0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in/_seg=*")
    // unbounded lateness: reverse-time drain (see the CUSUM parity note)
    StreamingAttribution.start(spark, stream, store, s"$base/cp",
      latenessMicros = Long.MaxValue).awaitTermination()

    def rows(df: DataFrame): Set[(Long, Long, Long, Option[Double])] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toSet
    val got = rows(StreamingAttribution.attributionTable(spark, store))
    val want = rows(SparkEntry.queries("w20_attribution")(spark, dir))
    assert(got == want,
      s"streaming attribution diverged from batch w20:\n got=$got\n want=$want")
    assert(got.nonEmpty, "parity on an empty table proves nothing")
    assert(StreamingAttribution.droppedLate(spark, store) == 0L,
      "unbounded lateness must never drop")
  }

  test("streaming VWAP: additive integer cells converge to batch e22 bit-for-bit under reverse drain") {
    import graft.streaming.StreamingVwap
    val dir = "/root/testdata/sf0.001"
    val base = tmpDir("svwap")
    val ev = sources.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
      .withColumn("_tus", expr("unix_micros(ts)"))
    val (tMin, tMax) = {
      val r = ev.agg(min("_tus"), max("_tus")).head()
      (r.getLong(0), r.getLong(1))
    }
    val span = math.max(tMax - tMin, 1L)
    ev.withColumn("_seg",
        least(lit(3), ((lit(tMax) - col("_tus")) * 4 / (span + 1)).cast("int")))
      .drop("_tus")
      .repartition(1)
      .write.partitionBy("_seg").parquet(s"$base/in")
    val store = new ParquetKpiStore(s"$base/store")
    val schema = spark.read.parquet(s"$base/in/_seg=0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in/_seg=*")
    StreamingVwap.start(spark, stream, store, s"$base/cp").awaitTermination()

    def rows(df: DataFrame): Set[(String, Long, Long, Long, Double)] =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSet
    val got = rows(StreamingVwap.vwapTable(spark, store))
    val want = rows(SparkEntry.queries("e22_vwap")(spark, dir))
    assert(got == want, s"streaming VWAP diverged from batch e22:\n got=$got\n want=$want")
    assert(got.nonEmpty, "parity on an empty panel proves nothing")
  }

  test("streaming growth accounting: grow-only day sets converge to batch w21 row-for-row") {
    import graft.streaming.StreamingGrowth
    val dir = "/root/testdata/sf0.001"
    val base = tmpDir("sgrow")
    // reverse-quartile drain: every user's day set is assembled
    // newest-first, so most days are first classified "new" or
    // "resurrected" WRONG and must be exactly re-classified
    val ev = sources.Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("_tus", expr("unix_micros(ts)"))
    val (tMin, tMax) = {
      val r = ev.agg(min("_tus"), max("_tus")).head()
      (r.getLong(0), r.getLong(1))
    }
    val span = math.max(tMax - tMin, 1L)
    ev.withColumn("_seg",
        least(lit(3), ((lit(tMax) - col("_tus")) * 4 / (span + 1)).cast("int")))
      .drop("_tus")
      .repartition(1)
      .write.partitionBy("_seg").parquet(s"$base/in")
    val store = new ParquetKpiStore(s"$base/store")
    val schema = spark.read.parquet(s"$base/in/_seg=0").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$base/in/_seg=*")
    StreamingGrowth.start(spark, stream, store, s"$base/cp").awaitTermination()

    def rows(df: DataFrame): Set[(Long, Long, Long, Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    val got = rows(StreamingGrowth.growthTable(spark, store))
    val want = rows(SparkEntry.queries("w21_growth_accounting")(spark, dir))
    assert(got == want,
      s"streaming growth diverged from batch w21:\n got=$got\n want=$want")
    assert(got.nonEmpty, "parity on an empty panel proves nothing")
  }

  test("streaming growth state: late mid-gap day splits churn and re-classifies exactly") {
    import graft.streaming.StreamingGrowth.{processUser, DaySet, GDelta}
    import org.apache.spark.sql.streaming.TestGroupState
    def st = TestGroupState.create[DaySet](
      optionalState = org.apache.spark.api.java.Optional.empty[DaySet](),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[java.lang.Long]().asInstanceOf[org.apache.spark.api.java.Optional[Long]],
      hasTimedOut = false)
    val s1 = st
    // days {0, 3}: 0 new, 3 resurrected; churn at 1 and 4
    val d1 = processUser(1L, Iterator((1L, 0L), (1L, 3L)), s1).toSet
    assert(d1 == Set(
      GDelta(0L, 1L, 1L, 0L, 0L, 0L),
      GDelta(1L, 0L, 0L, 0L, 0L, 1L),
      GDelta(3L, 1L, 0L, 0L, 1L, 0L),
      GDelta(4L, 0L, 0L, 0L, 0L, 1L)), s"d1=$d1")
    // late day 2 arrives: churn at 1 stays (0 has no successor), day 2
    // becomes resurrected, day 3 flips resurrected -> retained, churn
    // at 3 never existed (2's successor is 3)
    val d2 = processUser(1L, Iterator((1L, 2L)), s1).toSet
    assert(d2 == Set(
      GDelta(2L, 1L, 0L, 0L, 1L, 0L),
      GDelta(3L, 0L, 0L, 1L, -1L, 0L)), s"d2=$d2")
    // duplicate replay: no deltas, no state change
    val before = s1.get
    assert(processUser(1L, Iterator((1L, 2L), (1L, 0L)), s1).isEmpty)
    assert(s1.get == before)
  }

  test("streaming attribution state: late click re-credits, user flips, frozen prefix final") {
    import graft.streaming.StreamingAttribution.{processUser, ADelta, AttrState}
    import graft.streaming.StreamingTransitions.Ev
    import org.apache.spark.sql.streaming.TestGroupState
    val day = 86400000000L
    def st = TestGroupState.create[AttrState](
      optionalState = org.apache.spark.api.java.Optional.empty[AttrState](),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
      batchProcessingTimeMs = 0L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[java.lang.Long]().asInstanceOf[org.apache.spark.api.java.Optional[Long]],
      hasTimedOut = false)
    val p = processUser(Long.MaxValue) _ // no compaction: pure revision logic

    val s1 = st
    // purchase with NO prior click -> -1 bucket, user flip +1
    val d1 = p(7L, Iterator((7L, Ev(day + 500L, 1L, "purchase"))), s1).toSet
    assert(d1 == Set(ADelta(-1L, 1L, 0L, 1L, false)))

    // late click BEFORE the purchase: -1 retracts (purchases AND user),
    // day 1 gains both, lag = 300
    val d2 = p(7L, Iterator((7L, Ev(day + 200L, 2L, "click"))), s1).toSet
    assert(d2 == Set(
      ADelta(-1L, -1L, 0L, -1L, false),
      ADelta(1L, 1L, 300L, 1L, false)))

    // a LATER click lands between: credit moves to it (same day here,
    // so only the lag changes; day cells stay, no user flip)
    val d3 = p(7L, Iterator((7L, Ev(day + 400L, 3L, "click"))), s1).toSet
    assert(d3 == Set(ADelta(1L, 0L, -200L, 0L, false)))

    // compaction path: tight horizon freezes everything; the frozen
    // prefix must collapse to (boundary, last click, flagged days)
    val s2 = st
    val pc = processUser(100L) _
    val dc1 = pc(8L, Iterator(
      (8L, Ev(day + 100L, 1L, "click")),
      (8L, Ev(day + 200L, 2L, "purchase")),
      (8L, Ev(2 * day + 900L, 3L, "noise"))), s2).toSet
    assert(dc1 == Set(ADelta(1L, 1L, 100L, 1L, false)))
    // horizon = (2*day+900) - 100 freezes [click, purchase]; the noise
    // event itself stays revisable
    val st2 = s2.get
    assert(st2.bound == Some(Ev(day + 200L, 2L, "purchase")) &&
      st2.lastFrozenClick == Some(day + 100L) && st2.frozenDays == Set(1L) &&
      st2.buf == Seq(Ev(2 * day + 900L, 3L, "noise")),
      s"frozen-prefix collapse wrong: $st2")
    // a live purchase after the freeze credits the FROZEN click; the
    // day-1 user flag is already frozen -> no user re-flip
    val dc2 = pc(8L, Iterator((8L, Ev(2 * day + 1000L, 4L, "purchase"))), s2).toSet
    assert(dc2 == Set(ADelta(1L, 1L, day + 900L, 0L, false)))
    // an event sorting at-or-before the boundary: dropped and counted
    val dc3 = pc(8L, Iterator((8L, Ev(day + 150L, 9L, "click"))), s2).toSet
    assert(dc3 == Set(ADelta(0L, 1L, 0L, 0L, true)))
  }
}

/** A store whose merge of `table` throws once, for batch `batchId`. */
private class FailOnceStore(root: String, table: String, batchId: Long)
    extends ParquetKpiStore(root) {
  private val armed = new java.util.concurrent.atomic.AtomicBoolean(true)
  override def merge(spark: org.apache.spark.sql.SparkSession, t: String, keys: Seq[String],
      updates: DataFrame, b: Long): Unit = {
    if (t == table && b == batchId && armed.compareAndSet(true, false))
      throw new IllegalStateException(FailOnceStore.Message)
    super.merge(spark, t, keys, updates, b)
  }
}

private object FailOnceStore {
  val Message = "injected merge failure"
}
