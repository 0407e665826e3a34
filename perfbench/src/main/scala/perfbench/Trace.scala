package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.streaming.ParquetKpiStore
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** In-memory spans, written out when the run ends. Each span has a
  * name, start, end (epoch ms), parent span id (-1 for a root) and the
  * trace id shared by every span of one query or trigger. Spans are
  * recorded only while `enabled`. */
object Trace {
  final case class Span(id: Long, parent: Long, trace: String, name: String, start: Double, end: Double)

  @volatile var enabled = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }

  /** Time `body` as a span; a span without an explicit trace id joins
    * the enclosing span's trace. */
  def span[A](name: String, trace: String = null)(body: => A): A =
    if (!enabled) body
    else {
      val outer = stack.get()
      val parent = outer.headOption.map(_._1).getOrElse(-1L)
      val tid = Option(trace).orElse(outer.headOption.map(_._2)).getOrElse(name)
      val id = ids.incrementAndGet()
      stack.set((id, tid) :: outer)
      val t0 = Clock.nowMs
      try body
      finally {
        spans.add(Span(id, parent, tid, name, t0, Clock.nowMs))
        stack.set(outer)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  def asRows: Seq[Map[String, Any]] = all.sortBy(_.id).map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
    "start" -> s.start, "end" -> s.end))
}

/** Spark job/stage/task counters, grouped by the `perfbench.phase`
  * local property of the thread that submitted the job. Jobs of a
  * streaming trigger outside any phase are grouped per trigger, as
  * `stream:<queryId>:<batchId>`. */
final class ExecListener extends SparkListener {
  final class Counters {
    var jobs = 0L; var stages = 0L; var tasks = 0L; var cpuNs = 0L
    var inputBytes = 0L; var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "task_cpu_s" -> cpuNs / 1e9,
      "input_bytes" -> inputBytes, "shuffle_read_bytes" -> shuffleRead,
      "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill)
  }

  private val byPhase = mutable.HashMap.empty[String, Counters]
  private val stagePhase = mutable.HashMap.empty[Int, String]

  private def c(phase: String) = byPhase.getOrElseUpdate(phase, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val phase = prop(ExecListener.Key)
      .orElse(prop("streaming.sql.batchId").map(b => s"stream:${prop("sql.streaming.queryId").orNull}:$b"))
      .getOrElse("other")
    c(phase).jobs += 1
    e.stageIds.foreach(stagePhase(_) = phase)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    c(stagePhase.getOrElse(e.stageInfo.stageId, "other")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val k = c(stagePhase.getOrElse(e.stageId, "other"))
    k.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      k.cpuNs += m.executorCpuTime
      k.inputBytes += m.inputMetrics.bytesRead
      k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      k.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Counters per phase, after every queued event is delivered. */
  def snapshot(spark: SparkSession): Map[String, Map[String, Any]] = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    synchronized(byPhase.map { case (k, v) => k -> v.toMap }.toMap)
  }
}

object ExecListener {
  val Key = "perfbench.phase"
  def phase(spark: SparkSession, name: String): Unit =
    spark.sparkContext.setLocalProperty(Key, name)
}

/** Every trigger's progress report, as plain values. Executed batches
  * only (idle triggers report no `addBatch` duration). run.py lays the
  * trigger phases out as spans from the reported durations. */
final class ProgressLog extends StreamingQueryListener {
  private val rows = new ConcurrentLinkedQueue[Map[String, Any]]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
    if (d.contains("addBatch")) {
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      rows.add(Map(
        "query" -> p.name, "run" -> p.runId.toString, "batch" -> p.batchId, "start" -> start,
        "end" -> (start + d.getOrElse("triggerExecution", 0L)),
        "rows" -> p.numInputRows, "duration_ms" -> d))
    }
  }

  def all: Seq[Map[String, Any]] = rows.asScala.toSeq

  def inputRows(run: String): Long =
    all.filter(_("run") == run).map(_("rows").asInstanceOf[Long]).sum
}

/** A [[ParquetKpiStore]] that times each public merge while tracing is
  * on. A merge's time includes the lazily evaluated transform that
  * produces its updates. */
final class TimedStore(root: String, query: String) extends ParquetKpiStore(root) {
  private val calls = new ConcurrentLinkedQueue[Map[String, Any]]()

  private def timed(kind: String, table: String, batchId: Long)(body: => Unit): Unit =
    if (!Trace.enabled) body
    else {
      val t0 = Clock.nowMs
      Trace.span(s"sink.$kind", s"$query#$batchId")(body)
      calls.add(Map("kind" -> kind, "table" -> table, "batch" -> batchId, "ms" -> (Clock.nowMs - t0)))
    }

  override def merge(spark: SparkSession, table: String, keys: Seq[String],
      updates: DataFrame, batchId: Long): Unit =
    timed("merge", table, batchId)(super.merge(spark, table, keys, updates, batchId))

  override def mergeReplace(spark: SparkSession, table: String, keys: Seq[String],
      updates: DataFrame, batchId: Long): Unit =
    timed("mergeReplace", table, batchId)(super.mergeReplace(spark, table, keys, updates, batchId))

  override def mergeWith(spark: SparkSession, table: String, updates: DataFrame,
      batchId: Long)(combine: DataFrame => DataFrame): Unit =
    timed("mergeWith", table, batchId)(super.mergeWith(spark, table, updates, batchId)(combine))

  override def mergeGroup(spark: SparkSession, group: String,
      members: Seq[(String, Seq[String], DataFrame)], batchId: Long): Unit =
    timed("mergeGroup", group, batchId)(super.mergeGroup(spark, group, members, batchId))

  def all: Seq[Map[String, Any]] = calls.asScala.toSeq
}
