package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.GraftSession
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters

/** Command-line options of one benchmark run. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    dataDir: String,
    workDir: String,
    out: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      kv.getOrElse("trace", "0") == "1", need("data"), need("work"), need("out"))
  }
}

/** Wall clock on one epoch-millisecond axis with nanosecond steps, so
  * spans taken here line up with Spark's progress timestamps. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** The raw record of one run, written as one JSON object for run.py. */
final class Raw {
  private val fields = mutable.LinkedHashMap.empty[String, Any]
  def update(k: String, v: Any): Unit = synchronized { fields(k) = v }
  def write(path: String): Unit = synchronized {
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(path), fields)
  }
}

object Proc {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this process has used so far, all threads. */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  /** Process high-water resident set (VmHWM), in MiB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L) else f.length()

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def freshDir(path: String): String = {
    val f = new File(path)
    deleteTree(f)
    f.mkdirs()
    f.getAbsolutePath
  }
}

/** Session set-up, timed from JVM start until the session is built and
  * tuned and the workload's inputs are staged. */
object Setup {
  final case class Result[A](spark: SparkSession, staged: A, setupS: Double, sessionS: Double)

  def run[A](opts: Opts)(stage: => A): Result[A] = {
    val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val spark = GraftSession.builder("perfbench")
      .config("spark.local.dir", Proc.freshDir(s"${opts.workDir}/spark-local"))
      .config("spark.sql.warehouse.dir", s"${opts.workDir}/warehouse")
      .getOrCreate()
    GraftSession.tune(spark)
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = Clock.nowMs
    val staged = stage
    Result(spark, staged, (Clock.nowMs - t0) / 1000.0, (t1 - t0) / 1000.0)
  }
}

/** Order-insensitive result digest: row count plus the wrapping sum of
  * one 64-bit hash per row. Doubles and floats are hashed as text rounded
  * to five significant digits, so the last-bit noise of parallel
  * floating-point sums does not change the digest. `of` materializes the
  * frame's executed plan (`queryExecution.toRdd`) exactly once. */
object Digest {
  final case class D(rows: Long, hash: Long) {
    def render: String = s"$rows:${java.lang.Long.toUnsignedString(hash)}"
  }

  private def canon(v: Any, b: StringBuilder): Unit = v match {
    case null => b += '~'
    case d: Double => b ++= (if (d.isNaN) "NaN" else if (d == 0.0) "0" else String.format("%.4e", Double.box(d)))
    case f: Float => canon(f.toDouble, b)
    case r: Row => b += '('; r.toSeq.foreach { x => canon(x, b); b += ',' }; b += ')'
    case m: scala.collection.Map[_, _] =>
      val kv = m.toSeq.map { case (k, x) =>
        val e = new StringBuilder; canon(k, e); e += '='; canon(x, e); e.toString
      }
      b += '{'; kv.sorted.foreach { e => b ++= e; b += ',' }; b += '}'
    case a: Array[Byte] => a.foreach(x => b ++= f"$x%02x")
    case s: scala.collection.Seq[_] => b += '['; s.foreach { x => canon(x, b); b += ',' }; b += ']'
    case other => b ++= other.toString
  }

  def rowHash(r: Row): Long = {
    val b = new StringBuilder
    canon(r, b)
    val s = b.toString
    (MurmurHash3.stringHash(s, 0x5eed).toLong << 32) | (MurmurHash3.stringHash(s, 0x0b5e).toLong & 0xffffffffL)
  }

  def of(df: DataFrame): D = {
    val schema = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      var n = 0L
      var h = 0L
      it.foreach { ir => n += 1; h += rowHash(toRow(ir).asInstanceOf[Row]) }
      Iterator.single((n, h))
    }.collect()
    D(parts.map(_._1).sum, parts.map(_._2).sum)
  }
}
