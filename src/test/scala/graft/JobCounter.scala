package graft

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts Spark jobs by a key read from each job's properties (its local
  * properties, job description included); jobs without a key are not
  * counted. Listener events arrive asynchronously but in order, so
  * [[flush]] runs a sentinel job and waits until the listener has seen it:
  * every job started before the sentinel has then been counted. */
final class JobCounter private (sc: SparkContext, key: Properties => Option[String])
    extends SparkListener {
  private val counts = new ConcurrentHashMap[String, Int]()
  private val sentinels = ConcurrentHashMap.newKeySet[String]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).foreach { p =>
      Option(p.getProperty(JobCounter.Sentinel)).foreach(sentinels.add)
      key(p).foreach(counts.merge(_, 1, _ + _))
    }

  /** Jobs counted under `k` so far. */
  def apply(k: String): Int = counts.getOrDefault(k, 0)

  def snapshot: Map[String, Int] = {
    import scala.jdk.CollectionConverters._
    counts.asScala.toMap
  }

  def reset(): Unit = counts.clear()

  /** Wait until every job started before this call has been counted. */
  def flush(): Unit = {
    val id = java.util.UUID.randomUUID().toString
    sc.setLocalProperty(JobCounter.Sentinel, id)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(JobCounter.Sentinel, null)
    val deadline = System.currentTimeMillis() + 30000
    while (!sentinels.contains(id) && System.currentTimeMillis() < deadline) Thread.sleep(10)
    assert(sentinels.contains(id), "listener never saw the sentinel job")
  }
}

object JobCounter {
  private val Sentinel = "graft.test.sentinel"

  /** Run `body` with a [[JobCounter]] registered on `sc`. */
  def around[A](sc: SparkContext)(key: Properties => Option[String])(body: JobCounter => A): A = {
    val c = new JobCounter(sc, key)
    sc.addSparkListener(c)
    try body(c) finally sc.removeSparkListener(c)
  }
}
