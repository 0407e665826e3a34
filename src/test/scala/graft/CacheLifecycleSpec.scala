package graft

import graft.operators.Dedup
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.functions.col

/** Cache-lifecycle guarantees (round-4 top finding: staged shingle
  * frames were persisted and NEVER released — one session running many
  * corpora held every corpus's cache for its lifetime, and the bench's
  * scale probes timed cache pressure instead of the operators).
  *
  *  - operators that persist intermediates must REGISTER them
  *    ([[CachePool]]), so a pipeline boundary can release them;
  *  - `CachePool.releaseAll()` must actually empty the session's
  *    CacheManager (no graft-owned frame survives a completed batch
  *    pipeline whose driver follows the release discipline);
  *  - a source-level sweep: every `persist(` in main code has a
  *    reachable release path (unpersist or CachePool registration) —
  *    guards the fix against a future operator re-introducing the leak.
  */
class CacheLifecycleSpec extends SparkTestBase {

  private val docs = "/root/testdata/sf0.001/documents.parquet"

  test("near-dup pipeline registers staged frames; releaseAll empties the cache manager") {
    spark.catalog.clearCache()
    CachePool.releaseAll()
    assert(GraftSqlBridge.cacheManagerIsEmpty(spark))

    val df = spark.read.parquet(docs).select(col("doc_id"), col("text"))
    val pairs = Dedup.nearDupPairs(df, "doc_id", "text", threshold = 0.5)
    assert(pairs.count() > 0)
    assert(CachePool.trackedCount > 0,
      "stagedShingles must register its persisted frame")
    assert(!GraftSqlBridge.cacheManagerIsEmpty(spark))

    CachePool.releaseAll(blocking = true)
    assert(CachePool.trackedCount == 0)
    assert(GraftSqlBridge.cacheManagerIsEmpty(spark),
      "no graft-owned cached frame may survive the pipeline release")
  }

  test("cross-pipeline (decontamination) staged frames release the same way") {
    spark.catalog.clearCache()
    CachePool.releaseAll()
    val df = spark.read.parquet(docs).select(col("doc_id"), col("text"))
    val flagged = Dedup.crossNearDupPairs(
      corpus = df.filter(col("doc_id") >= 50),
      probes = df.filter(col("doc_id") < 50),
      "doc_id", "text", threshold = 0.5)
    flagged.count()
    assert(CachePool.trackedCount >= 2, "both sides stage and register")
    CachePool.releaseAll(blocking = true)
    assert(GraftSqlBridge.cacheManagerIsEmpty(spark))
  }

  test("released caches only drop blocks — consumers still recompute correctly") {
    spark.catalog.clearCache()
    CachePool.releaseAll()
    val df = spark.read.parquet(docs).select(col("doc_id"), col("text"))
    val pairs = Dedup.nearDupPairs(df, "doc_id", "text", threshold = 0.5)
    val before = pairs.count()
    CachePool.releaseAll(blocking = true)
    assert(pairs.count() == before, "lazy plans survive the unpersist")
  }

  test("a released local checkpoint has no lineage: its lazy consumers fail loudly, never recompute") {
    CachePool.releaseAll()
    val cp = CachePool.registerLocalCheckpoint(
      spark.range(0, 1000, 1, 4).select((col("id") % 7).as("k")))
    assert(cp.count() == 1000L)
    // built before the release, first run after it
    val consumer = cp.groupBy(col("k")).count()
    CachePool.releaseAll(blocking = true)
    val err = intercept[Exception](consumer.collect())
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND")),
      s"expected the checkpoint-block failure, got $err")
  }

  test("source sweep: persist sites never outnumber release sites in any file") {
    // per-SITE accounting, not per-file presence: a file that already
    // releases one frame must not absolve a new leaky persist() added to
    // it (round-5 advice — the old any-'unpersist'-in-file check did).
    // Comment lines are stripped so documentation can mention persist().
    import scala.jdk.CollectionConverters._
    val mainRoot = java.nio.file.Paths.get("src/main/scala")
    def countIn(src: String, pat: String): Int = pat.r.findAllIn(src).length
    val counted = java.nio.file.Files.walk(mainRoot).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map { p =>
        val code = java.nio.file.Files.readAllLines(p).asScala
          .filterNot(_.trim.matches("^(//|\\*|/\\*).*"))
          .mkString("\n")
        val persists = countIn(code, """\.persist\(""") + countIn(code, """\.cache\(\)""")
        val releases = countIn(code, """\.unpersist\(""") +
          countIn(code, """CachePool\.register""")
        (p.toString, persists, releases)
      }
      .filter(_._2 > 0)
      .toList
    assert(counted.nonEmpty, "sweep must see the known persist sites")
    val leaky = counted.collect {
      case (path, p, r) if p > r => s"$path: $p persist sites, $r release sites"
    }
    assert(leaky.isEmpty,
      s"more persist sites than release paths (unpersist/CachePool.register):\n${leaky.mkString("\n")}")
  }
}
