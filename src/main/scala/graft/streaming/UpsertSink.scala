package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Keyed upsert sinks for streaming `foreachBatch` fan-out — the engine's
  * replacement for the reference's per-row MySQL upsert writer
  * (reference: src/main/scala/Consumer.scala:152-181 — one JDBC connection
  * per partition per batch, one `executeUpdate` per row).
  *
  * Three implementations:
  *  - [[ParquetKpiStore]]: versioned parquet directories with an atomic
  *    pointer — the test/local sink. Five write kinds — `merge` (an
  *    *additive* fold of keyed components: counts, sums), `mergeReplace`,
  *    `mergeWith`, `mergeGroup` and `commitGroup` — differ only in how
  *    they build each member's next state. All five commit through one
  *    private routine: lock the names in sorted order, refuse a view,
  *    skip a batch at or below the persisted applied-batch watermark,
  *    stage `v_<batchId>` per member, swap one pointer (`_LATEST` for a
  *    table, `_GROUP_<group>` for a group), prune old versions. The
  *    watermark makes replay a no-op and the swap makes a commit
  *    all-or-nothing: exactly-once effect on at-least-once delivery.
  *  - [[JdbcKpiStore]]: the same additive, watermarked merge into a live
  *    database, one driver-side transaction per table and batch.
  *  - [[JdbcUpsertSink]]: batched, pooled-connection keyed upsert for
  *    external DBMS targets — `addBatch`/`executeBatch` per partition
  *    instead of per-row round trips.
  *
  * Views: a name may instead hold a view of another table
  * ([[ParquetKpiStore.defineView]]): a filter and a projection in SQL
  * text, kept in the name's `_VIEW` file. Reading a view reads its source
  * table's current version through them, and a view's applied batch is
  * its source's, so every view of one table moves with that table's
  * single pointer swap. Each read resolves the pointer on its own: two
  * view reads can straddle a commit, one read of the source cannot. The
  * KPI stream keeps its eight tables this way, as views of one state
  * table. Views cannot be written to.
  *
  * Concurrency: [[ParquetKpiStore]] locks per table, not per store.
  * Merges into different tables (say, two streaming views sharing a
  * store) run at the same time; merges into the same table serialize, so
  * each reads the version its predecessor wrote. Group commits hold every
  * member's lock, and the group's own, taken in sorted name order so that
  * no two writers can deadlock.
  */
class ParquetKpiStore(root: String) extends Serializable {

  @transient private lazy val locks = new ConcurrentHashMap[String, AnyRef]()

  /** Per table, the last version [[read]] resolved and its footer schema.
    * A published version is never rewritten (the watermark skips its
    * batch), so its schema is inferred once, not once per read: the eight
    * KPI views of one state table share one inference per version. */
  @transient private lazy val schemas = new ConcurrentHashMap[String, (String, StructType)]()

  /** Run `body` holding the lock of every name, taken in sorted order. */
  private def locked[A](names: Seq[String])(body: => A): A = {
    def hold(rest: List[String]): A = rest match {
      case Nil => body
      case n :: more => locks.computeIfAbsent(n, _ => new AnyRef).synchronized(hold(more))
    }
    hold(names.distinct.sorted.toList)
  }

  private def tableDir(table: String) = s"$root/$table"
  private def latestFile(table: String) = new Path(s"$root/$table/_LATEST")
  private def viewFile(table: String) = new Path(s"$root/$table/_VIEW")

  private def fs(spark: SparkSession) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Trimmed contents of a small metadata file (None if absent). */
  private def readFile(spark: SparkSession, path: Path): Option[String] = {
    val f = fs(spark)
    if (!f.exists(path)) None
    else {
      val in = f.open(path)
      try Some(scala.io.Source.fromInputStream(in).mkString.trim) finally in.close()
    }
  }

  /** `table`'s view definition as (source, filter, select), if it is a view. */
  private def viewOf(spark: SparkSession, table: String): Option[(String, String, Seq[String])] =
    readFile(spark, viewFile(table)).map { s =>
      val lines = s.split("\n").toSeq
      (lines(0), lines(1), lines.drop(2))
    }

  private def requireTable(spark: SparkSession, table: String): Unit =
    require(!fs(spark).exists(viewFile(table)), s"$table is a view; write to its source table")

  /** Highest micro-batch id already folded into `table` (-1 if none); for
    * a view, its source's. */
  def appliedBatch(spark: SparkSession, table: String): Long = viewOf(spark, table) match {
    case Some((source, _, _)) => appliedBatch(spark, source)
    case None => readFile(spark, latestFile(table)).fold(-1L)(_.split(":")(0).toLong)
  }

  private def currentVersionPath(spark: SparkSession, table: String): Option[String] =
    readFile(spark, latestFile(table)).map(s => s"${tableDir(table)}/v_${s.split(":")(1)}")

  /** Current table contents (empty option if never written). A view reads
    * its source's current version, filtered and projected. */
  def read(spark: SparkSession, table: String): Option[DataFrame] = viewOf(spark, table) match {
    case Some((source, filter, select)) =>
      read(spark, source).map(_.where(filter).selectExpr(select: _*))
    case None => currentVersionPath(spark, table).map { vdir =>
      val (_, schema) = schemas.compute(table, (_, known) =>
        if (known != null && known._1 == vdir) known else (vdir, spark.read.parquet(vdir).schema))
      spark.read.schema(schema).parquet(vdir)
    }
  }

  /** Declare `table` a view of `source`: [[read]] of `table` returns
    * `source`'s current version filtered by `filter` and projected by
    * `select` (SQL text), and [[appliedBatch]] of `table` is `source`'s.
    * The definition is written to `table`'s `_VIEW` file by atomic rename;
    * defining the same view again writes nothing. Fails if `table` already
    * holds a written table, so that a view never hides stored data, and if
    * it holds a different view definition, so that stored state is never
    * read under another projection (say, KPI tags renumbered by an edit). */
  def defineView(
      spark: SparkSession,
      table: String,
      source: String,
      filter: String,
      select: Seq[String]): Unit = locked(Seq(table)) {
    val lines = source +: filter +: select
    require(table != source, s"view $table cannot read itself")
    require(select.nonEmpty && lines.forall(l => l.trim.nonEmpty && !l.contains('\n')),
      s"view $table: source, filter and each select expression must be one non-empty line")
    require(!fs(spark).exists(latestFile(table)),
      s"$table already holds a table; it cannot be redefined as a view")
    val content = lines.mkString("\n")
    readFile(spark, viewFile(table)) match {
      case None => writeAtomic(spark, viewFile(table), content)
      case Some(stored) => require(stored == content.trim, // readFile trims
        s"$table is already defined as a different view:\n$stored")
    }
  }

  /** Current table contents read with a known schema. Unlike [[read]],
    * this fires no Spark job: the Parquet footer inference is skipped. */
  private[graft] def readAs(
      spark: SparkSession, table: String, schema: StructType): Option[DataFrame] =
    currentVersionPath(spark, table).map(spark.read.schema(schema).parquet(_))

  /** Additively merge keyed components: non-key numeric columns are summed
    * per key across the existing state and the new batch. Skips batches
    * already applied (replay after checkpoint recovery is a no-op). Every
    * version of the table was written with the updates' schema, so the
    * current one is read with it. */
  def merge(
      spark: SparkSession,
      table: String,
      keys: Seq[String],
      updates: DataFrame,
      batchId: Long): Unit =
    commit(spark, None, batchId, Seq(table ->
      (() => sumByKeys(readAs(spark, table, updates.schema), keys, updates))))

  /** The additive fold shared by [[merge]] and [[mergeGroup]]: `cur` and
    * `updates` unioned, non-key columns summed per key and cast back to
    * the updates' types. */
  private def sumByKeys(
      cur: Option[DataFrame], keys: Seq[String], updates: DataFrame): DataFrame = cur match {
    case None => updates
    case Some(state) =>
      val valueCols = updates.columns.filterNot(keys.contains)
      state.unionByName(updates)
        .groupBy(keys.map(col): _*)
        .agg(valueCols.head -> "sum", valueCols.tail.map(_ -> "sum"): _*)
        .select(keys.map(col) ++ valueCols.map(c => col(s"sum($c)").cast(
          updates.schema(c).dataType).as(c)): _*)
  }

  /** Keyed LAST-WRITE-WINS merge: an updated key's row REPLACES the
    * stored row; untouched keys carry forward. The additive [[merge]]
    * is for decomposable aggregates (counts, sums); this one is for
    * per-key DERIVED STATE that revises under late data — a streaming
    * funnel's (t1, t2, t3) triple is recomputed, not incremented, when
    * an earlier first-view arrives. Same idempotence contract: replay
    * of an applied batch is a no-op, so updates must be deterministic
    * per batch (they are: foreachBatch hands the same rows on replay).
    * Anti-join + union — one shuffle over a store bounded by distinct
    * keys, never by stream volume. */
  def mergeReplace(
      spark: SparkSession,
      table: String,
      keys: Seq[String],
      updates: DataFrame,
      batchId: Long): Unit =
    commit(spark, None, batchId, Seq(table -> (() => read(spark, table) match {
      case None => updates
      case Some(cur) =>
        cur.join(updates.select(keys.map(col): _*), keys, "left_anti")
          .unionByName(updates)
    })))

  /** Keyed ALGEBRAIC merge — the generalization the additive [[merge]]
    * and last-write-wins [[mergeReplace]] are special cases of: the
    * caller's `combine` re-aggregates the UNION of stored state and
    * the new batch's partial rows into the next state. Correctness
    * contract (the [[graft.streaming.StreamingOhlc]] argument): the
    * per-key state must be a COMMUTATIVE SEMIGROUP value under
    * `combine` (min/max/min_by-as-struct-min/sum all qualify), so any
    * arrival order converges to the batch aggregate — no retractions,
    * no watermark compaction. `combine` must emit exactly the state
    * schema (it is also applied implicitly by the next merge). Same
    * idempotence watermark as every merge: replayed batches no-op. */
  def mergeWith(
      spark: SparkSession,
      table: String,
      updates: DataFrame,
      batchId: Long)(combine: DataFrame => DataFrame): Unit =
    commit(spark, None, batchId, Seq(table -> (() => read(spark, table) match {
      case None => updates
      case Some(cur) => combine(cur.unionByName(updates))
    })))

  /** The one commit path behind every public write. In order: lock every
    * name in sorted order (the members, and for a group its manifest,
    * under the manifest's file name, which no table can have); refuse a
    * view; skip a batch at or below the applied watermark, so a replay is
    * a no-op; stage each member's next state, built only now and in
    * member order, as `v_<batchId>`; swap the one pointer (`_LATEST` for
    * a table, `_GROUP_<group>` for a group); prune old versions. Nothing
    * is visible before the swap, so a crash anywhere earlier leaves every
    * member at the previous batch. */
  private def commit(
      spark: SparkSession,
      group: Option[String],
      batchId: Long,
      members: Seq[(String, () => DataFrame)]): Unit = {
    val tables = members.map(_._1)
    locked(group.map(g => s"_GROUP_$g").toSeq ++ tables) {
      tables.foreach(requireTable(spark, _))
      val (pointer, applied, content) = group match {
        case None =>
          (latestFile(tables.head), appliedBatch(spark, tables.head), s"$batchId:$batchId")
        case Some(g) => (groupManifest(g), appliedGroupBatch(spark, g), batchId.toString)
      }
      if (batchId > applied) {
        members.foreach { case (table, next) =>
          next().write.mode(SaveMode.Overwrite).parquet(s"${tableDir(table)}/v_$batchId")
        }
        writeAtomic(spark, pointer, content)
        tables.foreach(pruneOldVersions(spark, _, batchId))
      }
    }
  }

  // ------------------------------------------------------------------
  // Multi-table atomic commit (round-11): twins that fold one batch
  // into TWO tables (retention cells+cohorts, attribution cells+drops)
  // could expose a reader to table A at batch n and table B at n−1
  // after a crash between the two per-table merges — the same
  // non-atomicity the reference's per-table MySQL upserts had
  // (Consumer.scala:159-166). A GROUP commit stages every member
  // table's next version dir first and then swaps ONE manifest file;
  // grouped readers resolve versions through the manifest only, so
  // they see all members at generation n or all at n−1, never mixed.
  // ------------------------------------------------------------------

  private def groupManifest(group: String) = new Path(s"$root/_GROUP_$group")

  /** Highest batch atomically committed for `group` (-1 if none). */
  def appliedGroupBatch(spark: SparkSession, group: String): Long =
    readFile(spark, groupManifest(group)).fold(-1L)(_.toLong)

  /** Read a member table at the group's committed generation (empty
    * option if the group was never committed). NEVER reads a member's
    * per-table `_LATEST`: the manifest is the single source of truth,
    * which is what makes the cross-table read consistent. */
  def readGrouped(spark: SparkSession, group: String, table: String): Option[DataFrame] = {
    val b = appliedGroupBatch(spark, group)
    if (b < 0) None
    else {
      val vdir = s"${tableDir(table)}/v_$b"
      // a member with no rows in any batch so far has no version dir
      if (!fs(spark).exists(new Path(vdir))) None
      else Some(spark.read.parquet(vdir))
    }
  }

  /** Atomic multi-table additive merge: every `(table, keys, updates)`
    * member folds like [[merge]], but versions land as uncommitted
    * `v_batchId` dirs first and ONE manifest swap
    * ([[writeAtomic]] on the group file)
    * publishes them all. Crash anywhere before the swap: the manifest
    * still names generation n−1, every staged dir is invisible to
    * [[readGrouped]], and the idempotence watermark (now per GROUP,
    * not per table) makes the replay rebuild every member from the
    * n−1 state — exactly-once across the whole group. */
  def mergeGroup(
      spark: SparkSession,
      group: String,
      members: Seq[(String, Seq[String], DataFrame)],
      batchId: Long): Unit = {
    require(members.nonEmpty, "mergeGroup needs at least one member table")
    commit(spark, Some(group), batchId, members.map { case (table, keys, updates) =>
      table -> (() => sumByKeys(readGrouped(spark, group, table), keys, updates))
    })
  }

  /** Atomic multi-table REPLACE commit — [[mergeGroup]]'s general
    * sibling for twins whose next state is not an additive fold: the
    * caller computes each member's FULL next state (reading the
    * current generation via [[readGrouped]] — the staged write goes
    * to a NEW `v_batchId` dir, never over the version being read),
    * and this call stages every member then swaps ONE manifest.
    * Same crash contract as [[mergeGroup]]: die before the swap and
    * the group still reads generation n−1 whole, and the group-level
    * idempotence watermark makes the replay recompute every member
    * from that committed state — exactly-once across the group. Used
    * by [[graft.streaming.StreamingSkyline]], whose frontier member
    * REMOVES newly-dominated rows (not expressible as a keyed
    * additive merge). */
  def commitGroup(
      spark: SparkSession,
      group: String,
      members: Seq[(String, DataFrame)],
      batchId: Long): Unit = {
    require(members.nonEmpty, "commitGroup needs at least one member table")
    commit(spark, Some(group), batchId, members.map { case (table, next) => table -> (() => next) })
  }

  /** Atomic small-file write: write `<path>.tmp`, then rename it OVER
    * `path` — a racing reader sees the old contents or the new ones, never
    * a truncated file (the previous create-overwrite truncated first;
    * StreamingSpec's hammering reader caught that window). Used for every
    * table's `_LATEST` pointer, the group manifests and view definitions.
    *
    * Two rename paths because Hadoop's is only atomic where the store
    * supports it: on `file://`, `FileContext.rename(OVERWRITE)` is
    * delete-then-rename (a visible gap — measured), so the swap uses
    * POSIX rename(2) via NIO, bypassing the checksum layer for this one
    * file; on HDFS-like stores the FileContext rename IS the atomic
    * overwriting rename. */
  private def writeAtomic(spark: SparkSession, path: Path, content: String): Unit = {
    val f = fs(spark)
    val tmp = new Path(path.getParent, s"${path.getName}.tmp")
    if (Option(f.getUri.getScheme).forall(_ == "file")) {
      val tmpNio = java.nio.file.Paths.get(tmp.toUri.getPath)
      java.nio.file.Files.createDirectories(tmpNio.getParent)
      java.nio.file.Files.write(tmpNio, content.getBytes("UTF-8"))
      java.nio.file.Files.move(tmpNio,
        java.nio.file.Paths.get(path.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } else {
      val out = f.create(tmp, true)
      out.write(content.getBytes("UTF-8"))
      out.close()
      org.apache.hadoop.fs.FileContext
        .getFileContext(f.getUri, spark.sparkContext.hadoopConfiguration)
        .rename(tmp, path, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }
  }

  /** Version GC: a long-running stream writes one version per batch —
    * unbounded storage without pruning. Keep the current version plus
    * the immediately previous one (readers that resolved the old
    * pointer may still be scanning it); delete the rest. */
  private def pruneOldVersions(spark: SparkSession, table: String, current: Long): Unit = {
    val f = fs(spark)
    val dir = new Path(tableDir(table))
    if (!f.exists(dir)) return
    val versions = f.listStatus(dir)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v_"))
      .map(s => s.getPath.getName.drop(2).toLong)
      .sorted
    val keep = versions.filter(_ <= current).takeRight(2).toSet ++
      versions.filter(_ > current) // never touch concurrent newer writers
    versions.filterNot(keep).foreach { v =>
      f.delete(new Path(s"${tableDir(table)}/v_$v"), true)
    }
  }
}

object ParquetKpiStore {

  /** A zero-row frame with the columns of `ddl`: what a read-back returns
    * in place of a table never written, so a poll before the first batch
    * is a normal state, not an error, and reads with the columns and
    * types a drained store reads with. */
  private[graft] def empty(spark: SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType.fromDDL(ddl))
}

/** Additive, idempotent KPI merge into a live JDBC database — the
  * DB-backed sibling of [[ParquetKpiStore]], completing the reference's
  * actual topology (stream → DB upsert, Consumer.scala:152-181) with the
  * guarantees the reference lacked: per-(table, batch) idempotence via a
  * watermark table, and atomicity via ONE driver-side transaction per
  * merge.
  *
  * Scale note: per-batch KPI aggregates are driver-small BY DESIGN
  * (bounded by distinct group keys, not by stream volume), so a single
  * transactional connection is correct and removes the
  * partial-partition-failure double-count hazard a distributed write
  * would reintroduce (some partitions committed, watermark not
  * advanced → replay re-adds them). Use [[JdbcUpsertSink.writePortable]]
  * for large keyed tables where last-write-wins semantics are safe.
  */
class JdbcKpiStore(
    url: String,
    dialect: JdbcUpsertSink.SqlDialect = JdbcUpsertSink.AnsiDialect)
    extends Serializable {
  import java.sql.Connection

  private val d = dialect
  private val metaTable = "graft_applied_batches"

  private def withConn[A](f: Connection => A): A = {
    val c = java.sql.DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  private def tableExists(c: Connection, name: String): Boolean = {
    val rs = c.getMetaData.getTables(null, null, name, null)
    try rs.next() finally rs.close()
  }

  private def sqlType(dt: org.apache.spark.sql.types.DataType): String = dt match {
    case org.apache.spark.sql.types.StringType => "VARCHAR(255)"
    case org.apache.spark.sql.types.IntegerType => "INT"
    case org.apache.spark.sql.types.LongType => "BIGINT"
    case org.apache.spark.sql.types.DoubleType => "DOUBLE"
    case org.apache.spark.sql.types.FloatType => "REAL"
    case dec: org.apache.spark.sql.types.DecimalType => s"DECIMAL(${dec.precision},${dec.scale})"
    case other => throw new IllegalArgumentException(s"unsupported KPI column type $other")
  }

  /** Create the KPI table (schema derived from the DataFrame, primary
    * key = the KPI keys) and the watermark table if missing. */
  def ensureTable(df: DataFrame, table: String, keys: Seq[String]): Unit = withConn { c =>
    // identifiers are quoted → case-preserved; metadata lookup must use
    // the exact name (an upper-cased probe misses and re-CREATEs)
    if (!tableExists(c, metaTable)) {
      c.createStatement().execute(
        s"""CREATE TABLE ${d.q(metaTable)} (${d.q("table_name")} VARCHAR(128) PRIMARY KEY,
            ${d.q("batch_id")} BIGINT)""")
    }
    if (!tableExists(c, table)) {
      val cols = df.schema.fields.map { f =>
        val notNull = if (keys.contains(f.name)) " NOT NULL" else ""
        s"${d.q(f.name)} ${sqlType(f.dataType)}$notNull"
      }
      val pk = s"PRIMARY KEY (${keys.map(d.q).mkString(", ")})"
      c.createStatement().execute(
        s"CREATE TABLE ${d.q(table)} (${(cols :+ pk).mkString(", ")})")
    }
  }

  /** Highest batch already merged into `table` (-1 if none). */
  def appliedBatch(table: String): Long = withConn { c =>
    if (!tableExists(c, metaTable)) return -1L
    val ps = c.prepareStatement(
      s"SELECT ${d.q("batch_id")} FROM ${d.q(metaTable)} WHERE ${d.q("table_name")} = ?")
    ps.setString(1, table)
    val rs = ps.executeQuery()
    try { if (rs.next()) rs.getLong(1) else -1L } finally rs.close()
  }

  /** Additively merge a batch's keyed components: existing rows get
    * value += delta, new keys insert; the watermark advances in the SAME
    * transaction, so replay after any failure is exact-once.
    *
    * MySQL dialect: ONE batched `INSERT … ON DUPLICATE KEY UPDATE
    * v = v + VALUES(v)` — the additive semantics live in the statement
    * itself, so per-row update counts (including the
    * SUCCESS_NO_INFO (-2) that rewriteBatchedStatements returns) are
    * irrelevant. This is the reference sink's dialect
    * (Consumer.scala:159-166), upgraded from overwrite to additive.
    *
    * ANSI dialect: batched `UPDATE v = v + ?` per chunk, then one
    * batched INSERT for the rows the update missed — correct ONLY on
    * drivers that report real per-row counts (Derby, Postgres do). A
    * driver answering SUCCESS_NO_INFO here is a hard error: additive
    * updates were already applied once, so the writePortable trick of
    * re-running the chunk to recover counts would double-add every
    * delta (absolute-value upserts tolerate that; `+=` does not). */
  def merge(table: String, keys: Seq[String], updates: DataFrame, batchId: Long,
      batchSize: Int = 1000): Unit = {
    if (batchId <= appliedBatch(table)) return // idempotent replay
    ensureTable(updates, table, keys)
    val values = updates.columns.filterNot(keys.contains).toSeq
    // per-batch aggregates are key-bounded — safe to materialize
    val rows = updates.collect()
    withConn { c =>
      c.setAutoCommit(false)
      try {
        if (d == JdbcUpsertSink.MySqlDialect) {
          val up = c.prepareStatement(
            JdbcUpsertSink.additiveUpsertSql(table, keys, values))
          rows.grouped(batchSize).foreach { chunk =>
            chunk.foreach { r =>
              keys.zipWithIndex.foreach { case (k, i) => up.setObject(i + 1, r.getAs[Any](k)) }
              values.zipWithIndex.foreach { case (v, i) => up.setObject(keys.length + i + 1, r.getAs[Any](v)) }
              up.addBatch()
            }
            up.executeBatch() // counts irrelevant: semantics are in the SQL
          }
        } else mergeAnsi(c, table, keys, values, rows, batchSize)
        val wm = c.prepareStatement(
          s"UPDATE ${d.q(metaTable)} SET ${d.q("batch_id")} = ? WHERE ${d.q("table_name")} = ?")
        wm.setLong(1, batchId); wm.setString(2, table)
        if (wm.executeUpdate() == 0) {
          val ins = c.prepareStatement(
            s"INSERT INTO ${d.q(metaTable)} (${d.q("table_name")}, ${d.q("batch_id")}) VALUES (?, ?)")
          ins.setString(1, table); ins.setLong(2, batchId)
          ins.executeUpdate()
        }
        c.commit()
      } catch { case e: Throwable => c.rollback(); throw e }
    }
  }

  /** ANSI arm of [[merge]]: batched count-reporting UPDATE + INSERT for
    * misses. See merge's scaladoc for why SUCCESS_NO_INFO must abort. */
  private def mergeAnsi(
      c: Connection, table: String, keys: Seq[String], values: Seq[String],
      rows: Array[org.apache.spark.sql.Row], batchSize: Int): Unit = {
    val up = c.prepareStatement(
      s"UPDATE ${d.q(table)} SET ${values.map(v => s"${d.q(v)} = ${d.q(v)} + ?").mkString(", ")} " +
        s"WHERE ${keys.map(k => s"${d.q(k)} = ?").mkString(" AND ")}")
    val in = c.prepareStatement(JdbcUpsertSink.insertSql(table, keys, values, d))
    rows.grouped(batchSize).foreach { chunk =>
      chunk.foreach { r =>
        values.zipWithIndex.foreach { case (v, i) => up.setObject(i + 1, r.getAs[Any](v)) }
        keys.zipWithIndex.foreach { case (k, i) => up.setObject(values.length + i + 1, r.getAs[Any](k)) }
        up.addBatch()
      }
      val counts = up.executeBatch()
      if (counts.exists(_ == java.sql.Statement.SUCCESS_NO_INFO)) {
        // the deltas are already applied once; re-running the chunk to
        // learn the counts would apply them twice. The transaction rolls
        // back via merge's catch — nothing is half-committed.
        throw new IllegalStateException(
          "JDBC driver returned SUCCESS_NO_INFO for a batched additive " +
            "UPDATE: per-row hit/miss is unrecoverable for `v = v + ?`. " +
            "Use JdbcKpiStore with MySqlDialect (single-statement additive " +
            "upsert) against drivers that batch without per-row counts.")
      }
      val misses = chunk.iterator.zip(counts.iterator).collect { case (r, 0) => r }
      var anyMiss = false
      misses.foreach { r =>
        keys.zipWithIndex.foreach { case (k, i) => in.setObject(i + 1, r.getAs[Any](k)) }
        values.zipWithIndex.foreach { case (v, i) => in.setObject(keys.length + i + 1, r.getAs[Any](v)) }
        in.addBatch(); anyMiss = true
      }
      if (anyMiss) in.executeBatch()
    }
  }

  /** Read a KPI table back as (key..., value...) rows for assertions. */
  def readAll(table: String, cols: Seq[String]): Seq[Seq[Any]] = withConn { c =>
    val rs = c.createStatement().executeQuery(
      s"SELECT ${cols.map(d.q).mkString(", ")} FROM ${d.q(table)}")
    val buf = Seq.newBuilder[Seq[Any]]
    while (rs.next()) buf += cols.indices.map(i => rs.getObject(i + 1))
    buf.result()
  }
}

/** Batched JDBC keyed upsert. The MySQL single-statement form mirrors the
  * reference's target dialect; the portable ANSI form (batched UPDATE,
  * then INSERT for rows the update missed) runs live against embedded
  * Derby in JdbcSpec — the whole partition-level write path (connection
  * per partition, prepared-statement batching, commit) is executed, not
  * just SQL-generated. vs the reference: ONE prepared statement +
  * executeBatch per partition (Consumer.scala:170-172 round-tripped per
  * row). */
object JdbcUpsertSink {

  /** Identifier quoting differs per dialect; both handle space-bearing
    * identifiers (the reference's dead KPI K8 broke on unquoted ones,
    * Consumer.scala:313-317). */
  sealed trait SqlDialect { def q(id: String): String }
  case object MySqlDialect extends SqlDialect { def q(id: String) = s"`$id`" }
  case object AnsiDialect extends SqlDialect { def q(id: String) = "\"" + id + "\"" }

  /** MySQL-style `INSERT … ON DUPLICATE KEY UPDATE` for a keyed table;
    * identifiers are backtick-quoted (the reference's dead KPI K8 broke on
    * unquoted space-bearing identifiers, Consumer.scala:313-317). */
  def upsertSql(table: String, keys: Seq[String], values: Seq[String]): String = {
    val cols = keys ++ values
    val quoted = cols.map(c => s"`$c`")
    val placeholders = cols.map(_ => "?")
    val updates = values.map(c => s"`$c`=VALUES(`$c`)")
    s"INSERT INTO `$table` (${quoted.mkString(", ")}) VALUES (${placeholders.mkString(", ")}) " +
      s"ON DUPLICATE KEY UPDATE ${updates.mkString(", ")}"
  }

  /** MySQL additive upsert: `INSERT … ON DUPLICATE KEY UPDATE
    * v = v + VALUES(v)` — the `+=` semantics live in the statement, so
    * batching needs no per-row counts (contrast [[updateSql]]'s
    * count-dependent portable arm). Parameter order: keys then values. */
  def additiveUpsertSql(table: String, keys: Seq[String], values: Seq[String]): String = {
    val cols = keys ++ values
    val quoted = cols.map(c => s"`$c`")
    val updates = values.map(c => s"`$c`=`$c`+VALUES(`$c`)")
    s"INSERT INTO `$table` (${quoted.mkString(", ")}) VALUES (${cols.map(_ => "?").mkString(", ")}) " +
      s"ON DUPLICATE KEY UPDATE ${updates.mkString(", ")}"
  }

  /** `UPDATE t SET v=? … WHERE k=? AND …` — parameter order: values then
    * keys (matches [[writePortable]]'s binding). */
  def updateSql(table: String, keys: Seq[String], values: Seq[String], d: SqlDialect): String =
    s"UPDATE ${d.q(table)} SET ${values.map(c => s"${d.q(c)}=?").mkString(", ")} " +
      s"WHERE ${keys.map(c => s"${d.q(c)}=?").mkString(" AND ")}"

  /** Plain keyed insert — parameter order: keys then values. */
  def insertSql(table: String, keys: Seq[String], values: Seq[String], d: SqlDialect): String = {
    val cols = keys ++ values
    s"INSERT INTO ${d.q(table)} (${cols.map(d.q).mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
  }

  /** Portable batched upsert for DBMSs without a single-statement upsert:
    * per `batchSize` chunk, one batched UPDATE round trip; rows whose
    * update count is 0 go into one batched INSERT. Re-running the same
    * batch is idempotent (every row then takes the UPDATE arm with
    * identical values). One connection per partition, one transaction per
    * partition — same shape as [[write]]. */
  def writePortable(
      df: DataFrame,
      url: String,
      table: String,
      keys: Seq[String],
      batchSize: Int = 1000,
      dialect: SqlDialect = AnsiDialect): Unit = {
    val values = df.columns.filterNot(keys.contains).toSeq
    val upSql = updateSql(table, keys, values, dialect)
    val inSql = insertSql(table, keys, values, dialect)
    val keyArr = keys.toArray
    val valArr = values.toArray
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.nonEmpty) {
        val conn = java.sql.DriverManager.getConnection(url)
        try {
          conn.setAutoCommit(false)
          val up = conn.prepareStatement(upSql)
          val in = conn.prepareStatement(inSql)
          def bind(ps: java.sql.PreparedStatement, first: Array[String], second: Array[String],
              r: org.apache.spark.sql.Row): Unit = {
            first.zipWithIndex.foreach { case (c, i) => ps.setObject(i + 1, r.getAs[Any](c)) }
            second.zipWithIndex.foreach { case (c, i) => ps.setObject(first.length + i + 1, r.getAs[Any](c)) }
          }
          rows.grouped(batchSize).foreach { chunk =>
            chunk.foreach { r => bind(up, valArr, keyArr, r); up.addBatch() }
            var counts = up.executeBatch()
            // some drivers (e.g. MySQL with rewriteBatchedStatements)
            // return SUCCESS_NO_INFO (-2): per-row hit/miss is unknown,
            // and treating -2 as a hit silently drops new keys. Re-run
            // the chunk row-by-row to recover real update counts.
            if (counts.exists(_ == java.sql.Statement.SUCCESS_NO_INFO)) {
              counts = chunk.map { r => bind(up, valArr, keyArr, r); up.executeUpdate() }.toArray
            }
            val misses = chunk.iterator.zip(counts.iterator).collect { case (r, 0) => r }
            var anyMiss = false
            misses.foreach { r => bind(in, keyArr, valArr, r); in.addBatch(); anyMiss = true }
            if (anyMiss) in.executeBatch()
          }
          conn.commit()
        } finally conn.close()
      }
    }
  }

  /** Write a keyed DataFrame with batched upserts, `batchSize` rows per
    * round trip, one connection per partition (pooling delegated to the
    * JDBC URL's pool when configured). */
  def write(df: DataFrame, url: String, table: String, keys: Seq[String], batchSize: Int = 1000): Unit = {
    val values = df.columns.filterNot(keys.contains).toSeq
    val sql = upsertSql(table, keys, values)
    val cols = (keys ++ values).toArray
    df.foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
      if (rows.nonEmpty) {
        val conn = java.sql.DriverManager.getConnection(url)
        try {
          conn.setAutoCommit(false)
          val ps = conn.prepareStatement(sql)
          var n = 0
          rows.foreach { r =>
            cols.zipWithIndex.foreach { case (c, i) =>
              ps.setObject(i + 1, r.getAs[Any](c))
            }
            ps.addBatch(); n += 1
            if (n % batchSize == 0) ps.executeBatch()
          }
          ps.executeBatch()
          conn.commit()
        } finally conn.close()
      }
    }
  }
}
