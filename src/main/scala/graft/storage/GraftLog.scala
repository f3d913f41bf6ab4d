package graft.storage

import java.sql.Timestamp

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Sidecar operation log for managed ("delta"-format) tables.
  *
  * Stands in for the Delta transaction log's history() in an environment
  * without the Delta jar (SURVEY.md §7): a tiny append-only parquet dir at
  * `<table>/_graft_log` holding (operation, timestamp) rows. Underscore
  * prefix keeps it invisible to parquet scans of `<table>`.
  *
  * Reference behaviours served: DeltaTable.isDeltaTable (managed-table
  * check, jorvik/storage/basic.py:176,230) and history()-based
  * "last updated" output (jorvik/storage/isolation.py:104-123).
  */
object GraftLog {
  val LogDirName = "_graft_log"

  val schema: StructType = StructType(Seq(
    StructField("operation", StringType),
    StructField("timestamp", TimestampType),
    StructField("partition_fields", StringType),
    StructField("seq", LongType),
    StructField("txn_app", StringType),
    StructField("txn_batch", LongType)))

  /** One op-log record, driver-side. */
  private[graft] case class OpRec(operation: String, tsMicros: Long,
                                  partitionFields: String,
                                  seq: Option[Long],
                                  txnApp: Option[String],
                                  txnBatch: Option[Long]) {
    def timestamp: Timestamp = {
      val ts = new Timestamp(Math.floorDiv(tsMicros, 1000L))
      ts.setNanos((Math.floorMod(tsMicros, 1000000L) * 1000L).toInt)
      ts
    }
  }

  // ------------------------------------------- driver-side parquet IO
  //
  // The op log is DRIVER METADATA (guide §5: the driver should do no
  // data work — and symmetrically, metadata ops should not schedule
  // cluster jobs). Appending one row through a Spark write costs a
  // full job + commit protocol (~300-500 ms measured at sf0.1), and
  // reading the log through spark.read(mergeSchema) costs a job plus
  // a footer open per log file — paid by EVERY mutation and EVERY
  // snapshot/assertUnchanged/history on every storage query. Both are
  // one-file parquet IO, done here directly on the driver with
  // parquet-hadoop. The on-disk format is ONE parquet schema
  // ([[logFileSchema]]: INT64-micros `timestamp`, `seq`, the `txn_*`
  // columns), so the streaming file-source triggers watching the log
  // dir and external parquet readers see plain parquet. A log file in
  // any other shape was written by an older build and is refused
  // ([[readLogFile]]) with a recreate hint, never decoded.

  private lazy val logFileSchema: org.apache.parquet.schema.MessageType = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation => LTA}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.Types
    Types.buildMessage()
      .addField(Types.optional(BINARY).as(LTA.stringType())
        .named("operation"))
      .addField(Types.optional(INT64)
        .as(LTA.timestampType(true, LTA.TimeUnit.MICROS))
        .named("timestamp"))
      .addField(Types.optional(BINARY).as(LTA.stringType())
        .named("partition_fields"))
      .addField(Types.optional(INT64).named("seq"))
      .addField(Types.optional(BINARY).as(LTA.stringType())
        .named("txn_app"))
      .addField(Types.optional(INT64).named("txn_batch"))
      .named("spark_schema")
  }

  /** Write `recs` as ONE parquet file in `dir` (created if missing).
    * Driver-side, metadata-sized; snappy like Spark's own writes. */
  private[storage] def writeRecords(spark: SparkSession, dir: String,
                                    recs: Seq[OpRec]): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    // the name is unique BY CONSTRUCTION (no caller-supplied override):
    // the (path, length)-keyed recCache depends on log files being
    // write-once, and a fixed name would silently violate that
    val name = f"part-${System.nanoTime()}%019d-${
        java.util.UUID.randomUUID().toString.take(8)}.snappy.parquet"
    val p = new Path(dir.stripSuffix("/") + "/" + name)
    // stage under a DOT name and rename in: ParquetWriter writes the
    // final path progressively, and a lock-free reader listing the log
    // mid-append must never open a half-written footer (the Spark
    // write this replaces published atomically via its commit
    // protocol). Dot-prefixed = invisible to listings until the
    // rename; rename is atomic on every FS this engine claims.
    val staged = new Path(dir.stripSuffix("/") + "/." + name + ".inprogress")
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile
        .fromPath(staged, conf))
      .withConf(conf)
      .withType(logFileSchema)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
    val factory =
      new org.apache.parquet.example.data.simple.SimpleGroupFactory(
        logFileSchema)
    try recs.foreach { r =>
      val g = factory.newGroup()
      g.add("operation", r.operation)
      g.add("timestamp", r.tsMicros)
      if (r.partitionFields != null)
        g.add("partition_fields", r.partitionFields)
      r.seq.foreach(g.add("seq", _))
      r.txnApp.foreach(g.add("txn_app", _))
      r.txnBatch.foreach(g.add("txn_batch", _))
      writer.write(g)
    } finally writer.close()
    if (!Fs.fileSystem(spark, staged).rename(staged, p))
      throw new java.io.IOException(
        s"Failed to publish op-log file $staged -> $p")
  }

  /** Per-FILE record cache: log files are WRITE-ONCE (appends create
    * fresh unique names, compaction stages a new dir and swaps, heals
    * rename whole dirs — nothing ever rewrites a log file in place),
    * so (qualified path, length) identifies content. The DIRECTORY is
    * always re-listed per read — any log motion (append, compaction
    * swap, crash heal) changes the listing, so freshness is never
    * cached, only the parse of immutable bytes. In-process only:
    * nothing persists across runs. Bounded by an APPROXIMATE LRU
    * ([[recCacheMax]] entries) — eviction merely re-reads on demand,
    * so a long-lived maintainer on a pre-compaction log keeps its hot
    * tail cached instead of thrashing through wholesale clears.
    *
    * Reads MUST stay lock-free: concurrent streaming maintainers and
    * query threads probe op logs on every trigger, and a strict
    * access-order LRU (synchronized LinkedHashMap) measured the
    * ANN/streaming bench family ~25% slower at local[32] because every
    * cache HIT mutated the order under one global lock. Hits here only
    * stamp a volatile tick on the entry; the rare over-bound put
    * evicts the least-recently-touched quarter under a CAS guard. */
  @volatile private[graft] var recCacheMax: Int = 8192
  private final class RecEntry(val recs: Seq[OpRec]) {
    @volatile var touched: Long = 0L
  }
  private val recTick = new java.util.concurrent.atomic.AtomicLong()
  private val recCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long), RecEntry]()
  private val recEvicting = new java.util.concurrent.atomic.AtomicBoolean()
  private def recCachePut(key: (String, Long), recs: Seq[OpRec]): Unit = {
    val e = new RecEntry(recs)
    e.touched = recTick.incrementAndGet()
    recCache.put(key, e)
    val max = recCacheMax
    if (recCache.size() > max &&
        recEvicting.compareAndSet(false, true))
      try {
        // drop to 7/8 of the bound so evictions amortize; precision is
        // irrelevant (an evicted file re-parses on the next miss)
        val keep = math.max(0, max - max / 8)
        val doomed = recCache.size() - keep
        if (doomed > 0) {
          val it = recCache.entrySet().iterator()
          val all = scala.collection.mutable.ArrayBuffer
            .empty[((String, Long), Long)]
          while (it.hasNext) {
            val en = it.next(); all += ((en.getKey, en.getValue.touched))
          }
          all.sortInPlaceBy(_._2)
          all.take(doomed).foreach { case (k, _) => recCache.remove(k) }
        }
      } finally recEvicting.set(false)
  }

  /** All records of the parquet files directly in `dir` (no
    * recursion — the log is flat). Every file must be in
    * [[writeRecords]]' format (see [[readLogFile]]); null fields read
    * as None. UNSORTED — callers order as they need. */
  private[graft] def readRecordsDir(spark: SparkSession,
                                    dir: String): Seq[OpRec] = {
    val conf = spark.sessionState.newHadoopConf()
    val dp = new Path(dir)
    val fs = Fs.fileSystem(spark, dp)
    if (!fs.exists(dp)) return Nil
    fs.listStatus(dp).toSeq
      .filter { st =>
        val f = st.getPath.getName
        st.isFile && f.endsWith(".parquet") &&
          !f.startsWith("_") && !f.startsWith(".")
      }
      .flatMap { st =>
        val key = (st.getPath.toString, st.getLen)
        val hit = recCache.get(key)
        if (hit != null) {
          hit.touched = recTick.incrementAndGet()
          hit.recs
        } else {
          val recs = readLogFile(conf, st.getPath)
          recCachePut(key, recs)
          recs
        }
      }
  }

  /** Read one log file, refusing any file not in [[logFileSchema]]'s
    * format: a `timestamp` other than INT64 micros (Spark's default
    * 96-bit encoding, MILLIS, NANOS) or missing `txn_*` columns mark
    * an older build's log. Decoding it would mis-time or drop records,
    * so the refusal names the file and the fix instead. */
  private def readLogFile(conf: org.apache.hadoop.conf.Configuration,
                          path: Path): Seq[OpRec] = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation => LTA}
    val out = scala.collection.mutable.ArrayBuffer.empty[OpRec]
    val reader = org.apache.parquet.hadoop.ParquetReader
      .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
        path)
      .withConf(conf).build()
    try {
      var g = reader.read()
      if (g != null) {
        val t = g.getType
        // the timestamp annotation implies INT64 (a 96-bit column has none)
        if (!Seq("timestamp", "txn_app", "txn_batch").forall(t.containsField) ||
            t.getType("timestamp").getLogicalTypeAnnotation !=
              LTA.timestampType(true, LTA.TimeUnit.MICROS))
          throw new IllegalStateException(
            s"op-log file $path is in an older on-disk format " +
              s"(schema: ${t.getFields.toArray.mkString("; ")}); this " +
              "build reads only INT64-microsecond timestamps with " +
              "txn_app/txn_batch columns — recreate the table by " +
              "writing its data into a new managed table")
      }
      while (g != null) {
        def has(n: String): Boolean =
          g.getType.containsField(n) && g.getFieldRepetitionCount(n) > 0
        def str(n: String): Option[String] =
          if (has(n)) Some(g.getString(n, 0)) else None
        def lng(n: String): Option[Long] =
          if (has(n)) Some(g.getLong(n, 0)) else None
        out += OpRec(str("operation").orNull, lng("timestamp").getOrElse(0L),
          str("partition_fields").orNull, lng("seq"),
          str("txn_app"), lng("txn_batch"))
        g = reader.read()
      }
    } finally reader.close()
    out.toSeq
  }

  /** The op log's records, NEWEST FIRST — the driver-side core of
    * [[history]]; [[Txn.snapshot]], the travel horizons, and the
    * refresh classifiers read this directly (zero Spark jobs). Throws
    * the reader's missing-path error when the table has no log, like
    * the spark.read it replaces. */
  private[graft] def records(spark: SparkSession,
                             tablePath: String): Seq[OpRec] = {
    val lp = logPath(tablePath)
    if (!Fs.exists(spark, lp))
      throw new java.io.FileNotFoundException(
        s"Path does not exist: $lp")
    // desc by (timestamp, seq) with missing seq ordered LAST among
    // equal timestamps — the old `orderBy(desc, desc)` put nulls last,
    // and negation would both flip that and overflow on MinValue
    readRecordsDir(spark, lp)
      .sortBy(r => (r.tsMicros, r.seq.getOrElse(Long.MinValue)))(
        Ordering[(Long, Long)].reverse)
  }

  private[graft] def recordRow(r: OpRec): Row =
    Row(r.operation, r.timestamp, r.partitionFields,
      r.seq.map(Long.box).orNull, r.txnApp.orNull,
      r.txnBatch.map(Long.box).orNull)

  /** Schema sidecar for EMPTIED managed tables: a delete/compact that
    * removes every row leaves no parquet file to infer a schema from
    * (Spark writes zero files for an all-empty frame), so the
    * emptying operation records the surviving schema here and
    * [[BasicStorage.read]] falls back to it when — and only when —
    * inference fails. Stale once data exists again; never consulted
    * then. */
  def schemaSidecar(tablePath: String): String =
    tablePath.stripSuffix("/") + "/_graft_schema.json"

  def logPath(tablePath: String): String =
    tablePath.stripSuffix("/") + "/" + LogDirName

  /** True if `path` holds a managed table (our isDeltaTable analogue).
    *
    * Crashed-log-swap awareness ([[Maintenance.compactLog]] — a death
    * between its two renames leaves `_graft_log__old` with no live
    * dir): a bare existence check would read the table as UNMANAGED
    * and a writer could bootstrap over it, so an aside with the live
    * dir missing still answers MANAGED. The HEAL, though, is gated on
    * the commit lock: the compactor swaps while HOLDING the lock, and
    * a lock-free probe that healed inside its two-rename window would
    * roll the live log back mid-swap (the compactor's second rename
    * then nests the staged dir inside the restored one — a silently
    * uncompacted "success"). So the probe heals only when no holder
    * can be alive: no lock file, or one STALE past the configured
    * timeout. Until then a post-crash window answers managed=true
    * with history reads failing loudly — the same wedged-until-
    * stale-break contract every crashed lock-holding mutation has.
    * The managed hot path pays exactly ONE stat; the extra
    * aside/lock stats run only when the log dir is absent. */
  def isManagedTable(spark: SparkSession, path: String): Boolean = {
    val lp = logPath(path)
    if (Fs.exists(spark, lp)) true
    else if (!Fs.exists(spark, lp + "__old")) false
    else {
      Txn.heldBy(spark, path) match {
        case Some((_, age)) if age < Txn.lockTimeoutMs(spark) =>
          true // possibly a LIVE swap — never touch it
        case _ =>
          // best-effort: concurrent probes race the same rename — the
          // loser's failure means the winner healed (re-check below)
          try Fs.recoverAside(spark, lp)
          catch { case scala.util.control.NonFatal(_) => () }
          Fs.exists(spark, lp) || Fs.exists(spark, lp + "__old")
      }
    }
  }

  /** Append one (operation, now, partitioning) row. Driver-side,
    * metadata-sized. The partitioning column makes managed tables
    * self-describing: merge can recover the on-disk layout without the
    * caller re-stating it. */
  def append(spark: SparkSession, tablePath: String, operation: String,
             partitionFields: Seq[String] = Nil,
             txn: Option[(String, Long)] = None): Unit = {
    // seq breaks ordering ties between entries landing in the same
    // millisecond (easy under rapid programmatic writes): nanoTime is
    // monotonic within the JVM, so (timestamp, seq) is a total order for
    // a single writer and timestamp still dominates across writers.
    writeRecords(spark, logPath(tablePath), Seq(OpRec(operation,
      System.currentTimeMillis() * 1000L,
      partitionFields.mkString(","), Some(System.nanoTime()),
      txn.map(_._1), txn.map(_._2))))
  }

  /** Highest transaction batch recorded for `appId` (Delta's
    * txnAppId/txnVersion pattern): a writer replaying batches after a
    * restart asks this before applying — batches at or below the
    * answer were already committed to the table. */
  def lastTxnBatch(spark: SparkSession, tablePath: String,
                   appId: String): Option[Long] =
    txnBatches(spark, tablePath, appId).maxOption

  /** EVERY transaction batch recorded for `appId` (op-log sized).
    * Callers that judge records individually — e.g. [[Merge.readAsOf]]
    * discarding a crashed overwrite's debris horizon without losing an
    * EARLIER genuine one that a max-collapse would shadow — need the
    * full list, not just the newest. */
  def txnBatches(spark: SparkSession, tablePath: String,
                 appId: String): Seq[Long] =
    records(spark, tablePath)
      .filter(_.txnApp.contains(appId)).flatMap(_.txnBatch)

  /** All (appId → batches) for the given app ids in ONE op-log read —
    * [[Merge.readAsOf]] consults three horizon apps per call, and
    * three separate [[txnBatches]] calls would triple the driver
    * metadata read on the time-travel serving path. */
  def txnBatchesByApp(spark: SparkSession, tablePath: String,
                      appIds: Seq[String]): Map[String, Seq[Long]] = {
    val apps = appIds.toSet
    records(spark, tablePath)
      .collect { case r if r.txnApp.exists(apps) && r.txnBatch.isDefined =>
        (r.txnApp.get, r.txnBatch.get) }
      .groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap
  }

  /** Carry the op log into a freshly-written replacement dir and swap
    * it into place. Hadoop rename/delete signal failure by RETURNING
    * FALSE, so every step is checked. The log is COPIED (not moved)
    * into tmp first: `base` stays a complete managed table (data +
    * log) right up to its own rename, and tmp is complete before the
    * swap — so at every instant a crash leaves at least one COMPLETE
    * table on disk, and `base` is only ever absent or complete, never
    * present-but-unmanaged. The original log's copy leaves with
    * `__graft_old`, which is deleted as soon as the new root is in
    * place: no replaced root is kept for readers (a lock-free read
    * that lost it retries the live root — [[Txn.retryTransient]]). A
    * crash before that delete leaves a `__graft_old` beside the live
    * root, the completed-swap debris shape vacuum deletes. */
  def carryLogAndSwap(spark: SparkSession, base: String, tmp: String,
                      appendOp: Option[(String, Seq[String])] = None,
                      carryColMap: Boolean = true)
      : Unit = {
    val old = base + "__graft_old"
    Fs.deleteChecked(spark, old) // leftover from a crashed prior swap
    Fs.copyDirChecked(spark, logPath(base), logPath(tmp))
    // the column-mapping sidecar is table metadata like the op log —
    // a COW rewrite stages PHYSICAL-named files, so shedding the map
    // would surface physical names to every reader. The one caller
    // that stages LOGICAL names on purpose (Alter.materializeMapping)
    // passes carryColMap = false to clear it with the swap.
    val colMap = ColumnMapping.sidecarPath(base)
    if (carryColMap && Fs.exists(spark, colMap))
      Fs.writeText(spark, ColumnMapping.sidecarPath(tmp),
        Fs.readText(spark, colMap))
    // an op row whose CONTENT is load-bearing (ALTER's re-recorded
    // partitioning) lands in the STAGED log before the renames — the
    // row and the data it describes become one atomic swap; a
    // post-swap append would leave a crash window where the table has
    // the new layout and the log still names the old one
    appendOp.foreach { case (op, parts) =>
      append(spark, tmp, op, parts) }
    // every underscore sidecar survives the swap, not just the op log —
    // the change feed (_graft_changes) lives beside the data too
    val changes = base.stripSuffix("/") + "/" + Merge.ChangesDirName
    if (Fs.exists(spark, changes))
      Fs.copyDirChecked(spark, changes,
        tmp.stripSuffix("/") + "/" + Merge.ChangesDirName)
    // CHECK constraints are table metadata — a COW rewrite must not
    // silently drop the contract
    val constraints = base.stripSuffix("/") + "/" + Constraints.DirName
    if (Fs.exists(spark, constraints))
      Fs.copyDirChecked(spark, constraints,
        tmp.stripSuffix("/") + "/" + Constraints.DirName)
    // MoR tombstones too: a COW swap that dropped them would RESURRECT
    // logically deleted rows (MorDelete.compact, whose rewrite consumes
    // the tombstones, deletes the sidecar explicitly after its swap)
    val tombstones = base.stripSuffix("/") + "/" + MorDelete.TombstoneDirName
    if (Fs.exists(spark, tombstones))
      Fs.copyDirChecked(spark, tombstones,
        tmp.stripSuffix("/") + "/" + MorDelete.TombstoneDirName)
    // the emptied-table schema sidecar travels too: a COW rewrite of
    // an EMPTY table (optimize, restore) writes zero parquet files,
    // and dropping the sidecar with the old root would leave the
    // table unreadable (UNABLE_TO_INFER_SCHEMA with no fallback);
    // once data exists again the sidecar is stale-but-unconsulted.
    // A sidecar the STAGING already holds wins — it names the staged
    // (possibly altered) schema, the carried copy the old one
    val schemaSc = schemaSidecar(base)
    if (Fs.exists(spark, schemaSc) &&
        !Fs.exists(spark, schemaSidecar(tmp)))
      Fs.writeText(spark, schemaSidecar(tmp),
        Fs.readText(spark, schemaSc))
    carryLock(spark, base, tmp)
    // the maintainer lease is a live claim like the lock — a swap
    // must not shed it (the maintenance stream would be re-takeable
    // mid-flight)
    MaintainerLease.carryInto(spark, base, tmp)
    Fs.renameChecked(spark, base, old)
    Fs.renameChecked(spark, tmp, base)
    Fs.deleteChecked(spark, old)
  }

  /** The commit lock (when held — [[Txn.withTableLock]]) rides into
    * the staged root: the table must stay locked through the swap AND
    * the mutation's post-swap tail (commit markers, op-log append) —
    * a swap that shed the lock would open a window where a second
    * writer starts mutating while this one is still committing. */
  private def carryLock(spark: SparkSession, base: String,
                        tmp: String): Unit = {
    val lock = base.stripSuffix("/") + "/" + Txn.LockFileName
    if (Fs.exists(spark, lock))
      Fs.writeText(spark,
        tmp.stripSuffix("/") + "/" + Txn.LockFileName,
        Fs.readText(spark, lock))
  }

  /** The canonical COW staging tail: stage `df` beside `base`, record
    * the emptied-table schema sidecar INSIDE the staging when the
    * rewrite produced zero data files (it rides the atomic swap — a
    * post-swap sidecar write leaves a crash window where the table
    * exists but no reader can infer its schema), then
    * [[carryLogAndSwap]] with every sidecar carried. `appendOp` lands
    * an op-log row in the staged log before the renames (see
    * [[carryLogAndSwap]]).
    *
    * `df` arrives in LOGICAL column space (every caller computes on
    * logical reads); the staging write projects it to PHYSICAL names
    * so new files agree with old ones under a column mapping —
    * except when `materializeMapping` is set, which stages the
    * logical names AS the new physical ones and clears the sidecar
    * with the swap (the mapping's one explicit COW escape hatch). */
  def stageAndSwap(spark: SparkSession, base: String,
                   df: org.apache.spark.sql.DataFrame,
                   parts: Seq[String],
                   appendOp: Option[String] = None,
                   materializeMapping: Boolean = false): Unit = {
    val out =
      if (materializeMapping) df
      else ColumnMapping.toPhysical(spark, base, df)
    val tmp = base.stripSuffix("/") + "__graft_tmp"
    Fs.deleteChecked(spark, tmp)
    var writer = out.write.format("parquet").mode("overwrite")
    if (parts.nonEmpty) writer = writer.partitionBy(parts: _*)
    writer.save(tmp)
    if (Fs.dataFiles(spark, tmp).isEmpty)
      Fs.writeText(spark, schemaSidecar(tmp), out.schema.json)
    carryLogAndSwap(spark, base, tmp, appendOp.map(_ -> parts),
      carryColMap = !materializeMapping)
  }

  /** Swap a freshly-written replacement in over a managed OVERWRITE.
    * A plain `mode("overwrite").save(table)` deletes the whole table
    * directory — op log, CHECK constraints, change feed, tombstones
    * and all — so a rebuild-by-overwrite pipeline would silently shed
    * its constraints and history. Instead the caller stages the new
    * data in `tmp` and this swap decides each sidecar's fate by what
    * it MEANS:
    *   - op log + constraints are table metadata — they survive (the
    *     incoming frame was already validated against the constraints
    *     by the managed write path);
    *   - the change feed cannot represent an overwrite: its horizon is
    *     recorded first (so [[Merge.readAsOf]] refuses pre-overwrite
    *     travel instead of reconstructing garbage) and the feed goes
    *     with the old data. The horizon is a FRESH stamp (dominating
    *     every stamp ever issued, feed or barrier — see the inline
    *     note) — unlike [[Merge.pruneChangeFeed]] (where as-of == the
    *     pruned stamp is still reconstructible from the REMAINING
    *     newer batches), an overwrite destroys even the state just
    *     after the newest batch, so travel to maxBatch itself must
    *     refuse. Recorded
    *     BEFORE the swap (conservative: a crash mid-swap leaves the
    *     old table intact with an advanced horizon — readAsOf detects
    *     that debris, because the surviving feed still holds stamps at
    *     or below it, and ignores the record);
    *   - MoR tombstones refer to rows of the REPLACED table — kept,
    *     they would hide fresh rows with old keys; they go too.
    * Same crash contract as [[carryLogAndSwap]]: at every instant at
    * least one complete managed table exists on disk. */
  def overwriteSwap(spark: SparkSession, base0: String, tmp: String): Unit = {
    val base = base0.stripSuffix("/")
    if (Merge.hasChanges(spark, base)) {
      // The horizon must dominate EVERY stamp ever issued for this
      // table, not just feed batches: barrier stamps (uncaptured
      // append/delete/compact fences) can be NEWER than the newest
      // feed batch, and a horizon of maxBatch + 1 would leave such a
      // stamp above the horizon — readAsOf would then serve the
      // POST-overwrite base for a PRE-overwrite barrier stamp,
      // silently. nextBatchStamp() is ≥ maxBatch + 1 within a writer
      // (atomic max) and above past-run stamps by wall-clock
      // anchoring, and keeps both properties the heal relies on: all
      // PRE-overwrite feed stamps sit strictly below it (so crashed-
      // swap debris is still recognized) and all POST-overwrite
      // batches stamp strictly above it (so a genuine horizon is
      // never misread as debris). Travel to maxBatch itself still
      // refuses — unlike a prune, an overwrite destroys even the
      // state just after the newest batch.
      append(spark, base, "CHANGES_PRUNE", Nil,
        Some(Merge.ChangesOverwriteApp -> Merge.nextBatchStamp()))
    } else {
      // A FEED-LESS overwrite on a table that once HAD a feed era
      // (fully-pruned feed, prior barriers) still holds outstanding
      // stamps — e.g. the prune horizon itself, which readAsOf serves
      // at `== horizon` — and without a new record those stamps would
      // silently reconstruct the POST-overwrite base as a
      // PRE-overwrite snapshot. recordChangeBarrier applies exactly
      // that condition (and stays a no-op for never-fed tables, where
      // Long.MinValue ⇒ "before the first captured batch" must keep
      // working for build-by-overwrite pipelines). The barrier app is
      // the right record: no feed stamps exist for the overwrite
      // app's crashed-swap debris heal to reason from.
      Merge.recordChangeBarrier(spark, base, "CHANGES_PRUNE")
    }
    val old = base + "__graft_old"
    Fs.deleteChecked(spark, old)
    Fs.copyDirChecked(spark, logPath(base), logPath(tmp))
    val constraints = base + "/" + Constraints.DirName
    if (Fs.exists(spark, constraints))
      Fs.copyDirChecked(spark, constraints,
        tmp.stripSuffix("/") + "/" + Constraints.DirName)
    carryLock(spark, base, tmp)
    // the maintainer lease is a live claim like the lock — a swap
    // must not shed it (the maintenance stream would be re-takeable
    // mid-flight)
    MaintainerLease.carryInto(spark, base, tmp)
    Fs.renameChecked(spark, base, old)
    Fs.renameChecked(spark, tmp, base)
    Fs.deleteChecked(spark, old)
  }

  /** DESCRIBE DETAIL analogue for a managed table — one row of
    * physical + log facts: format, data file count, total data bytes,
    * recorded partition columns, operation count, and the newest
    * operation. File facts come from one recursive listing (driver
    * metadata, proportional to file count — the same cost Delta pays
    * reading its log); log facts from the sidecar. */
  def tableDetail(spark: SparkSession, tablePath: String): DataFrame = {
    require(isManagedTable(spark, tablePath),
      "The given path is not a Delta Table.")
    val files = Fs.dataFiles(spark, tablePath)
    val hist = records(spark, tablePath).map(recordRow)
    // commit-lock observability: WHO holds the table and for how long
    // — an operator can spot a wedged table (crashed holder awaiting
    // the timeout) from DESCRIBE DETAIL instead of reading sidecar
    // files. Null/null when unlocked, the overwhelmingly common case.
    val lock = Txn.heldBy(spark, tablePath)
    val row = Row("delta", files.size.toLong, files.map(_._2).sum,
      lastPartitioning(spark, tablePath).mkString(","),
      hist.length.toLong,
      hist.headOption.map(_.getString(0)).orNull,
      lock.map(_._1).orNull,
      lock.map(l => Long.box(l._2)).orNull)
    spark.createDataFrame(
      java.util.Collections.singletonList(row),
      StructType(Seq(
        StructField("format", StringType),
        StructField("num_files", LongType),
        StructField("size_bytes", LongType),
        StructField("partition_columns", StringType),
        StructField("num_operations", LongType),
        StructField("last_operation", StringType),
        StructField("lock_holder_op", StringType),
        StructField("lock_age_ms", LongType))))
  }

  /** The operation history, newest first (history() analogue) — a
    * LocalRelation built from the driver-side record read (the log is
    * metadata-sized by contract; [[Maintenance.compactLog]] keeps the
    * file count bounded), in the 6-column [[schema]]. */
  def history(spark: SparkSession, tablePath: String): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(
        records(spark, tablePath).map(recordRow): _*), schema)

  /** The table's recorded partitioning: newest WRITE/MERGE/ALTER
    * entry's partition_fields (empty for unpartitioned tables). ALTER
    * counts because renaming a partition column rewrites the layout
    * under the new name. */
  def lastPartitioning(spark: SparkSession, tablePath: String): Seq[String] =
    records(spark, tablePath)
      .find(r => Set("WRITE", "MERGE", "ALTER")(r.operation))
      .map(_.partitionFields)
      .filter(_ != null)
      .map(_.split(",").filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
}

/** Thin Hadoop FileSystem helpers (the JVM-native version of the
  * reference's py4j calls, jorvik/storage/basic.py:236-243). */
object Fs {
  /** The Hadoop file system of `p` under the session's conf, after
    * [[NioLocalFileSystem.install]]: every helper here is a storage
    * entry point. */
  private[graft] def fileSystem(spark: SparkSession, p: Path): FileSystem = {
    NioLocalFileSystem.install(spark)
    p.getFileSystem(spark.sessionState.newHadoopConf())
  }

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    fileSystem(spark, p).exists(p)
  }

  def delete(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    fileSystem(spark, p).delete(p, true)
  }

  /** Create an empty marker file (commit markers on change batches).
    * Underscore-named markers are invisible to Spark's parquet reads
    * of the enclosing directory. create() is atomic-enough for a
    * single-writer marker: the file either exists complete (it is
    * empty) or not at all. */
  def touch(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    fileSystem(spark, p).create(p, true).close()
  }

  /** Write a small UTF-8 text file (schema sidecars). Driver-side,
    * overwrite semantics. */
  def writeText(spark: SparkSession, path: String, text: String): Unit = {
    val p = new Path(path)
    val out = fileSystem(spark, p).create(p, true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  def readText(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val in = fileSystem(spark, p).open(p)
    try new String(in.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    finally in.close()
  }

  def rename(spark: SparkSession, from: String, to: String): Boolean = {
    val f = new Path(from)
    fileSystem(spark, f).rename(f, new Path(to))
  }

  /** Hadoop delete signals failure by returning false (no exception);
    * a swap step that silently fails can lose a whole table. Missing
    * path counts as success (delete-if-exists semantics). */
  def deleteChecked(spark: SparkSession, path: String): Unit =
    if (exists(spark, path) && !delete(spark, path))
      throw new java.io.IOException(s"Failed to delete $path")

  /** Hadoop rename returns false on failure (target exists, missing
    * parent, cross-FS, ...) instead of throwing — check it. */
  def renameChecked(spark: SparkSession, from: String, to: String): Unit =
    if (!rename(spark, from, to))
      throw new java.io.IOException(s"Failed to rename $from -> $to")

  /** Crash-safe replacement of a sidecar dir that `tmp` has already
    * been staged for: the live dir renames ASIDE (`__old`), the staged
    * dir renames in, the aside copy deletes. SOME complete sidecar
    * exists at every instant — a crash can leave the old or the new
    * version (plus debris a later [[recoverAside]]/retry cleans up),
    * never a missing or half-written one. */
  def swapInStaged(spark: SparkSession, live: String, tmp: String): Unit = {
    val aside = live + "__old"
    deleteChecked(spark, aside)
    renameChecked(spark, live, aside)
    renameChecked(spark, tmp, live)
    deleteChecked(spark, aside)
  }

  /** Replace (or create) a parquet dir crash-safely: the frame always
    * lands in a staging dir first, then renames into place — directly
    * when the target is absent (a crash mid-write leaves only staging
    * debris, never a corrupt live dir the next reader trips over),
    * via [[swapInStaged]] when replacing. The one audited
    * implementation of the sidecar-replacement idiom (tombstones, ANN
    * indexes, dedup indexes, ...). `coalesce1` (default) packs
    * metadata-sized frames into one file; pass false for data-sized
    * index frames that should keep their parallel layout. */
  def writeSwapped(spark: SparkSession, target: String,
                   df: org.apache.spark.sql.DataFrame,
                   coalesce1: Boolean = true): Unit = {
    val tmp = target + "__tmp"
    deleteChecked(spark, tmp)
    (if (coalesce1) df.coalesce(1) else df)
      .write.mode("overwrite").parquet(tmp)
    if (!exists(spark, target)) renameChecked(spark, tmp, target)
    else swapInStaged(spark, target, tmp)
  }

  /** Heal a [[swapInStaged]] crash window: a leftover `__old` with no
    * live dir rolls BACK (the replacement never completed — the old
    * sidecar is the truth); with the live dir present the aside copy
    * is debris from after the second rename — delete it. Call before
    * reading a swap-managed sidecar. */
  def recoverAside(spark: SparkSession, live: String): Unit = {
    val aside = live + "__old"
    if (exists(spark, aside)) {
      if (!exists(spark, live)) renameChecked(spark, aside, live)
      else deleteChecked(spark, aside)
    }
  }

  /** Names of the immediate child DIRECTORIES of `path` (empty for a
    * missing path). Metadata-sized driver listing — used for
    * generation-dir discovery (near-dup index increments) and debris
    * scans, never data enumeration. */
  def listSubdirs(spark: SparkSession, path: String): Seq[String] = {
    val p = new Path(path)
    val fs = fileSystem(spark, p)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSeq
  }

  /** Hive-layout partition directory fragment for one partition value
    * tuple — `k1=v1/k2=v2` with Spark's path escaping and the
    * `__HIVE_DEFAULT_PARTITION__` null convention. The ONE
    * implementation of the encoding rules: the merge, delete, and
    * scoped-optimize partition bookkeeping all resolve directories
    * through here, so the null/escaping conventions cannot fork. */
  def partitionDirName(parts: Seq[String], values: Seq[Any]): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.types.StringType
    parts.zip(values).map { case (k, v) =>
      val vPath =
        if (v == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
        else {
          // render through Catalyst's Cast-to-string with the session
          // timezone — the SAME rendering Spark's partitioned writer
          // uses for path fragments. JVM toString diverges for
          // timestamps (java.sql.Timestamp keeps a trailing ".0" the
          // writer drops) and similar types, and a diverging fragment
          // would resolve the WRONG directory
          val rendered = Cast(Literal(v), StringType,
            Option(org.apache.spark.sql.internal.SQLConf.get
              .sessionLocalTimeZone)).eval(null)
          if (rendered == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
          else ExternalCatalogUtils.escapePathName(rendered.toString)
        }
      ExternalCatalogUtils.escapePathName(k) + "=" + vPath
    }.mkString("/")
  }

  /** Names of the immediate child FILES of `path` (empty for a
    * missing path). Same metadata-sized listing as [[listSubdirs]] —
    * used for sink-layout sanity checks, never data enumeration. */
  def listFiles(spark: SparkSession, path: String): Seq[String] = {
    val p = new Path(path)
    val fs = fileSystem(spark, p)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).filter(_.isFile).map(_.getPath.getName).toSeq
  }

  /** Recursive directory copy (driver-side; op-log sized). Unlike
    * rename, the source stays intact — used where a swap needs the
    * original to remain a complete table until its own rename. */
  def copyDirChecked(spark: SparkSession, from: String, to: String): Unit = {
    val src = new Path(from)
    val dst = new Path(to)
    val conf = spark.sessionState.newHadoopConf()
    val fs = fileSystem(spark, src)
    if (!org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst, false, conf))
      throw new java.io.IOException(s"Failed to copy $from -> $to")
  }

  /** The DATA files of a table directory as (path, byteLength),
    * recursing through partition dirs and excluding sidecars (any
    * underscore/dot-prefixed path segment: `_graft_log`,
    * `_graft_stats`, `_SUCCESS`, checkpoints). The single definition of
    * "what counts as data" shared by data skipping, compaction sizing,
    * and file counting. A missing directory is no files, not an error
    * (observers fire before stream sinks exist). */
  def dataFiles(spark: SparkSession, tablePath: String): Seq[(String, Long)] = {
    val base = new Path(tablePath)
    val fs = fileSystem(spark, base)
    if (!fs.exists(base)) return Nil
    val baseStr = fs.makeQualified(base).toString
    val it = fs.listFiles(base, true)
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    while (it.hasNext) {
      val f = it.next()
      val p = f.getPath.toString
      val rel = p.stripPrefix(baseStr).stripPrefix("/")
      val hidden = rel.split('/').exists(s => s.startsWith("_") || s.startsWith("."))
      if (!hidden && p.endsWith(".parquet")) out += (p -> f.getLen)
    }
    out.toSeq
  }

  /** Config key for the target output-file size of rewrites of
    * MATERIALIZED frames (persisted/checkpointed), bytes. */
  val TargetFileBytesKey = "spark.graft.write.targetFileBytes"
  val TargetFileBytesDefault: Long = 128L * 1024 * 1024

  /** Coalesce a MATERIALIZED (persisted/localCheckpoint'ed) frame so
    * an ensuing write lands ~target-sized files. A materialized frame
    * keeps the partition count it was computed with — typically
    * `spark.sql.shuffle.partitions` — and because no exchange feeds
    * the write, AQE cannot coalesce it (guide §6): a KB-sized replica
    * rewrite would otherwise emit one tiny file PER shuffle partition,
    * small-files debt that compounds at scale. `approxBytes` comes
    * from a driver file listing of the frame's sources (parquet bytes
    * approximate the rewrite's output bytes — same columnar encoding).
    * coalesce() only MERGES partitions (no shuffle, never splits), so
    * a genuinely large frame keeps its parallel write. */
  def sizedForWrite(spark: SparkSession, df: org.apache.spark.sql.DataFrame,
                    approxBytes: Long): org.apache.spark.sql.DataFrame = {
    val target = spark.conf.getOption(TargetFileBytesKey)
      .map(_.toLong).getOrElse(TargetFileBytesDefault)
    val want = math.max(1L, (approxBytes + target - 1) / target)
      .min(Int.MaxValue.toLong).toInt
    if (df.rdd.getNumPartitions > want) df.coalesce(want) else df
  }
}
