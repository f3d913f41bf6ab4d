package graft.storage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Schemas

/** Copy-on-write MERGE upsert over parquet-backed managed tables.
  *
  * Re-expresses Delta Lake's
  * `whenMatchedUpdateAll(cond).whenNotMatchedInsertAll(cond)` merge
  * (reference: jorvik/storage/basic.py:136-220) as pure DataFrame
  * algebra: the existing table ("full") is split against the incoming
  * frame ("incremental") into untouched / matched / inserted row sets
  * (anti / inner / anti joins on the user's merge condition — see the
  * decomposition comment in [[run]]), then an atomic-ish
  * write-tmp-and-swap rewrite.
  *
  * Scale notes: with a small incremental every table-side join
  * broadcasts, so the table is scanned but NEVER shuffled — the
  * DataFrame-algebra analogue of Delta's touched-file planning. With a
  * large incremental the joins shuffle on the same extracted equi-keys
  * and AQE reuses the table's exchange. Everything is executor-side —
  * no driver state, no collect. Matching multiple incremental rows to
  * one full row duplicates the full row by default (documented
  * deviation — Delta raises an error there); opt into Delta's
  * behavior with `errorOnMultiMatch`, which costs one extra
  * aggregation over the matched pairs per merge.
  */
object Merge {

  val ChangesDirName = "_graft_changes"

  /** Minimum wait for the loser of a bootstrap-create race before
    * refusing (see [[awaitManaged]]). */
  val BootstrapGraceKey = "spark.graft.bootstrapGraceMs"
  val BootstrapGraceDefaultMs: Long = 10000L

  /** Commit marker inside a change-batch dir — written AFTER the
    * batch's data rewrite reached the table (log-before-data leaves
    * the batch files first). A batch dir WITHOUT it is a crashed
    * capture: whether its changes reached the table is unknowable, so
    * [[readAsOf]] refuses to step across it, [[graft.streaming
    * .StreamingOps.replicateStream]] skips it, and [[Maintenance
    * .vacuum]] sweeps it behind a barrier. Underscore-named — Spark's
    * parquet reads of the batch dir never see it. */
  val ChangesCommitMarker = "_commit"

  /** Is this change batch committed (its data rewrite completed)?
    * One driver FS check. */
  def isBatchCommitted(spark: SparkSession, path: String,
                       batch: Long): Boolean =
    Fs.exists(spark, path.stripSuffix("/") +
      s"/$ChangesDirName/batch=$batch/$ChangesCommitMarker")

  /** Read a managed table's Change Data Feed: every change batch ever
    * captured by a `captureChanges = true` merge, with `_change_type`
    * and the stamping `batch` dir-partition column (monotone per
    * writer — order by it to replay). Empty-schema-safe: a table with
    * no captured batches yields an empty frame with just the batch
    * column absent, so callers should guard with [[hasChanges]].
    * mergeSchema, because batches straddle SCHEMA EVOLUTION: without
    * it the inferred schema comes from one arbitrary footer, and an
    * old batch's footer would silently DROP the evolved column from
    * every newer batch's changes. Pre-evolution batches read the new
    * column as null — the honest value for rows captured before the
    * column existed. Footer-read cost, proportional to batch count
    * (bounded by [[pruneChangeFeed]] retention). */
  def changeFeed(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true")
      .parquet(path.stripSuffix("/") + "/" + ChangesDirName)

  def hasChanges(spark: SparkSession, path: String): Boolean =
    Fs.exists(spark, path.stripSuffix("/") + "/" + ChangesDirName)

  /** Replay a change batch onto a base snapshot: rows named by a
    * delete or update_preimage leave (matched BY KEY — the replica's
    * copy of an updated row is replaced even if byte-identical), rows
    * named by an insert or update_postimage arrive. Applying the feed
    * of a merge to the pre-merge snapshot reproduces the post-merge
    * table exactly (oracle-pinned by `q_cdf_replay`) — the downstream
    * replica maintenance loop: ship `_graft_changes` batches, replay
    * in `batch` order, never re-copy the table.
    *
    * Scale shape: one key-keyed anti join (removals are batch-sized —
    * broadcast) plus a union; the replica is scanned, never shuffled,
    * for small batches. Feed a STREAM of batches through
    * foreachBatch + this function for continuous replication. */
  def replayChanges(base: DataFrame, changes: DataFrame,
                    keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "replay needs the table's merge keys")
    // the replayed schema is base ∪ the batch's data columns: an
    // EVOLVING captured merge ships a column the replica does not
    // have yet, and projecting onto the replica's schema would
    // silently drop the new column's values from every applied row —
    // the replica would diverge from the source with no error. The
    // allowMissingColumns union evolves the replica instead (its
    // pre-evolution rows read null, matching the source table after
    // the same evolving merge).
    val meta = Set("_change_type", "batch")
    val dataCols = (base.schema.fieldNames ++
      changes.schema.fieldNames.filterNot(meta)).distinct.toSeq
    // EVERY key the batch touched leaves the base — including insert
    // keys, which a first application never matches (no-op) but a
    // crash-replayed application does: without this, re-replaying a
    // batch would duplicate its inserts. Makes replay IDEMPOTENT,
    // which replicateStream's at-least-once recovery depends on.
    val removed = changes.select(keyCols.map(col): _*).distinct()
    val added = changes
      .filter(col("_change_type").isin("insert", "update_postimage"))
      .select(dataCols.filter(changes.schema.fieldNames.contains)
        .map(col): _*)
    base.join(removed, keyCols, "left_anti")
      .unionByName(added, allowMissingColumns = true)
  }

  /** The exact inverse of [[replayChanges]]: reconstruct the
    * PRE-batch snapshot from the POST-batch state — rows the batch
    * added (insert / update_postimage) leave BY KEY, rows it removed
    * or overwrote (delete / update_preimage) come back. Same scale
    * shape as the forward replay (batch-sized anti join + union). */
  def inverseReplay(current: DataFrame, changes: DataFrame,
                    keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "inverse replay needs the table's merge keys")
    val dataCols = current.schema.fieldNames.toSeq
    val removed = changes
      .filter(col("_change_type").isin("insert", "update_postimage"))
      .select(keyCols.map(col): _*).distinct()
    val restored = changes
      .filter(col("_change_type").isin("delete", "update_preimage"))
      .select(dataCols.map(col): _*)
    current.join(removed, keyCols, "left_anti").unionByName(restored)
  }

  /** TIME TRAVEL through the change feed: the table as it stood just
    * AFTER change batch `asOfBatch` (Long.MinValue ⇒ before the first
    * captured batch), reconstructed by inverse-replaying every newer
    * batch onto the current state, newest first. The Delta
    * `versionAsOf` read re-expressed on the engine's own CDF: no file
    * versions are retained — history IS the feed, which is why
    * merges must capture changes for the span you want to travel.
    *
    * Scale shape: one metadata-sized stamp listing (distinct batch
    * dirs), one eager scan pinning the current state in executor
    * blocks when any batch is stepped (so a concurrent commit cannot
    * delete the data under the walk), then one anti-join + union per
    * stepped-back batch — cost scales with the table once plus the
    * changes stepped over, never with table size × versions. The
    * pinned frame has executor-block durability, like the
    * checkpoints below. Chained plans deepen one anti-join per batch,
    * so a LONG hop (tens of batches) would hand Catalyst an
    * ever-deeper tree: `checkpointEvery = N` truncates lineage with
    * an eager localCheckpoint every N stepped batches, bounding plan
    * depth at N replay layers over a materialized snapshot
    * (executor-block durability — right for interactive travel; a
    * long-lived job on a preemptible cluster should instead replay
    * FORWARD from a stored snapshot it controls). 0 = never
    * (short-hop default; no materialization beyond the pin). */
  def readAsOf(spark: SparkSession, storage: BasicStorage, path: String,
               keyCols: Seq[String], asOfBatch: Long,
               checkpointEvery: Int = 0): DataFrame = {
    val current = storage.read(path, "delta")
    val feedStamps: Seq[Long] =
      if (!hasChanges(spark, path)) Nil
      else changeFeed(spark, path).select(col("batch")).distinct()
        .collect().map(_.getLong(0)).sorted.toSeq // metadata-sized
    // travel reaches at most back to the oldest RETAINED batch's
    // pre-state; a pruned feed must fail loudly, not reconstruct a
    // silently wrong snapshot from a gapped history. Checked BEFORE
    // the no-feed early return — a fully-pruned feed (dir removed)
    // must refuse old as-of requests, not hand back `current`.
    // Two horizon records with DIFFERENT crash semantics:
    //  - the PRUNE app is honored unconditionally: pruneChangeFeed
    //    records it before deleting, so a crashed prune refuses the
    //    half-deleted range conservatively instead of silently
    //    reconstructing across an unrecorded gap;
    //  - the OVERWRITE app gets the stale-debris heal: an overwrite's
    //    swap removes the feed atomically-with-the-table, never
    //    partially, so a feed still holding stamps STRICTLY below
    //    that horizon can only mean the swap never happened — the
    //    history is intact and the stale record must not refuse
    //    travel the present batches can serve. Strictly below,
    //    because debris stamps are at most h-1 (h = max stamp + 1)
    //    while a post-overwrite merge in the same JVM/millisecond can
    //    legitimately stamp EXACTLY h via nextBatchStamp's p+1 bump —
    //    `<=` would misread that genuine horizon as debris and
    //    reconstruct a wrong pre-overwrite snapshot.
    //    The heal judges EVERY overwrite
    //    record individually (txnBatches, not the max-collapsed
    //    lastTxnBatch): a later crashed overwrite's debris must not
    //    shadow an earlier completed overwrite's genuine horizon.
    //    Residual conservatism, documented: if a later prune removes
    //    the feed stamps that identified a debris record, that record
    //    is honored again — travel refuses loudly where prune
    //    semantics alone would have allowed it; never silent.
    // The BARRIER app joins the prune app in the unconditional set:
    // it records an uncaptured mutation (Delete.where without
    // captureChanges, a managed append, a MoR compact) on a table
    // with a live feed — the feed has a gap there, and reconstructing
    // across it would silently hand back snapshots missing (or
    // containing) the uncaptured rows.
    val horizons = GraftLog.txnBatchesByApp(spark, path,
      Seq(ChangesPruneApp, ChangesBarrierApp, ChangesOverwriteApp))
    val pruned = (
      horizons.getOrElse(ChangesPruneApp, Nil) ++
      horizons.getOrElse(ChangesBarrierApp, Nil) ++
      horizons.getOrElse(ChangesOverwriteApp, Nil)
        .filterNot(h => feedStamps.headOption.exists(_ < h))
    ).maxOption
    pruned.filter(asOfBatch < _).foreach { horizon =>
      throw new IllegalArgumentException(
        s"time travel to batch $asOfBatch is beyond the pruned change " +
          s"horizon ($horizon) — older feed batches were removed by " +
          "pruneChangeFeed or a table overwrite, or an uncaptured " +
          "mutation (delete/append/compact without change capture) " +
          "broke the feed's history there")
    }
    if (feedStamps.isEmpty) return current
    val feed = changeFeed(spark, path)
    val newer = feedStamps.filter(_ > asOfBatch).sorted.reverse
    // a batch with no commit marker is either an IN-FLIGHT capture
    // (writer holds the commit lock; its marker is moments away) or a
    // crashed one — and in both cases whether its changes reached the
    // table is unknowable RIGHT NOW, so stepping across it could
    // double-restore (an unapplied delete batch) or half-miss (an
    // applied-but-unmarked one). The two differ in remedy, not risk:
    // a LIVE writer (young lock) refuses RETRYABLY — the travel
    // re-plans cleanly once the capture commits (retryTransient's
    // signal) — where the old unconditional "crashed mid-flight"
    // refusal spuriously failed every travel that raced a normal
    // capture on a busy table. A genuinely crashed capture (no lock,
    // or one stale past the timeout) keeps the loud terminal refusal.
    // Batches at or below asOfBatch are never stepped and don't matter.
    val uncommitted = newer.filterNot(isBatchCommitted(spark, path, _))
    if (uncommitted.nonEmpty) {
      val live = Txn.heldBy(spark, path)
        .exists(_._2 <= Txn.lockTimeoutMs(spark))
      // Probe-order race: a writer can stamp its markers and release
      // the lock BETWEEN the isBatchCommitted listing above and the
      // heldBy probe — live reads false even though every batch is
      // now committed. Before the terminal refusal, re-probe the
      // uncommitted set; if the second look finds all markers, the
      // writer just finished — refuse RETRYABLY so retryTransient
      // callers re-plan against the now-complete feed. The terminal
      // refusal is reserved for batches still unmarked on the second
      // look with no live holder: a genuinely crashed capture.
      lazy val stillUnmarked =
        uncommitted.filterNot(isBatchCommitted(spark, path, _))
      if (live || stillUnmarked.isEmpty)
        throw new ConcurrentWriteException(
          s"time travel to batch $asOfBatch raced an in-flight " +
            s"captured mutation on $path (batch(es) " +
            s"${uncommitted.mkString(", ")} unmarked " +
            (if (live) "while the commit lock is held"
             else "momentarily — committed between probes") +
            ") — retry when it commits")
      else
        throw new IllegalStateException(
          s"time travel to batch $asOfBatch must step across change " +
            s"batch(es) ${stillUnmarked.mkString(", ")} that have no " +
            "commit marker — a captured mutation crashed mid-flight; " +
            "re-run it (a retry captures a fresh committed batch) or " +
            "Maintenance.vacuum the orphan, which fences travel at it")
    }
    // PIN the current state before walking back. Unpinned, the walk
    // reads the live root's data files in its LAST stage, after one
    // broadcast per stepped batch, so a hop that outlasts a hot
    // writer's commit interval loses every live-root retry to the
    // swap that deletes them. One eager scan into executor blocks
    // (not shared with other queries) ends that exposure here; the
    // walk then reads only those blocks and the feed, whose batch
    // files keep their names across swaps (carried by copy). The scan
    // reads the files `current` listed BEFORE the stamp listing and
    // the marker checks above, so a swap in between still fails it
    // (a retryable swap-window race) — the pinned state can never be
    // newer than the stamps walked back over it.
    val pinned = if (newer.isEmpty) current
      else current.localCheckpoint(eager = true)
    newer.zipWithIndex.foldLeft(pinned) { case (df, (b, i)) =>
      val stepped =
        inverseReplay(df, feed.filter(col("batch") === b), keyCols)
      // truncate lineage mid-hop only — the LAST step returns the
      // caller a lazy frame as before
      if (checkpointEvery > 0 && (i + 1) % checkpointEvery == 0 &&
          i + 1 < newer.length)
        stepped.localCheckpoint()
      else stepped
    }
  }

  private[storage] val ChangesPruneApp = "graft_changes_prune"
  private[storage] val ChangesOverwriteApp = "graft_changes_overwrite"
  private[storage] val ChangesBarrierApp = "graft_changes_barrier"

  /** Fence the change feed at "now": record a barrier horizon so
    * [[readAsOf]] refuses stamps below it. Called by every mutation
    * path that changes the table WITHOUT capturing its changes into
    * the feed (uncaptured [[Delete.where]], managed append,
    * [[MorDelete.compact]]) — the alternative is a feed that looks
    * continuous but has a silent gap, and time travel across a gap
    * reconstructs snapshots that never existed. No-op on tables
    * without a feed: with no captured history there is nothing to
    * corrupt. Recorded BEFORE the caller's data mutation (the prune
    * discipline): a crash between the record and the mutation refuses
    * conservatively, never reconstructs wrongly. One metadata-sized
    * log row per uncaptured mutation on a CDC table. */
  private[storage] def recordChangeBarrier(spark: SparkSession,
      path: String, operation: String,
      partitionFields: Seq[String] = Nil): Unit =
    if (feedEraExists(spark, path))
      GraftLog.append(spark, path.stripSuffix("/"), operation,
        partitionFields, Some(ChangesBarrierApp -> nextBatchStamp()))

  /** Has this table EVER had a change-feed era — a live feed now, or
    * horizon records from a past one? The fence condition for
    * uncaptured mutations: stamps only come from captured batches, so
    * a table with no feed era has no outstanding stamps to protect,
    * and fencing it would break the documented `Long.MinValue` ⇒
    * "before the first captured batch" semantic for tables built by
    * pre-history writes. A FULLY-PRUNED feed (dir gone, prune horizon
    * in the log) still counts: a caller can hold the horizon stamp
    * itself — readAsOf serves `== horizon` — and an unfenced mutation
    * would silently change what that stamp reconstructs. One op-log
    * read (driver, metadata-sized). */
  private[storage] def feedEraExists(spark: SparkSession,
                                     path: String): Boolean =
    hasChanges(spark, path) || {
      val eraApps = Set(ChangesPruneApp, ChangesBarrierApp,
        ChangesOverwriteApp)
      GraftLog.records(spark, path).exists(_.txnApp.exists(eraApps))
    }

  /** Change-batch stamps: wall-clock-anchored (micros-of-epoch scale)
    * and strictly increasing within the writer. nanoTime would order
    * correctly inside one JVM but its origin resets at boot — a
    * post-restart batch could stamp BELOW a pre-restart horizon and
    * make readAsOf's crashed-overwrite debris heal misread a genuine
    * horizon as debris. Wall-clock anchoring keeps stamps monotone
    * across restarts (modulo clock regression, the same assumption
    * the op-log ordering already makes); the atomic max(+1) guards
    * same-millisecond merges within a writer. */
  private val lastStamp = new java.util.concurrent.atomic.AtomicLong(0L)
  private[storage] def nextBatchStamp(): Long =
    lastStamp.updateAndGet(p =>
      math.max(p + 1L, System.currentTimeMillis() * 1000000L))

  /** Change-feed retention: drop captured batches with stamp <=
    * `upToBatch` — the log-retention lifecycle every CDC feed needs
    * (the feed otherwise grows with every captured merge, forever).
    * The pruned horizon is recorded in the op log so [[readAsOf]]
    * refuses to travel past it instead of reconstructing from a
    * gapped history; downstream replicas must have applied the
    * pruned batches already (the [[graft.streaming.StreamingOps
    * .replicateStream]] high-watermark discipline tells you theirs).
    * Driver-side dir removals, one per pruned batch — metadata
    * cost. Returns the number of batches removed. */
  def pruneChangeFeed(spark: SparkSession, path: String,
                      upToBatch: Long): Long = {
    if (!hasChanges(spark, path)) return 0L
    // commit lock: a prune racing a capture could list then delete
    // around an in-flight batch; serialized like every mutation
    Txn.withTableLock(spark, path, "CHANGES_PRUNE")(
      pruneLocked(spark, path.stripSuffix("/"), upToBatch))
  }

  private def pruneLocked(spark: SparkSession, base: String,
                          upToBatch: Long): Long = {
    val allStamps = changeFeed(spark, base).select(col("batch"))
      .distinct().collect().map(_.getLong(0)).sorted
    val stamps = allStamps.filter(_ <= upToBatch)
    if (stamps.nonEmpty) {
      // the horizon is recorded BEFORE any batch dir is removed: a
      // crash mid-prune then REFUSES as-of requests the half-deleted
      // range can no longer serve (conservative — some still-present
      // batches are refused until a re-run finishes the prune), where
      // record-after-delete would let readAsOf silently reconstruct
      // from a gapped history with no record of the gap. The prune
      // app id is honored unconditionally by readAsOf — only the
      // OVERWRITE app (whose swap never half-deletes the feed) gets
      // the stale-debris heal.
      GraftLog.append(spark, base, "CHANGES_PRUNE", Nil,
        Some(ChangesPruneApp -> stamps.max))
      stamps.foreach { b =>
        // checked: a silently failed delete must not report success
        Fs.deleteChecked(spark, s"$base/$ChangesDirName/batch=$b")
      }
      // an emptied feed dir would break the next changeFeed read (no
      // parquet to infer a schema from) — remove it wholesale;
      // hasChanges then reports "no feed", which is the truth
      if (stamps.length == allStamps.length)
        Fs.delete(spark, s"$base/$ChangesDirName")
    }
    stamps.length.toLong
  }

  /** Runs the merge. Returns true if the table was auto-created (in which
    * case [[BasicStorage.write]] has already notified observers).
    * Note: an auto-creating merge captures NO change batch even with
    * `captureChanges` — the feed records changes to an existing table
    * (Delta's CDF likewise starts at the enabling version); consumers
    * bootstrap from the initial snapshot, then follow the feed. */
  def run(spark: SparkSession, storage: BasicStorage, df: DataFrame,
          path: String, mergeCondition: String,
          partitionFields: Seq[String],
          mergeSchemas: Boolean,
          updateCondition: Option[String],
          insertCondition: Option[String],
          errorOnMultiMatch: Boolean = false,
          deleteCondition: Option[String] = None,
          captureChanges: Boolean = false): Boolean = {

    if (updateCondition.map(_.toLowerCase).contains("false") &&
        insertCondition.map(_.toLowerCase).contains("false") &&
        deleteCondition.isEmpty)
      throw new IllegalArgumentException(
        "Both inserts and updates are ignored this operation will not have an effect.")

    // Auto-create on first merge (basic.py:170-172) — CLAIMED, not
    // raced: two concurrent auto-creating merges both writing the
    // absent path would each "succeed" and the last overwrite would
    // silently discard the other merge's rows (overwrite is correct
    // last-wins semantics for WRITE, but merge means COMBINE). The
    // loser of the claim merges onto the winner's table instead.
    // top-level listings only: a recursive data-file listing here
    // races a concurrent bootstrapper's in-flight `_temporary` task
    // churn (vanishing attempt files throw from the walker), while
    // root-level entries are stable — and `_temporary` itself showing
    // up as a subdir correctly reads as "not empty, someone writing".
    // Even the top-level listing can catch the winner's commit phase
    // (children moving between list and stat) — any listing failure
    // reads as "not empty", which routes through the live-CREATE wait
    // below instead of killing the caller
    // exists is probed ONCE: reading it twice (inside the
    // short-circuit and again in the if) let a concurrent
    // bootstrapper's mkdir land between the two probes and route this
    // writer PAST the bootstrap block into the condemnation check
    // during the winner's mkdir→lock-acquire beat — the only window
    // where the path is unmanaged with no claim to wait on (a
    // once-per-full-suite flake of ConcurrencySpec's bootstrap race)
    val exists0 = storage.exists(path)
    val emptyUnmanagedDir = exists0 &&
      !GraftLog.isManagedTable(spark, path) &&
      (try Fs.listSubdirs(spark, path).isEmpty &&
           Fs.listFiles(spark, path).forall(_.startsWith("_"))
       catch { case scala.util.control.NonFatal(_) => false })
    if (!exists0 || emptyUnmanagedDir) {
      // emptyUnmanagedDir: a bootstrap that crashed between its mkdir
      // and its data write (root + stale claim, nothing else) — claim
      // it again rather than throwing "not a Delta Table" forever; a
      // dir with any files or subdirs stays a loud refusal below
      // (genuinely ambiguous debris)
      if (bootstrapCreate(spark, storage, df, path, partitionFields))
        return true
      // another writer holds (or held) the creation claim: merge
      // normally once its table is complete
      awaitManaged(spark, path)
    }

    if (!GraftLog.isManagedTable(spark, path)) {
      // files but no op log: EITHER genuinely foreign/corrupt (the
      // loud refusal below) OR another writer's bootstrap mid-write —
      // its live CREATE claim distinguishes the two; wait, don't
      // condemn a table that is seconds from existing
      val timeoutMs = spark.conf.getOption(Txn.LockTimeoutKey)
        .map(_.toLong).getOrElse(Txn.LockTimeoutDefaultMs)
      // any YOUNG lock on an UNMANAGED path can only be a bootstrap
      // claim (no other mutation locks unmanaged tables) — and the
      // holder's op string is unreadable in the beat between its
      // lock create and content write, so age alone decides
      val creating = Txn.heldBy(spark, path).exists(_._2 <= timeoutMs)
      if (!creating) {
        // TOCTOU between the two probes: the winner's log append
        // happens-before its release, so a bootstrap that COMPLETED
        // between our managed-check (false) and our lock-check
        // (absent) is visible to a managed re-probe now — condemn
        // only when the path is still unmanaged with no claim
        if (!GraftLog.isManagedTable(spark, path))
          throw new IllegalArgumentException(
            "The given path is not a Delta Table.")
      } else awaitManaged(spark, path)
    }

    // a merge reads the base and rewrites it — without the commit
    // lock two concurrent merges both plan from the same files and
    // the second rewrite silently discards the first one's rows
    // (Txn's lost-update class); the lock also covers the post-swap
    // tail (commit marker, tombstone reconcile, op-log append)
    Txn.withTableLock(spark, path, "MERGE")(runLocked(spark, storage,
      df, path, mergeCondition, partitionFields, mergeSchemas,
      updateCondition, insertCondition, errorOnMultiMatch,
      deleteCondition, captureChanges))
  }

  /** Exclusive first-merge table creation. The table root is mkdir'd
    * (non-exclusive — harmless) and the COMMIT LOCK inside it is the
    * actual claim: exactly one bootstrapper's atomic lock create
    * wins, writes the initial content in APPEND mode (an overwrite
    * save would delete the root — claim included — out from under
    * itself), and releases. Losers return false and merge onto the
    * winner's table. A bootstrapper that crashes mid-write leaves a
    * root with files and no op log — the same loud "not a Delta
    * Table" state a crashed pre-claim auto-create left. */
  private def bootstrapCreate(spark: SparkSession, storage: BasicStorage,
                              df: DataFrame, path: String,
                              partitionFields: Seq[String]): Boolean = {
    val base = path.stripSuffix("/")
    val p = new org.apache.hadoop.fs.Path(base)
    Fs.fileSystem(spark, p).mkdirs(p)
    val token =
      try Txn.acquire(spark, base, "CREATE")
      catch { case _: ConcurrentWriteException => return false }
    try {
      if (GraftLog.isManagedTable(spark, base)) false // winner finished
      else {
        storage.write(df, base, "delta", "append", partitionFields)
        true
      }
    } finally Txn.release(spark, base, token)
  }

  /** Wait for a concurrently-created table to become complete, then
    * return; throw [[ConcurrentWriteException]] if it doesn't.
    * "Complete" means the op log is READABLE with at least one row,
    * not merely that its directory exists — the log dir appears when
    * the winner's log write begins, a beat before its parquet commit,
    * and a reader entering in that beat would die on an empty-dir
    * schema inference.
    *
    * An EXPLICIT `spark.graft.txnLockWaitMs` governs outright — an
    * operator who bounded lock waits at 1 s must not poll for 10 s
    * anyway. With it UNSET, the wait is the built-in creation grace
    * ([[BootstrapGraceKey]], default 10 s) instead of the general
    * default's instant refusal: unlike an arbitrary mutation — which
    * may hold its lock for minutes, making refuse-fast the right
    * default — a bootstrap CREATE typically completes in seconds, and
    * failing the race's loser instantly just converts a benign
    * first-write race into a spurious error. A crashed bootstrapper
    * costs its victims one grace period before the (conf-naming)
    * refusal. */
  private def awaitManaged(spark: SparkSession, path: String): Unit = {
    val waitMs = spark.conf.getOption(Txn.LockWaitKey).map(_.toLong)
      .getOrElse(spark.conf.getOption(BootstrapGraceKey)
        .map(_.toLong).getOrElse(BootstrapGraceDefaultMs))
    val deadline = System.currentTimeMillis() + waitMs
    def ready: Boolean =
      GraftLog.isManagedTable(spark, path) &&
        (try GraftLog.history(spark, path).limit(1).count() == 1L
         catch { case scala.util.control.NonFatal(_) => false })
    var announced = false
    while (!ready) {
      if (System.currentTimeMillis() >= deadline)
        throw new ConcurrentWriteException(
          s"another writer is creating $path (bootstrap claim held); " +
            s"retry when it completes, raise $BootstrapGraceKey, or " +
            s"set ${Txn.LockWaitKey} to govern the wait outright")
      if (!announced) {
        // the grace poll blocks this writer for up to waitMs — say so
        // once, so a stuck bootstrap shows up in logs instead of
        // reading as an unexplained stall (ADVICE r12)
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"waiting up to $waitMs ms for a concurrent bootstrap-create " +
            s"of $path to complete ($BootstrapGraceKey; " +
            s"${Txn.LockWaitKey} governs outright when set)")
        announced = true
      }
      Thread.sleep(100)
    }
  }

  private def runLocked(spark: SparkSession, storage: BasicStorage,
                        df: DataFrame, path: String,
                        mergeCondition: String,
                        partitionFields: Seq[String],
                        mergeSchemas: Boolean,
                        updateCondition: Option[String],
                        insertCondition: Option[String],
                        errorOnMultiMatch: Boolean,
                        deleteCondition: Option[String],
                        captureChanges: Boolean): Boolean = {
    // Self-describing layout: when the caller does not re-state the
    // partitioning, recover it from the table's op log.
    val statedParts =
      if (partitionFields.nonEmpty) partitionFields
      else GraftLog.lastPartitioning(spark, path)

    val full = storage.read(path, "delta")

    // Normalize the partition fields ONCE to the table's on-disk casing
    // (the read-back schema carries the physical directory names).
    // Every downstream use — the pruning predicate, the partitionBy of
    // the rewrite, the emptied-directory cleanup — must match the
    // physical dirs exactly: writing partitionBy("PART") against
    // existing part= dirs creates SIBLING directories instead of
    // replacing them (verified on Spark 4.1.2), i.e. silent duplicate
    // rows. A field absent from the schema keeps the caller's spelling
    // and fails downstream as before.
    val effectiveParts = statedParts.map(p =>
      full.schema.fields.find(_.name.equalsIgnoreCase(p))
        .map(_.name).getOrElse(p))

    // Case alignment first (Spark resolves names case-insensitively;
    // partitionBy("PART") over a `part` column reads back as `PART`):
    // incremental columns differing only by case are renamed to the
    // table's casing, as Delta's resolution would — otherwise the
    // evolution logic below sees a phantom add+drop pair.
    val df0 = df.columns.foldLeft(df) { (d, c) =>
      full.schema.fields
        .find(f => f.name.equalsIgnoreCase(c) && f.name != c)
        .map(f => d.withColumnRenamed(c, f.name)).getOrElse(d)
    }

    // Schema evolution (basic.py:193-220): align both sides by adding
    // typed-null columns, or fail when evolution is off.
    val (evolvedFull, evolvedInc) =
      if (Schemas.areEqual(df0.schema, full.schema)) (full, df0)
      else {
        val fullNames = full.schema.fields.map(_.name).toSet
        val incNames = df0.schema.fields.map(_.name).toSet
        val newFields = df0.schema.fields.filter(f => !fullNames.contains(f.name))
        val missing = full.schema.fields.filter(f => !incNames.contains(f.name))
        // Same-name/different-type fields cannot be fixed by adding null
        // columns — raise a dedicated error naming the conflicts instead
        // of letting the output coercion silently widen or fail deep in
        // analysis (Delta raises a schema-mismatch here too).
        val typeConflicts = df0.schema.fields.flatMap { f =>
          full.schema.fields.find(_.name == f.name)
            .filterNot(g => Schemas.sameType(f.dataType, g.dataType))
            .map(g => s"${f.name}: table ${g.dataType.simpleString} vs " +
              s"incremental ${f.dataType.simpleString}")
        }
        if (typeConflicts.nonEmpty)
          throw new IllegalArgumentException(
            "Incremental data change the type of existing column(s): " +
              typeConflicts.mkString("; "))
        if (!mergeSchemas)
          throw new IllegalArgumentException(
            s"""Incremental data have a different schema.
               |New fields: ${newFields.mkString(", ")}
               |Missing fields: ${missing.mkString(", ")}""".stripMargin)
        // evolution ADDS columns — under a column mapping their names
        // must not collide with physical names old files still occupy
        // (the mapping invariant; see ColumnMapping.refuseOccupied)
        ColumnMapping.refuseOccupied(spark, path.stripSuffix("/"),
          newFields.map(_.name).toSeq,
          s"evolve the schema of $path")
        val inc2 = missing.foldLeft(df0)((d, f) =>
          d.withColumn(f.name, lit(null).cast(f.dataType)))
        val full2 = newFields.foldLeft(full)((d, f) =>
          d.withColumn(f.name, lit(null).cast(f.dataType)))
        (full2, inc2)
      }

    // Pair semantics via one full-outer join; marker columns make side
    // presence unambiguous (data columns may be legitimately null).
    val base = path.stripSuffix("/")

    // Partition pruning: when the table is partitioned, only partitions
    // that can change need to participate — the partitions of the
    // incoming rows (updates land there, inserts create them) plus the
    // partitions of currently-matched rows (an update may move a row
    // OUT of its old partition). Everything else stays on disk
    // untouched. At 100 TB this is the difference between rewriting the
    // table and rewriting a few partitions.
    // The affected set is driver-collected once (bounded by touched
    // partitions) and reused as a literal IN-predicate for pruning —
    // the predicate reaches the scan as a partition filter, so
    // unaffected partitions are never even read.
    //
    // Schema evolution forces the full-rewrite path below (old
    // partitions lack the new columns), so pruning MUST be disabled
    // there too: a pruned `result` fed into the whole-table swap would
    // silently drop every unaffected partition.
    val evolving = schemaChanged(evolvedFull, full)
    val affectedParts: Seq[Seq[Any]] =
      if (effectiveParts.isEmpty || evolving) Nil
      else {
        val partCols = effectiveParts.map(col)
        val incParts = evolvedInc.select(partCols: _*).distinct()
        // When every partition field is pinned equal by the merge
        // condition (full.p = incremental.p conjunct), a matched row's
        // partition values equal its incoming row's — matched rows
        // cannot sit outside incParts, so the full-table semi-join scan
        // is pure overhead. Date-partitioned merges keyed on
        // (date, id) hit this fast path; at 100 TB it removes one full
        // scan + shuffle join per merge.
        val pinned = pinnedPartitionFields(spark, mergeCondition)
        // SQL equality does not imply identical partition DIRECTORY for
        // floating-point columns (0.0 = -0.0 is true but the rows live
        // in different dirs) — the fast path requires exact value
        // identity, so float/double partition fields disqualify it.
        // (effectiveParts are already normalized to schema casing; an
        // unresolvable field conservatively disables the fast path.)
        val floatFree = effectiveParts.forall { p =>
          evolvedFull.schema.fields.find(_.name == p)
            .exists(_.dataType match {
              case org.apache.spark.sql.types.FloatType |
                   org.apache.spark.sql.types.DoubleType => false
              case _ => true
            })
        }
        val parts =
          if (floatFree &&
              effectiveParts.forall(p => pinned.contains(p.toLowerCase))) incParts
          else {
            val matchedParts = evolvedFull.alias("full")
              .join(evolvedInc.alias("incremental"), expr(mergeCondition), "left_semi")
              .select(partCols: _*).distinct()
            incParts.union(matchedParts).distinct()
          }
        parts.collect().map(_.toSeq).toSeq
      }

    val prunedFull =
      if (effectiveParts.isEmpty || evolving) evolvedFull
      else if (affectedParts.isEmpty) evolvedFull.limit(0)
      else if (affectedParts.size <= 1000) {
        // literal predicate → PartitionFilters on the scan (null-safe:
        // partition values may legitimately be null)
        val cond = affectedParts.map { vs =>
          effectiveParts.zip(vs).map { case (f, v) =>
            col(f) <=> lit(v)
          }.reduce(_ && _)
        }.reduce(_ || _)
        evolvedFull.filter(cond)
      } else {
        // very wide merges: broadcast semi-join instead of a 1000+-arm
        // OR expression. Null-safe join condition — a plain equi-join
        // would drop full rows with null partition values even when
        // (null) is in the affected set.
        val affectedDf = spark.createDataFrame(
          spark.sparkContext.parallelize(
            affectedParts.map(vs => org.apache.spark.sql.Row(vs: _*))),
          org.apache.spark.sql.types.StructType(
            effectiveParts.map(f => evolvedFull.schema(f))))
          .toDF(effectiveParts.map(f => s"__aff_$f"): _*)
        val joinCond = effectiveParts.map(f =>
          col(f) <=> col(s"__aff_$f")).reduce(_ && _)
        evolvedFull.join(broadcast(affectedDf), joinCond, "left_semi")
      }

    // Pair semantics DECOMPOSED instead of one full-outer join: a
    // full-outer join can never broadcast in Spark, so it would shuffle
    // the entire table even for a 10-row incremental. The same result
    // split three ways:
    //   keep    = full LEFT ANTI incremental  (untouched rows)
    //   touched = full INNER incremental      (one row per matched pair:
    //             incremental values if the update condition holds,
    //             else the kept full values — multi-match duplication
    //             semantics identical to the full-outer form)
    //   inserts = incremental rows matching NO full row, filtered by
    //             the insert condition
    // With a small incremental both table-side joins are broadcast —
    // the table is scanned, never shuffled (the same touched/untouched
    // file split a Delta merge plans). With a large incremental both
    // joins shuffle on the SAME extracted equi-keys, so AQE reuses one
    // exchange of the table — no worse than the full-outer plan.
    // Unpartitioned (or schema-evolving) merges rewrite the whole
    // table, and the decomposition below reads it THREE times — keep
    // (anti), touched (inner), insert detection (inner again via
    // `matched`). Persist the scanned frame so the table's parquet is
    // read once and the other passes hit memory-or-local-disk blocks
    // (recompute-safe on executor loss, unlike a checkpoint; spills,
    // never OOMs). Partitioned merges skip this: pruning already
    // bounds the scan to affected partitions and the dynamic-overwrite
    // branch persists `result` instead.
    val cowRewrite = effectiveParts.isEmpty || evolving
    val scannedFull =
      if (cowRewrite)
        Txn.persistPrivate(prunedFull)
      else prunedFull
    try {

      val cond = expr(mergeCondition)
      val f = scannedFull.alias("full")
      val i = evolvedInc.alias("incremental")

      if (errorOnMultiMatch) {
        // Delta parity (opt-in): a full row matched by >1 incremental
        // rows would be duplicated by the decomposition below — detect
        // with ONE aggregation over the matched pairs. The row id is
        // per-job (monotonically_increasing_id), used only inside this
        // one count, so recompute instability across jobs cannot leak.
        val tagged = scannedFull
          .withColumn("__graft_mid", monotonically_increasing_id())
        val multi = tagged.alias("full").join(i, cond, "inner")
          .groupBy(col("full.__graft_mid")).agg(count(lit(1)).as("__n"))
          .filter(col("__n") > 1).limit(1).count()
        if (multi > 0)
          throw new IllegalStateException(
            "Cannot perform merge: multiple rows of the incremental data " +
              "matched the same table row. Make the merge condition " +
              "unique per table row, deduplicate the incremental frame, " +
              "or drop errorOnMultiMatch to accept duplication.")
      }
      val updCond = updateCondition.map(expr).getOrElse(lit(true))
      val insCond = insertCondition.map(expr).getOrElse(lit(true))
      val outNames = evolvedFull.schema.fields.map(_.name).toSeq

      val keep = f.join(i, cond, "left_anti")
        .select(outNames.map(col): _*)

      val matched = f.join(i, cond, "inner")
      // WHEN MATCHED AND deleteCondition THEN DELETE, evaluated before
      // the update clause (Delta's clause order): a matched pair whose
      // delete condition holds drops the full row entirely. NULL means
      // "condition did not hold" (SQL WHEN semantics) — coalesce, or
      // the negation filter would delete on null too.
      val delCond = deleteCondition.map(expr).getOrElse(lit(false))
      val touched = matched
        .filter(!coalesce(delCond, lit(false)))
        .select(outNames.map(n =>
          when(updCond, col(s"incremental.$n"))
            .otherwise(col(s"full.$n")).as(n)): _*)

      // Incremental rows that matched nothing: anti against the matched
      // pairs' incremental side, null-safe on every column so rows with
      // null fields subtract correctly (a plain equi-anti would re-insert
      // them). Both sides are incremental-sized. Map columns reject <=>
      // (unorderable) AND hashing (Spark forbids hash-on-map) — compare
      // their canonical sorted entry arrays instead, which is exact:
      // equal maps always produce equal sorted entries.
      val matchedInc = matched.select(outNames.map(n =>
        col(s"incremental.$n").as(n)): _*)
      def cmpCol(n: String): org.apache.spark.sql.Column = {
        import org.apache.spark.sql.types._
        val dt = evolvedFull.schema.fields.find(_.name == n).map(_.dataType)
        val (canon, canonType): (org.apache.spark.sql.Column => org.apache.spark.sql.Column, Option[DataType]) =
          dt match {
            case Some(MapType(k, v, vn)) =>
              (c => array_sort(map_entries(c)),
                Some(ArrayType(StructType(Seq(
                  StructField("key", k, nullable = false),
                  StructField("value", v, vn))))))
            case other => (identity, other)
          }
        if (!canonType.forall(
            org.apache.spark.sql.catalyst.expressions.RowOrdering.isOrderable))
          throw new IllegalArgumentException(
            s"merge cannot compare column '$n' of type " +
              s"${dt.map(_.simpleString).getOrElse("?")} for insert " +
              "detection (not orderable even as sorted map entries)")
        canon(col(s"__l.$n")) <=> canon(col(s"__r.$n"))
      }
      val antiCond = outNames.map(cmpCol).reduce(_ && _)
      val unmatchedInc = evolvedInc.alias("__l")
        .join(matchedInc.alias("__r"), antiCond, "left_anti")
      // The insert condition may reference full.* (evaluates against the
      // absent side's nulls, exactly as in the full-outer row): attach an
      // all-null full side via a never-matching left join against an
      // empty aliased frame.
      val inserts = unmatchedInc.alias("incremental")
        .join(evolvedFull.limit(0).alias("full"), lit(false), "left")
        .filter(insCond)
        .select(outNames.map(n => col(s"incremental.$n").as(n)): _*)

      val result = keep.unionByName(touched).unionByName(inserts)

      // Change Data Feed (Delta's table_changes): one batch dir of
      // row-level changes per merge under _graft_changes (underscore
      // prefix — invisible to table scans, like the op log), columns =
      // table schema + _change_type ∈ {insert, update_preimage,
      // update_postimage, delete}. Written BEFORE the data rewrite:
      // the change rows are computed FROM the pre-merge files, and on
      // the COW path those files are deleted by the swap — a lazy plan
      // evaluated after it would read corpses. The batch=<nano> dir
      // partition stamps each merge's changes (readers get the column
      // for free); a failed merge can leave an orphan change batch —
      // the documented at-least-once trade of log-before-data.
      val capturedBatchDir: Option[String] = if (captureChanges) {
        val notDel = !coalesce(delCond, lit(false))
        val updTrue = coalesce(updCond, lit(false))
        def side(prefix: String, tag: String, cond: org.apache.spark.sql.Column) =
          matched.filter(cond).select(outNames.map(n =>
            col(s"$prefix.$n").as(n)) :+ lit(tag).as("_change_type"): _*)
        val changes = side("full", "delete", coalesce(delCond, lit(false)))
          .unionByName(side("full", "update_preimage", notDel && updTrue))
          .unionByName(side("incremental", "update_postimage", notDel && updTrue))
          .unionByName(inserts.withColumn("_change_type", lit("insert")))
        val dir = s"$base/${ChangesDirName}/batch=${nextBatchStamp()}"
        changes.write.mode("overwrite").format("parquet").save(dir)
        Some(dir)
      } else {
        // an UNCAPTURED merge on a table with a feed era is a feed gap
        // like any other uncaptured mutation (delete/append/compact):
        // without a barrier, readAsOf would inverse-replay captured
        // batches over a current state that includes this merge and
        // silently serve pre-merge snapshots that never existed. Same
        // Delete.where discipline: fence BEFORE the data rewrite (a
        // crash in between refuses conservatively, never reconstructs
        // wrongly). Fenced even when the merge happens to change
        // nothing (an equal-values update) — the captured path likewise
        // writes a batch unconditionally, and detecting a true no-op
        // would cost an extra aggregation per merge.
        recordChangeBarrier(spark, base, "CHANGES_BARRIER", effectiveParts)
        None
      }

      // MoR tombstone reconciliation (no-op unless a _graft_tombstones
      // sidecar exists): keys this merge UPDATES or INSERTS are
      // re-introduced by user intent — their tombstones must clear, or
      // MorDelete.read would hide the fresh rows and compact would
      // destroy them. ONLY genuine re-introductions count: a matched
      // row whose update condition is FALSE keeps its old values (the
      // when/otherwise branch in `touched`) — clearing its tombstone
      // would resurrect a row this merge never wrote. Same filter as
      // the change feed's update_postimage. Planned (materialized)
      // here, off the pre-rewrite files; committed after the data
      // rewrite below.
      val rewritten = matched
        .filter(!coalesce(delCond, lit(false)) &&
          coalesce(updCond, lit(false)))
        .select(outNames.map(n => col(s"incremental.$n").as(n)): _*)
        .unionByName(inserts)
      val tombPlan = MorDelete.planReconcile(spark, base, rewritten)

      if (effectiveParts.nonEmpty && !evolving) {
        // Partitioned table: rewrite ONLY the affected partitions,
        // staged beside the table and committed via [[PartitionSwap]]
        // rename-aside swaps — unaffected partition directories are
        // never touched, and unlike dynamic partition overwrite's
        // delete-then-rename commit, a complete copy of every
        // partition exists at every instant of the commit (a crash
        // is healed, never whole-partition loss). Partitions EMPTIED
        // by the merge (a row updated out of its old partition) go in
        // the removed set; the affected set is driver-collected
        // metadata, bounded by touched partitions (the same
        // driver-side bookkeeping a Delta merge keeps per file).
        val partCols = effectiveParts.map(col)
        result.persist()
        try {
          val present = result.select(partCols: _*).distinct()
            .collect().map(_.toSeq).toSet
          val tmp = base + "__graft_tmp"
          Fs.deleteChecked(spark, tmp)
          // physical names on disk (column mapping; identity when
          // unmapped — partition columns are never mapped)
          ColumnMapping.toPhysical(spark, base, result)
            .write.format("parquet")
            .partitionBy(effectiveParts: _*)
            .mode("overwrite").save(tmp)
          PartitionSwap.swap(spark, base, tmp, effectiveParts,
            replaced = present.toSeq,
            removed = affectedParts.filterNot(present.contains))
          Fs.deleteChecked(spark, tmp)
        } finally result.unpersist()
      } else {
        // Unpartitioned (or schema-evolving) table: copy-on-write —
        // materialize to a tmp dir (reads the old files while writing new
        // ones), then the checked no-data-loss-window swap
        // (GraftLog.carryLogAndSwap).
        val tmp = base + "__graft_tmp"
        Fs.deleteChecked(spark, tmp)
        var writer = ColumnMapping.toPhysical(spark, base, result)
          .write.format("parquet").mode("overwrite")
        if (effectiveParts.nonEmpty) writer = writer.partitionBy(effectiveParts: _*)
        writer.save(tmp)
        GraftLog.carryLogAndSwap(spark, base, tmp)
      }

      // the batch's commit marker lands only now, AFTER the data
      // rewrite: a batch dir without `_commit` is a crashed capture
      // whose changes may or may not have reached the table —
      // readAsOf refuses to step across it, replication skips it,
      // vacuum sweeps it behind a barrier. Either crash side is
      // loud, never a silently-wrong reconstruction.
      capturedBatchDir.foreach(d =>
        Fs.touch(spark, s"$d/$ChangesCommitMarker"))
      tombPlan.foreach(MorDelete.commitReconcile(spark, base, _))

    } finally if (cowRewrite) scannedFull.unpersist()
    GraftLog.append(spark, base, "MERGE", effectiveParts)
    false
  }

  /** Schema evolution adds columns — old partitions would be missing
    * them, so evolving merges fall back to the full rewrite. */
  private def schemaChanged(evolved: DataFrame, original: DataFrame): Boolean =
    evolved.schema.fields.length != original.schema.fields.length

  /** Column names pinned equal across the two merge sides by a
    * top-level `full.c = incremental.c` (or `<=>`) conjunct of the
    * condition. For a MATCHED row such a conjunct held, so the kept/
    * updated row's value equals the incoming row's — its partition is
    * already in the incoming partition set. Parse failures degrade to
    * "nothing pinned" (the conservative full scan). */
  private def pinnedPartitionFields(spark: SparkSession,
                                    cond: String): Set[String] = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{And, EqualNullSafe, EqualTo, Expression}
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def pinOf(l: Expression, r: Expression): Option[String] = (l, r) match {
      case (a: UnresolvedAttribute, b: UnresolvedAttribute)
        if a.nameParts.length == 2 && b.nameParts.length == 2 &&
          Set(a.nameParts.head.toLowerCase, b.nameParts.head.toLowerCase) ==
            Set("full", "incremental") &&
          a.nameParts(1).equalsIgnoreCase(b.nameParts(1)) =>
        Some(a.nameParts(1).toLowerCase)
      case _ => None
    }
    try {
      conjuncts(spark.sessionState.sqlParser.parseExpression(cond)).flatMap {
        case EqualTo(l, r) => pinOf(l, r)
        case EqualNullSafe(l, r) => pinOf(l, r)
        case _ => None
      }.toSet
    } catch { case scala.util.control.NonFatal(_) => Set.empty }
  }
}
