package graft.storage

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Predicate DELETE on a managed table — the GDPR / right-to-be-
  * forgotten and retention-expiry shape: remove every row matching a
  * condition, leave everything else byte-identical where possible.
  *
  * Scale shape mirrors [[Merge]]'s write path: a partitioned table
  * rewrites ONLY partitions that contain matches (literal partition
  * predicates reach the scan as PartitionFilters; unaffected
  * directories are never opened, let alone rewritten), partitions
  * emptied by the delete are cleared explicitly (dynamic overwrite
  * skips them), and the unpartitioned fallback is a copy-on-write
  * rewrite through the checked no-data-loss-window swap. The pruned
  * frame is persisted so count + rewrite read the table's parquet
  * once. SQL DELETE null semantics: rows where the condition is null
  * are KEPT.
  */
object Delete {

  /** Delete rows matching `condition`; returns the number deleted.
    *
    * Change-feed discipline (the Delta CDF contract for DELETE):
    * `captureChanges = true` writes the deleted rows as a `delete`
    * change batch, so [[Merge.readAsOf]] still reconstructs
    * pre-delete snapshots and [[Merge.replayChanges]] propagates the
    * delete to replicas. WITHOUT capture, a delete on a table that
    * HAS a feed records a barrier horizon instead
    * ([[Merge.recordChangeBarrier]]) — travel below the delete then
    * refuses loudly rather than silently serving snapshots missing
    * the deleted rows. Leaving capture off is the right call for
    * GDPR erasure: captured delete batches RETAIN the erased rows in
    * the feed sidecar until [[Merge.pruneChangeFeed]] removes them. */
  def where(spark: SparkSession, storage: BasicStorage, path: String,
            condition: String, captureChanges: Boolean = false): Long = {
    if (!GraftLog.isManagedTable(spark, path))
      throw new IllegalArgumentException(
        "The given path is not a Delta Table.")
    // commit lock: a delete racing another mutation would rewrite
    // from files the other writer is replacing (Txn's lost-update
    // class) — refused loudly instead
    Txn.withTableLock(spark, path, "DELETE")(
      whereLocked(spark, storage, path, condition, captureChanges))
  }

  private def whereLocked(spark: SparkSession, storage: BasicStorage,
                          path: String, condition: String,
                          captureChanges: Boolean): Long = {
    val base = path.stripSuffix("/")
    val parts = GraftLog.lastPartitioning(spark, base)
    val df = storage.read(base, "delta")
    val cond = coalesce(expr(condition), lit(false))

    // computed FROM the pre-delete files, written BEFORE the rewrite
    // (Merge's log-before-data discipline — a lazy plan evaluated
    // after the rewrite would read corpses on the COW path, and a
    // lost persisted block would recompute from deleted files on the
    // dynamic-overwrite path). Returns the batch dir so the commit
    // marker can land AFTER the rewrite (Merge's marker protocol).
    def captureOrFence(deletedRows: org.apache.spark.sql.DataFrame)
        : Option[String] =
      if (captureChanges) {
        val dir =
          s"$base/${Merge.ChangesDirName}/batch=${Merge.nextBatchStamp()}"
        deletedRows.withColumn("_change_type", lit("delete"))
          .write.mode("overwrite").format("parquet").save(dir)
        Some(dir)
      } else {
        Merge.recordChangeBarrier(spark, base, "CHANGES_BARRIER", parts)
        None
      }

    if (parts.nonEmpty) {
      val partCols = parts.map(col)
      // metadata-bounded collect: one row per partition WITH matches
      val affected = df.filter(cond).select(partCols: _*)
        .distinct().collect().map(_.toSeq).toSeq
      if (affected.isEmpty) return 0L
      val pruned =
        Txn.persistPrivate(prunedToAffected(spark, df, parts, affected))
      try {
        val deleted = pruned.filter(cond).count()
        val batchDir = captureOrFence(pruned.filter(cond))
        val kept = pruned.filter(!cond)
        val present = kept.select(partCols: _*).distinct()
          .collect().map(_.toSeq).toSet
        // staged beside the table, committed via [[PartitionSwap]]
        // rename-aside swaps (never dynamic overwrite's delete-then-
        // rename window); fully-deleted partitions go in the removed
        // set. Physical names on disk (column mapping; identity when
        // unmapped — partition columns are never mapped).
        val tmp = base + "__graft_tmp"
        Fs.deleteChecked(spark, tmp)
        ColumnMapping.toPhysical(spark, base, kept)
          .write.format("parquet")
          .partitionBy(parts: _*)
          .mode("overwrite").save(tmp)
        PartitionSwap.swap(spark, base, tmp, parts,
          replaced = present.toSeq,
          removed = affected.filterNot(present.contains))
        Fs.deleteChecked(spark, tmp)
        // a delete-all cleared every affected partition AND no other
        // partitions exist — record the schema so the emptied table
        // stays readable (no files left to infer from). PHYSICAL
        // names: the sidecar stands in for a file footer, and
        // readStream's schema probe must see what a footer would
        // (a logical-named sidecar would make a later append's
        // physical-named rows stream back as null)
        if (present.isEmpty &&
            Fs.dataFiles(spark, base).isEmpty)
          Fs.writeText(spark, GraftLog.schemaSidecar(base),
            ColumnMapping.toPhysical(spark, base, df).schema.json)
        batchDir.foreach(d =>
          Fs.touch(spark, s"$d/${Merge.ChangesCommitMarker}"))
        GraftLog.append(spark, base, "DELETE", parts)
        deleted
      } finally pruned.unpersist()
    } else {
      val scanned = Txn.persistPrivate(df)
      try {
        val deleted = scanned.filter(cond).count()
        if (deleted == 0L) return 0L
        // total BEFORE the swap: a persisted block evicted after the
        // swap would recompute from the post-swap (kept-only) files,
        // the count would no longer equal `deleted`, and a fully-
        // emptied table would skip its schema sidecar and become
        // unreadable (UNABLE_TO_INFER_SCHEMA with no fallback)
        val total = scanned.count()
        val batchDir = captureOrFence(scanned.filter(cond))
        val tmp = base + "__graft_tmp"
        Fs.deleteChecked(spark, tmp)
        ColumnMapping.toPhysical(spark, base, scanned.filter(!cond))
          .write.format("parquet").mode("overwrite").save(tmp)
        GraftLog.carryLogAndSwap(spark, base, tmp)
        // delete-all leaves no parquet file to infer a schema from —
        // record it so the emptied table stays readable (PHYSICAL
        // names — the sidecar stands in for a file footer)
        if (deleted == total)
          Fs.writeText(spark, GraftLog.schemaSidecar(base),
            ColumnMapping.toPhysical(spark, base, scanned).schema.json)
        batchDir.foreach(d =>
          Fs.touch(spark, s"$d/${Merge.ChangesCommitMarker}"))
        GraftLog.append(spark, base, "DELETE", Nil)
        deleted
      } finally scanned.unpersist()
    }
  }

  /** Restrict `df` to the affected partitions — Merge's wide-write
    * discipline (Merge.scala prunedFull): a bounded affected set
    * prunes via a literal OR-of-ANDs (reaches the scan as
    * PartitionFilters); a retention delete touching 10⁴–10⁵
    * partitions — routine at 100× — would crush the optimizer with a
    * 10⁴-arm predicate, so wide deletes prune via a null-safe
    * broadcast semi-join instead. */
  private[storage] def prunedToAffected(
      spark: SparkSession, df: org.apache.spark.sql.DataFrame,
      parts: Seq[String], affected: Seq[Seq[Any]])
      : org.apache.spark.sql.DataFrame =
    if (affected.size <= 1000) {
      val prunePred = affected.map(vs =>
        parts.zip(vs).map { case (f, v) => col(f) <=> lit(v) }
          .reduce(_ && _)).reduce(_ || _)
      df.filter(prunePred)
    } else {
      val affectedDf = spark.createDataFrame(
        spark.sparkContext.parallelize(
          affected.map(vs => org.apache.spark.sql.Row(vs: _*))),
        org.apache.spark.sql.types.StructType(
          parts.map(f => df.schema(f))))
        .toDF(parts.map(f => s"__aff_$f"): _*)
      val joinCond = parts.map(f =>
        col(f) <=> col(s"__aff_$f")).reduce(_ && _)
      df.join(broadcast(affectedDf), joinCond, "left_semi")
    }
}

/** Merge-on-read DELETE — the deletion-vector idea re-expressed on
  * plain parquet: instead of rewriting data files ([[Delete.where]]'s
  * copy-on-write), matching rows' KEYS append to a
  * `_graft_tombstones` sidecar and reads subtract them. Deletes
  * become O(matches) writes regardless of table size — the shape that
  * makes frequent small deletes (GDPR trickle, late retractions)
  * affordable at 100 TB, where a COW rewrite per delete would dwarf
  * the deleted data by orders of magnitude. [[MorDelete.compact]]
  * folds accumulated tombstones into one physical rewrite when read
  * amplification has grown past its worth — exactly Delta's deletion-
  * vector lifecycle (vector → OPTIMIZE applies) with the vectors
  * keyed logically (keyCols) instead of positionally, the honest
  * equivalent without stable row ids in open parquet.
  *
  * The MoR read is an explicit API ([[MorDelete.read]]): a plain
  * parquet reader (or the DuckDB oracle) sees deleted rows until
  * compaction — the documented trade for keeping files externally
  * readable; Delta hides this only because its readers all speak the
  * log.
  *
  * Delete-then-reinsert lifecycle: tombstones are logical keys, so the
  * managed write paths (merge, append) reconcile them — a write that
  * re-introduces a tombstoned key CLEARS that key's tombstone
  * ([[planReconcile]]/[[commitReconcile]]), and a managed overwrite
  * drops the sidecar wholesale (the table it referred to is gone).
  * Without this, the fresh row would be hidden by [[read]] and then
  * permanently destroyed by [[compact]].
  */
object MorDelete {

  val TombstoneDirName = "_graft_tombstones"

  def tombstonePath(tablePath: String): String =
    tablePath.stripSuffix("/") + "/" + TombstoneDirName

  /** Tombstone every live row matching `condition`. `keyCols` must
    * identify rows (a tombstoned key kills ALL its rows). Returns the
    * number of rows newly logically deleted. SQL DELETE null
    * semantics: null-condition rows are kept. */
  def deleteWhere(spark: SparkSession, storage: BasicStorage,
                  path: String, condition: String,
                  keyCols: Seq[String]): Long = {
    if (!GraftLog.isManagedTable(spark, path))
      throw new IllegalArgumentException(
        "The given path is not a Delta Table.")
    require(keyCols.nonEmpty, "deleteWhere needs key columns")
    // commit lock: the tombstone append races any rewrite that carries
    // (or clears) the sidecar — serialized like every other mutation
    Txn.withTableLock(spark, path, "DELETE_MOR")(
      deleteWhereLocked(spark, storage, path, condition, keyCols))
  }

  private def deleteWhereLocked(spark: SparkSession,
                                storage: BasicStorage, path: String,
                                condition: String,
                                keyCols: Seq[String]): Long = {
    val base = path.stripSuffix("/")
    val cond = coalesce(expr(condition), lit(false))
    // match against the MoR view: already-tombstoned rows can't be
    // re-deleted (keeps the returned count and the sidecar minimal)
    val live = Txn.persistPrivate(read(spark, storage, base, keyCols))
    try {
      val matched = live.filter(cond)
      val n = matched.count()
      if (n > 0L) {
        matched.select(keyCols.map(col): _*).distinct()
          .write.mode("append").parquet(tombstonePath(base))
        GraftLog.append(spark, base, "DELETE_MOR", Nil)
      }
      n
    } finally live.unpersist()
  }

  /** The merge-on-read view: table minus tombstoned keys. One
    * left-anti join against the metadata-sized tombstone frame (AQE
    * broadcasts it while small — the common case; a huge tombstone
    * set is the signal to [[compact]]). No sidecar ⇒ plain read. */
  def read(spark: SparkSession, storage: BasicStorage, path: String,
           keyCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    val base = path.stripSuffix("/")
    val df = storage.read(base, "delta")
    Fs.recoverAside(spark, tombstonePath(base))
    if (!Fs.exists(spark, tombstonePath(base))) df
    else df.join(
      spark.read.parquet(tombstonePath(base)).distinct(),
      keyCols, "left_anti")
  }

  /** Phase 1 of delete-then-reinsert reconciliation: tombstones are
    * LOGICAL keys, so a later merge/append that re-introduces key K
    * must clear K's tombstone — otherwise [[read]] hides the fresh row
    * and [[compact]] (which rewrites from the tombstone-subtracting
    * view) destroys it permanently. Returns the surviving tombstones
    * COLLECTED to the driver: the anti-join reads the caller's
    * pre-rewrite data files, so the result must be fully materialized
    * off them before the caller's COW swap deletes those files — a
    * persist would recompute from dead paths on block loss, and an
    * executor-side checkpoint pins blocks with no deterministic
    * release; the tombstone set is metadata-sized BY CONTRACT (a
    * large one is the documented signal to [[compact]]), so driver
    * residence is the honest barrier. Data-then-sidecar ordering
    * means a crash between the caller's rewrite and
    * [[commitReconcile]] leaves the fresh row transiently hidden
    * (healed by retry), never resurrects a deleted one. None ⇒ no
    * tombstone sidecar, nothing to do (the common case — one exists()
    * call). Throws when the sidecar's key columns are absent from
    * `written`: an unreconcilable write against live tombstones must
    * fail loudly, not silently destroy data later.
    *
    * The metadata-sized contract is ENFORCED, not just documented: the
    * sidecar's row count is checked against
    * `spark.graft.morReconcileMaxRows` (default 1e6) BEFORE anything
    * collects — a mass-delete-then-merge above the bound refuses with
    * the compact()-first message instead of silently OOMing the
    * driver. */
  val ReconcileMaxRowsKey = "spark.graft.morReconcileMaxRows"
  val ReconcileMaxRowsDefault = 1000000L

  def planReconcile(spark: SparkSession, base0: String,
                    written: org.apache.spark.sql.DataFrame)
      : Option[ReconcilePlan] = {
    val tp = tombstonePath(base0.stripSuffix("/"))
    Fs.recoverAside(spark, tp)
    if (!Fs.exists(spark, tp)) return None
    val tombs = spark.read.parquet(tp)
    val bound = spark.conf.getOption(ReconcileMaxRowsKey)
      .map(_.toLong).getOrElse(ReconcileMaxRowsDefault)
    val nTombs = tombs.count()
    if (nTombs > bound)
      throw new IllegalStateException(
        s"refusing to reconcile $nTombs tombstone rows at $tp " +
          s"(driver-residence bound $ReconcileMaxRowsKey=$bound): " +
          "compact() the table first to apply the tombstones " +
          "physically, or raise the bound if the driver can hold them")
    val tCols = tombs.schema.fieldNames.toSeq
    val missing = tCols.filterNot(written.schema.fieldNames.contains)
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"cannot reconcile MoR tombstones at $tp: incoming rows lack " +
          s"key column(s) ${missing.mkString(", ")} — compact() the " +
          "table first or include the key columns")
    val survivors = tombs.distinct()
      .join(written.select(tCols.map(col): _*).distinct(),
        tCols, "left_anti")
      .collect().toSeq
    Some(ReconcilePlan(survivors, tombs.schema))
  }

  /** The driver-materialized survivor set of a [[planReconcile]]. */
  final case class ReconcilePlan(
      rows: Seq[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType)

  /** Phase 2: crash-safe staged swap of the tombstone sidecar to the
    * survivors [[planReconcile]] collected. An EMPTY survivor set
    * deletes the sidecar instead of writing a zero-row one — the
    * no-sidecar fast path (plain reads, early-return compact) must
    * come back once every tombstone is cleared, or the table pays the
    * MoR anti-join forever and the next compact() does a pointless
    * full rewrite. */
  def commitReconcile(spark: SparkSession, base0: String,
                      plan: ReconcilePlan): Unit = {
    val tp = tombstonePath(base0.stripSuffix("/"))
    if (plan.rows.isEmpty) {
      Fs.deleteChecked(spark, tp)
    } else {
      Fs.writeSwapped(spark, tp, spark.createDataFrame(
        java.util.Arrays.asList(plan.rows: _*), plan.schema))
    }
  }

  /** Apply accumulated tombstones physically (one COW rewrite through
    * the checked swap) and clear the sidecar. Returns rows physically
    * removed. */
  def compact(spark: SparkSession, storage: BasicStorage, path: String,
              keyCols: Seq[String]): Long = {
    // commit lock covers the whole consume-tombstones-and-rewrite
    // cycle; the no-sidecar fast path re-checks INSIDE it, so a
    // racing deleteWhere's fresh tombstones are either compacted here
    // or left whole — never half-consumed
    Txn.withTableLock(spark, path, "DELETE_COMPACT")(
      compactLocked(spark, storage, path.stripSuffix("/"), keyCols))
  }

  private def compactLocked(spark: SparkSession, storage: BasicStorage,
                            base: String, keyCols: Seq[String]): Long = {
    Fs.recoverAside(spark, tombstonePath(base))
    if (!Fs.exists(spark, tombstonePath(base))) return 0L
    val before = storage.read(base, "delta").count()
    val kept = Txn.persistPrivate(read(spark, storage, base, keyCols))
    try {
      val after = kept.count()
      // Time travel reads the RAW file timeline (tombstones are an
      // explicit read-path overlay), so the rows leave that timeline
      // HERE, not at deleteWhere. On a table with a live change feed
      // the compact fences travel (barrier) rather than capturing the
      // removed rows as delete changes — MoR delete is the GDPR path,
      // and a captured batch would retain the erased rows in the
      // feed. Fenced only when rows actually leave (a compact whose
      // tombstones all point at already-deleted keys is
      // content-identical — destroying servable history for it would
      // be gratuitous), and BEFORE the rewrite (log-before-data: a
      // crash between fence and swap refuses conservatively).
      if (after != before)
        Merge.recordChangeBarrier(spark, base, "CHANGES_BARRIER")
      val tmp = base + "__graft_tmp"
      Fs.deleteChecked(spark, tmp)
      ColumnMapping.toPhysical(spark, base, kept)
        .write.format("parquet").mode("overwrite").save(tmp)
      GraftLog.carryLogAndSwap(spark, base, tmp)
      // a compact that tombstoned EVERY row leaves no parquet file to
      // infer a schema from — record it (Delete.where's delete-all
      // discipline) so the emptied table stays readable
      if (after == 0L)
        // physical names — the sidecar stands in for a file footer
        Fs.writeText(spark, GraftLog.schemaSidecar(base),
          ColumnMapping.toPhysical(spark, base, kept).schema.json)
      // the swap carries sidecars (so OTHER rewrites can't resurrect
      // deleted rows); this rewrite CONSUMED the tombstones — clear
      // them explicitly
      Fs.deleteChecked(spark, tombstonePath(base))
      GraftLog.append(spark, base, "DELETE_COMPACT", Nil)
      before - after
    } finally kept.unpersist()
  }
}
