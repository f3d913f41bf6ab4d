package graft.storage

import org.apache.spark.sql.SparkSession

/** CLONE — Delta Lake's `CREATE TABLE dst CLONE src [VERSION AS OF]`
  * analogue: a new, fully INDEPENDENT managed table whose initial
  * content is a snapshot of the source (current, or any servable
  * time-travel stamp via [[Merge.readAsOf]]). The standard lakehouse
  * branching primitive: experiment against production data, stage a
  * risky migration, or hand a team a frozen copy — without either
  * side's later mutations touching the other.
  *
  * What travels and what doesn't, each deliberate:
  *  - DATA: deep-copied. A plain-parquet layout has no shared-file
  *    refcounting, so a "shallow" clone would break the moment either
  *    side's COW rewrite deleted a shared file — honesty over the
  *    zero-copy marketing. At 100 TB a clone is a parallel
  *    read+write of the snapshot, the same cost as any full rewrite.
  *  - PARTITIONING: carried (the clone is written through the managed
  *    path with the source's recorded layout).
  *  - CHECK CONSTRAINTS: carried — the table CONTRACT belongs to the
  *    data and a clone that silently shed its constraints would admit
  *    rows the source never could. The carried constraints are
  *    RE-VALIDATED against the staged clone content before the clone
  *    becomes visible: the constraints dir is copied AFTER the data
  *    read, so a constraint added to the source mid-clone (validated
  *    there against a NEWER snapshot) can reach a clone whose older
  *    snapshot violates it — the clone then refuses rather than carry
  *    a CHECK its own content breaks.
  *  - OP LOG / HISTORY: NOT carried. The clone starts a fresh history
  *    (WRITE + a CLONE provenance record naming the source and the
  *    cloned stamp); the source's history describes the source's
  *    mutations, not the clone's.
  *  - CHANGE FEED: NOT carried. Feed batches are the source's
  *    timeline; replaying them onto an independently-evolving clone
  *    would be wrong the moment the clone diverges. The clone is a
  *    never-fed table — its own feed era starts with its own first
  *    captured mutation.
  *  - MoR TOMBSTONES: refused loudly (compact first) — the sidecar's
  *    meaning depends on key columns this API is not told, and a
  *    clone that copied raw files without them would RESURRECT
  *    logically deleted rows.
  *
  * Concurrency and crash contract: the clone READS the source like
  * any other reader (always a complete table — the swap discipline's
  * guarantee) and takes no lock on it; a source mutation committing
  * mid-copy can fail the read loudly (vanished files), never corrupt
  * it — retry. The DESTINATION is CLAIMED, then staged, then swapped:
  *  1. the dst root is created as a shell holding only the commit
  *     lock, taken with [[Txn]]'s atomic create — exactly one of two
  *     concurrent clones to the same fresh path wins; the loser
  *     refuses loudly instead of interleaving files with the winner
  *     (a young claim on an empty shell = a clone in flight; a stale
  *     one = a crashed clone, broken and re-claimed);
  *  2. the ENTIRE clone — data, op log with the CLONE provenance row,
  *     emptied-table schema sidecar, carried-and-revalidated
  *     constraints — is staged in `dst__graft_tmp`, invisible at dst;
  *  3. the shell swaps out and the staged clone swaps in (two checked
  *     renames). A crash BEFORE the swap leaves a shell + staging: a
  *     retry re-claims once the crashed run's lock ages past the
  *     timeout (`Txn.breakLock` is the immediate operator override)
  *     and restages from scratch. A crash BETWEEN the renames leaves
  *     the fully-staged clone that [[Maintenance.vacuum]]'s
  *     completable-swap heal finishes — on the same aged-claim
  *     horizon (a young claim defers the sweep); until then further
  *     clones to the path refuse loudly. At no instant does dst hold
  *     a complete-LOOKING table that is missing its constraints or
  *     provenance — the window the pre-staged implementation had. */
object Clone {

  /** Prefix of the op-log provenance record's txn app id:
    * `graft_clone_src:<source path>`, with the cloned stamp in
    * txn_batch (-1 = current content). Readable via
    * [[GraftLog.history]]; no engine read path filters on it. */
  val ProvenanceApp = "graft_clone_src:"

  def table(spark: SparkSession, storage: BasicStorage, src: String,
            dst: String, asOfBatch: Option[Long] = None,
            keyCols: Seq[String] = Nil): Unit = {
    val s = src.stripSuffix("/")
    val d = dst.stripSuffix("/")
    if (!GraftLog.isManagedTable(spark, s))
      throw new IllegalArgumentException(
        "The given path is not a Delta Table.")
    if (Fs.exists(spark, d) && !claimableShell(spark, d))
      throw new IllegalArgumentException(
        s"clone destination $d already exists — clone never " +
          "overwrites; remove it first or pick a fresh path")
    if (Fs.exists(spark, MorDelete.tombstonePath(s)))
      throw new IllegalStateException(
        s"source $s has a merge-on-read tombstone sidecar; its logical " +
          "content depends on key columns — run MorDelete.compact(...) " +
          "first, then clone")
    require(asOfBatch.isEmpty || keyCols.nonEmpty,
      "an as-of clone reconstructs through the change feed and needs " +
        "the table's merge keys")

    // CLAIM dst (step 1 of the scaladoc contract): the shell + lock
    // make this clone the path's only creator. A dst that is ABSENT
    // while swap artifacts exist (aside shell or staged clone) is
    // another clone's commit mid-swap — or its crash debris — and the
    // unconditional mkdirs below would re-create the mid-swap-absent
    // root out from under that clone's rename (the same shell-root
    // hazard Txn.tryCreate refuses on absent table roots). Refuse;
    // once the crashed run's claim ages past the lock timeout,
    // Maintenance.vacuum completes (or rolls back) the commit and the
    // path is usable again. A PRESENT shell beside a stale tmp is a
    // clone that crashed BEFORE its swap — the acquire below
    // arbitrates it (breaks a stale claim, refuses a live one) and
    // the retry restages from scratch.
    if (!Fs.exists(spark, d) &&
        (Fs.exists(spark, d + "__graft_old") ||
         Fs.exists(spark, d + "__graft_tmp")))
      throw new ConcurrentWriteException(
        s"another clone to $d is committing (or crashed mid-swap " +
          "and left artifacts) — retry, or run Maintenance.vacuum " +
          "on the destination (it resolves the crashed commit once " +
          "the crashed run's claim ages out)")
    val dp = new org.apache.hadoop.fs.Path(d)
    Fs.fileSystem(spark, dp).mkdirs(dp)
    val token =
      try Txn.acquire(spark, d, "CLONE")
      catch {
        case _: ConcurrentWriteException =>
          throw new ConcurrentWriteException(
            s"another writer is creating $d (clone claim held) — two " +
              "clones to one destination would interleave; retry " +
              "against the completed table or pick a fresh path")
      }
    val tmp = d + "__graft_tmp"
    try {
      // RE-validate under the claim: the pre-claim checks raced — a
      // concurrent clone may have COMPLETED between our probe and our
      // acquire, and "clone never overwrites" must hold against the
      // finished table, not the stale probe
      if (!claimableShell(spark, d))
        throw new IllegalArgumentException(
          s"clone destination $d already exists — clone never " +
            "overwrites; remove it first or pick a fresh path")
      Fs.deleteChecked(spark, tmp) // a crashed prior attempt's staging
      val parts = GraftLog.lastPartitioning(spark, s)
      val content = asOfBatch match {
        case Some(b) => Merge.readAsOf(spark, storage, s, keyCols, b)
        case None => storage.read(s, "delta")
      }
      // stage through the managed write path: tmp gets its own fresh
      // op log; tmp is not managed until this write completes, so no
      // constraints gate it (the carried ones are validated below)
      storage.write(content, tmp, "delta", "overwrite", parts)
      // an EMPTY snapshot (e.g. the source was fully emptied by a
      // delete-all and reads via its schema sidecar) writes zero
      // parquet files — record the schema at the clone too, or the
      // clone is a managed table no reader can infer
      if (Fs.dataFiles(spark, tmp).isEmpty)
        Fs.writeText(spark, GraftLog.schemaSidecar(tmp),
          content.schema.json)
      val srcConstraints = s + "/" + Constraints.DirName
      if (Fs.exists(spark, srcConstraints)) {
        Fs.copyDirChecked(spark, srcConstraints,
          tmp + "/" + Constraints.DirName)
        // re-validate against the STAGED frame (see the class doc:
        // the constraints snapshot postdates the data snapshot)
        try Constraints.validateIncoming(spark,
          storage.read(tmp, "delta"), tmp)
        catch {
          case e: ConstraintViolationException =>
            throw new IllegalStateException(
              s"clone of $s refused: the source's constraints were " +
                "captured after the cloned data snapshot and the " +
                s"snapshot violates them (${e.getMessage}) — the " +
                "source changed its contract mid-clone; retry", e)
        }
      }
      GraftLog.append(spark, tmp, "CLONE", parts,
        Some(ProvenanceApp + s -> asOfBatch.getOrElse(-1L)))
      // COMMIT (step 3): the claim lock rides into the staged root so
      // dst stays claimed through the swap; release() drops it last
      Fs.writeText(spark, tmp + "/" + Txn.LockFileName,
        Fs.readText(spark, Txn.lockPath(d)))
      val old = d + "__graft_old"
      Fs.deleteChecked(spark, old)
      Fs.renameChecked(spark, d, old)
      Fs.renameChecked(spark, tmp, d)
      Fs.deleteChecked(spark, old)
    } catch {
      case e: Throwable =>
        // a refused clone leaves NO trace: staging gone, and the
        // shell too unless the swap already made dst a real table
        // (then the failure was post-commit bookkeeping — keep it).
        // The shell is deleted only while OUR token is in its lock:
        // if another clone has since re-claimed the path (we lost a
        // race somewhere), deleting "the shell" would destroy THEIR
        // live claim.
        try {
          Fs.deleteChecked(spark, tmp)
          val ownShell = !GraftLog.isManagedTable(spark, d) &&
            (try Fs.readText(spark, Txn.lockPath(d)).linesIterator
              .nextOption().contains(token)
             catch { case scala.util.control.NonFatal(_) => false })
          if (ownShell) Fs.deleteChecked(spark, d)
        } catch { case scala.util.control.NonFatal(_) => () }
        throw e
    } finally Txn.release(spark, d, token)
  }

  /** True when `d` is a re-claimable EMPTY SHELL: a dir holding
    * NOTHING but (at most) a crashed clone's claim lock — no data, no
    * subdirs, no op log, no other file of any kind. Anything else —
    * including a real-but-empty parquet output whose only content is
    * a `_SUCCESS` marker — is a real occupant: refused, never
    * overwritten. */
  private def claimableShell(spark: SparkSession, d: String): Boolean =
    !GraftLog.isManagedTable(spark, d) &&
      (try Fs.listSubdirs(spark, d).isEmpty &&
           Fs.listFiles(spark, d).forall(_ == Txn.LockFileName)
       catch { case scala.util.control.NonFatal(_) => false })
}
