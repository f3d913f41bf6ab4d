package graft.storage

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Debris vacuum for swap-managed directories — tables AND index
  * roots. Every crash-safe write in the engine stages into a `__tmp`
  * (or `__graft_tmp`) dir and parks the previous generation in an
  * `__old` (or `__graft_old`) aside during the swap
  * ([[Fs.writeSwapped]]/[[Fs.swapInStaged]]/[[GraftLog]] swaps, the
  * near-dup index `inc-N` generations, COW rewrites). Readers recover
  * the crash windows they know about ([[Fs.recoverAside]],
  * [[Optimize.vacuum]] for the table-level pair), but orphaned
  * STAGING debris is by design invisible to them — it accumulates
  * until something removes it. This is that something.
  *
  * Action semantics, per debris class:
  *  - `X__tmp` / `X__graft_tmp`: staging that never renamed — pure
  *    debris, deleted. (A first-save crash leaves ONLY the tmp; the
  *    live dir never existed, so the tmp is still debris — the writer
  *    re-stages from scratch.) Exception: a table-level
  *    `<root>__graft_tmp` with the ROOT missing and a `__graft_old`
  *    aside present completes the interrupted COW swap instead
  *    ([[Optimize.vacuum]]'s recovery) — the rewrite was fully
  *    written before the swap began, and deleting it would discard
  *    the newest complete copy.
  *  - `X__old` / `X__graft_old` with X present: the swap completed;
  *    the aside is a stale pre-swap copy — deleted.
  *  - `X__old` / `X__graft_old` with X MISSING: a crash mid-swap; the
  *    aside is the ONLY complete generation — HEALED (renamed back to
  *    X), never deleted.
  *  - `X__graft_stage_<uuid>`: a WAP run's per-run stage that neither
  *    published (a publish consumes its stage) nor cleaned up (every
  *    refusal deletes it) — crash debris, deleted once AGED past the
  *    orphan horizon; younger stages may be a live audit in flight
  *    (audits hold no lock by design) and are skip-reported.
  *  - `X__graft_partaside`: a crashed partition-scoped commit's
  *    (merge / delete / scoped optimize — [[PartitionSwap]]) parked
  *    partition originals — each leaf HEALS back when its live
  *    partition dir is missing (the only complete copy), drops when
  *    the swap completed.
  *
  * Partition directories (`col=value`) are never touched even when a
  * partition VALUE happens to end in a debris suffix — any path
  * segment containing `=` is skipped, and the sweep does not descend
  * into partition dirs at all. Live data is never read, rewritten, or
  * moved; the sweep is a driver-side directory listing (metadata
  * cost).
  *
  * `dryRun = true` returns the full action plan without touching the
  * filesystem — run it first on anything you care about. Execution
  * replays the plan in order; a heal whose destination unexpectedly
  * exists fails loudly (checked rename) rather than overwriting.
  */
object Maintenance {

  /** One planned (or executed) vacuum step. `kind` is `delete` |
    * `heal` | `fence` | `compact-log` | `skip`; heals rename `target`
    * back to `dest`; compact-log folds table `dest`'s op log
    * ([[compactLog]] — planned in dry runs, executed otherwise);
    * fences record a change-barrier horizon on table `target` at the
    * stamp in `dest` (orphaned change batches get fenced before
    * removal); skips are report-only (a marker-less change batch or a
    * commit lock too young to distinguish from a live in-flight
    * mutation). A stale-commit-lock delete carries the planned lock
    * mtime in `dest` — execution re-verifies that incarnation before
    * removing. */
  final case class VacuumAction(kind: String, target: String,
                                dest: String, detail: String)

  private def delete(target: String, detail: String) =
    VacuumAction("delete", target, "", detail)
  private def heal(target: String, dest: String, detail: String) =
    VacuumAction("heal", target, dest, detail)

  private val TmpSuffixes = Seq("__graft_tmp", "__tmp")
  private val OldSuffixes = Seq("__graft_old", "__old")

  /** Minimum AGE (wall-clock ms, derived from the batch stamp) a
    * marker-less change batch must reach before the orphan sweep may
    * fence and delete it. A marker-less batch is EITHER a crashed
    * capture OR a live one mid-flight (the `_commit` marker lands
    * only after the data rewrite — [[Merge.ChangesCommitMarker]]);
    * the two are indistinguishable by inspection, so the sweep
    * separates them by age: an in-flight capture is at most one
    * merge-duration old, while real crash debris persists. Sweeping a
    * LIVE capture is the one silent-divergence path in the engine —
    * the merge would commit its rewrite and touch a marker into a
    * now-gone dir, and `replicateStream` would permanently skip that
    * merge's changes with no error anywhere. The default (24 h)
    * comfortably exceeds any plausible merge duration at 100 TB;
    * override per-call or via `spark.graft.vacuumOrphanMinAgeMs`
    * (0 = sweep regardless of age — only safe when no capture can be
    * in flight). */
  val OrphanMinAgeKey = "spark.graft.vacuumOrphanMinAgeMs"
  val OrphanMinAgeDefaultMs = 24L * 60 * 60 * 1000

  def vacuum(spark: SparkSession, path: String,
             dryRun: Boolean = false,
             orphanMinAgeMs: Option[Long] = None): Seq[VacuumAction] = {
    val minAgeMs = orphanMinAgeMs.orElse(
      spark.conf.getOption(OrphanMinAgeKey).map(_.toLong))
      .getOrElse(OrphanMinAgeDefaultMs)
    val base = path.stripSuffix("/")
    val actions = scala.collection.mutable.Buffer[VacuumAction]()

    // --- commit-lock triage FIRST ([[Txn]]): a YOUNG lock — at the
    // live root, or inside an aside while the root is absent (a
    // writer mid-commit-swap) — is possibly a LIVE mutation whose
    // staging dirs this sweep would otherwise destroy mid-flight
    // (deleting a live writer's __graft_tmp between its two renames
    // takes the table offline until a second vacuum heals it). The
    // WHOLE vacuum defers with one skip record. A STALE lock is
    // crashed-holder debris: planned for removal (re-verified at
    // execute time — a writer may break and re-take it in between)
    // and the sweep proceeds.
    val lockTimeoutMs = spark.conf.getOption(Txn.LockTimeoutKey)
      .map(_.toLong).getOrElse(Txn.LockTimeoutDefaultMs)
    val lockCandidates =
      Txn.lockPath(base) +: OldSuffixes.map(suf =>
        Txn.lockPath(base + suf))
    val liveLock = lockCandidates.flatMap { p =>
      val lp = new Path(p)
      val lfs = Fs.fileSystem(spark, lp)
      try {
        val st = lfs.getFileStatus(lp)
        val ageMs = System.currentTimeMillis() - st.getModificationTime
        Some((p, ageMs, st.getModificationTime))
      } catch { case _: java.io.FileNotFoundException => None }
    }
    liveLock.find(_._2 <= lockTimeoutMs).foreach { case (p, age, _) =>
      return Seq(VacuumAction("skip", p, "",
        s"commit lock age $age ms within the $lockTimeoutMs ms " +
          "timeout — possibly a live mutation whose staging this " +
          "sweep would destroy; the whole vacuum is deferred"))
    }
    liveLock.filter(_._1 == Txn.lockPath(base)).foreach {
      case (p, age, mtime) =>
        actions += VacuumAction("delete", p, mtime.toString,
          s"stale commit lock (age $age ms > $lockTimeoutMs ms " +
            "timeout — holder presumed crashed)")
    }

    // --- orphaned WAP stages: write-audit-publish stages into a
    // per-run sibling `<base>__graft_stage_<uuid>`
    // ([[WriteAuditPublish.StagePrefix]]); a successful publish
    // CONSUMES the stage and every refusal deletes it, so a surviving
    // stage is a crashed run — OR a live audit in flight (WAP audits
    // hold no lock by design). The two are indistinguishable by
    // inspection, so the sweep separates them by AGE, like
    // marker-less change batches: aged by the newest FILE inside
    // (file mtimes are upload-authoritative even where directory
    // mtimes are synthetic), dir mtime for an empty stage.
    {
      val basePath = new Path(base)
      val pfs = Fs.fileSystem(spark, basePath)
      val parent = basePath.getParent
      val stageNamePrefix =
        basePath.getName + WriteAuditPublish.StagePrefix
      if (parent != null && pfs.exists(parent)) {
        pfs.listStatus(parent).filter(st => st.isDirectory &&
            st.getPath.getName.startsWith(stageNamePrefix))
          .foreach { st =>
            // newest FILE inside; the dir's own mtime only for an
            // empty stage (object-store dir mtimes are synthetic and
            // could read as "now" forever — a never-aging orphan).
            // The walk tolerates the stage VANISHING mid-listing — a
            // live WAP run consuming (publish) or cleaning (refusal)
            // it between the parent listStatus and here is normal
            // churn, and aborting the whole vacuum over it would skip
            // every heal planned after this point. A vanished or
            // churning stage reads as "someone owns it": skip-aged.
            var newest = -1L
            try {
              val it = pfs.listFiles(st.getPath, true)
              while (it.hasNext) {
                val f = it.next()
                if (f.getModificationTime > newest)
                  newest = f.getModificationTime
              }
            } catch {
              case scala.util.control.NonFatal(_) =>
                newest = System.currentTimeMillis()
            }
            if (newest < 0) newest = st.getModificationTime
            val age = System.currentTimeMillis() - newest
            if (minAgeMs <= 0 || age > minAgeMs)
              actions += delete(st.getPath.toString,
                s"orphaned WAP stage (age $age ms — the run that " +
                  "owned it is gone; publishes consume their stage)")
            else
              actions += VacuumAction("skip", st.getPath.toString, "",
                s"WAP stage age $age ms within the $minAgeMs ms " +
                  "orphan horizon — possibly a live audit; left for " +
                  "a later vacuum")
          }
      }
    }

    // --- interrupted partition-scoped commit ([[PartitionSwap]] —
    // merge, delete, or scoped optimize): each leaf of
    // `<base>__graft_partaside` is a partition's ORIGINAL copy parked
    // mid-swap. Live dir missing ⟹ the crash hit between the two
    // renames — the aside is the only complete copy, restore it; live
    // dir present ⟹ that swap completed — the aside is a stale
    // pre-swap copy. No age gate: the aside exists only under the
    // commit lock, and a young lock already deferred this sweep, so
    // reaching here means the owner crashed.
    {
      // a RETIRED aside (renamed at the commit point, delete
      // interrupted) is pure debris at any age — swept, never healed
      val consumed = PartitionSwap.consumedPath(base)
      if (Fs.exists(spark, consumed))
        actions += delete(consumed,
          "retired partition-swap aside (commit completed; its " +
            "delete was interrupted)")
      val partAside = PartitionSwap.asidePath(base)
      if (Fs.exists(spark, partAside)) {
        // BORN partitions first (PartitionSwap.heal's rule): a
        // partition the crashed mutation CREATED has no parked
        // original and must not survive the rollback — deleting the
        // aside below would otherwise destroy the only record while
        // the dir keeps serving a moved row twice
        PartitionSwap.bornParts(spark, partAside).foreach { rel =>
          val live = base + "/" + rel
          if (Fs.exists(spark, live))
            // kind "delete-born" (dest = the aside): the execute loop
            // re-verifies the aside STILL exists before deleting —
            // this is the one planned action that removes live table
            // paths, and a retried mutation healing + committing a
            // NEW partition under the same name between plan and
            // execute would otherwise lose committed data silently
            // (the aside's continued existence is exactly heal's own
            // safety condition). Every other aside action fails
            // loudly if raced (renameChecked), which is enough there.
            actions += VacuumAction("delete-born", live, partAside,
              "partition born by the crashed (uncommitted) " +
                "partition-scoped commit — rolled back with its " +
                "parked siblings")
        }
        PartitionSwap.asideLeaves(spark, partAside).foreach {
          case (leaf, rel) =>
            val live = base + "/" + rel
            if (!Fs.exists(spark, live))
              actions += heal(leaf, live,
                "interrupted partition-scoped commit — restoring the " +
                  "partition's parked original")
            else
              actions += delete(leaf,
                "partition-swap aside whose swap completed")
        }
        actions += delete(partAside, "partition-swap aside root")
      }
    }

    // --- root-level siblings (`<base>__graft_tmp`, `<base>__old`, …)
    if (!Fs.exists(spark, base)) {
      val graftTmp = base + "__graft_tmp"
      val graftOld = base + "__graft_old"
      // the one case where a tmp is NOT debris: a fully-staged COW
      // rewrite whose swap crashed between the two renames
      val completable =
        Fs.exists(spark, graftOld) && Fs.exists(spark, graftTmp)
      if (completable) {
        actions += heal(graftTmp, base,
          "completing interrupted COW swap (rewrite fully staged)")
        actions += delete(graftOld, "superseded by the completed swap")
      }
      var healed = completable
      OldSuffixes.foreach { suf =>
        val aside = base + suf
        if (Fs.exists(spark, aside) &&
            !(completable && suf == "__graft_old")) {
          if (!healed) {
            actions += heal(aside, base,
              "crash mid-swap left no live root — restoring the aside")
            healed = true
          } else
            actions += delete(aside, "root already restored")
        }
      }
      TmpSuffixes.foreach { suf =>
        val tmp = base + suf
        if (Fs.exists(spark, tmp) && !(completable && suf == "__graft_tmp"))
          actions += delete(tmp, "staging that never renamed")
      }
    } else {
      OldSuffixes.map(base + _).filter(Fs.exists(spark, _)).foreach(p =>
        actions += delete(p, "stale pre-swap copy (live root present)"))
      TmpSuffixes.map(base + _).filter(Fs.exists(spark, _)).foreach(p =>
        actions += delete(p, "staging that never renamed"))

      // --- interior sweep: sidecar/generation debris inside the root
      val fs = Fs.fileSystem(spark, new Path(base))
      def sweep(dir: Path): Unit = {
        val children = fs.listStatus(dir).filter(_.isDirectory)
        val names = children.map(_.getPath.getName).toSet
        children.foreach { st =>
          val name = st.getPath.getName
          if (!name.contains("=")) { // never touch partition dirs
            if (TmpSuffixes.exists(name.endsWith))
              actions += delete(st.getPath.toString,
                "staging that never renamed")
            else if (OldSuffixes.exists(name.endsWith)) {
              val live = OldSuffixes.foldLeft(name)(_ stripSuffix _)
              if (names.contains(live))
                actions += delete(st.getPath.toString,
                  "stale pre-swap copy (live sidecar present)")
              else
                actions += heal(st.getPath.toString,
                  new Path(dir, live).toString,
                  s"crash mid-swap left no live $live — restoring")
            } else sweep(st.getPath) // live dir: descend
          }
        }
      }
      sweep(new Path(base))

      // --- orphaned change batches: a batch dir with NO commit
      // marker is a crashed capture (its data rewrite may or may not
      // have landed — unknowable). Deleting it alone would let
      // readAsOf silently reconstruct across the gap, so the sweep
      // records a barrier at the orphan's stamp FIRST (travel below
      // refuses; at-and-after serves from retained history — correct
      // for both crash sides), then removes the dir. GUARDED against
      // live captures: a marker-less batch is also what an IN-FLIGHT
      // merge/delete looks like mid-rewrite (marker lands last by
      // design), and sweeping one would make the committed merge's
      // changes invisible to replicateStream forever — silent replica
      // divergence, the failure class the rest of the engine turns
      // into loud refusals. The batch stamp is wall-clock-anchored
      // ([[Merge.nextBatchStamp]], nanos-of-epoch scale), so age is
      // readable from the name: only batches older than the
      // [[OrphanMinAgeKey]] horizon are treated as crash debris;
      // younger ones are reported (kind `skip`) and left for a later
      // vacuum. The skip entries keep the report honest — a vacuum
      // that silently ignored young orphans would read as "clean".
      val changes = new Path(base, Merge.ChangesDirName)
      if (fs.exists(changes)) {
        val batchDirs = fs.listStatus(changes).filter(_.isDirectory)
          .map(_.getPath).filter(_.getName.startsWith("batch="))
        val markerless = batchDirs.filter(p =>
          !fs.exists(new Path(p, Merge.ChangesCommitMarker)))
        val cutoffNanos =
          (System.currentTimeMillis() - minAgeMs) * 1000000L
        // minAge 0 means "sweep regardless of age" LITERALLY: the
        // strict-< against a same-millisecond cutoff would still skip
        // a batch stamped in the current millisecond (nextBatchStamp's
        // monotonic bump can sit at-or-above wall clock), turning the
        // documented forced sweep into a timing flake
        val (orphans, inFlight) =
          if (minAgeMs <= 0) (markerless, Array.empty[Path])
          else markerless.partition(
            _.getName.stripPrefix("batch=").toLong < cutoffNanos)
        inFlight.foreach { p =>
          val stamp = p.getName.stripPrefix("batch=").toLong
          actions += VacuumAction("skip", p.toString, stamp.toString,
            s"marker-less change batch $stamp younger than the " +
              s"$minAgeMs ms orphan horizon — possibly a live " +
              "capture; left for a later vacuum")
        }
        orphans.foreach { p =>
          val stamp = p.getName.stripPrefix("batch=").toLong
          actions += VacuumAction("fence", base, stamp.toString,
            s"orphaned change batch $stamp (no commit marker) — " +
              "fencing travel at its stamp before removal")
          actions += delete(p.toString,
            s"orphaned change batch $stamp (no commit marker)")
        }
        // an emptied feed dir would break the next changeFeed read
        // (no parquet to infer a schema from) — same cleanup as
        // pruneChangeFeed's full-prune branch
        if (orphans.nonEmpty && orphans.length == batchDirs.length)
          actions += delete(changes.toString,
            "change feed emptied by the orphan sweep")
      }
    }

    // --- opportunistic log compaction (PLANNED here so a dry run
    // previews it; executed in the loop below): maintenance shouldn't
    // need a SECOND manual step nobody remembers at 100 TB — once the
    // one-file-per-commit log outgrows the threshold, the routine
    // vacuum folds it to one file
    val logThreshold = spark.conf.getOption(LogCompactThresholdKey)
      .map(_.toInt).getOrElse(LogCompactThresholdDefault)
    if (logThreshold > 0 && GraftLog.isManagedTable(spark, base)) {
      val n = Fs.listFiles(spark, GraftLog.logPath(base))
        .count(f => !f.startsWith("_") && !f.startsWith("."))
      if (n > logThreshold)
        actions += VacuumAction("compact-log", GraftLog.logPath(base),
          base, s"$n log files > threshold $logThreshold -> 1")
    }

    if (!dryRun) {
      // execute-time additions (a deferred compaction) land AFTER the
      // loop — appending to the buffer mid-foreach is undefined
      val followUps = scala.collection.mutable.Buffer[VacuumAction]()
      actions.foreach { a =>
        if (a.kind == "delete" &&
            a.target.endsWith("/" + Txn.LockFileName) && a.dest.nonEmpty) {
          // stale-lock removal re-verifies the INCARNATION at execute
          // time (planned mtime in `dest`): between planning and here
          // a writer's acquire may have broken the stale lock and
          // taken a fresh one — deleting that live lock would re-open
          // the double-holder window this sweep exists to close
          val lp = new Path(a.target)
          val lfs = Fs.fileSystem(spark, lp)
          val unchanged =
            try lfs.getFileStatus(lp).getModificationTime.toString == a.dest
            catch { case _: java.io.FileNotFoundException => false }
          if (unchanged) Fs.deleteChecked(spark, a.target)
        }
        else if (a.kind == "delete") Fs.deleteChecked(spark, a.target)
        else if (a.kind == "delete-born") {
          // born-partition rollback is conditioned on its aside (in
          // `dest`) still existing at EXECUTE time — see the planning
          // comment: without the re-check, a mutation retried between
          // plan and execute could have healed, re-run, and committed
          // a fresh partition under the same name
          if (Fs.exists(spark, a.dest)) Fs.deleteChecked(spark, a.target)
        }
        else if (a.kind == "fence")
          GraftLog.append(spark, a.target, "CHANGES_BARRIER", Nil,
            Some(Merge.ChangesBarrierApp -> a.dest.toLong))
        else if (a.kind == "heal")
          Fs.renameChecked(spark, a.target, a.dest)
        else if (a.kind == "compact-log") {
          // compactLog takes the commit lock itself; a writer that
          // grabbed it since planning turns this into a DEFERRAL in
          // the report, not an exception that discards the report of
          // the deletions/fences already executed above
          try { Maintenance.compactLog(spark, a.dest); () }
          catch {
            case _: ConcurrentWriteException =>
              followUps += VacuumAction("skip", a.target, "",
                "log compaction deferred: a concurrent writer holds " +
                  "the commit lock — the next vacuum retries")
          }
        }
        // "skip" entries are report-only by design
      }
      actions ++= followUps
      // a healed root was unsweepable when the plan was computed —
      // one more pass picks up its interior debris (terminates: the
      // root now exists, so the recursive call takes the sweep branch)
      if (actions.exists(a => a.kind == "heal" && a.dest == base))
        return actions.toSeq ++
          vacuum(spark, path, dryRun = false, orphanMinAgeMs)
    }
    actions.toSeq
  }

  /** Log-file count above which [[vacuum]] compacts the op log as
    * part of its sweep (0 disables). */
  val LogCompactThresholdKey = "spark.graft.vacuumLogCompactThreshold"
  val LogCompactThresholdDefault = 64

  /** Compact the op log into a single file. Every mutation appends
    * one one-row parquet file to `_graft_log`, and every metadata
    * read ([[GraftLog.history]] — behind [[Txn.snapshot]],
    * time-travel horizons, txn watermarks, DESCRIBE) lists and opens
    * ALL of them: after years of mutations on a 100 TB table that is
    * thousands of file opens per metadata operation. Compaction
    * rewrites the log — content, timestamps, and seq values
    * unchanged — as one file, so metadata reads go back to O(1)
    * opens. Runs under the commit lock (the log is exactly what
    * every concurrent mutation appends to); the swap is the
    * engine-standard stage + rename-aside, healed by
    * [[GraftLog.isManagedTable]] on the read side and by [[vacuum]]'s
    * generic `__old`/`__tmp` sweep. A `LOG_COMPACT` op row records
    * the maintenance event (content-invisible — classified like
    * OPTIMIZE by every consumer that filters by operation).
    *
    * Returns the number of log files replaced (0 = already compact,
    * nothing touched). */
  def compactLog(spark: SparkSession, path: String): Long = {
    val base = path.stripSuffix("/")
    if (!GraftLog.isManagedTable(spark, base))
      throw new IllegalArgumentException(
        "The given path is not a Delta Table.")
    Txn.withTableLock(spark, base, "LOG_COMPACT") {
      val lp = GraftLog.logPath(base)
      val files = Fs.listFiles(spark, lp)
        .filterNot(_.startsWith("_")).filterNot(_.startsWith("."))
      if (files.size <= 1) 0L
      else {
        val tmp = lp + "__tmp"
        Fs.deleteChecked(spark, tmp)
        // the LOG_COMPACT record rides INSIDE the compacted file (not
        // a post-swap append): the log then rests at exactly one file
        // and a second compaction is a genuine no-op
        val opRec = GraftLog.OpRec("LOG_COMPACT",
          System.currentTimeMillis() * 1000L, "",
          Some(System.nanoTime()), None, None)
        try {
          GraftLog.writeRecords(spark, tmp,
            GraftLog.readRecordsDir(spark, lp)
              .sortBy(r => (r.tsMicros, r.seq.getOrElse(Long.MinValue)))
              :+ opRec)
          Fs.swapInStaged(spark, lp, tmp)
        } catch {
          case e: Throwable =>
            // an in-process failure mid-swap must not leave the table
            // reading as unmanaged until the next read-side heal
            try { Fs.recoverAside(spark, lp); Fs.deleteChecked(spark, tmp) }
            catch { case scala.util.control.NonFatal(_) => () }
            throw e
        }
        files.size.toLong
      }
    }
  }
}
