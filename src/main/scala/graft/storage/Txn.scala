package graft.storage

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** A table mutation raced another writer's in-flight commit, or was
  * planned against a table state another writer has since replaced.
  * ALWAYS safe to retry from the top (re-read, re-plan, re-commit):
  * the refused mutation touched nothing. */
class ConcurrentWriteException(msg: String) extends RuntimeException(msg)

/** The specific [[ConcurrentWriteException]] thrown when an op-log
  * fingerprint check ([[Txn.assertUnchanged]]) found another writer's
  * commit landed mid-flow. Distinguished from the base class so
  * op-log-TRIGGERED maintenance loops can treat exhausted retries as
  * "superseded — the winning commit's own op-log append fires the
  * next trigger, which redoes this work against the new state"
  * instead of a stream-killing failure; every other concurrency
  * refusal (lock-wait timeout on a possibly-crashed holder, bootstrap
  * races) stays loud. The winning commit's log file can never be part
  * of the micro-batch that lost to it (it landed after that batch's
  * file set was fixed), so the follow-up trigger is guaranteed. */
class StaleSnapshotException(msg: String)
  extends ConcurrentWriteException(msg)

/** Fingerprint of a managed table's op log at one instant — the
  * cheap "has anyone committed since I read?" check for caller-level
  * read-modify-write flows (see [[Txn.snapshot]]). The op log is
  * append-only and every mutation appends at least one row, so a
  * changed (entries, maxSeq) pair ⟺ a committed mutation. */
case class OpLogSnapshot(entries: Long, maxSeq: Long)

/** Per-table mutual exclusion for managed-table mutations — the
  * engine's answer to the SILENT LOST UPDATE: without it, two
  * concurrent mutations both read the same base, both rewrite, and
  * the second swap replaces the first writer's committed table with
  * a result computed as if that commit never happened — no error
  * anywhere, one merge's rows simply gone. Every mutating entry point
  * (merge, delete, MoR delete/compact, restore, optimize, WAP
  * publish, managed overwrite/append, feed prune) now runs inside
  * [[withTableLock]], so a concurrent attempt is refused LOUDLY with
  * [[ConcurrentWriteException]] (or waits, with
  * `spark.graft.txnLockWaitMs`) instead of corrupting history.
  *
  * Mechanics: one `_graft_txn_lock` file inside the table root,
  * taken with an atomic create-if-absent (so a root that is
  * mid-commit-swap — briefly absent — can never be re-created as an
  * empty shell under the live writer's rename). The lock is only as
  * strong as that primitive, so acquisition REFUSES on filesystem
  * schemes not known to provide it (see [[AtomicSchemesKey]] — S3A's
  * create(overwrite=false) is a non-atomic HEAD-then-PUT).
  * Underscore-named ⇒ invisible to parquet scans; READS never lock.
  * The swap helpers ([[GraftLog.carryLogAndSwap]] /
  * [[GraftLog.overwriteSwap]]) carry the lock file into the staged
  * root, so the table stays locked through the swap and the final
  * marker/op-log writes — released only by [[release]] (token-checked:
  * a holder never deletes a lock a breaker has since re-taken).
  *
  * Crash contract: a writer that dies mid-mutation leaves the lock
  * behind. Lock age is judged by the FILE's modification time
  * (filesystem-authoritative — no cross-writer clock trust; files get
  * real upload times even on object stores whose directory mtimes are
  * synthetic): past `spark.graft.txnLockTimeoutMs` (default 24 h, the
  * [[Maintenance]] debris-age philosophy — correctness over
  * availability, far above any plausible mutation duration) the next
  * acquirer breaks it and proceeds, racing breakers arbitrated by the
  * atomic create. `Maintenance.vacuum` sweeps stale locks on the same
  * horizon; [[breakLock]] is the explicit operator override.
  *
  * What this does NOT give: cross-table transactions, or full
  * MVCC-style concurrent readers of in-flight state (readers always
  * see the last complete table — the swap discipline's existing
  * guarantee). A completed commit swap DELETES the root (or the
  * partition copies) it replaced, so old versions are not kept
  * beside the table: a lock-free read that lands in a swap window
  * dies transiently and retries against the LIVE root through
  * [[retryTransient]], which [[isSwapWindowRace]] classifies. A read
  * longer than the gap between a hot writer's commits can exhaust
  * those retries; isolation for such reads belongs to a versioned
  * log, not to sibling copies of replaced roots. */
object Txn {

  val LockFileName = "_graft_txn_lock"

  /** Age past which a lock is presumed crashed debris and may be
    * broken by the next acquirer (and swept by vacuum). */
  val LockTimeoutKey = "spark.graft.txnLockTimeoutMs"
  val LockTimeoutDefaultMs: Long = 24L * 60 * 60 * 1000

  /** How long an acquirer waits for a LIVE lock before refusing.
    * Default 0: fail fast — the caller decides whether to retry
    * (mutations refused by the lock touched nothing). */
  val LockWaitKey = "spark.graft.txnLockWaitMs"
  val LockWaitDefaultMs: Long = 0L

  /** Extra filesystem schemes the DEPLOYMENT vouches have an atomic
    * create-if-absent (comma-separated). The lock is only as strong
    * as that primitive, and most object-store connectors do NOT have
    * it by default — S3A's `create(overwrite = false)` is a
    * HEAD-then-PUT, so two writers can both "win" — which is
    * precisely the silent double-acquire this lock exists to prevent.
    * Rather than pretend, [[acquire]] REFUSES on schemes not known
    * atomic unless they are vouched for here (e.g. `s3a` on
    * Hadoop 3.4.1+ with S3 conditional writes enabled —
    * `fs.s3a.create.conditional.enabled` — or a store-backed Hadoop
    * FS whose create is server-side conditional). */
  val AtomicSchemesKey = "spark.graft.txnLockAtomicSchemes"

  /** Schemes whose create-if-absent is atomic WITHOUT deployment
    * vouching: the local FS (taken via NIO O_CREAT|O_EXCL — see
    * [[tryCreate]]) and HDFS (namenode-arbitrated create, atomic
    * server-side; viewfs is a client-side mount table over it). */
  private val KnownAtomicSchemes = Set("file", "hdfs", "viewfs")

  private val PollMs = 100L

  def lockPath(tablePath: String): String =
    tablePath.stripSuffix("/") + "/" + LockFileName

  /** Run `body` holding the table's commit lock. No-op passthrough
    * for paths that are not (yet) managed tables — a first write has
    * no committed state to lose, and the lock file needs a root to
    * live in. NOT reentrant: a mutation must never call another
    * locking mutation on the same table (none does — verified at each
    * wiring site). */
  def withTableLock[T](spark: SparkSession, path: String, op: String)
      (body: => T): T = {
    val base = path.stripSuffix("/")
    if (!GraftLog.isManagedTable(spark, base)) body
    else {
      val token = acquire(spark, base, op)
      try {
        // a crashed partition-scoped commit ([[PartitionSwap]]) may
        // have left partitions parked in the table's aside sibling.
        // EVERY locked mutation heals first: a rewrite computed from
        // the un-healed table would silently miss the parked rows,
        // and an overwrite that skipped the heal would leave an aside
        // behind to resurrect stale partitions into the NEW table at
        // the next heal. One exists-check when there is no aside.
        PartitionSwap.heal(spark, base)
        try body
        catch {
          // an IN-PROCESS failure mid-partition-swap (a transient FS
          // error between a pair of renames) can leave a partition
          // parked in the aside; heal it NOW, while we still hold the
          // lock — the documented reader-visible gap is a trade only
          // process DEATH forces, not a caught exception
          case e: Throwable =>
            try PartitionSwap.heal(spark, base)
            catch { case scala.util.control.NonFatal(_) => () }
            throw e
        }
      } finally release(spark, base, token)
    }
  }

  /** Take the lock or throw [[ConcurrentWriteException]]. Returns the
    * holder token [[release]] needs.
    *
    * Stale-lock breaking is CONDITIONED on the observed incarnation:
    * the delete runs only after an immediate re-stat confirms the
    * same (stale) mtime, so a breaker acting on an observation from a
    * poll-loop iteration ago cannot delete a FRESH lock another
    * breaker has since taken; and any acquire that broke a lock
    * verifies its own token is in the file after the create, catching
    * the symmetric delete-after-our-create interleaving. What remains
    * is two breakers interleaving stat→delete→create within
    * microseconds of each other on a lock that was already ≥ a full
    * timeout stale — down from "any two pollers of a stale lock WILL
    * collide" to a double-µs-window coincidence on a 24-hour-old
    * corpse. */
  private[storage] def acquire(spark: SparkSession, base: String,
                               op: String): String = {
    val timeoutMs = confMs(spark, LockTimeoutKey, LockTimeoutDefaultMs)
    val waitMs = confMs(spark, LockWaitKey, LockWaitDefaultMs)
    val token = java.util.UUID.randomUUID().toString
    val lp = new Path(lockPath(base))
    val fs = Fs.fileSystem(spark, lp)
    requireAtomicCreate(spark, fs, base)
    val deadline = System.currentTimeMillis() + waitMs
    var statMisses = 0
    var breakAttempts = 0
    var brokeOne = false
    while (true) {
      if (tryCreate(fs, lp, s"$token\n$op")) {
        if (!brokeOne) return token
        // we broke a stale lock this acquire: another breaker's
        // unconditioned window could have deleted OUR fresh create —
        // confirm ownership once before proceeding
        val owned =
          try Fs.readText(spark, lockPath(base)).linesIterator
            .nextOption().contains(token)
          catch { case scala.util.control.NonFatal(_) => false }
        if (owned) return token
        // lost the post-break race — contend again from scratch
      } else {
        // the lock exists (or the create transiently failed): age it
        // by file mtime — stat can race the holder's release, so a
        // vanished lock just retries the create
        val st0 =
          try fs.getFileStatus(lp)
          catch { case _: java.io.FileNotFoundException => null }
        if (st0 == null) {
          statMisses += 1
          if (statMisses > 100)
            throw new java.io.IOException(
              s"cannot create or stat $lp after $statMisses attempts")
        } else {
          val ageMs = System.currentTimeMillis() - st0.getModificationTime
          if (ageMs > timeoutMs) {
            // crashed holder: break and retry. Capped — a lock that
            // cannot be deleted (foreign owner, ACL) must surface as
            // an error, not a silent driver hot-spin
            breakAttempts += 1
            if (breakAttempts > 50)
              throw new java.io.IOException(
                s"cannot break stale commit lock $lp after " +
                  s"$breakAttempts attempts — likely an ACL/ownership " +
                  "problem; remove it out-of-band")
            try {
              // bind the delete to THIS incarnation (see scaladoc)
              val st1 = fs.getFileStatus(lp)
              if (st1.getModificationTime == st0.getModificationTime) {
                fs.delete(lp, false)
                brokeOne = true
              }
            } catch {
              case _: java.io.FileNotFoundException => () // already broken
              case scala.util.control.NonFatal(_) => Thread.sleep(PollMs)
            }
          } else if (System.currentTimeMillis() < deadline) {
            Thread.sleep(PollMs)
          } else {
            val holderOp =
              try Fs.readText(spark, lockPath(base)).linesIterator
                .drop(1).nextOption().getOrElse("?")
              catch { case scala.util.control.NonFatal(_) => "?" }
            throw new ConcurrentWriteException(
              s"cannot $op $base: another writer's $holderOp holds the " +
                s"commit lock (age ${ageMs} ms). Retry when it " +
                s"completes, set $LockWaitKey to wait, or — if the " +
                s"holder crashed — break via Txn.breakLock / a lower " +
                s"$LockTimeoutKey / Maintenance.vacuum")
          }
        }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Refuse to even attempt the lock on a filesystem whose
    * create-if-absent is not known atomic: a lock that can be won by
    * two writers at once is worse than no lock (it REPORTS mutual
    * exclusion it does not provide — the silent lost update returns
    * wearing a safety badge). The builder of this engine observed
    * exactly that on Hadoop's LOCAL filesystem (exists-then-open) and
    * took the NIO path; the same skepticism applies to object
    * stores — S3A's `create(overwrite = false)` is a HEAD-then-PUT,
    * non-atomic under concurrency. Deployments with a real
    * conditional create ([[AtomicSchemesKey]]) opt their scheme in. */
  private def requireAtomicCreate(spark: SparkSession,
                                  fs: org.apache.hadoop.fs.FileSystem,
                                  base: String): Unit = {
    val scheme = Option(fs.getScheme).map(_.toLowerCase).getOrElse("")
    val vouched = spark.conf.getOption(AtomicSchemesKey)
      .map(_.split(",").map(_.trim.toLowerCase).filter(_.nonEmpty).toSet)
      .getOrElse(Set.empty[String])
    if (!KnownAtomicSchemes.contains(scheme) && !vouched.contains(scheme))
      throw new UnsupportedOperationException(
        s"cannot take the commit lock for $base: filesystem scheme " +
          s"'$scheme' is not known to provide an atomic " +
          "create-if-absent, so the lock could be double-acquired and " +
          "would report a mutual exclusion it does not provide (on " +
          "S3A, create(overwrite=false) is a HEAD-then-PUT — two " +
          "writers can both win). If this deployment has a true " +
          "conditional create (e.g. Hadoop 3.4.1+ with " +
          "fs.s3a.create.conditional.enabled), vouch for the scheme " +
          s"via $AtomicSchemesKey=$scheme")
  }

  /** Atomic create-if-absent of the lock file. False ⟺ it exists
    * (or the FS transiently refused — the caller re-stats either
    * way). A mid-swap ABSENT table root refuses loudly rather than
    * auto-creating a shell root under the live writer's rename.
    *
    * The LOCAL filesystem gets NIO `Files.createFile`
    * (O_CREAT|O_EXCL — a true atomic test-and-set): Hadoop's
    * `RawLocalFileSystem.create(overwrite = false)` is an
    * exists-check THEN a plain open, so two same-host writers racing
    * it can BOTH "win" the lock — observed under load, exactly the
    * double-acquire this lock exists to prevent. HDFS keeps
    * `createNonRecursive` (namenode-arbitrated, atomic server-side);
    * any OTHER scheme was already gated by [[requireAtomicCreate]] —
    * reaching this path means the deployment vouched that its
    * create-if-absent is conditional server-side.
    *
    * Either branch deletes its own just-created file when the
    * CONTENT write fails (disk full, kill between create and write):
    * an empty lock no one owns would otherwise refuse every mutation
    * on the table until the 24 h timeout. */
  private def tryCreate(fs: org.apache.hadoop.fs.FileSystem, lp: Path,
                        content: String): Boolean =
    if (fs.getScheme == "file")
      try {
        val p = java.nio.file.Paths.get(lp.toUri.getPath)
        java.nio.file.Files.createFile(p)
        try java.nio.file.Files.write(p,
          content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        catch { case e: Throwable =>
          try java.nio.file.Files.deleteIfExists(p)
          catch { case _: Throwable => () }
          throw e
        }
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: java.nio.file.NoSuchFileException =>
          throw new ConcurrentWriteException(
            s"cannot lock ${lp.getParent}: the table root is absent — " +
              "another writer's commit swap is in flight (or the table " +
              "was dropped); retry")
      }
    else try {
      val out =
        try fs.createNonRecursive(lp, false, 4096, 1.toShort,
          fs.getDefaultBlockSize(lp), null)
        catch {
          case _: UnsupportedOperationException =>
            // FS without createNonRecursive: guard the parent by hand
            // (non-atomic, but only reached on schemes the deployment
            // explicitly vouched for)
            if (!fs.exists(lp.getParent))
              throw new java.io.FileNotFoundException(lp.getParent.toString)
            fs.create(lp, false)
        }
      try {
        try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
      } catch { case e: Throwable =>
        try fs.delete(lp, false) catch { case _: Throwable => () }
        throw e
      }
      true
    } catch {
      case _: java.io.FileNotFoundException =>
        throw new ConcurrentWriteException(
          s"cannot lock ${lp.getParent}: the table root is absent — " +
            "another writer's commit swap is in flight (or the table " +
            "was dropped); retry")
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      case _: java.io.IOException => false
    }

  /** Atomic create-if-absent of an arbitrary engine sidecar file
    * (the [[MaintainerLease]]), with the same scheme gating as the
    * commit lock — a lease that two maintainers can both win would
    * report an exclusivity it does not provide. */
  private[storage] def tryCreateFile(spark: SparkSession,
                                     fs: org.apache.hadoop.fs.FileSystem,
                                     lp: Path, content: String): Boolean = {
    requireAtomicCreate(spark, fs, lp.getParent.toString)
    tryCreate(fs, lp, content)
  }

  /** Drop the lock IF this holder still owns it. A breaker may have
    * re-taken a stale lock; deleting THEIR token would unlock their
    * in-flight mutation — so the token must match. Failures are
    * swallowed: lock debris ages out, a failed release must never
    * mask the mutation's own result. */
  private[storage] def release(spark: SparkSession, base: String,
                               token: String): Unit =
    try {
      val lp = lockPath(base)
      if (Fs.exists(spark, lp) &&
          Fs.readText(spark, lp).linesIterator.nextOption().contains(token))
        Fs.deleteChecked(spark, lp)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Operator override: unconditionally remove the lock (crashed
    * holder confirmed out-of-band). True when a lock was removed. */
  def breakLock(spark: SparkSession, path: String): Boolean = {
    val lp = lockPath(path.stripSuffix("/"))
    if (!Fs.exists(spark, lp)) false
    else { Fs.deleteChecked(spark, lp); true }
  }

  /** (holder op, age ms) of the current lock, for diagnostics and the
    * vacuum sweep. None when unlocked. */
  def heldBy(spark: SparkSession, path: String): Option[(String, Long)] = {
    val lp = new Path(lockPath(path.stripSuffix("/")))
    val fs = Fs.fileSystem(spark, lp)
    try {
      val st = fs.getFileStatus(lp)
      val op =
        try Fs.readText(spark, lp.toString).linesIterator
          .drop(1).nextOption().getOrElse("?")
        catch { case scala.util.control.NonFatal(_) => "?" }
      Some((op, System.currentTimeMillis() - st.getModificationTime))
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Fingerprint the table's op log for a caller-level
    * read-modify-write: snapshot, read, compute OUTSIDE any lock,
    * then [[assertUnchanged]] inside the mutation (or before it) to
    * refuse committing a plan built on a state someone else has since
    * replaced. The in-engine mutations don't need it — they re-read
    * the base under their own lock — but a pipeline that collects
    * table state to the driver, decides, and writes back does. */
  def snapshot(spark: SparkSession, path: String): OpLogSnapshot = {
    val base = path.stripSuffix("/")
    if (!GraftLog.isManagedTable(spark, base)) OpLogSnapshot(0L, 0L)
    else {
      val recs = GraftLog.records(spark, base)
      OpLogSnapshot(recs.size.toLong,
        recs.flatMap(_.seq).maxOption.getOrElse(0L))
    }
  }

  /** READ-ONLY [[snapshot]] for pollers ([[graft.streaming
    * .StreamingOps.lag]]): NEVER heals. [[snapshot]] routes through
    * [[GraftLog.isManagedTable]], whose stale-lock-gated recoverAside
    * can still RENAME a parked op log aside from a poller — e.g.
    * against a compactLog holder paused past the lock timeout —
    * making an observability poll a writer in that edge. Here the
    * probes are bare: the live log path, then its `__old` aside (a
    * compactLog swap parks the log there between its two renames —
    * some complete copy exists at every instant). A read that races
    * the swap's rename dies as a swap-window transient for the
    * caller's bounded retry; nothing is ever renamed or deleted. */
  def snapshotReadOnly(spark: SparkSession, path: String): OpLogSnapshot = {
    val base = path.stripSuffix("/")
    val lp = GraftLog.logPath(base)
    val dir =
      if (Fs.exists(spark, lp)) Some(lp)
      else if (Fs.exists(spark, lp + "__old")) Some(lp + "__old")
      else None
    dir match {
      case None => OpLogSnapshot(0L, 0L)
      case Some(d) =>
        val recs = GraftLog.readRecordsDir(spark, d)
        OpLogSnapshot(recs.size.toLong,
          recs.flatMap(_.seq).maxOption.getOrElse(0L))
    }
  }

  /** Throw [[ConcurrentWriteException]] iff the op log moved since
    * `snap` — i.e. someone committed a mutation in between. */
  def assertUnchanged(spark: SparkSession, path: String,
                      snap: OpLogSnapshot, action: String): Unit = {
    val now = snapshot(spark, path)
    if (now != snap)
      throw new StaleSnapshotException(
        s"$action planned against a stale state of $path: the op log " +
          s"moved from $snap to $now — another writer committed in " +
          "between; re-read and re-plan")
  }

  /** Spark task part-file naming (`part-00000-<uuid>…`): the data
    * files every managed root holds. `{5,}` — the padding is %05d, so
    * tasks past 99,999 (routine at the scale this engine targets)
    * widen the digit run; an exact-5 match would stop classifying
    * their genuine swap races. */
  private val PartFileRe = "part-\\d{5,}-".r

  /** Is this the transient crash of a lock-free read that landed
    * inside a concurrent COW commit's two-rename swap window (root
    * briefly absent / dir briefly empty), or listed a file a
    * concurrent log compaction / feed prune has since removed?
    * Matched on the cause chain — Spark wraps both in layers of
    * execution/streaming exceptions. Used by every lock-free
    * maintenance reader ([[MatView.refresh]], the streaming
    * replication/maintenance loops) to turn the microsecond window
    * into a bounded retry instead of a dead long-lived stream. */
  private[graft] def isSwapWindowRace(e: Throwable): Boolean = {
    val seen = scala.collection.mutable.Set[Throwable]()
    // The raw-substring shape below fires on ANY exception text, so
    // it additionally requires the message to name something the
    // ENGINE owns — a `_graft*` sidecar/log/lock/tmp segment, a
    // rename-aside suffix, or a parquet data file — before it
    // classifies. A foreign failure that merely MENTIONS a missing
    // file (an executor-side script, a user path typo inside a
    // larger job) names none of these and fails fast instead of
    // costing maxAttempts silent retries of the body.
    def enginePath(m: String): Boolean =
      m.contains("_graft") || m.contains("__tmp") ||
        m.contains("__old") ||
        // a SPARK-WRITTEN part file (the shape a data-file read
        // racing a COW swap produces — every managed root's data is
        // task part files). `.parquet` alone proved too broad: a
        // foreign job's genuinely missing parquet input — the most
        // common user-data shape there is — would cost maxAttempts
        // silent retries before surfacing, so the suffix only counts
        // alongside the task part-file naming convention
        (m.contains(".parquet") && PartFileRe.findFirstIn(m).isDefined) ||
        // Spark's own output markers live inside every managed root
        // and vanish with it mid-swap
        m.contains("_SUCCESS") || m.contains("_temporary")
    def walk(t: Throwable): Boolean =
      t != null && seen.add(t) && (
        t.isInstanceOf[java.io.FileNotFoundException] ||
          Option(t.getMessage)
            .exists(m => m.contains("UNABLE_TO_INFER_SCHEMA") ||
              m.contains("PATH_NOT_FOUND") ||
              m.contains("FILE_NOT_EXIST") ||
              // a stage-failure SparkException truncates its cause
              // chain and carries the EXECUTOR's stack only as
              // message text — an op-log footer read racing a
              // compactLog swap surfaces exactly this way
              (m.contains("java.io.FileNotFoundException") &&
                enginePath(m))) ||
          walk(t.getCause))
    walk(e)
  }

  /** Bounded retry for lock-free readers racing a writer: retries on
    * [[ConcurrentWriteException]] (a commit landed mid-read — the
    * next attempt reads the complete new state) and on
    * [[isSwapWindowRace]] transients (the table is whole again by the
    * next look). A GENUINE failure — missing source, refused input —
    * exhausts the attempts and rethrows loudly; nothing is swallowed. */
  private[graft] def retryTransient[T](maxAttempts: Int,
                                       sleepMs: Long = 200L)
                                      (body: => T): T = {
    require(maxAttempts >= 1, "maxAttempts must be >= 1")
    var attempt = 0
    while (true) {
      attempt += 1
      try return body
      catch {
        case _: ConcurrentWriteException if attempt < maxAttempts =>
          Thread.sleep(sleepMs)
        case e if attempt < maxAttempts && isSwapWindowRace(e) =>
          Thread.sleep(sleepMs)
      }
    }
    sys.error("unreachable")
  }

  /** Persist a mutation's scan of its own table WITHOUT sharing it.
    * Spark's cache manager serves a persisted plan to every query
    * whose plan contains the same subtree, so a plain `persist` of a
    * table read hands each concurrent lock-free reader of that table
    * the mutation's pre-swap state for as long as the mutation runs:
    * from blocks still cached after the swap (a state older than the
    * op log and change feed the reader sees next to it), or
    * recomputed from the files the swap deleted, so that every
    * [[retryTransient]] attempt made during the next mutation fails on
    * that mutation's cache in turn. A filter on a per-call literal
    * gives the cached plan a shape no other query has; the optimizer
    * folds it away, so the cached scan costs the same. Frames derived
    * from the returned one still hit the cache; unpersist it as
    * usual. */
  private[storage] def persistPrivate(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val tag = org.apache.spark.sql.functions.lit(
      java.util.UUID.randomUUID().toString)
    df.filter(tag === tag)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  private def confMs(spark: SparkSession, key: String, dflt: Long): Long =
    spark.conf.getOption(key).map(_.toLong).getOrElse(dflt)

  /** The configured stale-lock horizon — shared with
    * [[GraftLog.isManagedTable]]'s crashed-log-swap heal, which must
    * never roll back a swap whose holder may still be alive. */
  private[graft] def lockTimeoutMs(spark: SparkSession): Long =
    confMs(spark, LockTimeoutKey, LockTimeoutDefaultMs)
}
