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
  * guarantee). What readers DO get is a bounded SNAPSHOT WINDOW: a
  * completed COW swap RETAINS the replaced root as an immutable
  * sibling snapshot (`<base>__graft_snap_<millis>`) for
  * [[SnapshotRetainKey]] ms before sweeping it. A lock-free read that
  * keeps losing the live root to back-to-back swaps (a tight-loop
  * writer, where plain [[retryTransient]] can livelock — each
  * attempt's plan-to-execute span overlaps the next swap) falls back
  * to the newest retained snapshot via [[retryReadSnapshot]]: the
  * snapshot is never mutated again, so that attempt terminates, at
  * the cost of reading a state up to the retention window stale —
  * the same trade MVCC formats make, with the window explicit.
  * PARTITION-SCOPED commits ([[PartitionSwap]] — the hot write path
  * of partitioned tables) get the same window: a completed commit
  * retains its consumed aside (the pre-swap copies of every touched
  * partition) as `<base>__graft_partsnap_<millis>`, and
  * [[retryReadComposed]] overlays those immutable copies on the live
  * root's untouched partitions, pinning every contended partition to
  * a stable path across retries. */
object Txn {

  val LockFileName = "_graft_txn_lock"

  /** How long a completed COW swap's replaced root is RETAINED as an
    * immutable sibling snapshot before the sweep — the lock-free
    * reader's snapshot window (see the object doc). Size it above the
    * longest read you expect to race a hot writer; 0 disables
    * retention (the pre-snapshot delete-immediately behavior). The
    * retained copy is a RENAME of the root a rewrite had already
    * replaced, so retention adds no write cost — only delayed
    * deletion, bounded by (swap frequency × table size × window).
    * Expired snapshots sweep at the table's NEXT swap and in
    * [[Maintenance.vacuum]] — deliberately never from a read path
    * (pollers must stay pure readers). Consequence: a table's LAST
    * rewrite retains one snapshot until a later mutation or vacuum
    * reclaims it — include matured tables in the routine vacuum
    * pass, exactly as Delta's vacuum reclaims its retained files. */
  val SnapshotRetainKey = "spark.graft.cowSnapshotRetainMs"
  val SnapshotRetainDefaultMs: Long = 60000L

  /** Sibling-name infix of a retained snapshot: the creation millis
    * ride IN THE NAME so age never depends on (object-store-synthetic)
    * directory mtimes. */
  private[storage] val SnapshotInfix = "__graft_snap_"

  private[graft] def snapshotRetainMs(spark: SparkSession): Long =
    confMs(spark, SnapshotRetainKey, SnapshotRetainDefaultMs)

  /** Sibling-name infix of a retained PARTITION-SCOPED snapshot: the
    * consumed rename-aside mirror of a completed [[PartitionSwap]]
    * commit, holding the REPLACED/REMOVED partitions' pre-swap copies
    * in the mirrored hive layout. Unlike a full-root snapshot it is
    * NOT a complete table — [[composeSnapshot]] overlays it on the
    * live root's untouched partitions. Creation millis in the name,
    * like [[SnapshotInfix]]. */
  private[storage] val PartSnapInfix = "__graft_partsnap_"

  /** Retained snapshots of `path`, oldest → newest (absolute paths).
    * One parent-dir listing; empty when retention is off or nothing
    * is retained. */
  def snapshots(spark: SparkSession, path: String): Seq[String] =
    siblingSnaps(spark, path, SnapshotInfix)

  /** Retained partition-scoped snapshots (consumed PartitionSwap
    * asides), oldest → newest. */
  def partSnapshots(spark: SparkSession, path: String): Seq[String] =
    siblingSnaps(spark, path, PartSnapInfix)

  private def siblingSnaps(spark: SparkSession, path: String,
                           infix: String): Seq[String] = {
    val base = new Path(path.stripSuffix("/"))
    val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
    val parent = base.getParent
    val prefix = base.getName + infix
    if (parent == null || !fs.exists(parent)) Nil
    else fs.listStatus(parent).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
      .sortBy(st => stampOf(st.getPath.getName, infix).getOrElse(0L))
      .map(_.getPath.toString)
  }

  private[storage] def snapshotStamp(name: String): Option[Long] =
    stampOf(name, SnapshotInfix)

  private[storage] def partSnapshotStamp(name: String): Option[Long] =
    stampOf(name, PartSnapInfix)

  private def stampOf(name: String, infix: String): Option[Long] = {
    val i = name.lastIndexOf(infix)
    if (i < 0) None
    else name.substring(i + infix.length).toLongOption
  }

  /** Bounded retry for a lock-free READ racing a hot writer, with the
    * snapshot fallback the object doc describes: the first attempt
    * reads the LIVE root; an attempt that dies in a swap window (or
    * loses an [[assertUnchanged]]) retries against the newest
    * retained snapshot when one exists — an immutable complete copy
    * of a recent committed state, where the read cannot be raced
    * again. `body` receives the root to read (live or snapshot) and
    * must resolve EVERYTHING through it. Falls back to the live root
    * when no snapshot is retained (retention off / already swept) —
    * then this degrades to exactly [[retryTransient]]. */
  def retryReadSnapshot[T](spark: SparkSession, path: String,
                           maxAttempts: Int = 5, sleepMs: Long = 200L)
                          (body: String => T): T = {
    require(maxAttempts >= 1, "maxAttempts must be >= 1")
    val base = path.stripSuffix("/")
    var attempt = 0
    while (true) {
      attempt += 1
      val root =
        if (attempt == 1) base
        else snapshots(spark, base).lastOption.getOrElse(base)
      try return body(root)
      catch {
        case _: ConcurrentWriteException if attempt < maxAttempts =>
          Thread.sleep(sleepMs)
        case e if attempt < maxAttempts && isSwapWindowRace(e) =>
          Thread.sleep(sleepMs)
      }
    }
    sys.error("unreachable")
  }

  /** [[retryReadSnapshot]] for PARTITIONED tables, where the retained
    * fallback is not a complete root: a [[PartitionSwap]] commit
    * retains its consumed aside as `<base>__graft_partsnap_<millis>`
    * — the pre-swap copies of exactly the partitions it touched — and
    * the fallback OVERLAYS those on the live root's untouched
    * partitions ([[composeSnapshot]]). `body` receives the composed
    * frame (the raw parquet view of the table, as reading the root
    * directly would give).
    *
    * Convergence under a tight-loop mutator — the case plain retries
    * livelock on: every partition a mutation touches mid-read resolves
    * on the NEXT attempt through an IMMUTABLE parked copy (asides are
    * never mutated once parked, only age-swept), so each retry pins
    * more of the plan to stable paths; only never-yet-touched
    * partitions still read live, and those are exactly the ones no
    * mutation is racing. The composed state is the table just before
    * the OLDEST retained partition swap — up to the retention window
    * stale, the same trade the full-root snapshot makes. A full-root
    * COW swap in the window supersedes older partition snapshots (the
    * live lineage they overlay is gone): composition uses only
    * partition snapshots NEWER than the newest full-root snapshot and
    * otherwise falls back to that complete snapshot, exactly like
    * [[retryReadSnapshot]]. */
  def retryReadComposed[T](spark: SparkSession, path: String,
                           maxAttempts: Int = 8, sleepMs: Long = 200L)
                          (body: org.apache.spark.sql.DataFrame => T): T = {
    // 8 attempts, re-measured: each retry composes with strictly MORE
    // parked partition copies (every swap that beat the last attempt
    // parked its replaced dir), so the read converges — but the op-log
    // fast path roughly tripled a tight mutator loop's swap cadence,
    // and the old 5-attempt budget occasionally exhausted before
    // convergence under the ConcurrencySpec partitioned soak.
    require(maxAttempts >= 1, "maxAttempts must be >= 1")
    val base = path.stripSuffix("/")
    var attempt = 0
    while (true) {
      attempt += 1
      try {
        // frame construction (schema inference, leaf listing) races
        // swaps exactly like execution — build inside the try
        val frame =
          if (attempt == 1) spark.read.parquet(base)
          else composeSnapshot(spark, base).getOrElse(
            spark.read.parquet(
              snapshots(spark, base).lastOption.getOrElse(base)))
        return body(frame)
      } catch {
        case _: ConcurrentWriteException if attempt < maxAttempts =>
          Thread.sleep(sleepMs)
        case e if attempt < maxAttempts && isSwapWindowRace(e) =>
          Thread.sleep(sleepMs)
      }
    }
    sys.error("unreachable")
  }

  /** The composed pre-swap view: parked partition copies (oldest
    * retained partition snapshot first — first-wins per partition,
    * reconstructing the state just before the oldest retained swap)
    * overlaid on the live root's untouched partitions. None when no
    * usable partition snapshot is retained (unpartitioned table,
    * retention off, or a newer full-root snapshot supersedes them
    * all). */
  private[graft] def composeSnapshot(spark: SparkSession, base: String)
      : Option[org.apache.spark.sql.DataFrame] = {
    // the torn-walk re-check below is only SOUND with retention on:
    // every swap then leaves a durable record (its aside while in
    // flight, its partition snapshot once committed) for the re-walk
    // to find. With retention disabled a swap completing entirely
    // inside the walk window leaves nothing, and a compose would mix
    // its new content silently — so retention off means no composed
    // fallback at all (retryReadComposed degrades to live-root
    // retries, the documented pre-snapshot behavior).
    if (snapshotRetainMs(spark) <= 0L) return None
    val cut = snapshots(spark, base)
      .flatMap(p => snapshotStamp(new Path(p).getName)).maxOption
    val usable = partSnapshots(spark, base).filter { p =>
      val s = partSnapshotStamp(new Path(p).getName).getOrElse(0L)
      cut.forall(s > _)
    }
    // the LIVE aside (`__graft_partaside`) is the newest pseudo-
    // snapshot: an IN-FLIGHT (or crashed) partition swap parks each
    // original there BEFORE renaming its replacement in, so a
    // partition that already shows post-swap content live has its
    // pre-swap copy here — without consulting it, a compose
    // constructed mid-commit would silently mix that partition's NEW
    // content into the pre-swap reconstruction (no error, no retry:
    // the torn-read hole). The aside is uncommitted, so it is always
    // part of the current lineage (no cut filter); it vanishing
    // mid-read (commit rename / heal) is an engine-path FNFE the
    // caller's retry classifies.
    val liveAside = Some(PartitionSwap.asidePath(base))
      .filter(Fs.exists(spark, _)).toSeq
    if (usable.isEmpty && liveAside.isEmpty) return None
    // first event per partition, OLDEST snapshot first, decides its
    // fate in the reconstructed state:
    //  - PARKED there → that copy IS the pre-cut content (untouched
    //    between the cut and its first park, by definition of first);
    //  - BORN there (the swap's born manifest) → the partition did
    //    not exist at the cut — excluded entirely (a parked copy in a
    //    LATER snap holds post-birth rows and must not resurrect);
    //  - no event → untouched all window: read live.
    val decided = scala.collection.mutable
      .LinkedHashMap[String, Option[(String, String)]]()
    (usable ++ liveAside).foreach { snapRoot =>
      PartitionSwap.bornParts(spark, snapRoot).foreach { rel =>
        if (!decided.contains(rel)) decided(rel) = None
      }
      PartitionSwap.asideLeaves(spark, snapRoot).foreach {
        case (leaf, rel) =>
          if (!decided.contains(rel)) decided(rel) = Some((snapRoot, leaf))
      }
    }
    if (decided.isEmpty) return None
    val chosen = decided.collect { case (rel, Some(v)) => rel -> v }
    val live = PartitionSwap.liveLeaves(spark, base)
      .filterNot { case (_, rel) => decided.contains(rel) }
    if (chosen.isEmpty && live.isEmpty) return None
    // one read per root — basePath recovers the partition columns
    // from the mirrored hive layout
    val bySnap = chosen.values.toSeq.groupBy(_._1).toSeq
      .sortBy(_._1).map { case (root, vs) => (root, vs.map(_._2)) }
    val frames =
      (if (live.nonEmpty)
        Seq(spark.read.option("basePath", base)
          .parquet(live.map(_._1): _*))
      else Nil) ++
        bySnap.map { case (root, leaves) =>
          spark.read.option("basePath", root).parquet(leaves: _*) }
    // align on the first frame's schema: partition-value INFERENCE
    // runs per read over disjoint value subsets and can disagree on
    // types; a column a parked copy lacks (pre-evolution files —
    // only possible when no full-root snapshot fenced the window)
    // reads as typed null
    import org.apache.spark.sql.functions.{col, lit}
    val ref = frames.head.schema
    val aligned = frames.map { f =>
      val have = f.schema.fieldNames.toSet
      f.select(ref.map(fd =>
        (if (have.contains(fd.name)) col(fd.name) else lit(null))
          .cast(fd.dataType).as(fd.name)): _*)
    }
    // CLOSING the walk-order window: a partition parked (and its
    // replacement renamed in) BETWEEN the aside walk above and the
    // live frame construction would have its NEW files listed and
    // read cleanly — a silent mix, with no FNFE for the retry to
    // classify (the vanish direction throws; the appear direction
    // does not). The frames' file listings are fixed at construction
    // (spark.read resolves its file index eagerly), so ONE re-walk of
    // the aside and snapshot record set now is sufficient: any
    // partition it decides that this compose read from LIVE was
    // swapped inside the window — refuse retryably, and the retry
    // resolves it through its parked copy. Parks after this re-check
    // can only make the listed live files vanish, which IS classified.
    val decidedNow = scala.collection.mutable.Set[String]()
    val usableNow = partSnapshots(spark, base).filter { p =>
      val s = partSnapshotStamp(new Path(p).getName).getOrElse(0L)
      cut.forall(s > _) // same lineage cut — dead-lineage snapshots
                        // must not flag live reads of reused rels
    }
    (usableNow ++
      Some(PartitionSwap.asidePath(base)).filter(Fs.exists(spark, _)))
      .foreach { root =>
        PartitionSwap.bornParts(spark, root).foreach(decidedNow += _)
        PartitionSwap.asideLeaves(spark, root)
          .foreach { case (_, rel) => decidedNow += rel }
      }
    val torn = live.collect {
      case (_, rel) if decidedNow.contains(rel) => rel
    }
    if (torn.nonEmpty)
      throw new ConcurrentWriteException(
        s"composed read of $base raced a partition swap mid-walk " +
          s"(partition(s) ${torn.mkString(", ")} were parked between " +
          "the snapshot walk and the live listing); retry")
    Some(aligned.reduce(_ unionByName _))
  }

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
    val fs = lp.getFileSystem(spark.sessionState.newHadoopConf())
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
    val fs = lp.getFileSystem(spark.sessionState.newHadoopConf())
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

  /** Is this the transient crash of a lock-free read that landed
    * inside a concurrent COW commit's two-rename swap window (root
    * briefly absent / dir briefly empty), or listed a file a
    * concurrent log compaction / feed prune has since removed?
    * Matched on the cause chain — Spark wraps both in layers of
    * execution/streaming exceptions. Used by every lock-free
    * maintenance reader ([[MatView.refresh]], the streaming
    * replication/maintenance loops) to turn the microsecond window
    * into a bounded retry instead of a dead long-lived stream. */
  /** Spark task part-file naming (`part-00000-<uuid>…`): the data
    * files every managed root holds. `{5,}` — the padding is %05d, so
    * tasks past 99,999 (routine at the scale this engine targets)
    * widen the digit run; an exact-5 match would stop classifying
    * their genuine swap races. */
  private val PartFileRe = "part-\\d{5,}-".r

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

  private def confMs(spark: SparkSession, key: String, dflt: Long): Long =
    spark.conf.getOption(key).map(_.toLong).getOrElse(dflt)

  /** The configured stale-lock horizon — shared with
    * [[GraftLog.isManagedTable]]'s crashed-log-swap heal, which must
    * never roll back a swap whose holder may still be alive. */
  private[graft] def lockTimeoutMs(spark: SparkSession): Long =
    confMs(spark, LockTimeoutKey, LockTimeoutDefaultMs)
}
