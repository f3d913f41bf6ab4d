package graft.storage

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Single-maintainer FENCING LEASE for continuously-maintained
  * targets (materialized views, replicas — [[graft.streaming
  * .StreamingOps.maintainMatView]] / `replicateStream`).
  *
  * Every index sidecar in this engine assumes ONE maintainer, but
  * nothing enforced it: two maintenance streams on separate
  * checkpoints pointed at one view interleave staged sidecar swaps,
  * and each can stamp state the other's fold never saw. At 100 TB,
  * double-started maintenance jobs are an orchestration fact of life
  * (a retried workflow task, a failed-over driver whose predecessor
  * is still draining) — the failure mode must be a LOUD refusal at
  * stream start, not an eventual silent divergence.
  *
  * Mechanics mirror the commit lock ([[Txn]]): one
  * `_graft_maintainer_lease` file in the target root, taken with the
  * same atomic create-if-absent (same scheme gating), holding
  * `token\nowner`. A second maintainer's acquire REFUSES naming the
  * target and holder. The lease is long-lived: the holder HEARTBEATS
  * it (mtime touch) on every micro-batch, and a lease whose age
  * exceeds `spark.graft.maintainerLeaseTimeoutMs` (default: the txn
  * lock timeout — correctness over availability) is presumed crashed
  * and taken over, with the same observed-incarnation conditioning as
  * the lock breaker. A presumed-dead maintainer that wakes up is
  * FENCED at its next micro-batch: the ownership verify reads the
  * lease and dies loudly on a foreign token. (Residual window,
  * documented: a zombie that passes the verify and then stalls PAST
  * the lease timeout inside one batch could still race the usurper's
  * commit; the matview gen-collision guards make those interleavings
  * refuse retryably, and the window requires a full-timeout stall
  * between two driver calls.)
  *
  * Same-JVM restarts (stop → start on the same checkpoint, the
  * documented recovery flow) must not wait out the horizon: a
  * JVM-local registry remembers the holds this process created, and
  * an acquire finding ITS OWN token re-takes immediately — but only
  * when the owning query is no longer active, so a same-JVM double
  * start still refuses. Graceful terminations release via the
  * streaming listener ([[graft.streaming.StreamingOps]] wires it).
  *
  * The lease file rides root swaps like the commit lock
  * ([[carryInto]] from the swap helpers): a rebuild that replaced the
  * view root must not silently shed the live maintainer's claim. A
  * lease nonetheless missing at verify time (operator intervention)
  * FENCES like a foreign token — never re-created from the verify
  * path, which could steal the lease back from a legitimate usurper
  * or mkdir a root inside another writer's swap window; a restart
  * re-acquires cleanly. */
object MaintainerLease {

  val FileName = "_graft_maintainer_lease"

  /** Age past which a lease is presumed crashed and may be taken
    * over. Defaults to the txn lock timeout ([[Txn.LockTimeoutKey]]). */
  val TimeoutKey = "spark.graft.maintainerLeaseTimeoutMs"

  def leasePath(target: String): String =
    target.stripSuffix("/") + "/" + FileName

  private def timeoutMs(spark: SparkSession): Long =
    spark.conf.getOption(TimeoutKey).map(_.toLong)
      .getOrElse(Txn.lockTimeoutMs(spark))

  /** JVM-local holds: target → (token, query id once started). The
    * query id is set by [[bindQuery]] after the stream starts; an
    * acquire that finds its own process's hold re-takes only when
    * that query is no longer active. */
  private case class Hold(token: String, spark: SparkSession,
                          @volatile var queryId: Option[java.util.UUID])
  private val owned =
    new java.util.concurrent.ConcurrentHashMap[String, Hold]()

  /** Take the maintainer lease for `target` or throw
    * [[ConcurrentWriteException]] naming the holder. Returns the
    * token the per-batch [[verifyAndBeat]] needs. */
  def acquire(spark: SparkSession, target: String,
              owner: String): String = {
    val base = target.stripSuffix("/")
    val lp = new Path(leasePath(base))
    val fs = Fs.fileSystem(spark, lp)
    val token = java.util.UUID.randomUUID().toString
    val prior = Option(owned.get(base))
    // same-JVM double start: the prior hold's query is still active —
    // refuse without touching the file
    prior.foreach { h =>
      val active = h.queryId.exists(id =>
        h.spark.streams.active.exists(_.id == id))
      val starting = h.queryId.isEmpty
      if (active || starting)
        throw new ConcurrentWriteException(
          s"cannot maintain $base: another maintenance stream in this " +
            "process already holds its lease" +
            h.queryId.map(id => s" (query $id)").getOrElse("") +
            " — a target has exactly ONE maintainer; stop the other " +
            "stream first")
    }
    var attempts = 0
    while (true) {
      attempts += 1
      if (attempts > 50)
        throw new java.io.IOException(
          s"cannot acquire maintainer lease $lp after $attempts " +
            "attempts — likely an ACL/ownership problem")
      if (Txn.tryCreateFile(spark, fs, lp, s"$token\n$owner")) {
        owned.put(base, Hold(token, spark, None))
        return token
      }
      // lease exists: ours (same-JVM restart, terminated query),
      // crashed (stale — take over), or a live foreign holder (refuse)
      val st0 =
        try fs.getFileStatus(lp)
        catch { case _: java.io.FileNotFoundException => null }
      if (st0 != null) {
        // the lease can vanish between the stat and this read — the
        // async terminate-listener release of a JUST-stopped stream
        // (the documented stop → restart flow races its own release).
        // A vanished file is NOT a live holder: contend again, where
        // tryCreateFile now wins. Misreading it as ("", "?") refused a
        // healthy restart naming holder '?' (flaked once the op-log
        // fast path shrank the stop-to-restart gap). Other read errors
        // (ACL flip) keep the refuse-with-unknown-holder shape.
        val readLines =
          try Some(Fs.readText(spark, lp.toString).linesIterator.toSeq)
          catch {
            case _: java.io.FileNotFoundException => None
            case e if Txn.isSwapWindowRace(e) => None
            case scala.util.control.NonFatal(_) => Some(Seq("", "?"))
          }
        if (readLines.isEmpty) {
          // deleted mid-read — loop back to tryCreateFile
        } else {
        val lines = readLines.get
        val (holderToken, holderOwner) =
          (lines.headOption.getOrElse(""),
            lines.drop(1).headOption.getOrElse("?"))
        val ageMs = System.currentTimeMillis() - st0.getModificationTime
        val oursTerminated = prior.exists(_.token == holderToken)
        if (!oursTerminated && ageMs <= timeoutMs(spark))
          throw new ConcurrentWriteException(
            s"cannot maintain $base: '$holderOwner' holds its " +
              s"maintainer lease (age ${ageMs} ms) — a target has " +
              "exactly ONE maintainer. If that maintainer crashed, " +
              s"break via MaintainerLease.break, lower $TimeoutKey, " +
              "or wait out the lease age")
        // stale or our own terminated hold: break conditioned on the
        // observed incarnation (Txn.acquire's rule), then contend
        try {
          val st1 = fs.getFileStatus(lp)
          if (st1.getModificationTime == st0.getModificationTime)
            fs.delete(lp, false)
        } catch {
          case _: java.io.FileNotFoundException => ()
          case scala.util.control.NonFatal(_) => Thread.sleep(100)
        }
        }
      }
    }
    sys.error("unreachable")
  }

  /** Record the started query holding `token`, enabling same-JVM
    * restart re-acquires and the listener's token-checked release. */
  def bindQuery(target: String, token: String,
                queryId: java.util.UUID): Unit = {
    val h = owned.get(target.stripSuffix("/"))
    if (h != null && h.token == token) h.queryId = Some(queryId)
  }

  /** Per-micro-batch ownership check + heartbeat. A foreign token
    * means this maintainer was presumed crashed and FENCED — die
    * loudly, never commit. A MISSING lease fences too: the file rides
    * every root swap ([[carryInto]]) and only this stream's own batch
    * swaps the root, so absence means an out-of-band intervention
    * (operator break, foreign delete) — and re-creating it here would
    * be worse than dying: a fenced zombie could steal the lease back
    * from the legitimate usurper (ownership ping-pong), and the
    * create's implicit mkdir of a root mid-swap would nest the
    * swapper's rename-in. A restart re-acquires cleanly. Read errors
    * other than absence PROPAGATE — an existing-but-unreadable lease
    * (ACL flip) must fail diagnosably, not spin. */
  def verifyAndBeat(spark: SparkSession, target: String,
                    token: String): Unit = {
    val base = target.stripSuffix("/")
    val lp = new Path(leasePath(base))
    val fs = Fs.fileSystem(spark, lp)
    def fenced(holder: String): Nothing =
      throw new IllegalStateException(
        s"maintenance of $base FENCED: the maintainer lease is " +
          holder + " — this stream's claim is gone (presumed crashed " +
          "and taken over, or broken out-of-band); stop this stream. " +
          "Its work up to the fence is committed; restart (or the " +
          "usurper) continues from there")
    val holder =
      try Some(Fs.readText(spark, lp.toString).linesIterator.toSeq)
      catch { case _: java.io.FileNotFoundException => None }
    holder match {
      case Some(lines) if lines.headOption.contains(token) =>
        // heartbeat: the lease's age is its liveness signal
        try fs.setTimes(lp, System.currentTimeMillis(), -1)
        catch { case scala.util.control.NonFatal(_) => () }
      case Some(lines) =>
        fenced(s"held by '${lines.drop(1).headOption.getOrElse("?")}'")
      case None =>
        fenced("MISSING")
    }
  }

  /** Token-checked release (the listener's terminate hook). Swallows
    * failures — lease debris ages out. */
  def release(spark: SparkSession, target: String,
              token: String): Unit = {
    val base = target.stripSuffix("/")
    try {
      val lp = leasePath(base)
      if (Fs.exists(spark, lp) &&
          Fs.readText(spark, lp).linesIterator.nextOption().contains(token))
        Fs.deleteChecked(spark, lp)
    } catch { case scala.util.control.NonFatal(_) => () }
    val h = owned.get(base)
    if (h != null && h.token == token) owned.remove(base, h)
  }

  /** Operator override: unconditionally remove the lease. */
  def break(spark: SparkSession, target: String): Boolean = {
    val lp = leasePath(target.stripSuffix("/"))
    if (!Fs.exists(spark, lp)) false
    else { Fs.deleteChecked(spark, lp); true }
  }

  /** (holder owner string, age ms), for diagnostics. */
  def heldBy(spark: SparkSession, target: String): Option[(String, Long)] = {
    val lp = new Path(leasePath(target.stripSuffix("/")))
    val fs = Fs.fileSystem(spark, lp)
    try {
      val st = fs.getFileStatus(lp)
      val owner =
        try Fs.readText(spark, lp.toString).linesIterator
          .drop(1).nextOption().getOrElse("?")
        catch { case scala.util.control.NonFatal(_) => "?" }
      Some((owner, System.currentTimeMillis() - st.getModificationTime))
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Carry the lease through a root swap (the [[Txn.LockFileName]]
    * rule: a rebuild must not shed the live maintainer's claim). */
  private[graft] def carryInto(spark: SparkSession, base: String,
                               tmp: String): Unit = {
    val lease = leasePath(base)
    if (Fs.exists(spark, lease))
      Fs.writeText(spark, leasePath(tmp), Fs.readText(spark, lease))
  }
}
