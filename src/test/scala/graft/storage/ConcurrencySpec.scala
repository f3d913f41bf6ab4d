package graft.storage

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The commit-lock contract ([[Txn]]): concurrent mutations on one
  * managed table serialize or refuse LOUDLY — never the silent lost
  * update where the second writer's rewrite discards the first
  * writer's committed rows. */
class ConcurrencySpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def st = new BasicStorage(spark)

  private def mkTable(prefix: String, rows: Seq[(Long, String)])
      : String = {
    val path = tempDir(prefix) + "/t"
    st.write(rows.toDF("id", "v"), path, "delta", "overwrite")
    path
  }

  private def setLockAge(path: String, ageMs: Long): Unit = {
    val lp = new org.apache.hadoop.fs.Path(Txn.lockPath(path))
    val fs = lp.getFileSystem(spark.sessionState.newHadoopConf())
    fs.setTimes(lp, System.currentTimeMillis() - ageMs, -1)
  }

  test("a mutation against a locked table refuses loudly and names " +
      "the holder; after release it proceeds") {
    val path = mkTable("txn_contend", Seq(1L -> "a", 2L -> "b"))
    val token = Txn.acquire(spark, path, "MERGE")
    val e = intercept[ConcurrentWriteException] {
      Delete.where(spark, st, path, "id = 1")
    }
    assert(e.getMessage.contains("MERGE"),
      s"the refusal must name the holder's op: ${e.getMessage}")
    assert(st.read(path, "delta").count() == 2,
      "a refused mutation must touch nothing")
    Txn.release(spark, path, token)
    assert(Delete.where(spark, st, path, "id = 1") == 1L)
    assert(!Fs.exists(spark, Txn.lockPath(path)),
      "the lock must not survive a completed mutation")
  }

  test("a stale lock (crashed holder) is broken by the next acquirer") {
    val path = mkTable("txn_stale", Seq(1L -> "a", 2L -> "b"))
    Txn.acquire(spark, path, "OPTIMIZE") // the holder then "crashes"
    setLockAge(path, Txn.LockTimeoutDefaultMs + 60000L)
    // past the timeout the next mutation breaks the lock and proceeds
    assert(Delete.where(spark, st, path, "id = 2") == 1L)
    assert(st.read(path, "delta").count() == 1)
    assert(!Fs.exists(spark, Txn.lockPath(path)))
  }

  test("the lock releases when the mutation body throws") {
    val path = mkTable("txn_throw", Seq(1L -> "a"))
    intercept[Exception] {
      Delete.where(spark, st, path, "no_such_column = 1")
    }
    assert(!Fs.exists(spark, Txn.lockPath(path)),
      "a failed mutation must not leave the table locked")
    assert(Delete.where(spark, st, path, "id = 1") == 1L)
  }

  test("the lock rides a COW swap into the new root and only release " +
      "drops it — no unlock gap between swap and the mutation's tail") {
    val path = mkTable("txn_ride", Seq(1L -> "a", 2L -> "b"))
    val token = Txn.acquire(spark, path, "MERGE")
    val tmp = path + "__graft_tmp"
    Seq(1L -> "a2").toDF("id", "v")
      .write.format("parquet").mode("overwrite").save(tmp)
    GraftLog.carryLogAndSwap(spark, path, tmp)
    assert(Fs.exists(spark, Txn.lockPath(path)),
      "the post-swap root must still hold the lock")
    assert(Txn.heldBy(spark, path).map(_._1).contains("MERGE"))
    // a second writer is still refused between the swap and release
    intercept[ConcurrentWriteException] {
      Delete.where(spark, st, path, "id = 1")
    }
    Txn.release(spark, path, token)
    assert(!Fs.exists(spark, Txn.lockPath(path)))
  }

  test("release is token-checked: a holder never drops a lock a " +
      "breaker has re-taken") {
    val path = mkTable("txn_token", Seq(1L -> "a"))
    val t1 = Txn.acquire(spark, path, "MERGE")
    setLockAge(path, Txn.LockTimeoutDefaultMs + 60000L)
    // holder 1 stalled past the timeout; a second writer breaks the
    // stale lock and takes its own
    val t2 = Txn.acquire(spark, path, "DELETE")
    Txn.release(spark, path, t1) // the zombie's release must be a no-op
    assert(Fs.exists(spark, Txn.lockPath(path)),
      "holder 2's lock must survive the zombie holder's release")
    Txn.release(spark, path, t2)
    assert(!Fs.exists(spark, Txn.lockPath(path)))
  }

  test("acquire on an absent table root (a writer mid-commit-swap) " +
      "refuses instead of re-creating a shell root") {
    val path = mkTable("txn_absent", Seq(1L -> "a"))
    Fs.renameChecked(spark, path, path + "__graft_old") // mid-swap state
    intercept[ConcurrentWriteException] {
      Txn.acquire(spark, path, "DELETE")
    }
    assert(!Fs.exists(spark, path),
      "a refused acquire must not have created a shell root")
    Fs.renameChecked(spark, path + "__graft_old", path)
  }

  test("vacuum sweeps a stale commit lock, skip-reports a young one") {
    val path = mkTable("txn_vacuum", Seq(1L -> "a"))
    Txn.acquire(spark, path, "MERGE")
    val young = Maintenance.vacuum(spark, path)
    assert(young.exists(a => a.kind == "skip" &&
        a.target.endsWith(Txn.LockFileName)),
      s"a young lock must be skip-reported, got: $young")
    assert(Fs.exists(spark, Txn.lockPath(path)),
      "a young lock is possibly a live mutation — never swept")
    setLockAge(path, Txn.LockTimeoutDefaultMs + 60000L)
    val old = Maintenance.vacuum(spark, path)
    assert(old.exists(a => a.kind == "delete" &&
        a.target.endsWith(Txn.LockFileName)),
      s"a stale lock must be swept, got: $old")
    assert(!Fs.exists(spark, Txn.lockPath(path)))
  }

  test("snapshot/assertUnchanged: a committed mutation in between " +
      "turns a stale plan into a loud refusal") {
    val path = mkTable("txn_snap", Seq(1L -> "a", 2L -> "b"))
    val snap = Txn.snapshot(spark, path)
    Txn.assertUnchanged(spark, path, snap, "noop-replan") // unchanged: fine
    Delete.where(spark, st, path, "id = 2")
    val e = intercept[ConcurrentWriteException] {
      Txn.assertUnchanged(spark, path, snap, "stale-plan commit")
    }
    assert(e.getMessage.contains("stale-plan commit"))
  }

  test("an acquirer with txnLockWaitMs waits out a live holder " +
      "instead of refusing") {
    val path = mkTable("txn_wait", Seq(1L -> "a", 2L -> "b"))
    val token = Txn.acquire(spark, path, "MERGE")
    val releaser = new Thread(() => {
      Thread.sleep(500)
      Txn.release(spark, path, token)
    })
    spark.conf.set(Txn.LockWaitKey, "15000")
    try {
      releaser.start()
      assert(Delete.where(spark, st, path, "id = 1") == 1L,
        "the waiting mutation must proceed once the holder releases")
    } finally {
      spark.conf.unset(Txn.LockWaitKey)
      releaser.join()
    }
  }

  test("constraint add/drop are mutations too: refused under a held " +
      "lock, landed after release") {
    val path = mkTable("txn_cons", Seq(1L -> "a"))
    val token = Txn.acquire(spark, path, "MERGE")
    intercept[ConcurrentWriteException] {
      Constraints.add(spark, st, path, "v_nonnull", "v IS NOT NULL")
    }
    assert(Constraints.list(spark, path).isEmpty,
      "a refused constraint add must land nothing")
    Txn.release(spark, path, token)
    Constraints.add(spark, st, path, "v_nonnull", "v IS NOT NULL")
    assert(Constraints.list(spark, path).map(_._1) == Seq("v_nonnull"))
    val token2 = Txn.acquire(spark, path, "MERGE")
    intercept[ConcurrentWriteException] {
      Constraints.drop(spark, path, "v_nonnull")
    }
    Txn.release(spark, path, token2)
  }

  test("vacuum defers the WHOLE sweep while a young commit lock is " +
      "present — a live mutation's staging survives") {
    val path = mkTable("txn_vac_defer", Seq(1L -> "a"))
    val token = Txn.acquire(spark, path, "OPTIMIZE")
    // the live mutation has staged its rewrite but not yet swapped
    Seq(1L -> "a2").toDF("id", "v")
      .write.parquet(path + "__graft_tmp")
    val deferred = Maintenance.vacuum(spark, path)
    assert(deferred.size == 1 && deferred.head.kind == "skip" &&
        deferred.head.detail.contains("deferred"),
      s"a young lock must defer the whole sweep: $deferred")
    assert(Fs.exists(spark, path + "__graft_tmp"),
      "the live mutation's staging must survive a deferred vacuum")
    Txn.release(spark, path, token)
    val swept = Maintenance.vacuum(spark, path)
    assert(swept.exists(a => a.kind == "delete" &&
        a.target.endsWith("__graft_tmp")),
      s"after release the orphaned staging is debris again: $swept")
    assert(!Fs.exists(spark, path + "__graft_tmp"))
  }

  test("bootstrap is claimed, not raced: two concurrent auto-creating " +
      "merges on an ABSENT path both land") {
    val path = tempDir("txn_boot") + "/t" // never written — absent
    def mergeIn(rows: Seq[(Long, String)]): Unit = {
      val df = rows.toDF("id", "v")
      var attempts = 0
      var done = false
      while (!done) {
        try {
          Merge.run(spark, st, df, path, "full.id = incremental.id",
            Nil, mergeSchemas = false, None, None)
          done = true
        } catch {
          case _: ConcurrentWriteException =>
            attempts += 1
            assert(attempts < 100, "livelock in the bootstrap race test")
            Thread.sleep(50)
        }
      }
    }
    val a = (1L to 10L).map(i => i -> s"A$i")
    val b = (11L to 20L).map(i => i -> s"B$i")
    val died = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    def thread(rows: Seq[(Long, String)]) = new Thread(() =>
      try mergeIn(rows)
      catch { case t: Throwable => died.compareAndSet(null, t) })
    val tA = thread(a)
    val tB = thread(b)
    tA.start(); tB.start(); tA.join(); tB.join()
    assert(died.get() == null,
      s"a bootstrapping merge died on a non-retryable error: ${died.get()}")
    val out = st.read(path, "delta").as[(Long, String)].collect().toMap
    assert(out.size == 20,
      s"both bootstrapping merges' rows must land, got ${out.size}: $out")
    (a ++ b).foreach { case (k, v) => assert(out.get(k).contains(v),
      s"row $k lost in the bootstrap race") }
  }

  test("soak: lock-free readers under a live mutator — read, time " +
      "travel, DESCRIBE DETAIL, history and change feed all succeed " +
      "through Txn.retryTransient while merges and compactions land") {
    // The engine's documented reader contract: reads never lock, a
    // read landing in a COW commit's swap window (or racing a
    // compactLog) may die transiently, and the bounded live-root
    // retry (Txn.retryTransient) heals it. This soak validates the
    // CLASSIFIER against every reader surface's real failure shapes —
    // each race class found so far (merge bootstrap, listing trigger,
    // matview refresh, op-log footer vs compaction) surfaced exactly
    // as an unclassified transient; an unclassified shape still fails
    // here, because the retry only engages on classified errors.
    val path = mkTable("txn_readers",
      (1L to 50L).map(i => i -> s"v$i"))
    // seed one captured merge so the feed and a travel stamp exist
    Merge.run(spark, st, Seq(1L -> "V1").toDF("id", "v"), path,
      "full.id = incremental.id", Nil, mergeSchemas = false, None,
      None, captureChanges = true)
    val stamp0 = Merge.changeFeed(spark, path)
      .agg(max(col("batch"))).head().getLong(0)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val died = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val mutator = new Thread(() => {
      try {
        var i = 0
        while (!stop.get()) {
          i += 1
          Merge.run(spark, st,
            Seq((i % 50 + 1L) -> s"m$i", (1000L + i) -> s"n$i")
              .toDF("id", "v"),
            path, "full.id = incremental.id", Nil,
            mergeSchemas = false, None, None, captureChanges = true)
          if (i % 3 == 0) Maintenance.compactLog(spark, path)
          // a realistic commit cadence, not a tight loop:
          // retryTransient re-reads the LIVE root each attempt, so
          // under back-to-back COW swaps a multi-second lazy read can
          // lose every retry (each attempt's plan-to-execute window
          // overlaps a swap). Paced commits leave thin windows that
          // the bounded retry heals — the live-root contract this
          // soak pins.
          Thread.sleep(400)
        }
      } catch { case t: Throwable => died.compareAndSet(null, t) }
    })
    mutator.start()
    val deadline = System.currentTimeMillis() +
      sys.env.get("GRAFT_READER_SOAK_MS").map(_.toLong).getOrElse(12000L)
    try {
      var rounds = 0
      while (System.currentTimeMillis() < deadline && died.get() == null) {
        rounds += 1
        Txn.retryTransient(maxAttempts = 5) {
          assert(st.read(path, "delta").count() >= 50L)
        }
        Txn.retryTransient(maxAttempts = 5) {
          // the seeded stamp's pre-state: the original 50 rows
          assert(Merge.readAsOf(spark, st, path, Seq("id"),
            stamp0 - 1).count() == 50L)
        }
        Txn.retryTransient(maxAttempts = 5) {
          val d = GraftLog.tableDetail(spark, path).head()
          assert(d.getString(0) == "delta")
        }
        Txn.retryTransient(maxAttempts = 5) {
          assert(GraftLog.history(spark, path).count() >= 1L)
        }
        Txn.retryTransient(maxAttempts = 5) {
          assert(Merge.changeFeed(spark, path)
            .select(col("batch")).distinct().count() >= 1L)
        }
      }
      assert(rounds >= 3, s"soak too short to mean anything: $rounds")
    } finally { stop.set(true); mutator.join() }
    assert(died.get() == null,
      s"the mutator died mid-soak: ${died.get()}")
  }

  test("commit swaps delete what they replace: a COW merge, a " +
      "partition-scoped merge, an overwrite and vacuum leave nothing " +
      "beside the table root") {
    // every sibling of a managed root is named `<t>__…` (asides,
    // staging, consumed asides, WAP stages) — after a completed
    // mutation none may remain
    def siblings(path: String): Seq[String] = {
      val p = new org.apache.hadoop.fs.Path(path)
      Fs.listSubdirs(spark, p.getParent.toString)
        .filter(_.startsWith(p.getName + "__"))
    }
    val flat = mkTable("txn_nosib_flat", (1L to 10L).map(i => i -> s"v$i"))
    Merge.run(spark, st, Seq(1L -> "m", 11L -> "n").toDF("id", "v"), flat,
      "full.id = incremental.id", Nil, mergeSchemas = false, None, None)
    assert(siblings(flat).isEmpty,
      s"a COW merge left siblings: ${siblings(flat)}")
    val parted = tempDir("txn_nosib_part") + "/t"
    st.write((1L to 12L).map(i => (i, s"p${i % 3}", s"v$i"))
      .toDF("id", "part", "v"), parted, "delta", "overwrite", Seq("part"))
    // an update in p1 plus a row born in a new partition
    st.merge(Seq((1L, "p1", "m"), (99L, "p9", "n"))
      .toDF("id", "part", "v"), parted, "full.id = incremental.id")
    assert(siblings(parted).isEmpty,
      s"a partition-scoped merge left siblings: ${siblings(parted)}")
    st.write(Seq(5L -> "o").toDF("id", "v"), flat, "delta", "overwrite")
    assert(siblings(flat).isEmpty,
      s"an overwrite left siblings: ${siblings(flat)}")
    Seq(flat, parted).foreach { p =>
      Maintenance.vacuum(spark, p)
      assert(siblings(p).isEmpty, s"vacuum left siblings: ${siblings(p)}")
    }
    assert(st.read(flat, "delta").as[(Long, String)].collect().toSeq ==
      Seq(5L -> "o"))
    assert(st.read(parted, "delta").count() == 13L)
  }

  test("a mutation's persisted scan of its table is private: a " +
      "concurrent read of the table is never served from its cache") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    def cached(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.withCachedData
        .collect { case r: InMemoryRelation => r }.nonEmpty
    val path = mkTable("txn_private", (1L to 10L).map(i => i -> s"v$i"))
    val scanned = Txn.persistPrivate(st.read(path, "delta"))
    try {
      assert(scanned.count() == 10L)
      // the mutation's own derived frames reuse the blocks …
      assert(cached(scanned.filter(col("id") > 3)))
      // … while a reader's plan lists the live root itself: after the
      // mutation's swap it must fail (and retry), not keep serving
      // the pre-swap state
      assert(!cached(st.read(path, "delta")))
      assert(!cached(st.read(path, "delta").groupBy("v").count()))
    } finally scanned.unpersist()
  }

  test("snapshotReadOnly reads a parked op log WITHOUT healing it — " +
      "a poller must never rename the maintainer's aside back") {
    val path = mkTable("txn_rosnap", Seq(1L -> "a", 2L -> "b"))
    Merge.run(spark, st, Seq(3L -> "c").toDF("id", "v"), path,
      "full.id = incremental.id", Nil, mergeSchemas = false, None, None)
    val snap0 = Txn.snapshot(spark, path)
    // park the log aside (mid-compactLog shape) under a lock aged
    // past the stale horizon — exactly the edge where the healing
    // isManagedTable would roll the swap back from a poller
    val lp = GraftLog.logPath(path)
    Fs.renameChecked(spark, lp, lp + "__old")
    Fs.writeText(spark, Txn.lockPath(path), "tok\nLOG_COMPACT")
    setLockAge(path, Txn.LockTimeoutDefaultMs + 60000L)
    assert(Txn.snapshotReadOnly(spark, path) == snap0,
      "the read-only snapshot must serve the parked copy")
    assert(!Fs.exists(spark, lp) && Fs.exists(spark, lp + "__old"),
      "the poll must not have healed the aside")
    // restore and confirm the live path serves identically
    Fs.renameChecked(spark, lp + "__old", lp)
    assert(Txn.breakLock(spark, path))
    assert(Txn.snapshotReadOnly(spark, path) == snap0)
  }

  test("two concurrent merges on one table serialize: neither " +
      "writer's rows are lost") {
    val path = mkTable("txn_race",
      (1L to 20L).map(i => i -> s"v$i"))
    def mergeIn(rows: Seq[(Long, String)]): Unit = {
      val df = rows.toDF("id", "v")
      var attempts = 0
      var done = false
      while (!done) {
        try {
          Merge.run(spark, st, df, path, "full.id = incremental.id",
            Nil, mergeSchemas = false, None, None)
          done = true
        } catch {
          case _: ConcurrentWriteException =>
            attempts += 1
            assert(attempts < 100, "livelock in the merge race test")
            Thread.sleep(50)
        }
      }
    }
    // disjoint key ranges: writer A updates+inserts the low keys,
    // writer B the high — a lost update is unambiguous in the result
    val a = (1L to 10L).map(i => i -> s"A$i") ++
      Seq(101L -> "A101", 102L -> "A102")
    val b = (11L to 20L).map(i => i -> s"B$i") ++
      Seq(201L -> "B201", 202L -> "B202")
    val tA = new Thread(() => mergeIn(a))
    val tB = new Thread(() => mergeIn(b))
    tA.start(); tB.start(); tA.join(); tB.join()
    val out = st.read(path, "delta").as[(Long, String)].collect().toMap
    assert(out.size == 24, s"expected 24 rows, got ${out.size}: $out")
    a.foreach { case (k, v) => assert(out.get(k).contains(v),
      s"writer A's row $k lost — the lost-update class the lock kills") }
    b.foreach { case (k, v) => assert(out.get(k).contains(v),
      s"writer B's row $k lost — the lost-update class the lock kills") }
    assert(!Fs.exists(spark, Txn.lockPath(path)))
  }

  test("DESCRIBE DETAIL surfaces the lock holder: op + age while " +
      "held, nulls when free") {
    val path = mkTable("txn_detail", Seq(1L -> "a"))
    val free = GraftLog.tableDetail(spark, path).head()
    assert(free.isNullAt(free.fieldIndex("lock_holder_op")) &&
      free.isNullAt(free.fieldIndex("lock_age_ms")),
      "an unlocked table must report null holder facts")
    val token = Txn.acquire(spark, path, "OPTIMIZE")
    try {
      val held = GraftLog.tableDetail(spark, path).head()
      assert(held.getString(held.fieldIndex("lock_holder_op")) == "OPTIMIZE",
        "the holder's op must be visible without reading sidecar files")
      assert(held.getLong(held.fieldIndex("lock_age_ms")) >= 0L)
    } finally Txn.release(spark, path, token)
  }

  test("the lock refuses filesystems without an atomic " +
      "create-if-absent unless the deployment vouches for the scheme") {
    // a scheme whose create(overwrite=false) is exists-then-open —
    // the S3A shape. The gate must refuse BEFORE any lock attempt:
    // a double-acquirable lock reports mutual exclusion it cannot
    // provide, which is worse than refusing.
    spark.sparkContext.hadoopConfiguration.set(
      "fs.mockstore.impl", classOf[MockStoreFileSystem].getName)
    val dir = tempDir("txn_mockstore")
    val e = intercept[UnsupportedOperationException] {
      Txn.acquire(spark, "mockstore:" + dir, "MERGE")
    }
    assert(e.getMessage.contains("mockstore") &&
      e.getMessage.contains(Txn.AtomicSchemesKey),
      s"the refusal must name the scheme and the vouch conf: ${e.getMessage}")
    assert(!Fs.exists(spark, Txn.lockPath(dir)),
      "a refused acquire must not leave a lock file behind")
    // a deployment that HAS a conditional create (e.g. S3 conditional
    // writes) vouches for the scheme and the lock proceeds
    spark.conf.set(Txn.AtomicSchemesKey, "mockstore")
    try {
      val token = Txn.acquire(spark, "mockstore:" + dir, "MERGE")
      assert(Fs.exists(spark, Txn.lockPath(dir)))
      Txn.release(spark, "mockstore:" + dir, token)
      assert(!Fs.exists(spark, Txn.lockPath(dir)))
    } finally spark.conf.unset(Txn.AtomicSchemesKey)
  }
}

/** A Hadoop FS standing in for object stores whose
  * create(overwrite=false) is an exists-check then a plain open
  * (S3A's HEAD-then-PUT): local-disk semantics under a non-`file`
  * scheme, so [[Txn]]'s atomicity gate — keyed on the scheme — is
  * exercised for real through `Path.getFileSystem`. */
class MockStoreFileSystem
    extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "mockstore"
  override def getUri: java.net.URI = java.net.URI.create("mockstore:///")
}
