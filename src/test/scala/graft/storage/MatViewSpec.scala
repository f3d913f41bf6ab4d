package graft.storage

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Materialized aggregate views ([[MatView]]): the invariant pinned by
  * every case is view == fresh recompute of the CURRENT source
  * snapshot, across captured DML (incremental path), uncaptured /
  * unexplainable mutations (rebuild path), and content-invisible ops
  * (advance path) — plus the mode taken, so a regression to
  * always-rebuild fails here even though the content would match. */
class MatViewSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def st = new BasicStorage(spark)

  /** Rows (id, k, v) with: group a = {1.0, 5.0, 9.0}, group b =
    * {2.0, 2.0}, group c = {null, null}, group d = {3.0, null}. */
  private def seedRows: Seq[(Long, String, java.lang.Double)] = Seq(
    (1L, "a", 1.0), (2L, "a", 5.0), (3L, "a", 9.0),
    (4L, "b", 2.0), (5L, "b", 2.0),
    (6L, "c", null), (7L, "c", null),
    (8L, "d", 3.0), (9L, "d", null))

  private def mkSource(prefix: String): String = {
    val path = tempDir(prefix) + "/src"
    st.write(seedRows.toDF("id", "k", "v"), path, "delta", "overwrite")
    path
  }

  /** What the view must equal — the contract stated once in
    * [[MatViewTestSupport]]. */
  private def recompute(source: String): DataFrame =
    MatViewTestSupport.recompute(spark, st, source)

  test("create equals a recompute, including all-null and mixed-null " +
      "groups; a second create on the same path refuses") {
    val src = mkSource("mv_create")
    val view = tempDir("mv_create_v") + "/v"
    val r = MatView.create(spark, st, src, view, Seq("k"), "v")
    assert(r.mode == "rebuild")
    assertDfEqual(MatView.read(spark, view), recompute(src))
    // group c (all nulls): cnt 2, nncnt 0, sum/min/max null
    val c = MatView.read(spark, view).filter(col("k") === "c").head()
    assert(c.getLong(c.fieldIndex("cnt")) == 2L)
    assert(c.getLong(c.fieldIndex("nncnt")) == 0L)
    assert(c.isNullAt(c.fieldIndex("sum")) && c.isNullAt(c.fieldIndex("min")))
    intercept[IllegalArgumentException] {
      MatView.create(spark, st, src, view, Seq("k"), "v")
    }
  }

  test("captured merge whose removals avoid the extremes folds " +
      "incrementally with zero rescans") {
    val src = mkSource("mv_inc")
    val view = tempDir("mv_inc_v") + "/v"
    MatView.create(spark, st, src, view, Seq("k"), "v")
    // update a's MIDDLE row 5.0 -> 6.0 (extremes 1.0/9.0 untouched);
    // insert a new id into b at 7.0 (pure addition -> new max, exact
    // without rescan: additions only widen via least/greatest)
    st.merge(Seq((2L, "a", 6.0), (10L, "b", 7.0)).toDF("id", "k", "v"),
      src, "full.id = incremental.id", captureChanges = true)
    val r = MatView.refresh(spark, st, view)
    assert(r.mode == "incremental", s"took ${r.mode}")
    assert(r.batchesApplied == 1L && r.groupsRescanned == 0L,
      s"expected pure fold, got $r")
    assertDfEqual(MatView.read(spark, view), recompute(src))
    // and the refresh is then a noop
    assert(MatView.refresh(spark, st, view).mode == "noop")
  }

  test("a captured delete of a group's extreme rescans exactly the " +
      "poisoned groups") {
    val src = mkSource("mv_rescan")
    val view = tempDir("mv_rescan_v") + "/v"
    MatView.create(spark, st, src, view, Seq("k"), "v")
    // delete a's min (1.0) and d's only non-null (3.0): both groups
    // poisoned; b and c untouched
    assert(Delete.where(spark, st, src, "id = 1 OR id = 8",
      captureChanges = true) == 2L)
    val r = MatView.refresh(spark, st, view)
    assert(r.mode == "incremental")
    assert(r.groupsRescanned == 2L, s"expected a and d rescanned, got $r")
    assertDfEqual(MatView.read(spark, view), recompute(src))
    // d survives with cnt 1 (one null row), sum/min/max null
    val d = MatView.read(spark, view).filter(col("k") === "d").head()
    assert(d.getLong(d.fieldIndex("cnt")) == 1L &&
      d.isNullAt(d.fieldIndex("sum")))
  }

  test("insert-then-delete of a brand-new key inside one refresh " +
      "window resolves by rescan, not a stale delta extreme") {
    val src = mkSource("mv_newkey")
    val view = tempDir("mv_newkey_v") + "/v"
    MatView.create(spark, st, src, view, Seq("k"), "v")
    // batch 1: new group e = {1.0, 9.0}; batch 2: delete e's 9.0 —
    // the delta's own add_max names a row that is gone
    st.merge(Seq((20L, "e", 1.0), (21L, "e", 9.0)).toDF("id", "k", "v"),
      src, "full.id = incremental.id", captureChanges = true)
    assert(Delete.where(spark, st, src, "id = 21",
      captureChanges = true) == 1L)
    val r = MatView.refresh(spark, st, view)
    assert(r.mode == "incremental" && r.batchesApplied == 2L)
    assertDfEqual(MatView.read(spark, view), recompute(src))
    val e = MatView.read(spark, view).filter(col("k") === "e").head()
    assert(e.getDouble(e.fieldIndex("max")) == 1.0)
  }

  test("emptying a group drops its row: via rescan for non-null " +
      "removals, via the cnt guard for null-only removals") {
    val src = mkSource("mv_empty")
    val view = tempDir("mv_empty_v") + "/v"
    MatView.create(spark, st, src, view, Seq("k"), "v")
    // b emptied by non-null deletes (poisons -> rescan of zero rows);
    // c emptied by null-value deletes (never poisons -> cnt guard)
    assert(Delete.where(spark, st, src, "k = 'b' OR k = 'c'",
      captureChanges = true) == 4L)
    val r = MatView.refresh(spark, st, view)
    assert(r.mode == "incremental")
    assert(r.groupsRescanned == 1L, s"only b should rescan, got $r")
    assertDfEqual(MatView.read(spark, view), recompute(src))
    assert(MatView.read(spark, view)
      .filter(col("k").isin("b", "c")).isEmpty)
  }

  test("an uncaptured mutation rebuilds (and the result is right)") {
    val src = mkSource("mv_rebuild")
    val view = tempDir("mv_rebuild_v") + "/v"
    MatView.create(spark, st, src, view, Seq("k"), "v")
    // make the table feed-bearing first, then mutate WITHOUT capture:
    // the refresh must not trust the gapped feed
    st.merge(Seq((2L, "a", 6.0)).toDF("id", "k", "v"),
      src, "full.id = incremental.id", captureChanges = true)
    assert(Delete.where(spark, st, src, "id = 3") == 1L) // uncaptured
    val r = MatView.refresh(spark, st, view)
    assert(r.mode == "rebuild", s"took ${r.mode}")
    assertDfEqual(MatView.read(spark, view), recompute(src))
  }

  test("an overwrite WRITE rebuilds") {
    val src = mkSource("mv_write")
    val view = tempDir("mv_write_v") + "/v"
    MatView.create(spark, st, src, view, Seq("k"), "v")
    st.write(Seq((1L, "z", 4.0)).toDF("id", "k", "v"), src, "delta",
      "overwrite")
    val r = MatView.refresh(spark, st, view)
    assert(r.mode == "rebuild")
    assertDfEqual(MatView.read(spark, view), recompute(src))
  }

  test("content-invisible OPTIMIZE advances the stamps without " +
      "touching state; the next refresh is a noop") {
    val src = mkSource("mv_adv")
    val view = tempDir("mv_adv_v") + "/v"
    MatView.create(spark, st, src, view, Seq("k"), "v")
    Optimize.run(spark, st, src)
    val r = MatView.refresh(spark, st, view)
    assert(r.mode == "advance", s"took ${r.mode}")
    assertDfEqual(MatView.read(spark, view), recompute(src))
    assert(MatView.refresh(spark, st, view).mode == "noop")
  }

  test("crashed-capture debris in range forces a rebuild, never a " +
      "silent partial fold") {
    val src = mkSource("mv_debris")
    val view = tempDir("mv_debris_v") + "/v"
    MatView.create(spark, st, src, view, Seq("k"), "v")
    st.merge(Seq((2L, "a", 6.0)).toDF("id", "k", "v"),
      src, "full.id = incremental.id", captureChanges = true)
    // plant an uncommitted batch dir NEWER than the real one — a
    // crashed capture whose table effect is unknowable
    val fakeStamp = System.nanoTime()
    Fs.touch(spark, s"$src/${Merge.ChangesDirName}/batch=$fakeStamp/part")
    val r = MatView.refresh(spark, st, view)
    assert(r.mode == "rebuild", s"took ${r.mode}")
    assertDfEqual(MatView.read(spark, view), recompute(src))
  }

  test("multi-key views group and fold by all keys") {
    val src = tempDir("mv_multikey") + "/src"
    st.write(Seq((1L, "a", "x", 1.0), (2L, "a", "y", 2.0),
        (3L, "a", "x", 3.0), (4L, "b", "x", 4.0))
      .toDF("id", "k1", "k2", "v"), src, "delta", "overwrite")
    val view = tempDir("mv_multikey_v") + "/v"
    MatView.create(spark, st, src, view, Seq("k1", "k2"), "v")
    st.merge(Seq((5L, "b", "y", 5.0)).toDF("id", "k1", "k2", "v"),
      src, "full.id = incremental.id", captureChanges = true)
    val r = MatView.refresh(spark, st, view)
    assert(r.mode == "incremental")
    assertDfEqual(MatView.read(spark, view),
      MatViewTestSupport.recompute(spark, st, src, Seq("k1", "k2")))
  }

  test("a pure fold never touches the fact table's data files — the " +
      "100 TB refresh cost is |changes|, proven by hiding the source") {
    val src = mkSource("mv_nofact")
    val view = tempDir("mv_nofact_v") + "/v"
    MatView.create(spark, st, src, view, Seq("k"), "v")
    // a captured merge whose removals avoid every extreme: no rescan
    st.merge(Seq((2L, "a", 6.0), (10L, "b", 7.0)).toDF("id", "k", "v"),
      src, "full.id = incremental.id", captureChanges = true)
    // hide the fact table's parquet (log + feed stay): a refresh that
    // reads ANY source data file now fails loudly
    val hidden = Fs.listFiles(spark, src)
      .filter(f => f.endsWith(".parquet") && !f.startsWith("_"))
    assert(hidden.nonEmpty)
    hidden.foreach(f => Fs.renameChecked(spark, s"$src/$f",
      s"$src/.hidden_$f"))
    try {
      val r = MatView.refresh(spark, st, view)
      assert(r.mode == "incremental" && r.groupsRescanned == 0L,
        s"expected a pure fold, got $r")
    } finally hidden.foreach(f => Fs.renameChecked(spark,
      s"$src/.hidden_$f", s"$src/$f"))
    assertDfEqual(MatView.read(spark, view), recompute(src))
  }

  test("deleting every row leaves a readable EMPTY view that refills " +
      "on the next refresh") {
    val src = tempDir("mv_allgone") + "/src"
    st.write(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "k", "v"),
      src, "delta", "overwrite")
    val view = tempDir("mv_allgone_v") + "/v"
    MatView.create(spark, st, src, view, Seq("k"), "v")
    assert(Delete.where(spark, st, src, "v >= 0", captureChanges = true)
      == 2L)
    val r = MatView.refresh(spark, st, view)
    assert(r.mode == "incremental")
    // zero part files on disk — the read must serve the recorded
    // schema, not die in inference (and refresh must keep working)
    assert(MatView.read(spark, view).isEmpty)
    assert(MatView.read(spark, view).schema.fieldNames.toSeq ==
      Seq("k", "cnt", "nncnt", "sum", "min", "max"))
    assert(MatView.refresh(spark, st, view).mode == "noop")
    // the empty view refills incrementally
    st.merge(Seq((3L, "c", 9.0)).toDF("id", "k", "v"),
      src, "full.id = incremental.id", captureChanges = true)
    assert(MatView.refresh(spark, st, view).mode == "incremental")
    assertDfEqual(MatView.read(spark, view), recompute(src))
  }

  test("values the decimal cast nulls out (overflow past 28,6) fold " +
      "like a recompute: sum NULL, extremes keep the raw value") {
    val src = mkSource("mv_overflow")
    val view = tempDir("mv_overflow_v") + "/v"
    MatView.create(spark, st, src, view, Seq("k"), "v")
    // new group f = {1e23}: uncastable — nncnt 0, sum null, min/max 1e23
    // existing group b gains 1e23: sum must stay the castable part only
    st.merge(Seq((30L, "f", 1.0e23), (31L, "b", 1.0e23))
        .toDF("id", "k", "v"),
      src, "full.id = incremental.id", captureChanges = true)
    val r = MatView.refresh(spark, st, view)
    assert(r.mode == "incremental")
    assertDfEqual(MatView.read(spark, view), recompute(src))
    val f = MatView.read(spark, view).filter(col("k") === "f").head()
    assert(f.getLong(f.fieldIndex("nncnt")) == 0L &&
      f.isNullAt(f.fieldIndex("sum")) &&
      f.getDouble(f.fieldIndex("max")) == 1.0e23)
  }

  test("key columns named after the aggregate columns refuse at create") {
    val src = tempDir("mv_reserved") + "/src"
    st.write(Seq((1L, "a", 1.0)).toDF("id", "cnt", "v"), src, "delta",
      "overwrite")
    intercept[IllegalArgumentException] {
      MatView.create(spark, st, src, tempDir("mv_reserved_v") + "/v",
        Seq("cnt"), "v")
    }
  }

  test("swap-window race classification: missing-path crashes are " +
      "retryable through the cause chain, ordinary failures are not") {
    import Txn.isSwapWindowRace
    assert(isSwapWindowRace(new java.io.FileNotFoundException("/t/x")))
    assert(isSwapWindowRace(new RuntimeException("outer",
      new RuntimeException(
        "[UNABLE_TO_INFER_SCHEMA] Unable to infer schema for Parquet"))))
    assert(isSwapWindowRace(new RuntimeException(
      "[PATH_NOT_FOUND] Path does not exist: file:/t")))
    // a stage-failure SparkException truncates its cause chain and
    // carries the executor stack only as TEXT — the classifier must
    // match the embedded class name (a live compactLog racing an
    // op-log footer read surfaces exactly this way). The raw-text
    // shapes additionally require an ENGINE-owned path in the message
    // (_graft segment, rename-aside suffix, or parquet data file) —
    // both real soak-reproduced shapes carry one.
    assert(isSwapWindowRace(new RuntimeException(
      "Job aborted due to stage failure: Task 3 failed: " +
        "Caused by: java.io.FileNotFoundException: " +
        "File file:/t/_graft_log/00000000000000000007.json")))
    assert(isSwapWindowRace(new RuntimeException(
      "Job aborted due to stage failure: Task 1 failed: " +
        "Caused by: java.io.FileNotFoundException: File " +
        "file:/t/part-00003-c9e1.snappy.parquet does not exist")))
    // FOREIGN failures that merely MENTION a missing file name no
    // engine path and must fail FAST (not cost maxAttempts silent
    // retries): an executor-side script, a user path typo
    assert(!isSwapWindowRace(new RuntimeException(
      "Job aborted due to stage failure: Task 0 failed: " +
        "Caused by: java.io.FileNotFoundException: " +
        "/usr/local/bin/udf_helper.sh")))
    assert(!isSwapWindowRace(new RuntimeException(
      "bash: /data/scripts/transform.sh: No such file or directory")))
    // a foreign job's genuinely MISSING PARQUET INPUT — the most
    // common user-data shape — must fail fast too: `.parquet` counts
    // as an engine path only alongside the task part-file naming
    assert(!isSwapWindowRace(new RuntimeException(
      "Job aborted due to stage failure: Task 0 failed: " +
        "Caused by: java.io.FileNotFoundException: " +
        "File file:/data/input/users.parquet does not exist")))
    assert(!isSwapWindowRace(new RuntimeException(
      "ls: cannot access '/warehouse/events.parquet': " +
        "No such file or directory")))
    assert(!isSwapWindowRace(new RuntimeException("boom")))
    assert(!isSwapWindowRace(new IllegalArgumentException(
      "matview keys must be non-null")))
  }

  test("a data file deleted between a listing and its permission read " +
      "classifies through the typed FileNotFoundException") {
    import org.apache.hadoop.fs.{LocatedFileStatus, Path}
    val src = new Path(mkSource("mv_vanish"))
    val fs = Fs.fileSystem(spark, src)
    val part = fs.listStatus(src).find(_.getPath.getName.startsWith("part-")).get
    Fs.deleteChecked(spark, part.getPath.toString)
    // FileSystem.listFiles builds one of these from every listed status
    val e = intercept[java.io.FileNotFoundException] {
      new LocatedFileStatus(part, null)
    }
    assert(Txn.isSwapWindowRace(e))
    assert(Txn.isSwapWindowRace(new RuntimeException("listing failed", e)))
  }

  test("null keys refuse loudly at create") {
    val src = tempDir("mv_nullkey") + "/src"
    st.write(Seq[(Long, String, java.lang.Double)]((1L, null, 1.0))
      .toDF("id", "k", "v"), src, "delta", "overwrite")
    val view = tempDir("mv_nullkey_v") + "/v"
    intercept[IllegalArgumentException] {
      MatView.create(spark, st, src, view, Seq("k"), "v")
    }
  }

  test("a crashed writer's landed-swap window reports source-crashed, " +
      "never a silent noop, and heals on the next op-log motion") {
    val src = mkSource("mv_crash")
    val view = tempDir("mv_crash_v") + "/v"
    MatView.create(spark, st, src, view, Seq("k"), "v")
    val committedState = MatView.read(spark, view).collect()
      .map(_.toString).sorted.toSeq
    // a real captured merge (data swap + batch commit marker land)...
    val logDir = GraftLog.logPath(src)
    def opFiles = Fs.listFiles(spark, logDir)
      .filter(f => f.endsWith(".parquet") && !f.startsWith("_")).toSet
    val before = opFiles
    st.merge(Seq((2L, "a", 6.0), (10L, "e", 4.0)).toDF("id", "k", "v"),
      src, "full.id = incremental.id", captureChanges = true)
    // ...whose op-log append "never happened" (crash between the
    // marker touch and the append — the exact window VERDICT r12
    // named: content visible, log unmoved)
    val added = before != opFiles
    assert(added, "the merge must have appended an op row")
    (opFiles -- before).foreach(f =>
      Fs.deleteChecked(spark, s"$logDir/$f"))
    // fingerprint equality would have read as noop before: the orphan
    // committed batch above the watermark + no live lock names the
    // crash instead
    val r = MatView.refresh(spark, st, view)
    assert(r.mode == "source-crashed", s"expected source-crashed, got $r")
    // the state is untouched — still the last COMMITTED source state
    // (stale against the visible content, never wrong against the log)
    assert(MatView.read(spark, view).collect()
      .map(_.toString).sorted.toSeq == committedState)
    // heal: ANY next op-log motion is unexplainable against the
    // orphan batch (the count-match rule) and forces the rebuild
    assert(Delete.where(spark, st, src, "id = 9") == 1L)
    val r2 = MatView.refresh(spark, st, view)
    assert(r2.mode == "rebuild", s"expected rebuild, got $r2")
    assertDfEqual(MatView.read(spark, view), recompute(src))
  }

  test("a HARD process crash (lock debris left behind) with an orphan " +
      "batch also reports source-crashed; a YOUNG holder stays noop") {
    // a process that dies before its op-log append also dies before
    // Txn.release (the finally never runs) — the stale lock is part
    // of the crash SIGNATURE, not a liveness proof
    val src = mkSource("mv_hardcrash")
    val view = tempDir("mv_hardcrash_v") + "/v"
    MatView.create(spark, st, src, view, Seq("k"), "v")
    val logDir = GraftLog.logPath(src)
    def opFiles = Fs.listFiles(spark, logDir)
      .filter(f => f.endsWith(".parquet") && !f.startsWith("_")).toSet
    val before = opFiles
    st.merge(Seq((2L, "a", 6.0)).toDF("id", "k", "v"),
      src, "full.id = incremental.id", captureChanges = true)
    (opFiles -- before).foreach(f =>
      Fs.deleteChecked(spark, s"$logDir/$f"))
    Txn.acquire(spark, src, "MERGE") // never released — "crashed"
    // young lock: indistinguishable from a live writer mid-commit —
    // business as usual, its op row is (presumed) moments away
    assert(MatView.refresh(spark, st, view).mode == "noop")
    // aged past the txn timeout the same debris names the crash
    val lp = new org.apache.hadoop.fs.Path(Txn.lockPath(src))
    val fs = lp.getFileSystem(spark.sessionState.newHadoopConf())
    fs.setTimes(lp,
      System.currentTimeMillis() - Txn.LockTimeoutDefaultMs - 60000L, -1)
    val r = MatView.refresh(spark, st, view)
    assert(r.mode == "source-crashed", s"expected source-crashed, got $r")
  }

  test("a mapped RENAME of key and value columns re-resolves on the " +
      "rebuild; a mapped DROP refuses with the remedy") {
    val src = mkSource("mv_alter")
    val view = tempDir("mv_alter_v") + "/v"
    MatView.create(spark, st, src, view, Seq("k"), "v")
    // metadata-only renames of BOTH view columns (physical names stay)
    Alter.renameColumnMetadata(spark, st, src, "k", "grp")
    Alter.renameColumnMetadata(spark, st, src, "v", "metric")
    val r = MatView.refresh(spark, st, view)
    assert(r.mode == "rebuild", s"ALTER must rebuild, got $r")
    // the view's output keys follow the source's new logical names —
    // exactly what a recompute says
    assertDfEqual(MatView.read(spark, view),
      MatViewTestSupport.recompute(spark, st, src, Seq("grp"), "metric"))
    // and the re-resolution is durable: a captured merge under the
    // new names folds incrementally
    st.merge(Seq((2L, "a", 6.0)).toDF("id", "grp", "metric"), src,
      "full.id = incremental.id", captureChanges = true)
    val r2 = MatView.refresh(spark, st, view)
    assert(r2.mode == "incremental", s"got $r2")
    assertDfEqual(MatView.read(spark, view),
      MatViewTestSupport.recompute(spark, st, src, Seq("grp"), "metric"))
    Merge.pruneChangeFeed(spark, src, Long.MaxValue)
    // a RENAME that moves the key onto a stat alias must refuse with
    // the remedy, not wedge every refresh in an ambiguous-reference
    // crash (the create-time reserved-name guard, re-applied after
    // re-resolution)
    Alter.renameColumnMetadata(spark, st, src, "grp", "sum")
    val clashErr = intercept[IllegalArgumentException] {
      MatView.refresh(spark, st, view)
    }
    assert(clashErr.getMessage.contains("collide") &&
      clashErr.getMessage.contains("sum"),
      s"unhelpful clash error: ${clashErr.getMessage}")
    Alter.renameColumnMetadata(spark, st, src, "sum", "grp")
    assert(MatView.refresh(spark, st, view).mode == "rebuild")
    // DROP the value column (metadata flavor): the refresh must refuse
    // with an error naming the view, the column, and the remedy —
    // not die downstream in an unresolved-column crash
    Alter.dropColumnMetadata(spark, st, src, "metric")
    val e = intercept[IllegalArgumentException] {
      MatView.refresh(spark, st, view)
    }
    assert(e.getMessage.contains("DROPPED") &&
      e.getMessage.contains("metric") &&
      e.getMessage.contains("recreate"),
      s"unhelpful drop error: ${e.getMessage}")
  }

  test("multi-column view: one refresh amortizes the feed across " +
      "metrics, suffixed stats equal a recompute of each") {
    val src = tempDir("mv_multi") + "/src"
    st.write(Seq(
      (1L, "a", 1.0, 10.0), (2L, "a", 5.0, 20.0), (3L, "b", 2.0, 30.0),
      (4L, "b", 4.0, 40.0), (5L, "c", 7.0, 50.0))
      .toDF("id", "k", "v", "w"), src, "delta", "overwrite")
    val view = tempDir("mv_multi_v") + "/v"
    val r0 = MatView.createMulti(spark, st, src, view, Seq("k"),
      Seq("v", "w"), withMinMax = true)
    assert(r0.mode == "rebuild")
    def recomputeMulti: DataFrame =
      st.read(src, "delta").groupBy(col("k"))
        .agg(count(lit(1)).as("cnt"),
          count(col("v").try_cast("decimal(28,6)")).as("nncnt_v"),
          sum(col("v").try_cast("decimal(28,6)"))
            .cast("decimal(28,6)").as("sum_v"),
          min(col("v")).as("min_v"), max(col("v")).as("max_v"),
          count(col("w").try_cast("decimal(28,6)")).as("nncnt_w"),
          sum(col("w").try_cast("decimal(28,6)"))
            .cast("decimal(28,6)").as("sum_w"),
          min(col("w")).as("min_w"), max(col("w")).as("max_w"))
    assertDfEqual(MatView.read(spark, view), recomputeMulti)
    // captured merge + captured delete that removes group b's w-max
    // (poisons through the SECOND metric — the rescan guard must OR
    // across value columns)
    st.merge(Seq((2L, "a", 6.0, 25.0), (6L, "c", 3.0, 60.0))
      .toDF("id", "k", "v", "w"), src,
      "full.id = incremental.id", captureChanges = true)
    assert(Delete.where(spark, st, src, "id = 4", captureChanges = true)
      == 1L)
    val r1 = MatView.refresh(spark, st, view)
    assert(r1.mode == "incremental" && r1.batchesApplied == 2, s"got $r1")
    assert(r1.groupsRescanned > 0,
      "removing a w-extreme must rescan through the second metric")
    assertDfEqual(MatView.read(spark, view), recomputeMulti)
  }

  test("no-min/max mode never attaches the fact table: deletes of " +
      "group extremes fold purely, proven by hiding the source") {
    val src = tempDir("mv_nominmax") + "/src"
    st.write(Seq(
      (1L, "a", 1.0, 10.0), (2L, "a", 5.0, 20.0), (3L, "b", 2.0, 30.0),
      (4L, "b", 4.0, 40.0))
      .toDF("id", "k", "v", "w"), src, "delta", "overwrite")
    val view = tempDir("mv_nominmax_v") + "/v"
    MatView.createMulti(spark, st, src, view, Seq("k"), Seq("v", "w"),
      withMinMax = false)
    val cols = MatView.read(spark, view).schema.fieldNames.toSeq
    assert(cols == Seq("k", "cnt", "nncnt_v", "sum_v", "nncnt_w", "sum_w"),
      s"unexpected state shape: $cols")
    // deletes that remove group minima AND maxima — the poison case
    // in min/max mode — plus an update and an insert
    st.merge(Seq((2L, "a", 6.0, 25.0), (5L, "c", 9.0, 90.0))
      .toDF("id", "k", "v", "w"), src,
      "full.id = incremental.id", captureChanges = true)
    assert(Delete.where(spark, st, src, "id IN (1, 4)",
      captureChanges = true) == 2L)
    // hide the fact table's parquet: a refresh that reads ANY source
    // data file now fails loudly — abelian partials never need one
    val hidden = Fs.listFiles(spark, src)
      .filter(f => f.endsWith(".parquet") && !f.startsWith("_"))
    assert(hidden.nonEmpty)
    hidden.foreach(f => Fs.renameChecked(spark, s"$src/$f",
      s"$src/.hidden_$f"))
    try {
      val r = MatView.refresh(spark, st, view)
      assert(r.mode == "incremental" && r.batchesApplied == 2 &&
        r.groupsRescanned == 0L,
        s"expected a pure two-batch fold, got $r")
    } finally hidden.foreach(f => Fs.renameChecked(spark,
      s"$src/.hidden_$f", s"$src/$f"))
    assertDfEqual(MatView.read(spark, view),
      st.read(src, "delta").groupBy(col("k"))
        .agg(count(lit(1)).as("cnt"),
          count(col("v").try_cast("decimal(28,6)")).as("nncnt_v"),
          sum(col("v").try_cast("decimal(28,6)"))
            .cast("decimal(28,6)").as("sum_v"),
          count(col("w").try_cast("decimal(28,6)")).as("nncnt_w"),
          sum(col("w").try_cast("decimal(28,6)"))
            .cast("decimal(28,6)").as("sum_w")))
  }

  test("no-min/max views reserve only the stats they store: a key " +
      "renamed to 'max' keeps refreshing") {
    val src = tempDir("mv_maxkey") + "/src"
    st.write(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "k", "v"),
      src, "delta", "overwrite")
    val view = tempDir("mv_maxkey_v") + "/v"
    MatView.createMulti(spark, st, src, view, Seq("k"), Seq("v"),
      withMinMax = false)
    Alter.renameColumnMetadata(spark, st, src, "k", "max")
    assert(MatView.refresh(spark, st, view).mode == "rebuild")
    assert(MatView.read(spark, view).schema.fieldNames.toSeq ==
      Seq("max", "cnt", "nncnt", "sum"))
    // ...while a min/max view refuses the same rename's refresh (the
    // state really does carry a 'max' column there)
    val src2 = tempDir("mv_maxkey2") + "/src"
    st.write(Seq((1L, "a", 1.0)).toDF("id", "k", "v"), src2,
      "delta", "overwrite")
    val view2 = tempDir("mv_maxkey2_v") + "/v"
    MatView.create(spark, st, src2, view2, Seq("k"), "v")
    Alter.renameColumnMetadata(spark, st, src2, "k", "max")
    val e = intercept[IllegalArgumentException] {
      MatView.refresh(spark, st, view2)
    }
    assert(e.getMessage.contains("collide"), e.getMessage)
  }

  private def stateFiles(view: String): Map[String, (Long, Long)] = {
    val root = new org.apache.hadoop.fs.Path(view)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    def walk(p: org.apache.hadoop.fs.Path)
        : Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap(s =>
        if (s.isDirectory) walk(s.getPath) else Seq(s))
    walk(root).filter(_.getPath.getName.endsWith(".parquet"))
      .map(s => (s.getPath.toString,
        (s.getLen, s.getModificationTime))).toMap
  }

  test("bucketed state: a one-group refresh rewrites ONLY that " +
      "group's bucket — every untouched bucket's files stay " +
      "byte-identical in place (path, size, mtime)") {
    val src = mkSource("mv_bucket")
    val view = tempDir("mv_bucket_v") + "/v"
    MatView.create(spark, st, src, view, Seq("k"), "v")
    val meta0 = MatView.loadMeta(spark, view)
    assert(meta0.buckets > 0, "new views must use the bucketed layout")
    assert(meta0.bucketGens.nonEmpty)
    val before = stateFiles(view)
    // one captured merge touching ONE group ("a")
    st.merge(Seq((2L, "a", 6.0)).toDF("id", "k", "v"), src,
      "full.id = incremental.id", captureChanges = true)
    assert(MatView.refresh(spark, st, view).mode == "incremental")
    val meta1 = MatView.loadMeta(spark, view)
    // exactly the touched group's bucket moved to a new generation
    val moved = meta1.bucketGens.toSet diff meta0.bucketGens.toSet
    assert(moved.size == 1, s"expected 1 bucket rewritten, got $moved")
    val untouched = meta0.bucketGens.filter { case (b, g) =>
      meta1.bucketGens.get(b).contains(g) }
    assert(untouched.nonEmpty,
      "seed groups must spread over more than one bucket")
    // every untouched bucket's files: same path, same size, same mtime
    val after = stateFiles(view)
    untouched.foreach { case (b, g) =>
      val prefix = s"/b"
      val beforeFiles = before.filter(_._1.contains(f"/b$b%05d/"))
      assert(beforeFiles.nonEmpty)
      beforeFiles.foreach { case (p, sig) =>
        assert(after.get(p).contains(sig),
          s"untouched bucket $b file changed: $p")
      }
    }
    // the superseded generation is still on disk (grace window for
    // in-flight readers), unreferenced by the manifest
    val (movedB, movedG) = moved.head
    val oldG = meta0.bucketGens(movedB)
    assert(movedG == oldG + meta1.stateGen - meta0.stateGen ||
      movedG > oldG)
    assert(before.keys.exists(_.contains(f"/b$movedB%05d/")),
      "the touched bucket must have existed before")
    // and the view still equals a recompute
    assertDfEqual(MatView.read(spark, view), recompute(src))
  }

  test("bucketed state: emptied buckets leave the manifest; stale " +
      "generations sweep only past the grace age; crash debris (an " +
      "unreferenced generation) is invisible to readers") {
    val src = mkSource("mv_bucket_empty")
    val view = tempDir("mv_bucket_empty_v") + "/v"
    // tight grace so this test can watch the sweep both refuse and act
    spark.conf.set(MatView.GenGraceKey, "600000")
    try {
      MatView.create(spark, st, src, view, Seq("k"), "v")
      val meta0 = MatView.loadMeta(spark, view)
      // delete EVERY row of group "b" (ids 4, 5) — captured
      assert(Delete.where(spark, st, src, "id = 4 OR id = 5",
        captureChanges = true) == 2L)
      assert(MatView.refresh(spark, st, view).mode == "incremental")
      val meta1 = MatView.loadMeta(spark, view)
      assert(meta1.bucketGens.size == meta0.bucketGens.size - 1,
        s"group b's bucket must leave the manifest: " +
          s"${meta0.bucketGens} -> ${meta1.bucketGens}")
      assertDfEqual(MatView.read(spark, view), recompute(src))
      // plant crash debris: an unreferenced FUTURE generation with
      // garbage content — readers must never see it
      val fsP = new org.apache.hadoop.fs.Path(view)
      val fs = fsP.getFileSystem(spark.sessionState.newHadoopConf())
      val someBucket = meta1.bucketGens.head._1
      val debris = new org.apache.hadoop.fs.Path(
        f"$view/g${meta1.stateGen + 7}%012d/b$someBucket%05d")
      fs.mkdirs(debris.getParent)
      MatView.read(spark, view).limit(1)
        .write.parquet(debris.toString)
      assertDfEqual(MatView.read(spark, view), recompute(src))
      // young debris survives the sweep (grace); aged debris goes on
      // the next mutating refresh
      st.merge(Seq((1L, "a", 2.5)).toDF("id", "k", "v"), src,
        "full.id = incremental.id", captureChanges = true)
      assert(MatView.refresh(spark, st, view).mode == "incremental")
      assert(fs.exists(debris), "young debris must survive (grace)")
      // the sweep ages by the newest FILE inside (dir mtimes are
      // object-store-synthetic) — age the files, not the dir
      val files = fs.listFiles(debris, true)
      while (files.hasNext)
        fs.setTimes(files.next().getPath,
          System.currentTimeMillis() - 700000L, -1)
      fs.setTimes(debris, System.currentTimeMillis() - 700000L, -1)
      st.merge(Seq((1L, "a", 3.5)).toDF("id", "k", "v"), src,
        "full.id = incremental.id", captureChanges = true)
      assert(MatView.refresh(spark, st, view).mode == "incremental")
      assert(!fs.exists(debris), "aged unreferenced debris must sweep")
      assertDfEqual(MatView.read(spark, view), recompute(src))
    } finally spark.conf.unset(MatView.GenGraceKey)
  }

  test("bucketed state: the gen sweep ages by the birth stamp in the " +
      "dir, never by file mtimes — synthetic mtimes cannot rush or " +
      "stall the sweep") {
    val src = mkSource("mv_born")
    val view = tempDir("mv_born_v") + "/v"
    spark.conf.set(MatView.GenGraceKey, "600000")
    try {
      MatView.create(spark, st, src, view, Seq("k"), "v")
      val meta0 = MatView.loadMeta(spark, view)
      val fs = new org.apache.hadoop.fs.Path(view)
        .getFileSystem(spark.sessionState.newHadoopConf())
      // every LIVE generation dir carries ONE birth marker from
      // staging (generation-outer layout: its buckets are all born
      // together, so the stamp lives beside them in the gen dir)
      meta0.bucketGens.foreach { case (b, g) =>
        val names = fs.listStatus(new org.apache.hadoop.fs.Path(
          f"$view/g$g%012d")).map(_.getPath.getName)
        assert(names.exists(_.startsWith("_graft_born_")),
          s"staged gen dir must be birth-stamped: ${names.toSeq}")
        assert(names.contains(f"b$b%05d"),
          s"live bucket $b must sit inside its generation dir")
      }
      val someBucket = meta0.bucketGens.head._1
      def plant(gen: Long, bornAgoMs: Long,
                mtimeAgoMs: Long): org.apache.hadoop.fs.Path = {
        val genDir = new org.apache.hadoop.fs.Path(f"$view/g$gen%012d")
        val p = new org.apache.hadoop.fs.Path(
          f"$view/g$gen%012d/b$someBucket%05d")
        MatView.read(spark, view).limit(1).write.parquet(p.toString)
        Fs.touch(spark, genDir.toString + "/_graft_born_" +
          (System.currentTimeMillis() - bornAgoMs))
        val it = fs.listFiles(genDir, true)
        while (it.hasNext)
          fs.setTimes(it.next().getPath,
            System.currentTimeMillis() - mtimeAgoMs, -1)
        p
      }
      // orphan 1: born long ago, files look FRESH (mtime would keep
      // it) — the name-stamp must sweep it
      val expired = plant(meta0.stateGen + 7, 700000L, 0L)
      // orphan 2: born just now, files look ANCIENT (a store with
      // upload-batched mtimes — mtime would sweep it instantly while
      // a reader on the previous sidecar still scans) — kept
      val fresh = plant(meta0.stateGen + 8, 0L, 700000L)
      st.merge(Seq((1L, "a", 9.0)).toDF("id", "k", "v"), src,
        "full.id = incremental.id", captureChanges = true)
      assert(MatView.refresh(spark, st, view).mode == "incremental")
      assert(!fs.exists(expired),
        "an orphan born past grace must sweep despite fresh mtimes")
      assert(fs.exists(fresh),
        "an orphan born in-grace must survive despite ancient mtimes")
      assertDfEqual(MatView.read(spark, view), recompute(src))
    } finally spark.conf.unset(MatView.GenGraceKey)
  }

  test("bucketed state: a crashed commit's orphan generation (renames " +
      "landed, sidecar swap didn't) never collides with the retry — " +
      "gens allocate above everything on disk") {
    val src = mkSource("mv_gencrash")
    val view = tempDir("mv_gencrash_v") + "/v"
    MatView.create(spark, st, src, view, Seq("k"), "v")
    val meta0 = MatView.loadMeta(spark, view)
    // simulate the crash window: a FUTURE generation dir exists at
    // exactly stateGen+1 for a live bucket (what a commit that died
    // between its renames and the sidecar swap leaves), holding
    // content that would DOUBLE-COUNT if a retry nested into it
    val fs = new org.apache.hadoop.fs.Path(view)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val someBucket = meta0.bucketGens.head._1
    val orphan = new org.apache.hadoop.fs.Path(
      f"$view/g${meta0.stateGen + 1}%012d/b$someBucket%05d")
    MatView.read(spark, view).limit(2).write.parquet(orphan.toString)
    // the next captured merge's refresh must commit cleanly PAST the
    // orphan (no rename wedge, no nesting, no double count)
    st.merge(Seq((2L, "a", 6.0)).toDF("id", "k", "v"), src,
      "full.id = incremental.id", captureChanges = true)
    assert(MatView.refresh(spark, st, view).mode == "incremental")
    val meta1 = MatView.loadMeta(spark, view)
    assert(meta1.stateGen > meta0.stateGen + 1,
      s"the new generation must allocate ABOVE the on-disk orphan: " +
        s"${meta0.stateGen} -> ${meta1.stateGen}")
    assert(fs.exists(orphan),
      "the young orphan is the grace sweep's, not the commit's")
    assertDfEqual(MatView.read(spark, view), recompute(src))
  }

  /** A captured merge updating one row of every seed group (a, b, c,
    * d) — a delta that hashes into every live bucket. */
  private def mergeEveryGroup(src: String, v: Double): Unit =
    st.merge(Seq((1L, "a", v), (4L, "b", v), (6L, "c", v), (8L, "d", v))
      .toDF("id", "k", "v"), src, "full.id = incremental.id",
      captureChanges = true)

  test("bucketed state: a refresh whose delta covers every live bucket " +
      "restages a small view at ONE bucket with a one-entry manifest") {
    val src = mkSource("mv_restage")
    val view = tempDir("mv_restage_v") + "/v"
    MatView.create(spark, st, src, view, Seq("k"), "v")
    val meta0 = MatView.loadMeta(spark, view)
    assert(meta0.buckets == MatView.StateBucketsDefault)
    assert(meta0.bucketGens.size > 1,
      "seed groups must spread over more than one bucket")
    mergeEveryGroup(src, 4.0)
    val r = MatView.refresh(spark, st, view)
    assert(r.mode == "incremental", s"took ${r.mode}")
    val meta1 = MatView.loadMeta(spark, view)
    assert(meta1.buckets == 1, s"a KB-sized state restages at one " +
      s"bucket, got ${meta1.buckets}")
    assert(meta1.bucketGens == Map(0 -> meta1.stateGen),
      s"the manifest names only the staged bucket: ${meta1.bucketGens}")
    assertDfEqual(MatView.read(spark, view), recompute(src))
    // a one-bucket view's refreshes always cover it and stay at one
    st.merge(Seq((2L, "a", 6.0)).toDF("id", "k", "v"), src,
      "full.id = incremental.id", captureChanges = true)
    assert(MatView.refresh(spark, st, view).mode == "incremental")
    assert(MatView.loadMeta(spark, view).buckets == 1)
    assertDfEqual(MatView.read(spark, view), recompute(src))
  }

  test("bucketed state: the restaged count follows the state's bytes " +
      "over spark.sql.files.openCostInBytes, and a later sparse delta " +
      "rewrites only its bucket") {
    val src = mkSource("mv_regrow")
    val view = tempDir("mv_regrow_v") + "/v"
    MatView.create(spark, st, src, view, Seq("k"), "v")
    mergeEveryGroup(src, 4.0)
    assert(MatView.refresh(spark, st, view).mode == "incremental")
    assert(MatView.loadMeta(spark, view).buckets == 1)
    spark.conf.set("spark.sql.files.openCostInBytes", "1024")
    try {
      // a KB-sized state spans several 1 KB open costs
      mergeEveryGroup(src, 7.0)
      assert(MatView.refresh(spark, st, view).mode == "incremental")
      val meta1 = MatView.loadMeta(spark, view)
      assert(meta1.buckets > 1, s"the count must grow: ${meta1.buckets}")
      assert(meta1.bucketGens.keySet.forall(_ < meta1.buckets))
      assert(meta1.bucketGens.size > 1,
        s"seed groups must spread over the grown buckets: " +
          meta1.bucketGens)
      assertDfEqual(MatView.read(spark, view), recompute(src))
      // one key touches one bucket of several: today's partial path
      st.merge(Seq((2L, "a", 6.0)).toDF("id", "k", "v"), src,
        "full.id = incremental.id", captureChanges = true)
      assert(MatView.refresh(spark, st, view).mode == "incremental")
      val meta2 = MatView.loadMeta(spark, view)
      assert(meta2.buckets == meta1.buckets)
      val moved = meta2.bucketGens.toSet diff meta1.bucketGens.toSet
      assert(moved.size == 1, s"expected 1 bucket rewritten, got $moved")
      assert(meta2.bucketGens.keySet == meta1.bucketGens.keySet)
      assertDfEqual(MatView.read(spark, view), recompute(src))
    } finally spark.conf.unset("spark.sql.files.openCostInBytes")
  }

  test("bucketed state: a set spark.graft.matviewStateBuckets pins the " +
      "count through full-coverage refreshes") {
    val src = mkSource("mv_pinned")
    val view = tempDir("mv_pinned_v") + "/v"
    spark.conf.set(MatView.StateBucketsKey, "8")
    try {
      MatView.create(spark, st, src, view, Seq("k"), "v")
      val meta0 = MatView.loadMeta(spark, view)
      assert(meta0.buckets == 8)
      for (v <- Seq(4.0, 7.0)) {
        mergeEveryGroup(src, v)
        assert(MatView.refresh(spark, st, view).mode == "incremental")
        val m = MatView.loadMeta(spark, view)
        assert(m.buckets == 8, s"a pinned count never changes: ${m.buckets}")
        assert(m.bucketGens.keySet == meta0.bucketGens.keySet)
        assertDfEqual(MatView.read(spark, view), recompute(src))
      }
    } finally spark.conf.unset(MatView.StateBucketsKey)
  }

  test("an incremental refresh reads only the batches above its " +
      "watermark: an already-folded batch overwritten with garbage " +
      "bytes is never opened") {
    val src = mkSource("mv_folded_garbage")
    val view = tempDir("mv_folded_garbage_v") + "/v"
    MatView.create(spark, st, src, view, Seq("k"), "v")
    st.merge(Seq((2L, "a", 6.0)).toDF("id", "k", "v"), src,
      "full.id = incremental.id", captureChanges = true)
    assert(MatView.refresh(spark, st, view).mode == "incremental")
    val folded = MatView.loadMeta(spark, view).lastBatch
    val batchDir = s"$src/${Merge.ChangesDirName}/batch=$folded"
    val parts = Fs.dataFiles(spark, batchDir).map(_._1)
    assert(parts.nonEmpty)
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sessionState.newHadoopConf())
    parts.foreach { p =>
      val out = fs.create(new org.apache.hadoop.fs.Path(p), true)
      try out.write("not a parquet file".getBytes("UTF-8"))
      finally out.close()
    }
    Delete.where(spark, st, src, "id = 8", captureChanges = true)
    val r = MatView.refresh(spark, st, view)
    assert(r.mode == "incremental" && r.batchesApplied == 1L, s"took $r")
    assertDfEqual(MatView.read(spark, view), recompute(src))
  }

  test("an older on-disk format is refused with the recreate fix: a " +
      "sidecar without `layout`, with layout 1, or with 0 buckets fails " +
      "read and refresh loudly") {
    val src = mkSource("mv_oldfmt")
    val view = tempDir("mv_oldfmt_v") + "/v"
    MatView.create(spark, st, src, view, Seq("k"), "v")
    val sc = view + "/" + MatView.SidecarName
    val current = Fs.readText(spark, sc)
    Seq(current.replaceAll(",\"layout\":\\d+", ""),
      current.replaceAll("\"layout\":\\d+", "\"layout\":1"),
      current.replaceAll("\"buckets\":\\d+", "\"buckets\":0"))
      .foreach { older =>
        assert(older != current, "the rewrite must change the sidecar")
        Fs.writeText(spark, sc, older)
        Seq[() => Any](() => MatView.read(spark, view),
          () => MatView.refresh(spark, st, view)).foreach { call =>
          val e = intercept[IllegalStateException](call())
          assert(e.getMessage.contains("recreate"),
            s"the refusal must name the fix: ${e.getMessage}")
        }
      }
  }

  test("local-delta fold: BinaryType keys match by content, not JVM " +
      "reference — a matched binary key must not re-union as a new " +
      "group (silent duplicate state rows)") {
    val src = tempDir("mv_bin") + "/src"
    st.write(Seq(
      (1L, Array[Byte](1, 2, 3), 1.0),
      (2L, Array[Byte](1, 2, 3), 5.0),
      (3L, Array[Byte](9, 9), 2.0)).toDF("id", "k", "v"),
      src, "delta", "overwrite")
    val view = tempDir("mv_bin_v") + "/v"
    MatView.create(spark, st, src, view, Seq("k"), "v")
    // captured merge touching the EXISTING binary key: the broadcast
    // join matches it by CONTENT, and the driver-side new-key
    // recovery must agree it matched — byte arrays compare by
    // reference in a raw JVM Set, which would re-union the group
    st.merge(Seq((2L, Array[Byte](1, 2, 3), 6.0)).toDF("id", "k", "v"),
      src, "full.id = incremental.id", captureChanges = true)
    val r = MatView.refresh(spark, st, view)
    assert(r.mode == "incremental", s"took ${r.mode}")
    val got = MatView.read(spark, view)
    assert(got.groupBy(hex(col("k"))).count()
      .filter(col("count") > 1L).isEmpty,
      "duplicate state rows for one binary key")
    assertDfEqual(got.withColumn("k", hex(col("k"))),
      recompute(src).withColumn("k", hex(col("k"))))
  }

  test("a non-managed source refuses; a non-view path refuses refresh") {
    val plain = tempDir("mv_plain") + "/p"
    Seq((1L, "a", 1.0)).toDF("id", "k", "v")
      .write.parquet(plain)
    intercept[IllegalArgumentException] {
      MatView.create(spark, st, plain, tempDir("mv_plain_v") + "/v",
        Seq("k"), "v")
    }
    intercept[IllegalArgumentException] {
      MatView.refresh(spark, st, plain)
    }
  }

  test("loadMetaReadOnly: genuine absence is authoritative, but swap " +
      "evidence (a staged sidecar) refuses retryably — never a false " +
      "not-a-view on a live view's machinery") {
    // genuinely not a view: loud IllegalArgumentException, no rescan
    val plain = tempDir("mv_ro_plain") + "/t"
    st.write(seedRows.toDF("id", "k", "v"), plain, "delta", "overwrite")
    intercept[IllegalArgumentException] {
      MatView.loadMetaReadOnly(spark, plain)
    }
    // a live view reads fine through the read-only path
    val src = mkSource("mv_ro_src")
    val view = tempDir("mv_ro_v") + "/v"
    MatView.create(spark, st, src, view, Seq("k"), "v")
    assert(MatView.loadMetaReadOnly(spark, view).source == src)
    // thread the full-miss interleaving deterministically: the live
    // sidecar parked out of sight with ONLY the staged __tmp visible
    // (mid-swapSidecar crash shape). The poller must NOT conclude
    // not-a-view — the staged sidecar is evidence of the maintainer's
    // in-flight swap — and must refuse RETRYABLY instead
    val sc = view + "/" + MatView.SidecarName
    val body = Fs.readText(spark, sc)
    Fs.writeText(spark, sc + "__tmp", body)
    Fs.deleteChecked(spark, sc)
    intercept[ConcurrentWriteException] {
      MatView.loadMetaReadOnly(spark, view)
    }
    // and once the swap "completes" (sidecar back in place), the same
    // poll succeeds again with the staged debris still present
    Fs.writeText(spark, sc, body)
    assert(MatView.loadMetaReadOnly(spark, view).source == src)
  }
}
