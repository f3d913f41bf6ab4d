package graft.storage

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Op-log compaction ([[Maintenance.compactLog]]): every mutation
  * appends a one-row file, and metadata reads open all of them —
  * compaction collapses the log to ONE file with content, order, and
  * every downstream consumer (history, partitioning, txn watermarks,
  * time travel, the commit-lock snapshot) unchanged. */
class LogCompactSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def st = new BasicStorage(spark)

  private val logCols = Seq("operation", "timestamp", "partition_fields",
    "seq", "txn_app", "txn_batch")

  private def logFiles(path: String): Seq[String] =
    Fs.listFiles(spark, GraftLog.logPath(path))
      .filterNot(_.startsWith("_")).filterNot(_.startsWith("."))

  /** A table with a real history: write, two captured merges, a
    * captured delete — five-plus log files. */
  private def mkSource(prefix: String): String = {
    val path = tempDir(prefix) + "/t"
    st.write((1L to 20L).map(i => (i, i * 10.0)).toDF("id", "v"),
      path, "delta", "overwrite")
    st.merge((1L to 5L).map(i => (i, i * 10.0 + 1)).toDF("id", "v"),
      path, "full.id = incremental.id", captureChanges = true)
    st.merge((21L to 23L).map(i => (i, i * 10.0)).toDF("id", "v"),
      path, "full.id = incremental.id", captureChanges = true)
    Delete.where(spark, st, path, "id = 20", captureChanges = true)
    path
  }

  test("compaction shrinks the log to one file with every row, value, " +
      "and ordering preserved (plus its own LOG_COMPACT record)") {
    val path = mkSource("logc_basic")
    assert(logFiles(path).size >= 4, "precondition: multi-file log")
    val before = GraftLog.history(spark, path)
      .select(logCols.head, logCols.tail: _*).collect().toSeq
    val partsBefore = GraftLog.lastPartitioning(spark, path)
    val replaced = Maintenance.compactLog(spark, path)
    assert(replaced >= 4, s"expected to replace the files, got $replaced")
    assert(logFiles(path).size == 1, "the log must rest at ONE file")
    val after = GraftLog.history(spark, path)
      .select(logCols.head, logCols.tail: _*).collect().toSeq
    assert(after.head.getString(0) == "LOG_COMPACT",
      "the compaction records itself, newest")
    assert(after.tail == before,
      "every pre-compaction row must survive byte-identically, in order")
    assert(GraftLog.lastPartitioning(spark, path) == partsBefore)
  }

  test("a second compaction is a genuine no-op") {
    val path = mkSource("logc_noop")
    assert(Maintenance.compactLog(spark, path) > 0)
    assert(Maintenance.compactLog(spark, path) == 0L)
    assert(logFiles(path).size == 1)
  }

  test("the table keeps mutating and time-travelling across a " +
      "compaction") {
    val path = mkSource("logc_continue")
    Maintenance.compactLog(spark, path)
    // mutate after: the fresh append coexists with the compacted file
    st.merge(Seq((30L, 300.0)).toDF("id", "v"),
      path, "full.id = incremental.id", captureChanges = true)
    assert(st.read(path, "delta").filter(col("id") === 30L).count() == 1)
    // travel back across the compaction to before EVERY captured batch
    val t0 = Merge.readAsOf(spark, st, path, Seq("id"), Long.MinValue)
    assert(t0.count() == 20L,
      "time travel must still reconstruct the original snapshot")
  }

  test("a crash between the swap's renames heals on the next " +
      "isManagedTable probe") {
    val path = mkSource("logc_crash")
    Maintenance.compactLog(spark, path)
    val lp = GraftLog.logPath(path)
    // simulate the crash window: live log renamed aside, new one never
    // renamed in
    Fs.renameChecked(spark, lp, lp + "__old")
    assert(!Fs.exists(spark, lp))
    assert(GraftLog.isManagedTable(spark, path),
      "the probe must heal the aside, not report unmanaged")
    assert(Fs.exists(spark, lp) && !Fs.exists(spark, lp + "__old"))
    assert(GraftLog.history(spark, path).count() > 0)
  }

  test("a probe during a LIVE compaction's swap window answers " +
      "managed without rolling the swap back; heal waits for the " +
      "lock to clear") {
    val path = mkSource("logc_liveswap")
    val lp = GraftLog.logPath(path)
    // simulate the compactor mid-swap: commit lock held (fresh),
    // live log renamed aside, staged dir not yet renamed in
    Fs.writeText(spark, Txn.lockPath(path), "some-token\nLOG_COMPACT")
    Fs.renameChecked(spark, lp, lp + "__old")
    try {
      assert(GraftLog.isManagedTable(spark, path),
        "mid-swap the table is still managed")
      assert(Fs.exists(spark, lp + "__old") && !Fs.exists(spark, lp),
        "a lock-free probe must NEVER heal under a live lock — the " +
          "compactor's second rename would nest into the restored dir")
    } finally Fs.deleteChecked(spark, Txn.lockPath(path))
    // lock gone (holder released/crashed-and-broken): the probe heals
    assert(GraftLog.isManagedTable(spark, path))
    assert(Fs.exists(spark, lp) && !Fs.exists(spark, lp + "__old"))
  }

  test("vacuum compacts an overgrown log as part of its sweep, and " +
      "leaves one under the threshold alone") {
    val path = mkSource("logc_vacuum")
    val key = Maintenance.LogCompactThresholdKey
    try {
      spark.conf.set(key, "3")
      // a dry run PREVIEWS the compaction without touching anything —
      // vacuum's full-action-plan contract
      val plan = Maintenance.vacuum(spark, path, dryRun = true)
      assert(plan.exists(_.kind == "compact-log"),
        s"the dry run must plan the compaction, got $plan")
      assert(logFiles(path).size > 3, "dry run must not touch the log")
      val acts = Maintenance.vacuum(spark, path)
      assert(acts.exists(_.kind == "compact-log"),
        s"4+ log files over threshold 3 must compact, got $acts")
      assert(logFiles(path).size == 1)
      // under the threshold: untouched
      assert(!Maintenance.vacuum(spark, path)
        .exists(_.kind == "compact-log"))
      assert(logFiles(path).size == 1)
    } finally spark.conf.unset(key)
  }

  test("an op-log file in an older format (INT96 timestamps) is " +
      "refused with the recreate fix, not mis-decoded") {
    val path = mkSource("logc_int96")
    val key = "spark.sql.parquet.outputTimestampType"
    try {
      spark.conf.set(key, "INT96")
      GraftLog.history(spark, path).limit(1).coalesce(1)
        .write.mode("append").parquet(GraftLog.logPath(path))
    } finally spark.conf.unset(key)
    val e = intercept[IllegalStateException] {
      GraftLog.history(spark, path)
    }
    assert(e.getMessage.contains("older on-disk format") &&
      e.getMessage.contains("recreate"),
      s"the refusal must name the format and the fix: ${e.getMessage}")
  }

  test("a non-managed path refuses") {
    val plain = tempDir("logc_plain") + "/p"
    Seq((1L, 1.0)).toDF("id", "v").write.parquet(plain)
    intercept[IllegalArgumentException] {
      Maintenance.compactLog(spark, plain)
    }
  }

  test("a materialized view classifies LOG_COMPACT as content-" +
      "invisible: advance, then noop") {
    val path = mkSource("logc_mv")
    val view = tempDir("logc_mv_v") + "/v"
    MatView.create(spark, st, path, view, Seq("id"), "v")
    assert(Maintenance.compactLog(spark, path) > 0)
    val r = MatView.refresh(spark, st, view)
    assert(r.mode == "advance", s"took ${r.mode}")
    assert(MatView.refresh(spark, st, view).mode == "noop")
  }
}
