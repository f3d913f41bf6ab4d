package graft.storage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Expectations

/** Audit failure: the staged data violated a rule; the live table was
  * left untouched and the stage was cleaned. */
class AuditFailedException(val violations: Seq[(String, Long)])
  extends RuntimeException(
    "write-audit-publish aborted: " + violations
      .map { case (r, n) => s"$r=$n" }.mkString(", "))

/** Write-Audit-Publish — the Iceberg-pattern staging workflow on the
  * managed-parquet engine: write the candidate data to a STAGE
  * directory, run value expectations against what was actually
  * written (the files a reader would see, not the in-memory frame),
  * and only then publish atomically-as-possible into the live path.
  * A failed audit leaves the live table byte-untouched and cleans the
  * stage — bad data is never readable at the production path, which
  * is the entire point of the pattern at 100 TB where "publish then
  * notice" means a fleet of consumers already read garbage.
  *
  * Builds from parts the engine already has: [[Expectations]] (one
  * aggregation pass over the staged files), the OVERWRITE swap
  * ([[GraftLog.overwriteSwap]] — a publish replaces the table's
  * content wholesale, so the op log and constraints survive but the
  * change feed drops behind a recorded horizon and MoR tombstones go
  * with the rows they referred to; carrying the feed would let
  * readAsOf inverse-replay batches of the REPLACED table over the
  * published content, and carried tombstones would hide fresh rows
  * with old keys), and the `_graft_log` audit trail (`WAP_PUBLISH`
  * entry per publish).
  */
object WriteAuditPublish {

  /** Root-sibling prefix of every WAP stage dir:
    * `<table>__graft_stage_<uuid>`. The uuid makes the stage
    * PER-RUN-OWNED — with a fixed shared name, two concurrent WAP
    * runs on one table raced on the same mutable stage OUTSIDE the
    * commit lock, and run A's locked publish could rename run B's
    * never-audited-by-A frame into the live table (published ≠
    * audited, silently). Each run now writes, audits, and publishes
    * ONLY the dir it created; a crashed run's orphan stage is swept
    * by [[Maintenance.vacuum]] once it ages past the orphan horizon
    * (younger stages may be a live audit in flight — skipped, like
    * marker-less change batches). */
  val StagePrefix = "__graft_stage"

  /** Stage `df` beside `path`, audit with `rules`, publish on pass.
    * Returns the audit report (rule, violations — all zeros by
    * construction when it returns). Throws [[AuditFailedException]]
    * on any violation.
    *
    * `failOnConcurrentWrite = true` snapshots the table's op log at
    * STAGE time and refuses the publish ([[ConcurrentWriteException]],
    * stage cleaned, table untouched) when any mutation committed
    * during the audit — for pipelines whose staged content was
    * DERIVED from reading this table, where publishing over a
    * concurrent merge would silently discard that merge. The default
    * (false) keeps plain overwrite semantics: a publish REPLACES the
    * table wholesale by contract, concurrent commits included. */
  def run(spark: SparkSession, storage: BasicStorage, df: DataFrame,
          path: String, rules: Seq[Expectations.Rule],
          failOnConcurrentWrite: Boolean = false): DataFrame = {
    require(rules.nonEmpty, "write-audit-publish needs audit rules — " +
      "an empty audit is a plain write")
    val base = path.stripSuffix("/")
    val stageSnap =
      if (failOnConcurrentWrite) Some(Txn.snapshot(spark, base))
      else None
    // per-run-owned stage (see [[StagePrefix]]): no other run can
    // replace this dir's content between the audit and the publish
    val stage = base + StagePrefix + "_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    // set when THIS run starts replacing the live table: only from
    // then on can its stage be the only complete copy (see the catch)
    var publishing = false
    try {
      df.write.format("parquet").mode("overwrite").save(stage)
      // audit what was WRITTEN: the staged files are the publish
      // artifact
      val report = Expectations
        .check(spark.read.parquet(stage), rules)
        .localCheckpoint(true) // rules-count rows; read twice (gate + return)
      val bad = report.filter(col("violations") > 0L)
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      if (bad.nonEmpty) throw new AuditFailedException(bad)
      if (GraftLog.isManagedTable(spark, base))
        // the publish phase (swap + op-log append) runs under the
        // table's commit lock — the audit above stays lock-free by
        // design (it reads only the run-owned stage), so a slow audit
        // never blocks other writers; only the instant of replacement
        // does. The swap consumes the stage (renames it into place).
        Txn.withTableLock(spark, base, "WAP_PUBLISH") {
          stageSnap.foreach(
            Txn.assertUnchanged(spark, base, _, "WAP publish"))
          publishing = true
          GraftLog.overwriteSwap(spark, base, stage)
          GraftLog.append(spark, base, "WAP_PUBLISH", Nil)
        }
      else {
        // rename-aside, not delete-then-rename: a failure between a
        // delete and the rename would leave NEITHER the old output
        // nor the audited frame at base
        publishing = true
        val old = base + "__graft_old"
        Fs.deleteChecked(spark, old)
        if (Fs.exists(spark, base)) Fs.renameChecked(spark, base, old)
        Fs.renameChecked(spark, stage, base)
        Fs.deleteChecked(spark, old)
        GraftLog.append(spark, base, "WAP_PUBLISH", Nil)
      }
      report
    } catch {
      // EVERY failure — audit violation, lock contention, the
      // stale-snapshot check, a failed stage write — cleans this
      // run's stage: a refused publish leaves the live table
      // untouched and no debris, the audit-failure contract. (If the
      // swap already consumed the stage, the delete is a no-op; a
      // hard crash skips this and vacuum sweeps the aged orphan.)
      // GUARDED against this run's OWN mid-swap window (base absent
      // AND an aside present): there the stage (or the aside) may be
      // the ONLY complete copy — deleting it would turn a recoverable
      // failure into data loss; vacuum heals that window instead. A
      // run refused before publishing (say, its lock acquire landed
      // in ANOTHER run's swap window) owns a stage no swap touched,
      // and a base that simply never existed (failed FIRST publish to
      // a fresh path) has nothing to lose — both clean like any other
      // refusal.
      case e: Throwable =>
        try {
          val midSwap = publishing && !Fs.exists(spark, base) &&
            (Fs.exists(spark, base + "__graft_old") ||
             Fs.exists(spark, base + "__old"))
          if (!midSwap) Fs.deleteChecked(spark, stage)
        } catch { case scala.util.control.NonFatal(_) => () }
        throw e
    }
  }
}
