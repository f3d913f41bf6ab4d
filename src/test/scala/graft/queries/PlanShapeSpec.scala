package graft.queries

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Physical-plan shape assertions for the declared queries — the
  * properties that matter at 100 TB, pinned so a regression in scan
  * pruning, filter pushdown, or join strategy fails CI rather than
  * silently multiplying cluster cost. Runs on sf0.001 (plan shape is
  * scale-invariant; AQE finalizes after one action). */
class PlanShapeSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** Executed-plan string after forcing execution (AQE final plan). */
  private def planOf(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  test("q_select_project prunes the parquet read schema to selected columns") {
    val p = planOf(GraftQueries.selectProject(spark, dir))
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_extendedprice"), "unselected column read from parquet")
    assert(!p.contains("l_comment"))
  }

  test("q_filter_string pushes the predicate into the parquet scan") {
    val p = planOf(GraftQueries.filterString(spark, dir))
    assert(p.contains("PushedFilters"))
    assert(p.contains("GreaterThan(l_quantity,30.0)"),
      s"quantity filter not pushed:\n$p")
    // (the PushedFilters list is string-truncated at 100 chars — assert
    // on an entry that survives truncation)
    assert(p.contains("IsNotNull(l_returnflag)"))
  }

  test("customer_summary joins the small dimension by broadcast") {
    val p = planOf(GraftQueries.customerSummary(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"dimension join not broadcast:\n$p")
  }

  test("q_range_join broadcasts the interval table, no shuffle before agg") {
    val p = planOf(GraftQueries.rangeJoin(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"interval join should be a broadcast nested loop:\n$p")
  }

  test("q_bloom_join keeps the bloom predicate map-side under the exact join") {
    val p = planOf(GraftQueries.bloomJoin(spark, dir))
    assert(p.contains("might_contain"),
      s"bloom membership predicate missing from the executed plan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"small-dimension exact join should broadcast:\n$p")
    // the predicate must sit on the fact-scan side, not post-join: in the
    // top-down plan print the join header precedes its children, so the
    // filter line must appear after it
    assert(p.indexOf("might_contain") > p.indexOf("BroadcastHashJoin"),
      s"bloom filter printed above the join — applied post-join?\n$p")
  }

  test("q_topk is TakeOrderedAndProject, not a full sort") {
    val p = planOf(GraftQueries.topK(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), s"top-k fell back to sort:\n$p")
  }

  test("brute-force ANN broadcasts the query side") {
    val p = planOf(GraftQueries.cosineTopK(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"query side not broadcast:\n$p")
  }

  test("q_rolling_active bounds observation days by a broadcast semi-join") {
    val p = planOf(GraftQueries.rollingActiveQ(spark, dir))
      .split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"day-list bound not a broadcast semi-join:\n$p")
    // the ×N fan-out must sit ABOVE the user-day distinct (explode of
    // the compact grain), never on the raw event scan: in tree-string
    // order the Generate prints above (before) the first aggregate's
    // exchange-fed scan section
    assert(p.contains("Generate explode"), s"fan-out missing:\n$p")
  }

  test("per-query top-k is a bounded aggregate, not a window sort") {
    // the row_number() form sorted |queries|·|corpus| scored rows; the
    // BoundedTopKAgg form must show the custom aggregate and no Sort
    // or Window over the scored candidates
    val p = planOf(GraftQueries.cosineTopK(spark, dir))
      .split("== Initial Plan ==").head
    assert(p.contains("partial_bounded_top_k_min"),
      s"map-side partial of the custom aggregate missing:\n$p")
    assert(!p.contains("Window"), s"window survived the top-k swap:\n$p")
    // deeper operators print later: any Sort AFTER the partial-agg line
    // would be sorting the scored candidates (the result-sized
    // presentation orderBy prints above it and is fine)
    val below = p.substring(p.indexOf("partial_bounded_top_k_min"))
    assert(!below.contains("Sort "), s"candidate sort survived:\n$p")
  }

  test("whole-stage codegen covers the scan+filter+project hot path") {
    // codegen stages print as "*(n) Op" in the tree string
    val p = planOf(GraftQueries.filterString(spark, dir))
    assert(p.contains("*(1) Filter") || p.contains("WholeStageCodegen"),
      s"no codegen span:\n$p")
  }

  test("stratified sampling shares one hash exchange across both windows") {
    // rank and per-stratum count partition identically; a second
    // hashpartitioning exchange would double the shuffle at scale
    // the AQE tree prints Final AND Initial plans — count only the final
    val p = planOf(GraftQueries.stratifiedSample(spark, dir))
      .split("== Initial Plan ==").head
    val hashExchanges = "hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges <= 1,
      s"expected one hash exchange for both windows, got $hashExchanges:\n$p")
  }

  test("asOfNearest runs both sweeps over one union-frame exchange") {
    // the backward and forward windows partition on the same key; a
    // second hashpartitioning of the union frame would double the
    // shuffled bytes of the operator's dominant stage at scale
    val left = spark.range(100).selectExpr("id", "id % 7 AS k", "id AS t")
    val right = spark.range(40)
      .selectExpr("id % 7 AS rk", "id * 3 AS rt", "id AS v")
    val df = graft.ops.AsOfJoin.asOfNearest(left.toDF(), right.toDF(),
      "k", "rk", "t", "rt", Seq("v"))
    val p = planOf(df).split("== Initial Plan ==").head
    val hashExchanges = "hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges <= 1,
      s"expected one hash exchange for both sweeps, got $hashExchanges:\n$p")
  }

  test("q_embedding_neardup never materializes the all-pairs product") {
    val p = planOf(GraftQueries.embeddingNearDup(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"near-dup fell back to a cartesian product:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"near-dup scored all pairs via nested loop:\n$p")
  }

  test("q_jaccard_ngram never materializes the all-pairs product") {
    val p = planOf(GraftQueries.jaccardNgram(spark, dir))
    assert(!p.contains("CartesianProduct"),
      s"jaccard fell back to a cartesian product:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"jaccard scored all pairs via nested loop:\n$p")
  }

  test("q_line_dedup is two shuffles and no join (agg-only survivor)") {
    // survivor selection must stay a partial-agg groupBy (skew-safe);
    // a window or join formulation would add exchanges or hot-spot a
    // heavy-hitter unit onto one reducer
    val p = planOf(GraftQueries.lineDedup(spark, dir))
      .split("== Initial Plan ==").head
    assert(!p.contains("Join"), s"line dedup should not join:\n$p")
    assert(!p.contains("Window"), s"line dedup should not use a window:\n$p")
    val hashExchanges = "hashpartitioning".r.findAllIn(p).size
    assert(hashExchanges <= 2,
      s"expected <=2 hash exchanges (unit, id), got $hashExchanges:\n$p")
  }

  test("q_boilerplate_filter anti-joins the frequent-unit set by broadcast") {
    // the boilerplate set is small by construction; a shuffled anti
    // join would re-shuffle the whole exploded corpus on the unit
    val p = planOf(GraftQueries.boilerplateFilter(spark, dir))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"boilerplate scrub should broadcast the frequent-unit set:\n$p")
  }

  test("q_domain_mixture is map-only: no exchange at all before the sort") {
    val p = planOf(GraftQueries.domainMixture(spark, dir))
      .split("== Initial Plan ==").head
    assert(!p.contains("hashpartitioning"),
      s"mixture sampling must not shuffle:\n$p")
  }

  test("q_upsample_mixture is map-only: no exchange before the sort") {
    val p = planOf(GraftQueries.upsampleMixtureQ(spark, dir))
      .split("== Initial Plan ==").head
    assert(!p.contains("hashpartitioning"),
      s"upsampling must not shuffle:\n$p")
    assert(p.contains("Generate"), "explode(sequence) missing")
  }

  test("q_entropy_filter is map-only: no shuffle, entropy computed once") {
    val p = planOf(GraftQueries.entropyFilterQ(spark, dir))
      .split("== Initial Plan ==").head
    assert(!p.contains("hashpartitioning"),
      s"run-length entropy must not shuffle:\n$p")
    // exactly one Generate — the row-preserving explode_outer(array)
    // pushdown barrier, NOT a per-token explode
    assert("Generate".r.findAllIn(p).length == 1 &&
      p.contains("explode(array("),
      s"expected only the single-element filter barrier generate:\n$p")
    // the barrier keeps the filter above the projects: the sorted token
    // array must appear once, not re-inlined into the pushed predicate
    assert("sort_array".r.findAllIn(p).length == 1,
      s"entropy expression duplicated by predicate pushdown:\n$p")
  }

  test("q_bucketed_join joins without a shuffle exchange on either side") {
    // force non-broadcast so the exchange (or its absence) is decisive
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
      import org.apache.spark.sql.execution.joins.SortMergeJoinExec
      val df = GraftQueries.bucketedJoin(spark, dir)
      df.collect()
      def expand(p: SparkPlan): Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => expand(a.executedPlan)
        case s: QueryStageExec => expand(s.plan)
        case other => other +: other.children.flatMap(expand)
      }
      val nodes = expand(df.queryExecution.executedPlan)
      val smj = nodes.collectFirst { case j: SortMergeJoinExec => j }
        .getOrElse(fail("no sort-merge join in bucketed plan"))
      val under = smj.children.flatMap(expand)
      assert(!under.exists(_.isInstanceOf[ShuffleExchangeLike]),
        s"bucketed join must read co-located buckets, not shuffle:\n$smj")
      assert(df.queryExecution.executedPlan.toString
        .contains("SelectedBucketsCount"),
        "scan did not use bucket metadata")
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
  }

  test("unpartitioned COW merge scans the table's parquet once (cached decomposition)") {
    // The merge decomposition reads the table three times (keep anti,
    // touched inner, insert-detection inner). The COW path persists the
    // scanned frame, so the write job's plan must read the CACHE for
    // every branch and contain no direct file scan of the table dir.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    import org.apache.spark.sql.functions.col
    import graft.storage.{BasicStorage, Fs}

    val tableDir = tempDir("plan_merge_onescan")
    Fs.delete(spark, tableDir)
    val storage = new BasicStorage(spark)
    storage.write(
      spark.range(0, 2000).toDF("id").withColumn("value", col("id").cast("string")),
      tableDir, "delta", "overwrite")

    val plans = java.util.concurrent.ConcurrentHashMap.newKeySet[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      import spark.implicits._
      val inc = Seq((1L, "u"), (9999L, "n")).toDF("id", "value")
      storage.merge(inc, tableDir, "full.id == incremental.id")

      // (directFileScansOfTable, inMemoryScans); does NOT descend into
      // cached plans — the cache build's single scan is the one allowed
      val dirName = new java.io.File(tableDir).getName
      def walk(p: SparkPlan): (Int, Int) = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case r: ReusedExchangeExec => walk(r.child)
        case _: InMemoryTableScanExec => (0, 1)
        case f: FileSourceScanExec =>
          (if (f.relation.location.rootPaths.exists(_.toString.contains(dirName))) 1
           else 0, 0)
        case other =>
          val cs = other.children.map(walk)
          (cs.map(_._1).sum, cs.map(_._2).sum)
      }
      // listener delivery is async — poll for the COW write's plan
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      def writePlan: Option[SparkPlan] = {
        import scala.jdk.CollectionConverters._
        plans.asScala.find(_.toString.contains("__graft_tmp"))
      }
      while (writePlan.isEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      val plan = writePlan.getOrElse(fail("COW write plan never observed"))
      val (direct, cached) = walk(plan)
      assert(direct == 0,
        s"COW merge re-scanned the table parquet $direct time(s) past the cache:\n$plan")
      assert(cached >= 2,
        s"decomposition branches did not read the cached scan (got $cached):\n$plan")
    } finally spark.listenerManager.unregister(listener)
  }

  test("custom expressions compile under whole-stage codegen (no fallback)") {
    // Regression: a generated line starting with '|' loses the pipe to
    // Spark's margin stripping, the Java fails to compile, and every
    // dot-product stage silently drops to interpreted eval. Disabling
    // the fallback turns that silent 10× into a test failure. The input
    // must be NULLABLE (parquet, not literals) so the null-guarded
    // branch of nullSafeCodeGen is exercised.
    import org.apache.spark.sql.functions._
    val prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val n = emb
        .withColumn("norm", sqrt(graft.functions.DotProductExpr
          .dot_product(col("v"), col("v"))))
        .filter(col("norm") > 0).count()
      assert(n > 0)
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val s = docs
        .select(graft.ops.Dedup.simHash64(col("text")).as("sh"))
        .filter(col("sh") =!= 0).count()
      assert(s > 0)
      // JpegDimsExpr: nullable result (the kernel's -1 sentinel path)
      // on top of nullable input — both null branches must compile
      val j = docs
        .select(graft.functions.JpegDimsExpr
          .jpegDims(col("text").cast("binary")).as("d"))
        .filter(col("d").isNull).count()
      assert(j > 0)
      // CdfBucketExpr: referenced double[] knots must reach the
      // generated code (addReferenceObj), not break compilation
      val b = emb
        .select(graft.functions.CdfBucketExpr.cdfBucket(
          col("vec_id").cast("double"), Seq(0.0, 100.0, 500.0),
          Seq(0.0, 0.5, 1.0), 15L).as("b"))
        .filter(col("b") >= 0).count()
      assert(b > 0)
      // UnicodeNormalizeExpr + DeflateRatioExpr on nullable parquet input
      val u = docs
        .select(graft.functions.UnicodeNormalizeExpr
          .unicodeNormalize(col("text"), "NFKC").as("t"))
        .filter(length(col("t")) > 0).count()
      assert(u > 0)
      val dr = docs
        .select(graft.functions.DeflateRatioExpr
          .deflateRatio(col("text")).as("r"))
        .filter(col("r") > 0).count()
      assert(dr > 0)
      // BpeEncodeExpr: merge-table reference object must reach the
      // generated code
      val bp = docs
        .select(graft.functions.BpeEncodeExpr
          .bpeEncode(col("text"), Seq(("a", "b"), ("c", "d"))).as("t"))
        .filter(size(col("t")) > 0).count()
      assert(bp > 0)
      // Theta estimate + set ops over nullable sketch bytes
      import graft.functions.ThetaSketch._
      val ev = Tables.events(spark, dir)
      val sk = ev.groupBy(col("event_type"))
        .agg(thetaAgg(col("user_id")).as("s"))
      val th = sk.crossJoin(sk.select(col("s").as("s2")))
        .select(thetaEstimate(thetaIntersect(col("s"), col("s2"))).as("e"))
        .filter(col("e") >= 0).count()
      assert(th > 0)
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("q_bm25 broadcasts the term stats and corpus constants") {
    val p = planOf(GraftQueries.bm25Q(spark, dir))
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"document-frequency/corpus sides not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"posting-list join fell back to SMJ (full shuffle of postings):\n$p")
  }

  test("quantile sketch aggregates partially (map-side combine)") {
    val p = planOf(GraftQueries.sketchRollup(spark, dir))
      .split("== Initial Plan ==").head
    assert(p.contains("partial_quantile_sketch"),
      s"map-side partial of the sketch aggregate missing:\n$p")
    assert(p.contains("quantile_sketch_merge"),
      s"rollup stage should fold stored sketches:\n$p")
    assert(!p.contains("Window"), s"no window belongs in a sketch rollup:\n$p")
  }

  test("q_bm25_multi keeps the per-query top-k window-free (bounded aggregate)") {
    val p = planOf(GraftQueries.bm25MultiQ(spark, dir))
    assert(!p.contains("Window"),
      s"rank window over the (query × doc) score matrix:\n$p")
    assert(p.contains("partial_bounded_top_k_min"),
      s"map-side partial of the bounded top-k aggregate missing:\n$p")
  }

  test("q_state_refresh answers from stored state — raw history pruned to the newest increment") {
    val df = GraftQueries.stateRefreshQ(spark, dir)
    df.collect()
    // final AQE plan only — the trailing "== Initial Plan ==" section
    // repeats every scan and would double-count
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("state_v2"),
      s"stored state snapshot not in the final plan:\n$p")
    assert(raw"orders\.parquet".r.findAllMatchIn(p).size == 1,
      s"raw history scanned more than once in the refresh answer:\n$p")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"),
      s"increment cut not pushed into the orders scan:\n$p")
  }

  test("sketch_quantiles expression compiles under whole-stage codegen") {
    import org.apache.spark.sql.functions._
    val prev = spark.conf.get("spark.sql.codegen.fallback", "true")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      // nullable binary input (parquet round-trip) exercises the
      // null-guarded branch of the generated code
      val tmp = tempDir("qsketch_cg")
      spark.range(1000)
        .select((col("id") % 100).cast("double").as("v"))
        .groupBy().agg(graft.functions.QSketch.sketchAgg(col("v")).as("sk"))
        .write.mode("overwrite").parquet(tmp)
      val q = spark.read.parquet(tmp)
        .select(graft.functions.QSketch.sketchQuantiles(
          col("sk"), Seq(0.5)).as("q"))
        .collect()
      assert(q.length == 1 && q(0).getSeq[Double](0).nonEmpty)
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  test("q_heavy_hitters recounts via broadcast candidates, never a sort-merge join") {
    val p = planOf(GraftQueries.heavyHittersQ(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"candidate filter should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"vocabulary-sized shuffle join crept in:\n$p")
  }

  test("q_kmeans assigns via broadcast centroids — the corpus never shuffles for assignment") {
    val p = planOf(GraftQueries.kmeansQ(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"centroid cross join should broadcast:\n$p")
  }

  test("q_inverted_index bounds postings without a rank window") {
    val p = planOf(GraftQueries.invertedIndexQ(spark, dir))
    assert(!p.contains("Window"),
      s"bounded postings must not sort groups under a window:\n$p")
    assert(p.contains("bounded_top_k"),
      s"BoundedTopKAgg missing from the postings plan:\n$p")
  }

  test("q_temperature_sample broadcasts rates; the corpus side is map-only to the filter") {
    val p = planOf(GraftQueries.temperatureSampleQ(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"per-domain rates should broadcast back:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"rate join must not shuffle the corpus:\n$p")
  }

  test("q_tpch_q3 pushes both date filters to the scans and takes top-10 without a global sort") {
    val p = planOf(GraftQueries.tpchQ3(spark, dir))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 should be TakeOrderedAndProject, not sort+limit:\n$p")
    assert(p.contains("PushedFilters"), s"no pushed filters:\n$p")
    assert(p.contains("IsNotNull(l_shipdate)") ||
      p.contains("GreaterThan(l_shipdate"),
      s"lineitem ship-date filter not pushed to the scan:\n$p")
  }

  test("q_tpch_q5 joins every dimension by broadcast at this scale") {
    val p = planOf(GraftQueries.tpchQ5(spark, dir))
    assert(p.contains("BroadcastHashJoin"),
      s"dimension joins should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
  }

  test("q_attribution computes both models from one window shuffle") {
    val q = GraftQueries.attributionQ(spark, dir)
    // the executed-plan string prints Final AND Initial plans under
    // AQE — pin the final section only
    val p = planOf(q).split("== Initial Plan ==").head
    // one user-keyed exchange feeds one sort; Spark stacks the
    // nth_value (first) and last Windows on it PIPELINED — two Window
    // nodes, ONE shuffle; both models then leave as a map-side explode
    assert("Exchange hashpartitioning\\(user".r.findAllIn(p).size == 1,
      s"expected exactly one user-keyed window exchange:\n$p")
    assert("\\+\\- Window \\[".r.findAllIn(p).size <= 2,
      s"window stack must not be duplicated per model:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"attribution must not self-join conversions against touches:\n$p")
  }

  test("q_winsorize broadcasts the percentile bounds onto the fact side") {
    val p = planOf(GraftQueries.winsorizeQ(spark, dir))
      .split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      s"bounds join should broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"group-count-sized bounds must never sort-merge:\n$p")
  }

  test("q_interval_union shares ONE key exchange across windows and rollups") {
    val p = planOf(GraftQueries.intervalUnionQ(spark, dir))
      .split("== Initial Plan ==").head
    // the window sort, the block groupBy, and the per-user rollup all
    // key on user_id — one hash exchange total (plus the output sort)
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected exactly one hash exchange:\n$p")
  }

  test("q_changepoint shares ONE key exchange across its three window passes") {
    val p = planOf(GraftQueries.changePointQ(spark, dir))
      .split("== Initial Plan ==").head
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected exactly one hash exchange:\n$p")
  }

  test("q_collocations is window-free; covariance shuffles O(dims²) only") {
    val p = planOf(GraftQueries.collocationsQ(spark, dir))
      .split("== Initial Plan ==").head
    assert(!p.contains("Window"), s"PMI must not use windows:\n$p")
    val cov = planOf(graft.ops.Pca.covariance(
      spark.read.parquet(s"$dir/embeddings.parquet"), "embedding", 8))
    // partial aggregation collapses the exploded pairs BEFORE the one
    // shuffle: a partial_ HashAggregate must precede the exchange
    assert("Exchange hashpartitioning".r
      .findAllIn(cov.split("== Initial Plan ==").head).size == 1,
      s"covariance should shuffle once (O(dims²) rows):\n$cov")
    assert(cov.contains("partial_"),
      s"covariance must partial-aggregate map-side:\n$cov")
  }

  test("q_user_paths rank filter plans as WindowGroupLimit (partial top-k)") {
    // Spark 3.5+'s WindowGroupLimitExec: a row_number() <= k filter
    // becomes a per-partition group limit BEFORE the full window sort
    // materializes each key's history — rows past depth never
    // accumulate. Losing this (e.g. a non-rank filter shape) would
    // re-buffer every key's full event list at 100 TB.
    val p = planOf(GraftQueries.userPathsQ(spark, dir))
      .split("== Initial Plan ==").head
    assert(p.contains("WindowGroupLimit"),
      s"rank<=depth should plan as WindowGroupLimit:\n$p")
  }

  test("q_random_projection and q_json_rescue are map-only to the sort") {
    for (q <- Seq(GraftQueries.randomProjectionQ, GraftQueries.jsonRescue)) {
      val p = planOf(q(spark, dir)).split("== Initial Plan ==").head
      assert(!p.contains("Exchange hashpartitioning"),
        s"map-only op grew a hash shuffle:\n$p")
    }
  }

  test("q_ab_test is one aggregation pass — no join between the arms") {
    val p = planOf(GraftQueries.abTestQ(spark, dir))
      .split("== Initial Plan ==").head
    assert(!p.contains("Join"),
      s"arm comparison must not self-join the events:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected exactly one group-keyed exchange:\n$p")
    assert(p.contains("partial_"),
      s"arm moments must partial-aggregate map-side:\n$p")
  }

  test("q_impute broadcasts the group means onto the fact side") {
    val p = planOf(GraftQueries.imputeQ(spark, dir))
      .split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      s"group-count-sized means must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"means joined by SMJ:\n$p")
  }

  test("q_theta_sets sketches partial-aggregate; q_html_strip is map-only") {
    val t = planOf(GraftQueries.thetaSetsQ(spark, dir))
      .split("== Initial Plan ==").head
    assert(t.contains("partial_theta_sketch"),
      s"theta sketch must build map-side partials:\n$t")
    val h = planOf(GraftQueries.htmlStripQ(spark, dir))
      .split("== Initial Plan ==").head
    assert(!h.contains("Exchange hashpartitioning"),
      s"html strip grew a shuffle:\n$h")
  }

  test("q_leakage_split: group labels broadcast onto the corpus, no cartesian") {
    val p = planOf(GraftQueries.leakageSplitQ(spark, dir))
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    // the pair-derived groups frame (docs-with-dups sized) must reach
    // the corpus by broadcast, not by shuffling the corpus
    assert(p.contains("BroadcastHashJoin"),
      s"groups frame not broadcast onto the corpus:\n$p")
  }

  test("q_url_dedup: bounded reservoir aggregate, no window sort, no cartesian") {
    val p = planOf(GraftQueries.urlDedupQ(spark, dir))
    assert(!p.contains("CartesianProduct"), s"cartesian crept in:\n$p")
    // per-domain cap must be the bounded top-k AGGREGATE (≤k rows per
    // group cross the shuffle), not a row_number window that sorts
    // every group's rows
    assert(p.contains("partial_bounded_top_k_min"),
      s"per-domain cap not the bounded top-k aggregate:\n$p")
    assert(!p.contains("Window"), s"cap fell back to a window sort:\n$p")
  }

  test("lshTopKWith: bucket join broadcasts queries; corpus vectors never shuffle to it") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val queries = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
      .select(org.apache.spark.sql.functions.col("vec_id")
        .plus(1000000).as("vec_id"),
        org.apache.spark.sql.functions.col("embedding"))
    val idxDir = tempDir("lsh_plan") + "/idx"
    graft.ops.AnnIndex.saveLsh(spark, idxDir, emb, "vec_id", "embedding",
      dim = 64, nPlanes = 4, nTables = 4)
    val p = planOf(graft.ops.Similarity.lshTopKWith(
      graft.ops.AnnIndex.loadLsh(spark, idxDir), queries, emb,
      "vec_id", "vec_id", "embedding", k = 5))
    // the probed query buckets broadcast into the stored bucket table
    // (explicit hint), so the table-side rows stay map-local; the
    // candidate->vector fetch must not be a sort-merge join of the
    // corpus (candidates broadcast under AQE at any realistic ratio)
    assert(p.contains("BroadcastHashJoin"),
      s"bucket join must broadcast the query side:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus vectors must not sort-merge-shuffle to serve a query batch:\n$p")
  }

  test("q_pretrain_e2e final pack stage reads checkpointed stages, not lineage") {
    // the packed result must scan the chunk stage's materialized
    // checkpoint (LogicalRDD → "Scan ExistingRDD"), NOT re-derive the
    // whole curation chain — the recompute-per-action pathology this
    // pins cost 25× at sf0.1
    val df = GraftQueries.pretrainE2eQ(spark, dir)
    val p = planOf(df)
    assert(p.contains("Scan ExistingRDD"),
      s"pack stage not reading a checkpoint barrier:\n$p")
    assert(!p.contains("minhash") && !p.contains("posexplode"),
      s"final plan re-derives upstream curation stages:\n$p")
  }

  test("duplicateSpans tokenizes once: no StringSplit inside its Generate or inferred Filter") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, StringSplit}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate}
    // a parquet source, not a local Seq: ConvertToLocalRelation would
    // fold the token projection away and hide any inlining
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val plan = graft.ops.Dedup.duplicateSpans(docs, "doc_id", "text", n = 4)
      .queryExecution.optimizedPlan
    def splits(e: Expression): Int = e.collect { case s: StringSplit => s }.size
    val generators = plan.collect { case g: Generate => g.generator }
    assert(generators.nonEmpty, s"no Generate in the span plan:\n$plan")
    val inGenerate = generators.map(splits).sum
    val inFilter = plan.collect { case f: Filter => splits(f.condition) }.sum
    assert(inGenerate == 0 && inFilter == 0,
      s"tokenizer inlined into the gram generator ($inGenerate) or " +
        s"filter ($inFilter):\n$plan")
    assert(plan.flatMap(_.expressions).map(splits).sum == 1,
      s"each document must be split exactly once:\n$plan")
  }
}
