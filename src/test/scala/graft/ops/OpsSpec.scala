package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Behavioural tests for the LLM-pipeline operators on the driver test
  * data plus planted duplicates. */
class OpsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet").cache()
  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

  test("exactDeterministic keeps the min-tiebreaker row per key") {
    val df = Seq((1L, "a", 10), (2L, "a", 10), (3L, "b", 20))
      .toDF("id", "k", "v")
    val out = Dedup.exactDeterministic(df, Seq("k", "v"), "id")
      .orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(1L, 3L))
  }

  test("byNormalizedHash groups case/whitespace variants") {
    val df = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other"))
      .toDF("doc_id", "text")
    val out = Dedup.byNormalizedHash(df, "text", "doc_id")
    assert(out.count() == 2)
    val dupGroup = out.filter(col("dup_count") === 2).head()
    assert(dupGroup.getAs[Long]("doc_id") == 1L)
  }

  test("minhash LSH finds planted near-duplicates in documents") {
    // plant: copy of each doc with doc_id+10000 (identical text)
    val doubled = docs.select("doc_id", "text")
      .union(docs.select((col("doc_id") + 10000).as("doc_id"), col("text")))
    val pairs = Dedup.minHashLshPairs(doubled, "doc_id", "text",
      numHashes = 32, bands = 8, jaccardThreshold = 0.9)
    val n = docs.count()
    // every planted pair must be found with jaccard 1.0
    val planted = pairs.filter(col("id_b") === col("id_a") + 10000)
    assert(planted.count() == n)
    assert(planted.filter(col("jaccard") < 1.0).count() == 0)
  }

  test("duplicateGroups computes transitive closure of pairs") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val groups = Dedup.duplicateGroups(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(groups(1L) == 1L && groups(2L) == 1L && groups(3L) == 1L)
    assert(groups(10L) == 10L && groups(11L) == 10L)
  }

  test("duplicateGroups converges on a long chain") {
    val chain = (1L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val groups = Dedup.duplicateGroups(chain, maxIter = 20).collect()
    assert(groups.forall(_.getLong(1) == 1L))
  }

  test("dedupCorpus removes planted duplicates, keeps min representative") {
    val doubled = docs.select("doc_id", "text", "lang")
      .union(docs.select((col("doc_id") + 10000).as("doc_id"),
        col("text"), col("lang")))
    val deduped = Dedup.dedupCorpus(doubled, "doc_id", "text",
      numHashes = 32, bands = 8, jaccardThreshold = 0.9).cache()
    // every planted copy has its original as a smaller-id dup, so no
    // planted id can be a group representative
    assert(deduped.filter(col("doc_id") >= 10000).count() == 0)
    // at most one survivor per original doc; the corpus also contains a
    // few NATURAL near-dups (transitively grouped), so slightly fewer
    val n = deduped.count()
    assert(n <= docs.count() && n > docs.count() * 0.9, s"survivors $n")
    assert(deduped.columns.toSeq == Seq("doc_id", "text", "lang"))
  }

  test("sampleByHash: complementary selections partition the data exactly") {
    val df = spark.range(0, 10000).toDF("id")
    val in = Sampling.sampleByHash(df, "id", 30)
    val out = df.exceptAll(in)
    val nIn = in.count()
    assert(nIn + out.count() == 10000)
    // uniformity: 30% ± 3 points
    assert(math.abs(nIn - 3000) < 300, s"sample size $nIn")
    // determinism under re-layout: same membership after repartition
    val in2 = Sampling.sampleByHash(df.repartition(7), "id", 30)
    assert(in2.exceptAll(in).isEmpty && in.exceptAll(in2).isEmpty)
  }

  test("upsampleMixture: per-domain expected counts, copy_idx, zero-copy drop") {
    val df = (0L until 1000L).map(i =>
      (i, if (i < 300) "curated" else if (i < 600) "mid" else "tail"))
      .toDF("id", "dom")
    val up = Sampling.upsampleMixture(df, "dom", "id",
      Map("curated" -> 2500, "mid" -> 1000), defaultPerMille = 0).cache()
    val byDom = up.groupBy("dom").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // curated: 2 full copies + ~50% one more → expect ~750 of 300 docs
    assert(math.abs(byDom("curated") - 750) < 75, s"curated=${byDom("curated")}")
    // mid: exactly 1 copy each; tail: factor 0 → gone entirely
    assert(byDom("mid") == 300)
    assert(!byDom.contains("tail"))
    // copy_idx enumerates copies from 1 with no gaps
    val idxs = up.filter(col("dom") === "curated")
      .groupBy("id").agg(collect_list("copy_idx").as("idxs"))
      .select(array_sort(col("idxs")).as("idxs")).distinct().collect()
      .map(_.getSeq[Int](0).toSeq).toSet
    assert(idxs.subsetOf(Set(Seq(1, 2), Seq(1, 2, 3))), s"idxs=$idxs")
    // determinism under re-layout
    val again = Sampling.upsampleMixture(df.repartition(7), "dom", "id",
      Map("curated" -> 2500, "mid" -> 1000), defaultPerMille = 0)
    assert(again.exceptAll(up).isEmpty && up.exceptAll(again).isEmpty)
  }

  test("tokenEntropy matches the plain-Scala Shannon model") {
    val df = Seq(
      (1L, "a a a a"),                    // zero entropy
      (2L, "a b c d"),                    // max entropy ln(4)
      (3L, "the the cat cat cat sat"),
      (4L, ""),                           // tokenizer yields [""] → H=0
      (5L, "Spark  SPARK spark")          // normalization folds case/ws
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tokenEntropy(df, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    def model(toks: Seq[String]): Double = {
      val n = toks.size.toDouble
      val counts = toks.groupBy(identity).values.map(_.size.toDouble)
      math.log(n) - counts.map(c => c * math.log(c)).sum / n
    }
    val texts = Map(
      1L -> Seq("a", "a", "a", "a"), 2L -> Seq("a", "b", "c", "d"),
      3L -> Seq("the", "the", "cat", "cat", "cat", "sat"),
      4L -> Seq(""), 5L -> Seq("spark", "spark", "spark"))
    got.foreach { case (id, n, h) =>
      assert(n == texts(id).size, s"doc $id token count")
      assert(math.abs(h - model(texts(id))) < 1e-12,
        s"doc $id entropy $h vs model ${model(texts(id))}")
    }
    // the filter keeps only the high-entropy docs, on the raw value
    val kept = TextAnalysis.entropyFilter(df, "doc_id", "text", 1.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L))
  }

  test("snapshotDiff classifies insert/delete/update/unchanged; null-safe") {
    val prev = Seq(
      (1L, Some("a"), 10), (2L, Some("b"), 20), (3L, None, 30),
      (4L, Some("d"), 40)).toDF("id", "s", "v")
    val next = Seq(
      (1L, Some("a"), 10),          // unchanged
      (2L, Some("B"), 20),          // update (value change)
      (3L, Some("c"), 30),          // update (null → value, <=> catches it)
      (5L, None, 50)                // insert (with null field)
    ).toDF("id", "s", "v")          // 4L absent → delete
    val got = Diff.snapshotDiff(prev, next, Seq("id"))
      .orderBy("id").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "update", 3L -> "update",
      4L -> "delete", 5L -> "insert"))
  }

  test("knnClassify: planted clusters vote their own label; ties deterministic") {
    // two tight clusters along orthogonal axes + one query near each
    val rows =
      (1 to 10).map(i => (100L + i, Array(1.0f, 0.001f * i), 7)) ++
      (1 to 10).map(i => (200L + i, Array(0.001f * i, 1.0f), 9))
    val corpus = rows.toDF("vec_id", "embedding", "label")
    val queries = Seq(
      (1L, Array(0.9f, 0.1f), -1), (2L, Array(0.1f, 0.9f), -1))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.knnClassify(queries, corpus,
        "vec_id", "vec_id", "embedding", "label", 5)
      .orderBy("query_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(got.toSeq == Seq((1L, 7, 5L), (2L, 9, 5L)))
    // vote tie (k=2 straddling both clusters would still be 5-0 here;
    // force a tie with k spanning equal halves of a symmetric query)
    val mid = Seq((3L, Array(1.0f, 1.0f), -1))
      .toDF("vec_id", "embedding", "label")
    val tied = Similarity.knnClassify(mid, corpus,
        "vec_id", "vec_id", "embedding", "label", 10)
      .collect().head
    assert(tied.getInt(1) == 7, "5-5 vote tie must pick the smaller label")
    assert(tied.getLong(2) == 5L)
  }

  test("editDistanceJoin: planted typos match; prefix edits miss (documented)") {
    val dirty = Seq("blue wdget", "red gearx", "XLue bolt")
      .toDF("dirty_name")
    val clean = Seq("blue widget", "red gear", "blue bolt", "green gear")
      .toDF("clean_name")
    val got = FuzzyJoin.editDistanceJoin(
        dirty, "dirty_name", clean, "clean_name", maxDist = 1)
      .select("dirty_name", "clean_name").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // deletion past the prefix and a suffix insert both match at dist 1;
    // the first-character edit lands in another block — the documented
    // recall trade-off of prefix blocking, pinned here
    assert(got == Set(
      ("blue wdget", "blue widget"), ("red gearx", "red gear")))
    // overlapping column names are rejected, not silently ambiguous
    val e = intercept[IllegalArgumentException] {
      FuzzyJoin.editDistanceJoin(dirty, "dirty_name",
        dirty.toDF("dirty_name"), "dirty_name", 1)
    }
    assert(e.getMessage.contains("disjoint"))
  }

  test("urls: parts extracted, malformed input yields nulls") {
    val df = Seq(
      (1L, "https://sub.example.com/a/b?lang=en&x=1"),
      (2L, "http://localhost/path"),
      (3L, "not a url at all"),
      (4L, null.asInstanceOf[String])
    ).toDF("id", "url")
    val out = df.select(col("id"),
      Urls.host(col("url")).as("h"),
      Urls.registeredDomain(col("url")).as("d"),
      Urls.path(col("url")).as("p"),
      Urls.queryParam(col("url"), "lang").as("q"))
      .orderBy("id").collect()
    assert(out(0).getString(1) == "sub.example.com")
    assert(out(0).getString(2) == "example.com")
    assert(out(0).getString(3) == "/a/b")
    assert(out(0).getString(4) == "en")
    assert(out(1).getString(1) == "localhost")
    assert(out(1).isNullAt(2), "single-label host has no registrable domain")
    assert(out(1).isNullAt(4), "absent param must be null")
    assert(out(2).isNullAt(1) && out(3).isNullAt(1),
      "malformed/null urls must yield nulls, not errors")
  }

  test("resample: dense grid per key, gaps null, null ts survives") {
    val df = Seq(
      (1L, "2024-01-01 10:00:00", 1.0),
      (1L, "2024-01-01 11:30:00", 2.0), // same bucket at hour grain? no — day grain
      (1L, "2024-01-04 09:00:00", 4.0), // days 2,3 are gaps
      (2L, "2024-02-01 00:00:00", 7.0), // single-day key → one grid row
      (3L, null.asInstanceOf[String], 9.0) // null ts → one null-bucket row
    ).toDF("k", "ts_s", "v")
      .select(col("k"), col("ts_s").cast("timestamp").as("ts"), col("v"))
    val out = TimeSeries.resample(df, "k", "ts", "day", "1 day",
      Seq(count(lit(1)).as("n"), sum(col("v")).as("vs")))
    val rows = out.collect().map(r => (r.getLong(0),
      Option(r.getTimestamp(1)).map(_.toString).orNull,
      if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(rows == Set(
      (1L, "2024-01-01 00:00:00.0", 2L),
      (1L, "2024-01-02 00:00:00.0", -1L), // gap: aggregate null
      (1L, "2024-01-03 00:00:00.0", -1L),
      (1L, "2024-01-04 00:00:00.0", 1L),
      (2L, "2024-02-01 00:00:00.0", 1L),
      (3L, null, 1L)), s"got $rows")
    val bad = intercept[IllegalArgumentException] {
      TimeSeries.resample(df, "k", "ts", "day", "1 day; DROP", Seq(count(lit(1)).as("n")))
    }
    assert(bad.getMessage.contains("step"))
  }

  test("forwardFill carries last non-null per key; leading nulls stay") {
    val df = Seq(
      (1L, 1, None: Option[Double]), (1L, 2, Some(5.0)),
      (1L, 3, None: Option[Double]), (1L, 4, None: Option[Double]),
      (1L, 5, Some(8.0)), (2L, 1, None: Option[Double]))
      .toDF("k", "seq", "v")
    val got = TimeSeries.forwardFill(df, "k", Seq("seq"), Seq("v"))
      .orderBy("k", "seq").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))
    assert(got(0)._3.isNaN, "leading null has nothing to carry")
    assert(got(1)._3 == 5.0 && got(2)._3 == 5.0 && got(3)._3 == 5.0)
    assert(got(4)._3 == 8.0)
    assert(got(5)._3.isNaN, "other keys never bleed in")
  }

  test("numericProfile: exact counts/nulls/distincts/ranges per column") {
    val df = Seq(
      (Some(1L), Some(1.5)), (Some(2L), None), (Some(2L), Some(-3.0)),
      (None: Option[Long], Some(1.5))).toDF("a", "b")
    val got = Profile.numericProfile(df, Seq("a", "b"))
      .orderBy("col_name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(got(0) == ("a", 4L, 1L, 2L, 1.0, 2.0))
    assert(got(1) == ("b", 4L, 1L, 2L, -3.0, 1.5))
  }

  test("unigramLogProb matches the plain-Scala unigram model") {
    val df = Seq((1L, "a a b"), (2L, "b c"), (3L, "a"))
      .toDF("doc_id", "text")
    // corpus: a×3, b×2, c×1, total 6
    val n = 6.0
    def nl(c: Double) = math.log(n) - math.log(c)
    val expect = Map(
      1L -> (3L, (2 * nl(3) + nl(2)) / 3.0),
      2L -> (2L, (nl(2) + nl(1)) / 2.0),
      3L -> (1L, nl(3)))
    val got = TextAnalysis.unigramLogProb(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    expect.foreach { case (id, (nt, h)) =>
      assert(got(id)._1 == nt, s"doc $id token count")
      assert(math.abs(got(id)._2 - h) < 1e-12,
        s"doc $id: ${got(id)._2} vs model $h")
    }
    // rare-vocab docs score strictly higher than common-word docs
    assert(got(2L)._2 > got(1L)._2)
  }

  test("funnel: strict order within window, greedy-earliest, joinless plan") {
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    def at(h: Double) = new java.sql.Timestamp(
      t0.getTime + (h * 3600 * 1000).toLong)
    val ev = Seq(
      // user 1: full funnel inside the windows
      (1L, at(0), "view"), (1L, at(1), "click"), (1L, at(2), "purchase"),
      // user 2: click 30h after the first view — outside the window
      (2L, at(0), "view"), (2L, at(30), "click"),
      // user 3: click with no view — never enters the funnel
      (3L, at(0), "click"),
      // user 4: purchase BEFORE the view→click chain — order enforced
      (4L, at(0), "purchase"), (4L, at(1), "view"), (4L, at(2), "click"),
      // user 5: purchase between view and click — not after click
      (5L, at(0), "view"), (5L, at(0.5), "purchase"), (5L, at(1), "click"),
      // user 6: second view irrelevant — stage 1 pins the FIRST view
      (6L, at(0), "view"), (6L, at(10), "view"), (6L, at(12), "click")
    ).toDF("user_id", "ts", "event_type")
    val out = Analytics.funnel(ev, "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"), "24 hours")
    assert(!out.queryExecution.executedPlan.toString.contains("Join"),
      "funnel must be a single aggregation cascade, not self-joins")
    val got = out.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == Map(1 -> 5L, 2 -> 4L, 3 -> 1L), s"got $got")
    val bad = intercept[IllegalArgumentException] {
      Analytics.funnel(ev, "user_id", "ts", "event_type",
        Seq("view", "view"), "24 hours")
    }
    assert(bad.getMessage.contains("distinct"))
  }

  test("cohortRetention counts distinct users per (cohort, offset)") {
    val ev = Seq(
      (1L, "2024-03-01 10:00:00"), (1L, "2024-03-03 09:00:00"),
      (2L, "2024-03-01 23:59:59"), (2L, "2024-03-02 00:00:01"),
      (3L, "2024-03-02 05:00:00")
    ).toDF("user_id", "ts_s")
      .select(col("user_id"), col("ts_s").cast("timestamp").as("ts"))
    val got = Analytics.cohortRetention(ev, "user_id", "ts")
      .collect().map(r =>
        (r.getTimestamp(0).toString.take(10), r.getInt(1)) -> r.getLong(2))
      .toMap
    assert(got == Map(
      ("2024-03-01", 0) -> 2L, ("2024-03-01", 1) -> 1L,
      ("2024-03-01", 2) -> 1L, ("2024-03-02", 0) -> 1L), s"got $got")
  }

  test("zScoreOutliers: threshold on unrounded z; tiny groups yield none") {
    val df = Seq(
      ("a", 0.0), ("a", 0.0), ("a", 0.0), ("a", 10.0), // sd=5, z(10)=1.5
      ("b", 42.0) // single row: stddev undefined → no outliers
    ).zipWithIndex.map { case ((g, v), i) => (i.toLong, g, v) }
      .toDF("id", "g", "v")
    assert(Analytics.zScoreOutliers(df, "g", "v", 2.0).count() == 0)
    val hit = Analytics.zScoreOutliers(df, "g", "v", 1.4)
      .select("id", "z").collect()
    assert(hit.length == 1 && hit.head.getLong(0) == 3L)
    assert(math.abs(hit.head.getDouble(1) - 1.5) < 1e-12)
  }

  test("madOutliers flags what mean/stddev masking hides; MAD=0 yields none") {
    // group a: 9 points at 0..8 plus one wild 1000; the wild point
    // inflates stddev so much that z-score at 2σ misses it is false —
    // but a SECOND wild point does mask the first for z-scores, while
    // MAD still flags both
    val base = (0 to 8).map(i => ("a", i.toDouble)) ++
      Seq(("a", 1000.0), ("a", 1001.0)) ++
      Seq(("c", 7.0), ("c", 7.0), ("c", 7.0), ("c", 99.0)) // MAD = 0
    val df = base.zipWithIndex.map { case ((g, v), i) => (i.toLong, g, v) }
      .toDF("id", "g", "v")
    val mad = Analytics.madOutliers(df, "g", "v", 3.0)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(mad == Set(9L, 10L), s"MAD should flag both wild points, got $mad")
    // the classical z-score at the same threshold finds NEITHER (the
    // two wild points inflate sigma past their own deviation / 3)
    val z = Analytics.zScoreOutliers(df, "g", "v", 3.0).count()
    assert(z == 0, "sanity: z-score self-masking premise broke")
  }

  test("reservoirPerGroup: min(k,|g|) keys per group, repartition-stable") {
    val out = Sampling.reservoirPerGroup(docs, "lang", "doc_id", 7)
    val sizes = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val full = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    full.foreach { case (lang, n) =>
      assert(sizes(lang) == math.min(7L, n), s"lang=$lang") }
    // sampled keys come from the group
    val joined = out.join(docs.select("lang", "doc_id"),
      Seq("lang", "doc_id"), "left_anti")
    assert(joined.count() == 0)
    // layout-independent: same sample after an adversarial repartition
    val again = Sampling.reservoirPerGroup(
      docs.repartition(13, col("doc_id")), "lang", "doc_id", 7)
    assert(out.collect().map(_.toSeq).toSet ==
      again.collect().map(_.toSeq).toSet)
  }

  test("zScoreOutliers: a constant group (sd=0, z=NaN) yields no outliers") {
    val df = Seq(("a", 5.0), ("a", 5.0), ("a", 5.0), ("b", 1.0), ("b", 9.0))
      .zipWithIndex.map { case ((g, v), i) => (i.toLong, g, v) }
      .toDF("id", "g", "v")
    // without the sd>0 guard, NaN > threshold is TRUE in Spark's total
    // order and every row of the flat-lined group comes back
    assert(Analytics.zScoreOutliers(df, "g", "v", 2.0).count() == 0)
  }

  test("reservoirPerGroup: repeated keys are one sample member") {
    val df = Seq(("g", 1L), ("g", 1L), ("g", 2L), ("g", 2L), ("g", 3L))
      .toDF("lang", "doc_id")
    val got = Sampling.reservoirPerGroup(df, "lang", "doc_id", 2)
      .collect().map(_.getLong(1)).toSeq
    assert(got.length == 2 && got.distinct.length == 2, s"got $got")
  }

  test("funnel analysis stays linear in the number of steps") {
    val ev = Seq((1L, java.sql.Timestamp.valueOf("2024-03-01 00:00:00"),
      "s0")).toDF("user_id", "ts", "event_type")
    val steps = (0 until 12).map(i => s"s$i")
    val t0 = System.nanoTime()
    val out = Analytics.funnel(ev, "user_id", "ts", "event_type",
      steps, "1 hours")
    out.queryExecution.optimizedPlan // force analysis + optimization
    val secs = (System.nanoTime() - t0) / 1e9
    // the inlined-cascade form grew 2^steps and never finished here
    assert(secs < 60, s"12-step funnel took ${secs}s to plan")
    assert(out.count() == 12)
  }

  test("cumulativeUsers: first-seen decomposition equals the running distinct") {
    val ev = Seq(
      (1L, "2024-03-01 10:00:00"), (1L, "2024-03-03 09:00:00"),
      (2L, "2024-03-01 12:00:00"), (3L, "2024-03-02 05:00:00"),
      (3L, "2024-03-04 05:00:00"), (4L, "2024-03-04 06:00:00")
    ).toDF("user_id", "ts_s")
      .select(col("user_id"), col("ts_s").cast("timestamp").as("ts"))
    val got = Analytics.cumulativeUsers(ev, "user_id", "ts")
      .collect().map(r => r.getTimestamp(0).toString.take(10) ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map(
      "2024-03-01" -> (2L, 2L), "2024-03-02" -> (1L, 3L),
      "2024-03-04" -> (1L, 4L))) // 03-03 has no NEW users → no row
  }

  test("rollingActive: trailing window, only observed days reported") {
    val ev = Seq(
      (1L, "2024-03-01"), (2L, "2024-03-01"),
      (2L, "2024-03-03"), (3L, "2024-03-08")
    ).toDF("user_id", "d")
      .select(col("user_id"), col("d").cast("timestamp").as("ts"))
    val got = Analytics.rollingActive(ev, "user_id", "ts", 3)
      .collect().map(r => r.getTimestamp(0).toString.take(10) ->
        r.getLong(1)).toMap
    // 03-01: {1,2}; 03-03: {1,2 (from 03-01, within 3d), 2} = {1,2};
    // 03-08: only user 3 (03-03 is 5 days back, outside the window);
    // 03-02 etc. have no events → not observation days
    assert(got == Map(
      "2024-03-01" -> 2L, "2024-03-03" -> 2L, "2024-03-08" -> 1L))
  }

  test("stratified: ceil(frac*n) rows per stratum, deterministic") {
    val sampled = Sampling.stratified(docs, "lang", "doc_id", 20)
    val perLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val gotPerLang = sampled.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perLang.foreach { case (lang, n) =>
      assert(gotPerLang(lang) == math.ceil(n * 20 / 100.0).toLong,
        s"lang=$lang n=$n got=${gotPerLang.get(lang)}")
    }
    val again = Sampling.stratified(docs.repartition(5), "lang", "doc_id", 20)
    assert(again.exceptAll(sampled).isEmpty)
  }

  test("rollingFingerprints matches the plain-Scala Rabin-Karp model") {
    def model(text: String, k: Int): (Int, Long) = {
      val t0 = Option(text).getOrElse("")
        .trim.toLowerCase.replaceAll("\\s+", " ")
        .replaceAll("[^ -~]", "")
      val t = if (t0.length >= k) t0 else t0.padTo(k, ' ')
      val hashes = t.sliding(k).map(g =>
        g.zipWithIndex.map { case (c, j) =>
          c.toLong * (0 until j).foldLeft(1L)((a, _) => a * 31L)
        }.sum).toSeq
      (t.length - (k - 1), hashes.min)
    }
    val df = Seq(
      (1L, "The quick brown Fox jumps"),
      (2L, "the  quick   brown fox JUMPS"), // normalizes to the same
      (3L, "short"),                        // shorter than k -> padded
      (4L, ""),                             // empty -> all-space gram
      (5L, "unicode é世 mixed in ascii text"), // non-ASCII dropped
      (6L, null.asInstanceOf[String]))         // null -> empty, total fn
      .toDF("doc_id", "text")
    val got = TextAnalysis.rollingFingerprints(df, "doc_id", "text", k = 8)
      .orderBy("doc_id").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    df.collect().foreach { r =>
      val expected = model(r.getString(1), 8)
      assert(got(r.getLong(0)) == expected,
        s"doc ${r.getLong(0)}: got ${got(r.getLong(0))}, want $expected")
    }
    // normalization-equal docs fingerprint identically
    assert(got(1L) == got(2L))
  }

  test("simhash: identical text same hash, distinct text mostly differs") {
    val hashed = docs.select(Dedup.simHash64(col("text")).as("h"))
    val distinctHashes = hashed.distinct().count()
    assert(distinctHashes > docs.count() * 0.9)
    val df = Seq(("a b c d e f", "a b c d e f"), ("a b c", "x y z"))
      .toDF("t1", "t2")
      .select(Dedup.hamming64(Dedup.simHash64(col("t1")),
        Dedup.simHash64(col("t2"))).as("d"))
      .collect()
    assert(df(0).getInt(0) == 0 || df(0).getLong(0) == 0)
    assert(df(1).getAs[Number]("d").longValue() > 5)
  }

  test("simHashPairs finds identical planted docs at hamming 0") {
    val doubled = docs.limit(50).select("doc_id", "text")
      .union(docs.limit(50).select((col("doc_id") + 10000).as("doc_id"), col("text")))
    val pairs = Dedup.simHashPairs(doubled, "doc_id", "text", maxHamming = 0)
    assert(pairs.filter(col("id_b") === col("id_a") + 10000).count() == 50)
  }

  test("cosine: orthogonal 0, identical 1") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),
      (Seq(1.0f, 2.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("c")).collect()
    assert(math.abs(df(0).getDouble(0)) < 1e-12)
    assert(math.abs(df(1).getDouble(0) - 1.0) < 1e-12)
  }

  test("bruteForceTopK returns k ranked neighbors per query") {
    val queries = emb.filter(col("vec_id") < 3)
    val out = Similarity.bruteForceTopK(queries, emb, "vec_id", "vec_id",
      "embedding", k = 5).cache()
    assert(out.count() == 3 * 5)
    assert(out.filter(col("query_id") === col("neighbor_id")).count() == 0)
    // ranks are 1..5 per query, cosine non-increasing
    val r = out.filter(col("query_id") === 0).orderBy("rank")
      .select("cos").as[Double].collect()
    assert(r.length == 5 && r.sameElements(r.sortBy(-_)))
  }

  // The two ANN queries are the only declared ops whose quality no
  // oracle pins — these recall floors are that pin. Parameters MUST
  // match the q_ann_ivf / q_ann_lsh declarations in GraftQueries; the
  // floors are documented in Similarity's scaladoc.

  test("ivfTopK recall@10 vs brute force ≥ 0.9 at the declared q_ann_ivf parameters") {
    // The fixture is isotropic (no cluster structure) — IVF's worst
    // case; 0.9 with 6/16 cells probed and spill=2 is the honest
    // ceiling here, and the floor still catches any geometry
    // regression (unnormalized assignment alone scores ~0.6).
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "vec_id",
      "embedding", k = 10).select("query_id", "neighbor_id")
    val approx = Similarity.ivfTopK(queries, emb, "vec_id", "vec_id",
      "embedding", k = 10, nCentroids = 16, nProbe = 6, iterations = 2,
      trainSampleMod = 4, corpusSpill = 2)
      .select("query_id", "neighbor_id")
    val recall = approx.intersect(exact).count().toDouble / exact.count()
    assert(recall >= 0.9, s"IVF recall@10 $recall below the declared 0.9 floor")
  }

  test("ivfPqSearch finds planted corpus copies at the declared q_ann_ivfpq parameters") {
    // a query that IS a corpus vector: its copy lands in the query's
    // own nearest cell (identical vectors, always probed), and its ADC
    // distance equals the copy's reconstruction distance — the copy
    // must appear in the top-10 for ≥ 90% of planted queries (coarse
    // same-cell code ties are the only miss mode)
    val queries = emb.filter(col("vec_id") < 20)
      .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
    val got = Similarity.ivfPqSearch(queries, emb, "vec_id", "vec_id",
      "embedding", topK = 10, nCentroids = 16, nProbe = 6,
      ivfIterations = 2, trainSampleMod = 4, corpusSpill = 2,
      m = 4, pqK = 16, pqIterations = 2)
    val hits = got
      .filter(col("neighbor_id") === col("query_id") - 1000000L)
      .select("query_id").distinct().count()
    assert(hits >= 18, s"only $hits/20 planted copies retrieved in top-10")
    // the copy's ADC distance is minimal for its query wherever found
    val copyRanks = got
      .filter(col("neighbor_id") === col("query_id") - 1000000L)
      .select("rank").collect().map(_.getInt(0))
    assert(copyRanks.forall(_ <= 10))
    // bounded output: at most topK rows per query
    val perQuery = got.groupBy("query_id").count()
      .select("count").collect().map(_.getLong(0))
    assert(perQuery.forall(_ <= 10L))
  }

  test("batched PQ codebook fit == m independent kmeansFit calls, bit for bit") {
    val m = 4; val k = 8; val iters = 2; val sub = 64 / m
    val batched = Similarity.pqFitCodebooks(
      emb, "vec_id", "embedding", m, k, iters)
    (0 until m).foreach { s =>
      val single = Similarity.kmeansFit(
          emb.select(col("vec_id"),
            slice(col("embedding"), s * sub + 1, sub).as("__sv")),
          "vec_id", "__sv", k, iters)
        .collect().map(r => (r.getInt(0), r.getSeq[Long](1).toSeq))
        .sortBy(_._1).toSeq
      val b = batched(s)
        .collect().map(r => (r.getInt(0), r.getSeq[Long](1).toSeq))
        .sortBy(_._1).toSeq
      assert(b == single,
        s"subspace $s: batched codebook diverged from kmeansFit")
    }
  }

  test("persisted near-dup index dedups bit-identically to the inline form") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val base = docs.filter(col("doc_id") < 60)
    val inc = docs.filter(col("doc_id") >= 60)
      .unionByName(base.filter(col("doc_id") < 10).select(
        (col("doc_id") + 5000).as("doc_id"),
        concat(col("text"), lit(" tail")).as("text")))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val inline = rows(Dedup.nearDedupAgainst(base, inc, "doc_id", "text",
      jaccardThreshold = 0.8))
    val idx = tempDir("dedupidx") + "/idx"
    Dedup.saveNearDupIndex(spark, idx, base, "doc_id", "text")
    val indexed = rows(Dedup.nearDedupAgainstIndex(spark, idx, inc,
      "doc_id", "text", jaccardThreshold = 0.8))
    assert(indexed == inline,
      "index round-trip changed the dedup decisions")
    // the planted suffix-clones were actually dropped (the index works)
    assert(!indexed.exists(_ >= 5000L))
    // overwrite-save (staged swap) and redo: still identical
    Dedup.saveNearDupIndex(spark, idx, base, "doc_id", "text")
    assert(rows(Dedup.nearDedupAgainstIndex(spark, idx, inc,
      "doc_id", "text", jaccardThreshold = 0.8)) == inline)
    // a torn index (missing dir) refuses loudly
    graft.storage.Fs.deleteChecked(spark, s"$idx/shingles")
    val e = intercept[IllegalArgumentException] {
      Dedup.nearDedupAgainstIndex(spark, idx, inc, "doc_id", "text")
    }
    assert(e.getMessage.contains("near-dup index"))
  }

  test("persisted hash index: append == rebuild, debris invisible, compaction invariant") {
    import graft.storage.Fs
    val base = docs.filter(col("doc_id") < 200).select("doc_id", "text")
    val inc1 = docs.filter(col("doc_id") >= 200 && col("doc_id") < 300)
      .select("doc_id", "text")
    val inc2 = docs.filter(col("doc_id") >= 300 && col("doc_id") < 400)
      .select("doc_id", "text")
    // probe: fresh docs + exact copies of base, inc1 and inc2 members
    def copies(of: org.apache.spark.sql.DataFrame, offset: Long) =
      of.limit(5).select((col("doc_id") + offset).as("doc_id"),
        col("text"))
    val probe = docs.filter(col("doc_id") >= 400).select("doc_id", "text")
      .unionByName(copies(base, 1000000L))
      .unionByName(copies(inc1, 2000000L))
      .unionByName(copies(inc2, 3000000L))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val appended = tempDir("hidx_app") + "/idx"
    Dedup.saveHashIndex(spark, appended, base, "text")
    Dedup.appendToHashIndex(spark, appended, inc1, "text")
    Dedup.appendToHashIndex(spark, appended, inc2, "text")
    val rebuilt = tempDir("hidx_reb") + "/idx"
    Dedup.saveHashIndex(spark, rebuilt,
      base.unionByName(inc1).unionByName(inc2), "text")
    val servedApp = rows(Dedup.dedupAgainstHashIndex(spark, appended,
      probe, "text"))
    assert(servedApp == rows(Dedup.dedupAgainstHashIndex(spark, rebuilt,
      probe, "text")), "append-maintained index diverged from rebuild")
    assert(!servedApp.exists(_ >= 1000000L),
      s"copies of indexed docs must be dropped: $servedApp")
    // crashed-append staging is invisible
    new java.io.File(s"$appended/inc-7__tmp").mkdirs()
    assert(rows(Dedup.dedupAgainstHashIndex(spark, appended, probe,
      "text")) == servedApp)
    // compaction: generations fold, serving unchanged, idempotent
    assert(Dedup.compactHashIndex(spark, appended) == 2)
    assert(!Fs.listSubdirs(spark, appended).exists(_.matches("inc-\\d+")))
    assert(rows(Dedup.dedupAgainstHashIndex(spark, appended, probe,
      "text")) == servedApp)
    assert(Dedup.compactHashIndex(spark, appended) == 0)
    // a re-save over the compacted root exercises the staged swap
    Dedup.saveHashIndex(spark, appended,
      base.unionByName(inc1).unionByName(inc2), "text")
    assert(rows(Dedup.dedupAgainstHashIndex(spark, appended, probe,
      "text")) == servedApp)
    // missing index refuses loudly
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupAgainstHashIndex(spark, tempDir("hidx_none") + "/x",
        probe, "text")
    }
    assert(e.getMessage.contains("hash index"))
  }

  test("appended near-dup index serves bit-identically to a full rebuild") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val base = docs.filter(col("doc_id") < 40)
    val inc1 = docs.filter(col("doc_id") >= 40 && col("doc_id") < 60)
    val inc2 = docs.filter(col("doc_id") >= 60 && col("doc_id") < 80)
    // probes: fresh docs + planted near-clones of BASE, INC1 and INC2
    // members — the inc-clones prove appended generations are served
    def clones(of: org.apache.spark.sql.DataFrame, offset: Long) =
      of.limit(5).select((col("doc_id") + offset).as("doc_id"),
        concat(col("text"), lit(" tail")).as("text"))
    val probe = docs.filter(col("doc_id") >= 80 && col("doc_id") < 120)
      .unionByName(clones(base, 1000000L))
      .unionByName(clones(inc1, 2000000L))
      .unionByName(clones(inc2, 3000000L))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val appended = tempDir("ndx_app") + "/idx"
    Dedup.saveNearDupIndex(spark, appended, base, "doc_id", "text")
    Dedup.appendToNearDupIndex(spark, appended, inc1, "doc_id", "text")
    Dedup.appendToNearDupIndex(spark, appended, inc2, "doc_id", "text")
    val rebuilt = tempDir("ndx_reb") + "/idx"
    Dedup.saveNearDupIndex(spark, rebuilt,
      base.unionByName(inc1).unionByName(inc2), "doc_id", "text")
    val servedApp = rows(Dedup.nearDedupAgainstIndex(spark, appended,
      probe, "doc_id", "text", jaccardThreshold = 0.8))
    val servedReb = rows(Dedup.nearDedupAgainstIndex(spark, rebuilt,
      probe, "doc_id", "text", jaccardThreshold = 0.8))
    assert(servedApp == servedReb,
      "append-maintained index diverged from the full rebuild")
    // the appended generations actually filter: inc1/inc2 clones dropped
    assert(!servedApp.exists(id => id >= 2000000L),
      s"clones of appended docs must be dropped: $servedApp")
    // crashed-append debris (a staged tmp that never renamed) is
    // invisible to serving
    import graft.storage.Fs
    Fs.renameChecked(spark, s"$appended/inc-2", s"$appended/inc-9__tmp")
    val servedNoInc2 = rows(Dedup.nearDedupAgainstIndex(spark, appended,
      probe, "doc_id", "text", jaccardThreshold = 0.8))
    assert(servedNoInc2.count(_ >= 3000000L) == 5,
      "a __tmp generation must not be served")
    // compaction folds the generations into the base with stored-row
    // I/O only: serving identical, generation dirs gone, appends
    // continue from a clean base
    Fs.renameChecked(spark, s"$appended/inc-9__tmp", s"$appended/inc-2")
    assert(Dedup.nearDupIndexGenerations(spark, appended) == 2)
    assert(Dedup.compactNearDupIndex(spark, appended) == 2)
    assert(Dedup.nearDupIndexGenerations(spark, appended) == 0)
    assert(rows(Dedup.nearDedupAgainstIndex(spark, appended,
      probe, "doc_id", "text", jaccardThreshold = 0.8)) == servedReb,
      "compaction must not change serving")
    assert(Dedup.compactNearDupIndex(spark, appended) == 0) // idempotent
    Dedup.appendToNearDupIndex(spark, appended, inc1, "doc_id", "text")
    assert(Dedup.nearDupIndexGenerations(spark, appended) == 1)

    // excludeSameId: a batch that IS already indexed (replay after a
    // crash between index append and corpus append) passes through
    // instead of near-duping itself; without the flag it is dropped.
    // Hand-built texts with no cross-doc similarity isolate the flag.
    import spark.implicits._
    val uniqDocs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog near the river"),
      (2L, "distributed query engines shuffle partitions across many executor nodes"),
      (3L, "winter mountains hide frozen lakes beneath deep silent snow fields"))
      .toDF("doc_id", "text")
    val mini = tempDir("ndx_self") + "/idx"
    Dedup.saveNearDupIndex(spark, mini, uniqDocs, "doc_id", "text")
    assert(rows(Dedup.nearDedupAgainstIndex(spark, mini, uniqDocs,
      "doc_id", "text", 0.8, excludeSameId = true)) == Seq(1L, 2L, 3L),
      "an already-indexed batch must replay through with excludeSameId")
    assert(rows(Dedup.nearDedupAgainstIndex(spark, mini, uniqDocs,
      "doc_id", "text", 0.8)).isEmpty,
      "without the flag every doc near-dups its own index entry")

    // excludeIds closes the residual replay hole excludeSameId leaves
    // open: two docs of the SAME replayed batch that near-dup EACH
    // OTHER are both already indexed after the crash — each matches
    // the other's entry and both drop (permanently indexed but absent
    // from the corpus), whereas the non-crash run keeps both (the
    // ingest does no intra-batch near-dedup). Excluding every batch
    // id from the index side restores the non-crash survivor set.
    val mutual = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),
      (11L, "alpha beta gamma delta epsilon zeta eta theta iota"))
      .toDF("doc_id", "text")
    val mini2 = tempDir("ndx_mutual") + "/idx"
    Dedup.saveNearDupIndex(spark, mini2, uniqDocs.unionByName(mutual),
      "doc_id", "text")
    assert(rows(Dedup.nearDedupAgainstIndex(spark, mini2, mutual,
      "doc_id", "text", 0.8, excludeSameId = true)).isEmpty,
      "the hole: mutual near-dups drop against each other's entries")
    assert(rows(Dedup.nearDedupAgainstIndex(spark, mini2, mutual,
      "doc_id", "text", 0.8,
      excludeIds = Some(mutual.select(col("doc_id"))))) == Seq(10L, 11L),
      "excluding the batch's ids restores the non-crash survivor set")
  }

  test("generationToken changes on every index mutation — including a " +
      "content-identical re-save (nonce, not mtimes)") {
    val idx = Similarity.ivfPqFit(emb, "vec_id", "embedding",
      nCentroids = 8, ivfIterations = 1, trainSampleMod = 4,
      m = 4, pqK = 8, pqIterations = 1)
    val codes = Similarity.ivfPqEncodeCorpus(idx,
      emb.filter(col("vec_id") < 50), "vec_id", "embedding",
      corpusSpill = 2)
    val dir = tempDir("anngen") + "/idx"
    assert(AnnIndex.generationToken(spark, dir) == "absent")
    AnnIndex.save(spark, dir, idx, Some(codes))
    val t1 = AnnIndex.generationToken(spark, dir)
    // the stale-serving trap: an in-place re-save keeps the same
    // subdir names, so a probe keyed on names+mtimes could read equal
    // (object-store filesystems report constant dir mtimes) and a
    // refreshing serving stream would never reload
    AnnIndex.save(spark, dir, idx, Some(codes))
    val t2 = AnnIndex.generationToken(spark, dir)
    assert(t2 != t1, "content-identical re-save must change the token")
    AnnIndex.appendCorpusCodes(spark, dir,
      Similarity.ivfPqEncodeCorpus(idx,
        emb.filter(col("vec_id") >= 50 && col("vec_id") < 60),
        "vec_id", "embedding", corpusSpill = 2))
    val t3 = AnnIndex.generationToken(spark, dir)
    assert(t3 != t2, "a code append must change the token")
    AnnIndex.compactCorpusCodes(spark, dir)
    val t4 = AnnIndex.generationToken(spark, dir)
    assert(t4 != t3, "a compaction must change the token")
    assert(AnnIndex.generationToken(spark, dir) == t4,
      "a pure read must NOT change the token")
  }

  test("generationToken is a safe probe: a mid-swap absent root reports " +
      "AbsentToken without healing; a root without its nonce is refused") {
    import graft.storage.Fs
    val idx = Similarity.ivfPqFit(emb, "vec_id", "embedding",
      nCentroids = 8, ivfIterations = 1, trainSampleMod = 4,
      m = 4, pqK = 8, pqIterations = 1)
    val codes = Similarity.ivfPqEncodeCorpus(idx,
      emb.filter(col("vec_id") < 50), "vec_id", "embedding",
      corpusSpill = 2)
    val dir = tempDir("anngen_safe") + "/idx"
    AnnIndex.save(spark, dir, idx, Some(codes))
    val t1 = AnnIndex.generationToken(spark, dir)
    // a writer mid-swap: live root renamed aside, staged replacement
    // not yet in place — exactly swapInStaged's absent window
    Fs.renameChecked(spark, dir, dir + "__old")
    assert(AnnIndex.generationToken(spark, dir) == AnnIndex.AbsentToken,
      "the absent window must read as the non-loadable AbsentToken")
    // the probe must NOT have healed the aside back into place: that
    // recoverAside would make the live writer's rename-in fail
    assert(Fs.exists(spark, dir + "__old") && !Fs.exists(spark, dir),
      "a read-probe must never move the writer's aside")
    Fs.renameChecked(spark, dir + "__old", dir) // writer completes
    assert(AnnIndex.generationToken(spark, dir) == t1)
    // a root without the nonce file (an older build's index): load
    // refuses it with the fix, and the probe never throws — it reports
    // one-off transient tokens, which a stability check never reloads on
    Fs.deleteChecked(spark, s"$dir/_generation")
    val tok = AnnIndex.generationToken(spark, dir)
    assert(tok.startsWith(AnnIndex.TransientTokenPrefix))
    assert(AnnIndex.generationToken(spark, dir) != tok)
    val e = intercept[IllegalStateException](AnnIndex.load(spark, dir))
    assert(e.getMessage.contains("recreate"), e.getMessage)
  }

  test("IVF-PQ index save/load round-trip serves bit-identical results") {
    val queries = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
    val idx = Similarity.ivfPqFit(emb, "vec_id", "embedding",
      nCentroids = 8, ivfIterations = 1, trainSampleMod = 4,
      m = 4, pqK = 8, pqIterations = 1)
    def serve(i: Similarity.IvfPqIndex) =
      Similarity.ivfPqSearchWith(i, queries, emb, "vec_id", "vec_id",
        "embedding", topK = 5, nProbe = 4, corpusSpill = 2)
        .collect().map(_.toString).sorted.toSeq
    val direct = serve(idx)
    assert(direct.nonEmpty)
    val dir = tempDir("annidx") + "/idx"
    AnnIndex.save(spark, dir, idx)
    val loaded = AnnIndex.load(spark, dir)
    assert(loaded.dim == idx.dim)
    assert(loaded.centroids == idx.centroids,
      "centroids changed across the parquet round-trip")
    assert(serve(loaded) == direct,
      "a loaded index must serve bit-identical results")
    // overwrite-save exercises the staged-swap path; reload still equal
    AnnIndex.save(spark, dir, idx)
    assert(serve(AnnIndex.load(spark, dir)) == direct)
  }

  test("stored-code serving equals re-encoding serving; codes persist with the index") {
    val queries = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
    val idx = Similarity.ivfPqFit(emb, "vec_id", "embedding",
      nCentroids = 8, ivfIterations = 1, trainSampleMod = 4,
      m = 4, pqK = 8, pqIterations = 1)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val direct = norm(Similarity.ivfPqSearchWith(idx, queries, emb,
      "vec_id", "vec_id", "embedding", topK = 5, nProbe = 4,
      corpusSpill = 2))
    assert(direct.nonEmpty)
    val codes = Similarity.ivfPqEncodeCorpus(idx, emb, "vec_id",
      "embedding", corpusSpill = 2)
    assert(norm(Similarity.ivfPqSearchCoded(idx, codes, queries,
      "vec_id", "embedding", topK = 5, nProbe = 4)) == direct,
      "stored codes must reproduce the re-encoding serve exactly")
    // codes ride the same staged generation as the codebooks
    val dir = tempDir("codedidx") + "/idx"
    AnnIndex.save(spark, dir, idx, Some(codes))
    val loaded = AnnIndex.load(spark, dir)
    val loadedCodes = AnnIndex.loadCorpusCodes(spark, dir)
    assert(loadedCodes.isDefined)
    assert(norm(Similarity.ivfPqSearchCoded(loaded, loadedCodes.get,
      queries, "vec_id", "embedding", topK = 5, nProbe = 4)) == direct,
      "a loaded coded index must serve bit-identical results")
    // a code-less index reports no codes (serve via re-encoding)
    val dir2 = tempDir("nocodes") + "/idx"
    AnnIndex.save(spark, dir2, idx)
    assert(AnnIndex.loadCorpusCodes(spark, dir2).isEmpty)
  }

  test("appended corpus codes serve identically to a full re-encode; compaction folds them") {
    import graft.storage.Fs
    val queries = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
    val idx = Similarity.ivfPqFit(emb, "vec_id", "embedding",
      nCentroids = 8, ivfIterations = 1, trainSampleMod = 4,
      m = 4, pqK = 8, pqIterations = 1)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    def enc(part: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqEncodeCorpus(idx, part, "vec_id", "embedding",
        corpusSpill = 2)
    val expected = norm(Similarity.ivfPqSearchCoded(idx, enc(emb),
      queries, "vec_id", "embedding", topK = 5, nProbe = 4))
    // grow the corpus in three slices: base save + two appends
    val dir = tempDir("codesinc") + "/idx"
    AnnIndex.save(spark, dir, idx,
      Some(enc(emb.filter(col("vec_id") < 200))))
    AnnIndex.appendCorpusCodes(spark, dir,
      enc(emb.filter(col("vec_id") >= 200 && col("vec_id") < 400)))
    AnnIndex.appendCorpusCodes(spark, dir,
      enc(emb.filter(col("vec_id") >= 400)))
    def serve() = norm(Similarity.ivfPqSearchCoded(idx,
      AnnIndex.loadCorpusCodes(spark, dir).get, queries, "vec_id",
      "embedding", topK = 5, nProbe = 4))
    assert(serve() == expected,
      "append-maintained codes diverged from a full re-encode")
    // crashed-append debris is invisible
    new java.io.File(s"$dir/corpus_codes_inc-9__tmp").mkdirs()
    assert(serve() == expected)
    // compaction folds both generations, serving unchanged, idempotent
    assert(AnnIndex.compactCorpusCodes(spark, dir) == 2)
    assert(!Fs.listSubdirs(spark, dir)
      .exists(_.matches("corpus_codes_inc-\\d+")))
    assert(serve() == expected, "compaction must not change serving")
    assert(AnnIndex.compactCorpusCodes(spark, dir) == 0)
    // a refit with different geometry cannot append its codes
    val idx2 = Similarity.ivfPqFit(emb, "vec_id", "embedding",
      nCentroids = 8, ivfIterations = 1, trainSampleMod = 4,
      m = 2, pqK = 8, pqIterations = 1)
    val e = intercept[IllegalArgumentException] {
      AnnIndex.appendCorpusCodes(spark, dir,
        Similarity.ivfPqEncodeCorpus(idx2, emb, "vec_id", "embedding"))
    }
    assert(e.getMessage.contains("do not match"))
  }

  test("a crash mid-re-save leaves the ANN index serving the intact previous generation") {
    import graft.storage.Fs
    val queries = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
    val idx = Similarity.ivfPqFit(emb, "vec_id", "embedding",
      nCentroids = 8, ivfIterations = 1, trainSampleMod = 4,
      m = 4, pqK = 8, pqIterations = 1)
    def serve(i: Similarity.IvfPqIndex) =
      Similarity.ivfPqSearchWith(i, queries, emb, "vec_id", "vec_id",
        "embedding", topK = 5, nProbe = 4, corpusSpill = 2)
        .collect().map(_.toString).sorted.toSeq
    val dir = tempDir("anncrash") + "/idx"
    AnnIndex.save(spark, dir, idx)
    val gen1 = serve(AnnIndex.load(spark, dir))
    // crash window A: a re-save that staged its tmp root but died
    // BEFORE the swap — with a would-be-different second generation
    // (perturbed centroids, same geometry: the case the old
    // sub*m==dim guard could never see)
    val idx2 = idx.copy(centroids = idx.centroids.map(_.map(_ + 0.25)))
    AnnIndex.save(spark, dir + "__tmp_src", idx2)
    Fs.renameChecked(spark, dir + "__tmp_src", dir + "__tmp")
    assert(serve(AnnIndex.load(spark, dir)) == gen1,
      "staging debris must not leak into a load")
    Fs.deleteChecked(spark, dir + "__tmp")
    // crash window B: died BETWEEN the two swap renames — live root
    // gone, previous generation parked aside; recovery rolls back
    Fs.renameChecked(spark, dir, dir + "__old")
    assert(serve(AnnIndex.load(spark, dir)) == gen1,
      "aside recovery must restore the previous complete generation")
    assert(Fs.exists(spark, dir) && !Fs.exists(spark, dir + "__old"))
    // crash window C: died AFTER the swap, aside debris left behind —
    // the NEW generation serves and the debris is cleared
    AnnIndex.save(spark, dir, idx2)
    val gen2 = serve(AnnIndex.load(spark, dir))
    Fs.deleteChecked(spark, dir + "__old")
    AnnIndex.save(spark, dir + "__aside_src", idx)
    Fs.renameChecked(spark, dir + "__aside_src", dir + "__old")
    assert(serve(AnnIndex.load(spark, dir)) == gen2,
      "a live root must win over aside debris")
    assert(!Fs.exists(spark, dir + "__old"))
  }

  test("plain-IVF and LSH index save/load round-trips serve bit-identical results") {
    import graft.storage.Fs
    val queries = emb.filter(col("vec_id") < 10)
      .select((col("vec_id") + 1000000).as("vec_id"), col("embedding"))
    // plain IVF: the centroid matrix IS the index
    val cents = Similarity.ivfTrain(emb, "embedding", nCentroids = 8,
      iterations = 1, trainSampleMod = 4)
    def serveIvf(c: Seq[Seq[Double]]) =
      Similarity.ivfTopKWith(c, queries, emb, "vec_id", "vec_id",
        "embedding", k = 5, nProbe = 4, corpusSpill = 2)
        .collect().map(_.toString).sorted.toSeq
    val directIvf = serveIvf(cents)
    assert(directIvf.nonEmpty)
    val ivfDir = tempDir("ivfidx") + "/idx"
    AnnIndex.saveIvf(spark, ivfDir, cents)
    assert(AnnIndex.loadIvf(spark, ivfDir) == cents,
      "centroids changed across the parquet round-trip")
    assert(serveIvf(AnnIndex.loadIvf(spark, ivfDir)) == directIvf)
    AnnIndex.saveIvf(spark, ivfDir, cents) // exercises the staged swap
    assert(serveIvf(AnnIndex.loadIvf(spark, ivfDir)) == directIvf)

    // LSH: params + corpus bucket table; serving == the inline form
    val inline = Similarity.lshTopK(queries, emb, "vec_id", "vec_id",
        "embedding", k = 5, dim = 64, nPlanes = 4, nTables = 8,
        probeHamming = 1)
      .collect().map(_.toString).sorted.toSeq
    assert(inline.nonEmpty)
    val lshDir = tempDir("lshidx") + "/idx"
    AnnIndex.saveLsh(spark, lshDir, emb, "vec_id", "embedding",
      dim = 64, nPlanes = 4, nTables = 8)
    def serveLsh() =
      Similarity.lshTopKWith(AnnIndex.loadLsh(spark, lshDir), queries,
        emb, "vec_id", "vec_id", "embedding", k = 5, probeHamming = 1)
        .collect().map(_.toString).sorted.toSeq
    assert(serveLsh() == inline,
      "a loaded LSH index must serve the inline results")
    AnnIndex.saveLsh(spark, lshDir, emb, "vec_id", "embedding",
      dim = 64, nPlanes = 4, nTables = 8) // staged-swap path
    assert(serveLsh() == inline)
    // crash mid-re-save: staged tmp root must not leak into a load
    Fs.renameChecked(spark, lshDir, lshDir + "_keep")
    AnnIndex.saveLsh(spark, lshDir + "__tmp_src", emb, "vec_id",
      "embedding", dim = 64, nPlanes = 2, nTables = 1)
    Fs.renameChecked(spark, lshDir + "__tmp_src", lshDir + "__tmp")
    Fs.renameChecked(spark, lshDir + "_keep", lshDir)
    assert(serveLsh() == inline, "tmp debris must not be served")
    // a torn index refuses loudly
    Fs.deleteChecked(spark, s"$lshDir/buckets")
    val e = intercept[IllegalArgumentException] {
      AnnIndex.loadLsh(spark, lshDir)
    }
    assert(e.getMessage.contains("LSH index"))
  }

  test("lshTopK recall@10 vs brute force ≥ 0.9 at the declared q_ann_lsh parameters") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, emb, "vec_id", "vec_id",
      "embedding", k = 10).select("query_id", "neighbor_id")
    val approx = Similarity.lshTopK(queries, emb, "vec_id", "vec_id",
      "embedding", k = 10, dim = 64, nPlanes = 4, nTables = 8)
      .select("query_id", "neighbor_id")
    val recall = approx.intersect(exact).count().toDouble / exact.count()
    assert(recall >= 0.9, s"LSH recall@10 $recall below the declared 0.9 floor")
  }

  test("text stats: tokens, quality, bpe-ish counts behave") {
    val row = Seq(("The quick brown fox jumps over the lazy dog", ""))
      .toDF("text", "ignore")
      .select(
        TextAnalysis.tokenCount(col("text")).as("n"),
        TextAnalysis.meanTokenLength(col("text")).as("mean"),
        TextAnalysis.punctRatio(col("text")).as("punct"),
        TextAnalysis.qualityScore(col("text")).as("q"),
        TextAnalysis.approxBpeTokenCount(col("text")).as("bpe"))
      .head()
    assert(row.getAs[Int]("n") == 9)
    assert(math.abs(row.getAs[Double]("mean") - 35.0 / 9) < 1e-9)
    assert(row.getAs[Double]("punct") == 0.0)
    assert(row.getAs[Double]("q") > 0 && row.getAs[Double]("q") <= 1)
    assert(row.getAs[Int]("bpe") >= 9)
  }

  test("langId marks marker-bearing text, und otherwise") {
    val out = Seq("the cat and the dog is here",
      "der hund ist nicht hier und das ist gut",
      "qqq www zzz")
      .toDF("text")
      .select(TextAnalysis.langId(col("text")).as("lang"))
      .as[String].collect().toSeq
    assert(out == Seq("en", "de", "und"))
  }

  test("winnowingSketches (corpus) agrees with the Column variant") {
    val a = docs.limit(10).select(col("doc_id"),
      TextAnalysis.winnowingSketch(col("text")).as("sketch"))
    val b = TextAnalysis.winnowingSketches(docs.limit(10), "doc_id", "text")
    val joined = a.alias("a").join(b.alias("b"), "doc_id")
      .select(size(array_except(col("a.sketch"), col("b.sketch"))).as("d"))
    assert(joined.filter(col("d") =!= 0).count() == 0)
  }

  test("winnowing sketch: identical text identical sketch, overlap for similar") {
    val s = docs.limit(20)
      .select(col("doc_id"), TextAnalysis.winnowingSketch(col("text")).as("sk"))
    val joined = s.alias("a").join(s.alias("b"),
      col("a.doc_id") === col("b.doc_id"))
      .select(size(array_except(col("a.sk"), col("b.sk"))).as("d"))
    assert(joined.filter(col("d") =!= 0).count() == 0)
  }

  test("asOf join picks most recent right row at-or-before left time") {
    val trades = Seq((1L, "A", 100L), (2L, "A", 205L), (3L, "B", 50L),
      (4L, "C", 10L)).toDF("trade_id", "sym", "t")
    val quotes = Seq(("A", 90L, 1.0), ("A", 100L, 2.0), ("A", 200L, 3.0),
      ("B", 60L, 9.0)).toDF("qsym", "qt", "price")
    val out = AsOfJoin.asOf(trades, quotes, "sym", "qsym", "t", "qt",
      Seq("price")).orderBy("trade_id").collect()
    assert(out(0).getAs[Double]("price") == 2.0) // t=100 inclusive match
    assert(out(1).getAs[Double]("price") == 3.0) // latest ≤ 205
    assert(out(2).isNullAt(out(2).fieldIndex("price"))) // B quote after trade
    assert(out(3).isNullAt(out(3).fieldIndex("price"))) // no C quotes
  }

  test("asOf join: null fields in the most recent right row are kept, not skipped") {
    val trades = Seq((1L, "A", 300L)).toDF("trade_id", "sym", "t")
    val quotes = Seq(("A", 100L, Some(5.0), Some(10L)),
      ("A", 200L, Option.empty[Double], Some(20L)))
      .toDF("qsym", "qt", "price", "qty")
    val out = AsOfJoin.asOf(trades, quotes, "sym", "qsym", "t", "qt",
      Seq("price", "qty")).head()
    // most recent row is (t=200, price=null, qty=20): the null price must
    // come through and qty must NOT be stitched from the older row
    assert(out.isNullAt(out.fieldIndex("price")))
    assert(out.getAs[Long]("qty") == 20L)
  }

  test("zero-norm vectors never rank or match (no NaN poisoning)") {
    val emb3 = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.9f, 0.1f)), (2L, Seq(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(
      emb3.filter(col("vec_id") === 0), emb3, "vec_id", "vec_id",
      "embedding", k = 1).head()
    assert(top.getAs[Long]("neighbor_id") == 1L) // not the zero vector
    val dups = Similarity.bruteForceNearDupPairs(emb3, "vec_id", "embedding", 0.5)
    assert(dups.filter(col("id_a") === 2 || col("id_b") === 2).count() == 0)
  }

  test("duplicateGroups refuses to return split components") {
    val chain = (1L until 10L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalStateException] {
      Dedup.duplicateGroups(chain, maxIter = 3).collect()
    }
  }

  test("dot product of mismatched lengths is null, not a partial sum") {
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0))).toDF("a", "b")
    val r = df.select(Similarity.dot(col("a"), col("b")).as("d")).head()
    assert(r.isNullAt(0))
  }

  test("dot product with a null element is null, matching the fold") {
    val df = Seq((Seq[java.lang.Double](1.0, null, 3.0),
      Seq[java.lang.Double](1.0, 2.0, 3.0))).toDF("a", "b")
    val native = df.select(Similarity.dot(col("a"), col("b")).as("d")).head()
    assert(native.isNullAt(0))
    // the higher-order fold it documents itself as bit-identical to
    val fold = df.select(aggregate(
      zip_with(col("a"), col("b"), (x, y) => x * y),
      lit(0.0d), (acc, x) => acc + x).as("d")).head()
    assert(fold.isNullAt(0))
  }

  test("charNgramSets: distinct trigrams of normalized text") {
    val df = Seq((1L, "AB  cd"), (2L, "ab")).toDF("doc_id", "text")
    val out = Dedup.charNgramSets(df, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toMap
    assert(out(1L) == Set("ab ", "b c", " cd")) // "ab cd" normalized
    assert(out(2L) == Set("ab")) // shorter than n -> whole text
  }

  test("jaccardNgramPairs: identical 1.0, disjoint absent, suffix high") {
    val df = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "The quick  brown fox jumps"), // normalizes identical to 1
      (3L, "zzzz yyyy xxxx wwww"),
      (4L, "the quick brown fox jumps extra")).toDF("doc_id", "text")
    val pairs = Dedup.jaccardNgramPairs(df, "doc_id", "text", 3, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(!pairs.contains((1L, 3L)) && !pairs.contains((2L, 3L)))
    assert(pairs((1L, 4L)) > 0.7 && pairs((1L, 4L)) < 1.0)
  }

  test("sessionize splits on gaps and rolls up correctly") {
    import java.sql.Timestamp
    def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    val events = Seq(
      (1L, 100L, ts(0), 1.0), (1L, 101L, ts(10), 1.0),   // session 1
      (1L, 102L, ts(90), 1.0),                           // gap 80min -> s2
      (2L, 200L, ts(5), 1.0))                            // other user
      .toDF("user_id", "event_id", "ts", "value")
    val out = graft.ops.Sessionize
      .sessions(events, "user_id", "ts", "event_id", gapSeconds = 1800)
      .orderBy("user_id", "session_id").collect()
    assert(out.length == 3)
    assert(out(0).getAs[Long]("n_events") == 2)
    assert(out(0).getAs[Long]("duration_sec") == 600)
    assert(out(1).getAs[Long]("n_events") == 1)
    assert(out(2).getAs[Long]("first_event") == 200L)
  }

  test("approx_count_distinct within rsd of exact counts") {
    val rows = graft.queries.GraftQueries
      .approxDistinct(spark, "/root/testdata/sf0.001").collect()
    rows.foreach { r =>
      val approx = r.getAs[Long]("approx_orders").toDouble
      val exact = r.getAs[Long]("exact_orders").toDouble
      assert(math.abs(approx - exact) / exact < 0.1,
        s"approx $approx vs exact $exact")
    }
  }

  test("PII redaction replaces emails, IPs, phones with typed tokens") {
    val out = Seq(
      "mail me at jane.doe+x@corp.example.org today",
      "server at 192.168.0.1 and backup 10.0.0.2",
      "call +1 555 123 4567 now",
      "nothing here")
      .toDF("text")
      .select(TextAnalysis.redactPii(col("text")).as("r"),
        TextAnalysis.piiCount(col("text")).as("n"))
      .collect()
    assert(out(0).getString(0) == "mail me at <EMAIL> today")
    assert(out(0).getInt(1) == 1)
    assert(out(1).getString(0) == "server at <IP> and backup <IP>")
    assert(out(1).getInt(1) == 2)
    assert(out(2).getString(0).contains("<PHONE>"))
    assert(out(3).getString(0) == "nothing here")
    assert(out(3).getInt(1) == 0)
  }

  test("multimodal: mime magic detection") {
    val png = Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 0x0d, 0x0a)
    val jpg = Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte, 0xe0.toByte)
    val other = "hello".getBytes
    val out = Seq((1L, png), (2L, jpg), (3L, other)).toDF("id", "media")
    val meta = Multimodal.withMediaMeta(out, "media")
      .select("media_meta.mime").as[String].collect().toSeq
    assert(meta == Seq("image/png", "image/jpeg", "application/octet-stream"))
  }

  test("multimodal: feature extraction stub is deterministic, right shape") {
    val df = Seq((1L, "abcdefgh".getBytes), (2L, "abcdefgh".getBytes),
      (3L, "zzzzzzzz".getBytes)).toDF("id", "media")
    val f = Multimodal.extractFeatures(df, "media", dim = 4)
      .select("id", "features").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(f(1L).length == 4)
    assert(f(1L) == f(2L))
    assert(f(1L) != f(3L))
  }

  test("saltedJoin is row-for-row identical to the plain join") {
    val large = (1L to 500L).map(i => (i, i % 3, s"r$i")) // heavy skew: 3 keys
      .toDF("rowid", "k", "payload")
    val small = Seq((0L, "zero"), (1L, "one"), (2L, "two")).toDF("k", "name")
    val salted = Skew.saltedJoin(large, small, Seq("k"), "rowid", 8)
      .select("rowid", "k", "payload", "name")
    val plain = large.join(small, Seq("k"), "inner")
      .select("rowid", "k", "payload", "name")
    assert(salted.count() == 500)
    assert(salted.exceptAll(plain).isEmpty && plain.exceptAll(salted).isEmpty)
  }

  test("multimodal: resize fallback emits fixed-size deterministic payloads") {
    val small = Array.fill[Byte](10)(3)
    val big = Array.tabulate[Byte](9000)(i => (i % 127).toByte)
    val df = Seq((1L, small), (2L, big), (3L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "media")
    val out = Multimodal.resize(df, "media", 8, 4).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("resized")).toMap
    // fixed output dimensions regardless of input size (incl. null)
    assert(out.values.forall(_.length == 32))
    val again = Multimodal.resize(df, "media", 8, 4).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("resized")).toMap
    assert(out.keys.forall(k => out(k).toSeq == again(k).toSeq))
    assert(out(1L).toSeq != out(2L).toSeq)
  }

  /** Deterministic test PNG: a w×h RGB gradient (r = x*255/(w-1),
    * g = y*255/(h-1), b = 64). */
  private def testPng(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) {
      val r = if (w > 1) x * 255 / (w - 1) else 0
      val g = if (h > 1) y * 255 / (h - 1) else 0
      img.setRGB(x, y, (r << 16) | (g << 8) | 64)
    }
    Multimodal.encodePng(img)
  }

  test("multimodal: real PNG decode + bilinear resize round-trips") {
    val df = Seq((1L, testPng(16, 8)), (2L, "not an image".getBytes))
      .toDF("id", "media")
    val out = Multimodal.resize(df, "media", 8, 4).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("resized")).toMap
    // image branch: the output is a real 8×4 PNG
    val resized = Multimodal.decodeImage(out(1L))
    assert(resized.isDefined)
    assert(resized.get.getWidth == 8 && resized.get.getHeight == 4)
    // gradient survives: red still increases left->right, blue constant
    val px = resized.get.getRGB(0, 0, 8, 4, null, 0, 8)
    val red = (x: Int) => (px(x) >>> 16) & 0xff
    assert(red(0) < red(3) && red(3) < red(7))
    assert(px.forall(p => (p & 0xff) == 64))
    // opaque branch keeps the byte-resample contract
    assert(out(2L).length == 32)
  }

  test("multimodal: bilinear interpolation midpoint is exact") {
    // 2x1 black/white image upsampled to 4x1: half-pixel-center mapping
    // puts targets 0,3 on the sources and 1,2 at 1/4 and 3/4 blends
    val img = new java.awt.image.BufferedImage(
      2, 1, java.awt.image.BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, 0x000000)
    img.setRGB(1, 0, 0xffffff)
    val out = Multimodal.bilinearResize(img, 4, 1)
    val v = (0 until 4).map(x => out.getRGB(x, 0) & 0xff)
    assert(v == Seq(0, 64, 191, 255), s"got $v")
  }

  test("multimodal: header width/height parsed for png without decoding") {
    val df = Seq((1L, testPng(20, 10)), (2L, "plain text".getBytes))
      .toDF("id", "media")
    val meta = Multimodal.withMediaMeta(df, "media")
      .select("id", "media_meta.mime", "media_meta.width", "media_meta.height")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(meta(1L).getString(1) == "image/png")
    assert(meta(1L).getInt(2) == 20 && meta(1L).getInt(3) == 10)
    assert(meta(2L).getString(1) == "application/octet-stream")
    assert(meta(2L).isNullAt(2) && meta(2L).isNullAt(3))
  }

  /** Deterministic test JPEG via the JDK encoder (baseline JFIF:
    * APP0 + quant/huffman tables before the SOF0 segment — a real
    * variable-offset header for the marker scan). */
  private def testJpeg(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, 0x336699)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "jpg", bos))
    bos.toByteArray
  }

  test("multimodal: jpeg header width/height via bounded SOF scan") {
    // hand-built minimal JPEG: SOI, fill-FF padding, APP0, then SOF0
    // with height=300 width=500 — exercises padding skip + segment walk
    def be16(v: Int) = Seq(((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
    val handmade = (Seq(0xff, 0xd8, 0xff).map(_.toByte) ++ // SOI + fill FF
      Seq(0xff, 0xe0).map(_.toByte) ++ be16(6) ++ // APP0, len 6
      Seq(0x4a, 0x46, 0x49, 0x46).map(_.toByte) ++ // "JFIF"
      Seq(0xff, 0xc0).map(_.toByte) ++ be16(11) ++ // SOF0, len 11
      Seq(8.toByte) ++ be16(300) ++ be16(500) ++
      Seq(1, 0x11, 0).map(_.toByte)).toArray
    val noSof = Array(0xff, 0xd8, 0xff, 0xd9).map(_.toByte) // SOI + EOI
    val df = Seq(
      (1L, testJpeg(17, 9)),
      (2L, handmade),
      (3L, testJpeg(17, 9).take(6)), // truncated before any SOF
      (4L, noSof)).toDF("id", "media")
    val meta = Multimodal.withMediaMeta(df, "media")
      .select("id", "media_meta.mime", "media_meta.width", "media_meta.height")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(meta(1L).getString(1) == "image/jpeg")
    assert(meta(1L).getInt(2) == 17 && meta(1L).getInt(3) == 9)
    assert(meta(2L).getInt(2) == 500 && meta(2L).getInt(3) == 300)
    assert(meta(3L).getString(1) == "image/jpeg")
    assert(meta(3L).isNullAt(2) && meta(3L).isNullAt(3))
    assert(meta(4L).isNullAt(2) && meta(4L).isNullAt(3))
  }

  test("multimodal: wav header sample rate/channels; RIFF discrimination") {
    def le16(v: Int) = Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def le32(v: Int) = Seq((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    // canonical 44-byte WAV header: PCM, stereo, 44.1 kHz
    val wav = ("RIFF".getBytes.toSeq ++ le32(36) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(2) ++ le32(44100) ++
      le32(44100 * 4) ++ le16(4) ++ le16(16)).toArray
    val avi = ("RIFF".getBytes.toSeq ++ le32(100) ++ "AVI ".getBytes).toArray
    def bmff(brand: String) =
      (Seq(0, 0, 0, 24).map(_.toByte) ++ s"ftyp$brand".getBytes).toArray
    val df = Seq((1L, wav), (2L, avi), (3L, bmff("isom")),
        (4L, wav.take(20)), (5L, bmff("M4A ")), (6L, bmff("heic")),
        (7L, bmff("avif")), (8L, bmff("mif1")), (9L, bmff("avis")))
      .toDF("id", "media")
    val meta = Multimodal.withMediaMeta(df, "media")
      .select("id", "media_meta.mime", "media_meta.sample_rate",
        "media_meta.channels")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(meta(1L).getString(1) == "audio/wav")
    assert(meta(1L).getInt(2) == 44100 && meta(1L).getInt(3) == 2)
    assert(meta(2L).getString(1) == "video/x-msvideo")
    assert(meta(2L).isNullAt(2) && meta(2L).isNullAt(3))
    assert(meta(3L).getString(1) == "video/mp4")
    // truncated before the sample-rate field: wav mime, null fields
    assert(meta(4L).getString(1) == "audio/wav")
    assert(meta(4L).isNullAt(2) && meta(4L).isNullAt(3))
    // the ftyp brand carries the medium, not the envelope
    assert(meta(5L).getString(1) == "audio/mp4")
    assert(meta(6L).getString(1) == "image/heic")
    assert(meta(7L).getString(1) == "image/avif")
    assert(meta(8L).getString(1) == "image/heif") // structural major brand
    assert(meta(9L).getString(1) == "image/avif-sequence")
  }

  test("text operators are total over hostile inputs") {
    // null, empty, whitespace-only, emoji/RTL/CJK, and a 100k-char doc:
    // every corpus op must produce a row or drop it — never throw
    val hostile = Seq(
      (1L, null.asInstanceOf[String]), (2L, ""), (3L, "   \t\n  "),
      (4L, "🎉 ✨ emoji only 🎊"), (5L, "مرحبا بالعالم שלום"),
      (6L, "中文文本没有空格也要处理"), (7L, "a" * 100000))
    val df = hostile.toDF("doc_id", "text")
    assert(TextAnalysis.tfIdf(df, "doc_id", "text").collect().length >= 0)
    assert(Dedup.dedupTokenChunks(df, "doc_id", "text", 4)
      .collect().length >= 0)
    assert(Dedup.removeBoilerplate(df, "doc_id", "text", 2, 2)
      .collect().length >= 0)
    assert(TextAnalysis.rollingFingerprints(df, "doc_id", "text")
      .collect().length == 7) // total: one row per doc incl. null text
    val stats = df.select(col("doc_id"),
      TextAnalysis.qualityScore(col("text")).as("q"),
      TextAnalysis.langId(col("text")).as("lang"),
      TextAnalysis.redactPii(col("text")).as("r"))
    assert(stats.collect().length == 7)
  }

  test("property: header parsers never throw on arbitrary bytes") {
    // magic-prefixed garbage exercises every parser branch (PNG/GIF/
    // BMP/JPEG/WAV/BMFF) on hostile payloads; the contract is
    // null-or-value, never an exception
    val rng = new scala.util.Random(42)
    val magics = Seq(
      Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47),
      Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte),
      "GIF8".getBytes, "BM".getBytes, "RIFF".getBytes,
      Array[Byte](0, 0, 0, 24) ++ "ftyp".getBytes, Array.empty[Byte])
    val rows = (1L to 60L).map { i =>
      val magic = magics(rng.nextInt(magics.size))
      val tail = Array.fill[Byte](rng.nextInt(40))(rng.nextInt().toByte)
      (i, magic ++ tail)
    }
    val out = Multimodal.withMediaMeta(rows.toDF("id", "media"), "media")
      .select("media_meta.*").collect()
    assert(out.length == 60) // completed without throwing
  }

  test("multimodal: real image features use the luma-grid branch") {
    // all-white vs all-black images: luma means 1.0 vs 0.0 per cell
    def flat(rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        8, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 8; x <- 0 until 8) img.setRGB(x, y, rgb)
      Multimodal.encodePng(img)
    }
    val df = Seq((1L, flat(0xffffff)), (2L, flat(0x000000)))
      .toDF("id", "media")
    val f = Multimodal.extractFeatures(df, "media", dim = 4)
      .select("id", "features").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(f(1L).forall(v => math.abs(v - 1.0f) < 1e-3))
    assert(f(2L).forall(_ == 0.0f))
  }

  test("contamination: flags only training docs sharing an n-gram with eval") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated training text here today"),
      (3L, "shared secret benchmark answer phrase plus extra words"))
      .toDF("doc_id", "text")
    val eval = Seq(
      (100L, "shared secret benchmark answer phrase appears in eval"))
      .toDF("doc_id", "text")
    val hits = Dedup.contaminationOverlap(train, eval, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits.keySet == Set(3L)) // only the planted overlap
    assert(hits(3L) >= 1L)
    val clean = Dedup.decontaminate(train, eval, "doc_id", "text", n = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(clean == Set(1L, 2L))
  }

  test("packing: fills budget bins in id order within shards") {
    // 4 tokens per doc, budget 10 -> docs 1,2 in bin 0 (cum-before 0,4),
    // doc 3 starts at 8 < 10 -> still bin 0; doc 4 at 12 -> bin 1
    val df = (1L to 4L).map(i => (i, "a b c d")).toDF("doc_id", "text")
    val packed = Packing.packByTokenBudget(df, "doc_id", "text",
      lit(0L), budget = 10)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("bin")).toMap
    assert(packed == Map(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L))
    // shards pack independently: same docs, two shards, bins restart
    val sharded = Packing.packByTokenBudget(df, "doc_id", "text",
      (col("doc_id") % 2).cast("long"), budget = 10)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("bin")).toMap
    assert(sharded.values.forall(_ == 0L)) // 2 docs x 4 tokens < 10 per shard
  }

  test("repetitionStats: planted repetition flagged, varied text not") {
    val df = Seq(
      (1L, "spam spam spam spam"),
      (2L, "all these tokens are completely different words here"),
      (3L, "hi"))
      .toDF("doc_id", "text")
    val stats = TextAnalysis.repetitionStats(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(!stats.contains(3L)) // below minTokens
    assert(stats(1L) == ((4, 0.75, 1.5))) // 1 distinct of 4; "spam spam" x3
    assert(stats(2L)._2 == 0.0)
    assert(stats(2L)._3 == 2.0 / 8.0) // every bigram unique
  }

  test("quantizeInt8: exact scale, zero-vector safe, dequantize close") {
    val df = Seq(
      (1L, Seq(0.5, -1.0, 0.25)),
      (2L, Seq(0.0, 0.0, 0.0)))
      .toDF("vec_id", "v")
    val out = df
      .withColumn("ma", Similarity.maxAbs(col("v")))
      .withColumn("q", Similarity.quantizeInt8(col("v"), col("ma")))
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(2), r.getSeq[Int](3)))).toMap
    assert(out(1L)._1 == 1.0)
    assert(out(1L)._2 == Seq(64, -127, 32)) // round(0.5*127)=64 (half-up)
    assert(out(2L)._2 == Seq(0, 0, 0))
  }

  test("multimodal: corrupt/truncated image payloads fall back, not crash") {
    // valid PNG magic + garbage body, and a real PNG cut mid-header
    val corrupt = Array[Byte](0x89.toByte, 0x50, 0x4e, 0x47, 0x0d, 0x0a,
      0x1a, 0x0a) ++ Array.fill[Byte](40)(0x7f)
    val truncated = testPng(16, 8).take(18)
    val df = Seq((1L, corrupt), (2L, truncated)).toDF("id", "media")
    val out = Multimodal.resize(df, "media", 8, 4).collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]]("resized")).toMap
    assert(out.values.forall(_.length == 32)) // fallback branch, both rows
    // truncated header must yield NULL dims, not a fabricated integer
    val meta = Multimodal.withMediaMeta(df, "media")
      .select("id", "media_meta.width", "media_meta.height")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(meta(2L).isNullAt(1) && meta(2L).isNullAt(2))
  }

  test("packing: duplicate ids in a shard still pack sequentially (ROWS frame)") {
    // three equal ids x 6 tokens, budget 10: RANGE framing would lump
    // all three at cum=18 (bins 1,1,1); ROWS packs 0,0,1
    val df = Seq((7L, "a b c d e f"), (7L, "a b c d e f"),
      (7L, "a b c d e f")).toDF("doc_id", "text")
    val bins = Packing.packByTokenBudget(df, "doc_id", "text", lit(0L), 10)
      .select("bin").as[Long].collect().sorted.toSeq
    assert(bins == Seq(0L, 0L, 1L))
  }

  test("multimodal: frame sampling shape") {
    val bytes = Array.fill[Byte](5000)(1)
    val df = Seq((1L, bytes)).toDF("id", "media")
    val frames = Multimodal.sampleFrames(df, "id", "media",
      frameSize = 1024, stride = 2).collect()
    // 5 chunks (0..4), stride 2 -> frames 0,2,4
    assert(frames.map(_.getAs[Int]("frame_no")).toSeq.sorted == Seq(0, 2, 4))
  }

  test("asOfForward attaches the earliest right row at-or-after, inclusive") {
    val left = Seq((1L, 10L, 5L), (2L, 10L, 20L), (3L, 10L, 99L))
      .toDF("id", "k", "t")
    val right = Seq((10L, 10L, "a"), (10L, 20L, "b"), (10L, 30L, "c"))
      .toDF("rk", "rt", "v")
    val out = AsOfJoin.asOfForward(left, right, "k", "rk", "t", "rt",
        Seq("v")).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out(1L) == "a") // next at t=10
    assert(out(2L) == "b") // equal time matches (inclusive)
    assert(out(3L) == null) // nothing after 99
  }

  test("asOfNearest picks the closer side; backward wins ties") {
    val left = Seq((1L, 10L, 12L), (2L, 10L, 18L), (3L, 10L, 25L),
        (4L, 10L, 2L), (5L, 10L, 99L), (6L, 99L, 50L))
      .toDF("id", "k", "t")
    val right = Seq((10L, 10L, "a"), (10L, 20L, "b"), (10L, 30L, "c"))
      .toDF("rk", "rt", "v")
    val out = AsOfJoin.asOfNearest(left, right, "k", "rk", "t", "rt",
        Seq("v")).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out(1L) == "a") // 12: back 10 (d=2) beats fwd 20 (d=8)
    assert(out(2L) == "b") // 18: fwd 20 (d=2) beats back 10 (d=8)
    assert(out(3L) == "b") // 25: tie (d=5 both ways) → backward
    assert(out(4L) == "a") // 2: nothing before → forward match
    assert(out(5L) == "c") // 99: nothing after → backward match
    assert(out(6L) == null) // key with no right rows at all
  }

  test("dedupLines: first occurrence survives, docs reassemble in order") {
    val df = Seq(
      (1L, "alpha\nshared line\nbeta"),
      (2L, "shared line\ngamma"), // "shared line" first seen in doc 1
      (3L, "alpha")).toDF("doc_id", "text") // "alpha" first seen in doc 1
    val out = Dedup.dedupLines(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out(1L) == ((3L, "alpha\nshared line\nbeta")))
    assert(out(2L) == ((1L, "gamma")))
    assert(!out.contains(3L)) // every unit was seen earlier -> doc dropped
  }

  test("dedupTokenChunks: chunk boundaries and short tails") {
    val df = Seq(
      (1L, "a b c d e"), // chunks of 2: "a b","c d","e"
      (2L, "c d x")).toDF("doc_id", "text") // "c d" dup'd, "x" short tail
    val out = Dedup.dedupTokenChunks(df, "doc_id", "text", 2).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out(1L) == ((3L, "a b c d e")))
    assert(out(2L) == ((1L, "x")))
  }

  test("dedupAgainst drops only increment docs whose text exists in base") {
    val base = Seq((1L, "Hello  World"), (2L, "keep me")).toDF("doc_id", "text")
    val inc = Seq((10L, "hello world"), (11L, "brand new"),
      (12L, "brand new")).toDF("doc_id", "text")
    val out = Dedup.dedupAgainst(base, inc, "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    // 10 matches base (normalized); intra-increment dup 11/12 both kept
    assert(out == Seq(11L, 12L))
  }

  test("nearDedupAgainst drops near-copies of base docs, keeps the rest") {
    // disjoint vocabularies: base from a*, fresh from b* (jaccard 0 by
    // construction — the documents fixture itself contains planted
    // near-dups, so a fixture-based "fresh" set wouldn't be fresh)
    val rng = new scala.util.Random(5)
    def text(vocab: String) =
      Seq.fill(30)(vocab + rng.nextInt(10)).mkString(" ")
    val base = (0L until 30L).map(i => (i, text("a")))
      .toDF("doc_id", "text")
    val copies = base.filter(col("doc_id") < 10)
      .select((col("doc_id") + 10000).as("doc_id"), col("text"))
    val nears = base.filter(col("doc_id") < 10)
      .select((col("doc_id") + 20000).as("doc_id"),
        concat(col("text"), lit(" extra")).as("text"))
    val fresh = (100L until 120L).map(i => (i, text("b")))
      .toDF("doc_id", "text")
    val inc = copies.unionByName(nears).unionByName(fresh)
    val kept = Dedup.nearDedupAgainst(base, inc, "doc_id", "text",
        jaccardThreshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert((0L until 10L).forall(i => !kept.contains(i + 10000)),
      "exact copies must drop")
    assert((0L until 10L).forall(i => !kept.contains(i + 20000)),
      "near copies (one appended token) must drop")
    assert((100L until 120L).forall(kept.contains),
      "genuinely-new docs must survive")
  }

  test("bloomPrefilterJoin equals the plain join; no false negatives") {
    val big = (0L until 2000L).map(i => (i, i % 500)).toDF("row_id", "fk")
    val small = Seq((3L, "x"), (7L, "y"), (499L, "z")).toDF("pk", "name")
    val got = BloomJoin.bloomPrefilterJoin(big, "fk", small, "pk",
        expectedItems = 100L)
      .select("row_id", "fk", "pk", "name").orderBy("row_id").collect()
    val want = big.join(small, col("fk") === col("pk"))
      .select("row_id", "fk", "pk", "name").orderBy("row_id").collect()
    assert(got.toSeq == want.toSeq) // bloom FNs are impossible; FPs die in the join
    assert(got.length == 12) // 4 big rows per small key
  }

  test("bloomPrefilterJoin: string keys join exactly (hashed, not cast)") {
    // a cast-to-long key path would null "abc"/"xyz" and silently drop
    // their matches — the hash path must keep them
    val big = Seq((1L, "abc"), (2L, "42"), (3L, "xyz"), (4L, "nomatch"))
      .toDF("row_id", "fk")
    val small = Seq(("abc", "a"), ("42", "n"), ("xyz", "z"))
      .toDF("pk", "name")
    val got = BloomJoin.bloomPrefilterJoin(big, "fk", small, "pk",
        expectedItems = 10L)
      .select("row_id", "name").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "n"), (3L, "z")))
  }

  test("bloomPrefilterJoin: empty small side is an empty result, not an error") {
    val big = (0L until 10L).map(i => (i, i)).toDF("row_id", "fk")
    val small = Seq.empty[(Long, String)].toDF("pk", "name")
    assert(BloomJoin.bloomPrefilterJoin(big, "fk", small, "pk",
      expectedItems = 10L).count() == 0)
  }

  test("keyBloom/mightContain: members always pass, non-members mostly drop") {
    val keys = (0L until 1000L).map(k => Tuple1(k * 2)).toDF("k") // evens
    val bloom = BloomJoin.keyBloom(keys, "k", expectedItems = 1000L, fpp = 0.01)
    val probe = (0L until 2000L).map(Tuple1(_)).toDF("k")
    val kept = probe.filter(BloomJoin.mightContain(bloom, col("k")))
      .as[Long].collect().toSet
    assert((0L until 1000L).forall(k => kept.contains(k * 2)),
      "every inserted key must pass")
    val falsePos = kept.count(_ % 2 == 1)
    assert(falsePos <= 50, s"~1% fpp expected, got $falsePos/1000 odd keys")
  }

  test("labelCentroids averages element-wise per group") {
    val df = Seq(
      (1, Seq(1.0f, 2.0f)), (1, Seq(3.0f, 6.0f)),
      (2, Seq(10.0f, 0.0f)))
      .toDF("label", "vec")
    val out = Similarity.labelCentroids(df, "label", "vec")
      .orderBy("label")
      .select("label", "n", "centroid")
      .as[(Int, Long, Seq[Double])].collect().toSeq
    assert(out == Seq((1, 2L, Seq(2.0, 4.0)), (2, 1L, Seq(10.0, 0.0))))
  }

  test("chunkDocuments: window boundaries, overlap, trailing chunk") {
    val doc = (0 until 10).map(i => s"t$i").mkString(" ")
    val doc11 = (0 until 11).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, doc), (2L, ""), (3L, doc11)).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocuments(df, "doc_id", "text",
        chunkTokens = 4, overlapTokens = 1)
      .orderBy("doc_id", "chunk_id")
      .select("doc_id", "chunk_id", "n_tokens", "chunk_text")
      .as[(Long, Int, Int, String)].collect().toSeq
    assert(out == Seq(
      (1L, 0, 4, "t0 t1 t2 t3"),
      (1L, 1, 4, "t3 t4 t5 t6"), // starts share one token with predecessor
      (1L, 2, 4, "t6 t7 t8 t9"), // t9 covered — NO subset-only "t9" chunk
      (2L, 0, 1, ""), // empty doc → one empty-token chunk, not zero rows
      (3L, 0, 4, "t0 t1 t2 t3"),
      (3L, 1, 4, "t3 t4 t5 t6"),
      (3L, 2, 4, "t6 t7 t8 t9"),
      (3L, 3, 2, "t9 t10"))) // trailing chunk: short, but adds t10
  }

  test("termIds maps tokens through the vocab; OOV is -1; positions dense") {
    val docs = Seq((1L, "a B zzz a")).toDF("doc_id", "text") // B lowercases
    val vocab = Seq(("a", 1), ("b", 2)).toDF("term", "vocab_id")
    val out = TextAnalysis.termIds(docs, "doc_id", "text", vocab)
      .orderBy("pos").select("pos", "term_id")
      .as[(Int, Int)].collect().toSeq
    assert(out == Seq((0, 1), (1, 2), (2, -1), (3, 1)))
  }

  test("ngramCounts: occurrences vs containing docs; short docs skipped") {
    val df = Seq(
      (1L, "a b a b"), // bigrams: "a b" ×2, "b a" ×1
      (2L, "a b c"),   // "a b", "b c"
      (3L, "x"))       // shorter than n → contributes nothing
      .toDF("doc_id", "text")
    val out = TextAnalysis.ngramCounts(df, "doc_id", "text", n = 2)
      .orderBy("ngram")
      .as[(String, Long, Long)].collect().toSeq
    assert(out == Seq(("a b", 2L, 3L), ("b a", 1L, 1L), ("b c", 1L, 1L)))
  }

  test("mixtureSample: per-domain rates, default for unlisted domains") {
    val df = (0L until 1000L).map(i => (i, s"src${i % 4}"))
      .toDF("id", "domain")
    val out = Sampling.mixtureSample(df, "domain", "id",
      Map("src0" -> 100, "src1" -> 0), defaultPct = 50)
    val byDomain = out.groupBy("domain").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDomain("src0") == 250) // 100% of its 250 rows
    assert(!byDomain.contains("src1")) // 0%
    // default 50%: same membership function as sampleByHash at 50
    val expected = Sampling
      .sampleByHash(df.filter(col("domain").isin("src2", "src3")), "id", 50)
      .count()
    assert(byDomain.getOrElse("src2", 0L) + byDomain.getOrElse("src3", 0L)
      == expected)
  }

  test("mixtureSample: complementary rates partition each domain") {
    val df = (0L until 500L).map(i => (i, "d")).toDF("id", "domain")
    val keep30 = Sampling.mixtureSample(df, "domain", "id", Map("d" -> 30))
      .select("id").as[Long].collect().toSet
    val keep100 = Sampling.mixtureSample(df, "domain", "id", Map("d" -> 100))
      .select("id").as[Long].collect().toSet
    assert(keep100.size == 500)
    // hash membership is monotone in the rate: 30% set nests in 100%
    assert(keep30.subsetOf(keep100))
  }

  test("removeBoilerplate strips frequent chunks from every doc") {
    // "x y" appears in all 3 docs -> boilerplate at minDocs=3;
    // doc 3 is pure boilerplate -> dropped entirely
    val df = Seq(
      (1L, "x y a b"), (2L, "x y c d"), (3L, "x y")).toDF("doc_id", "text")
    val out = Dedup.removeBoilerplate(df, "doc_id", "text",
        chunkTokens = 2, minDocs = 3).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out == Map(1L -> "a b", 2L -> "c d"))
  }

  test("tfIdf: corpus-wide terms score zero, rare terms score ln(N/df)") {
    val df = Seq(
      (1L, "common rare"), (2L, "common"), (3L, "common")).toDF("doc_id", "text")
    val out = TextAnalysis.tfIdf(df, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(3)).toMap
    assert(out((1L, "common")) == 0.0) // ln(3/3)
    assert(out((1L, "rare")) == math.round(math.log(3.0) * 1e6) / 1e6)
  }

  test("quantileBandFilter keeps exactly the inclusive quantile band") {
    val df = (1 to 100).map(i => (i.toLong, i)).toDF("id", "v")
    val kept = TextAnalysis.quantileBandFilter(df, "v", 0.10, 0.90)
      .select("v").as[Int].collect().sorted.toSeq
    // exact percentile of 1..100: p10 = 10.9, p90 = 90.1 (interpolated)
    assert(kept.head == 11 && kept.last == 90 && kept.size == 80)
  }

  test("HLL rollup estimate lands within 5% of exact distinct counts") {
    val ev = graft.queries.Tables.events(spark, "/root/testdata/sf0.01")
    val est = ev
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(hll_sketch_agg(col("user_id")).as("hll"))
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("hll"))).as("approx"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = ev.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est.keySet == exact.keySet)
    exact.foreach { case (k, n) =>
      val e = est(k)
      assert(math.abs(e - n) <= math.max(1L, (0.05 * n).toLong),
        s"$k: approx $e vs exact $n")
    }
  }

  test("globalIndex assigns the dense rank of the key, over any layout") {
    val data = (0 until 500).map(i => ((i * 7919) % 500).toLong -> i)
    val truth = data.map(_._1).sorted.zipWithIndex
      .map { case (k, i) => k -> i.toLong }.toMap
    for (parts <- Seq(1, 3, 8)) {
      val df = data.toDF("k", "payload").repartition(parts)
      val out = Indexing.globalIndex(df, "k", "idx", numPartitions = 4)
        .select("k", "idx").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out == truth, s"input partitions=$parts")
    }
  }

  test("globalIndex output stays distributed — no single-partition funnel") {
    val df = (0 until 2000).map(_.toLong).toDF("k")
    val byPid = Indexing.globalIndex(df, "k", "idx", numPartitions = 8)
      .withColumn("pid", spark_partition_id())
      .groupBy("pid").count().collect()
    assert(byPid.length > 1, "all rows collapsed into one partition")
    assert(byPid.map(_.getLong(1)).max < 2000,
      "one partition holds the whole table")
  }

  test("incremental aggregate fold over three batches equals full recompute") {
    val all = (0 until 900).map(i =>
      ((i % 13).toLong, (i * 31 % 97).toDouble - 11.0, i / 300))
    val full = all.toDF("k", "v", "batch")
    val expected = IncrementalAgg.partials(full, Seq("k"), "v")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDecimal(2), r.getDouble(3), r.getDouble(4))).toMap
    // fold batch 0, then 1, then 2 — state never sees raw history again
    val state = (0 until 3).foldLeft(Option.empty[org.apache.spark.sql.DataFrame]) {
      case (st, b) =>
        val p = IncrementalAgg.partials(
          full.filter(col("batch") === b).drop("batch"), Seq("k"), "v")
        Some(st.fold(p)(s => IncrementalAgg.merge(s, p, Seq("k"))))
    }.get
    val got = state.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getDecimal(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (k, (cnt, sum, mn, mx)) =>
      val (ecnt, esum, emn, emx) = expected(k)
      assert(cnt == ecnt && sum.compareTo(esum) == 0 && mn == emn && mx == emx,
        s"key $k: got ($cnt,$sum,$mn,$mx) expected ($ecnt,$esum,$emn,$emx)")
    }
  }

  test("incremental aggregate: new keys enter, untouched keys pass through") {
    val state = IncrementalAgg.partials(
      Seq((1L, 10.0), (1L, 20.0), (2L, 5.0)).toDF("k", "v"), Seq("k"), "v")
    val batch = IncrementalAgg.partials(
      Seq((2L, 7.0), (3L, 1.0)).toDF("k", "v"), Seq("k"), "v")
    val out = IncrementalAgg.merge(state, batch, Seq("k"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getDecimal(2).doubleValue, r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(out(1L) == ((2L, 30.0, 10.0, 20.0))) // untouched
    assert(out(2L) == ((2L, 12.0, 5.0, 7.0)))   // folded
    assert(out(3L) == ((1L, 1.0, 1.0, 1.0)))    // new key
  }

  test("bm25 ranks the doc saturated with a rare term above common-term docs") {
    val df = Seq(
      (1L, "alpha beta beta beta"),       // rare term, repeated
      (2L, "alpha common common common"), // common term, repeated
      (3L, "common x y z"),
      (4L, "common p q r"),
      (5L, "common s t u")).toDF("doc_id", "text")
    val scores = TextAnalysis.bm25(df, "doc_id", "text", Seq("beta", "common"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // beta appears in 1 of 5 docs, common in 4 of 5 — idf(beta) >> idf(common)
    assert(scores(1L) > scores(2L))
    assert(!scores.contains(0L) && scores.keySet == Set(1L, 2L, 3L, 4L, 5L))
  }

  test("bm25Multi matches single-query scores; zero-hit query emits nothing; topK bounds") {
    val docs = Seq(
      (1L, "alpha beta beta beta"),
      (2L, "alpha common common common"),
      (3L, "common x y z"),
      (4L, "common p q r"),
      (5L, "common s t u")).toDF("doc_id", "text")
    val queries = Seq(
      ("qa", Seq("beta", "common")),
      ("qb", Seq("alpha", "alpha")), // duplicate term scores once
      ("qz", Seq("zz_nope"))).toDF("query_id", "terms")
    val rows = TextAnalysis.bm25Multi(docs, "doc_id", "text",
        queries, "query_id", "terms", topK = 3)
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        r.getDouble(3), r.getLong(4)))
    val byQ = rows.groupBy(_._1)
    assert(!byQ.contains("qz"), "zero-hit query must emit no rows")
    // qa: all 5 docs hit — bounded to top 3, scores equal single-query bm25
    val single = TextAnalysis.bm25(docs, "doc_id", "text", Seq("beta", "common"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val qa = byQ("qa").sortBy(_._2)
    assert(qa.length == 3, s"topK=3 not enforced: $qa")
    val expectedOrder = single.toSeq
      .sortBy { case (id, (s, _)) => (-s, id) }.take(3).map(_._1)
    assert(qa.map(_._3).toSeq == expectedOrder, "per-query ranking disagrees")
    qa.foreach { case (_, _, id, s, nh) =>
      assert((s, nh) == single(id), s"score drift for doc $id") }
    // qb: 'alpha' hits docs 1 and 2; duplicate term in the list scores once
    val qb = byQ("qb").sortBy(_._2)
    assert(qb.map(_._3).toSet == Set(1L, 2L))
    assert(qb.forall(_._5 == 1L), "duplicate query term double-counted")
  }

  test("editDistanceJoin prefix-suffix blocking recovers first-character edits") {
    val dirty = Seq("blue wdget", "red gearx", "XLue bolt").toDF("dirty_name")
    val clean = Seq("blue widget", "red gear", "blue bolt", "green gear")
      .toDF("clean_name")
    val out = FuzzyJoin.editDistanceJoin(
        dirty, "dirty_name", clean, "clean_name",
        maxDist = 2, blocking = "prefix-suffix")
      .select("dirty_name", "clean_name").collect()
      .map(r => (r.getString(0), r.getString(1)))
    // every true pair within dist 2, INCLUDING the first-char edit that
    // prefix-only blocking misses ("XLue bolt" reaches "blue bolt"
    // through the shared suffix block)
    assert(out.toSet == Set(
      ("blue wdget", "blue widget"),
      ("red gearx", "red gear"),
      ("XLue bolt", "blue bolt")))
    // pairs matched via BOTH blocks are deduplicated, not doubled
    assert(out.length == 3, s"duplicate pairs from dual blocking: ${out.toSeq}")
    val e = intercept[IllegalArgumentException] {
      FuzzyJoin.editDistanceJoin(dirty, "dirty_name",
        clean, "clean_name", 1, blocking = "soundex")
    }
    assert(e.getMessage.contains("blocking"))
  }

  test("globalIndex reliable and persist checkpoint modes number identically") {
    val data = (0 until 300).map(i => ((i * 31) % 300).toLong -> i)
    val truth = data.map(_._1).sorted.zipWithIndex
      .map { case (k, i) => k -> i.toLong }.toMap
    spark.sparkContext.setCheckpointDir(tempDir("gidx_ckpt"))
    for (mode <- Seq("reliable", "persist")) {
      val out = Indexing.globalIndex(
          data.toDF("k", "payload").repartition(5), "k", "idx",
          numPartitions = 4, checkpointMode = mode)
        .select("k", "idx").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out == truth, s"checkpointMode=$mode")
    }
    val e = intercept[IllegalArgumentException] {
      Indexing.globalIndex(data.toDF("k", "p"), "k",
        checkpointMode = "bogus")
    }
    assert(e.getMessage.contains("checkpointMode"))
  }

  test("seasonalDecompose: planted weekly pattern recovered, spike flagged") {
    import spark.implicits._
    import java.sql.Date
    // 6 weeks of value = 100 + 10*phase, one +500 spike on day 21
    val days = (0 until 42).map { i =>
      val base = 100.0 + 10.0 * (i % 7)
      (Date.valueOf(java.time.LocalDate.ofEpochDay(19000 + i)),
        if (i == 21) base + 500.0 else base)
    }
    val out = TimeSeries.seasonalDecompose(
        days.toDF("day", "total"), "day", "total", period = 7, k = 2.0)
      .orderBy("day").collect()
    // edge days (no full centered window) have null trend/residual
    assert(out.take(3).forall(_.isNullAt(3)))
    assert(out.takeRight(3).forall(_.isNullAt(3)))
    val spike = out(21)
    assert(!spike.isNullAt(6) && spike.getBoolean(6),
      "the +500 spike must be flagged")
    assert(out.zipWithIndex.filter(r => !r._1.isNullAt(5))
      .maxBy(r => math.abs(r._1.getDouble(5)))._2 == 21,
      "the spike must carry the largest residual")
    // a clean periodic series decomposes EXACTLY: centered MA over one
    // full period is flat, per-phase means soak up the pattern,
    // residuals vanish, nothing flags
    val cleanDays = (0 until 42).map { i =>
      (java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(19000 + i)),
        100.0 + 10.0 * (i % 7))
    }
    val cleanOut = TimeSeries.seasonalDecompose(
        cleanDays.toDF("day", "total"), "day", "total", period = 7, k = 2.0)
      .filter(col("residual").isNotNull).collect()
    assert(cleanOut.nonEmpty)
    assert(cleanOut.forall(r => math.abs(r.getDouble(5)) < 1e-9),
      "clean periodic series must decompose to ~zero residuals")
    assert(cleanOut.forall(r => !r.getBoolean(6)),
      "clean periodic series must not flag anomalies")
  }

  test("intervalUnion: overlap, touch, nest, disjoint, tie-determinism") {
    val iv = Seq(
      // key a: [1,5] overlaps [3,8]; [8,10] touches at 8 (merges);
      // [2,4] nests — ONE block [1,10] of 4 intervals
      ("a", 1L, 5L), ("a", 3L, 8L), ("a", 8L, 10L), ("a", 2L, 4L),
      // then a gap: [20,21] is its own block
      ("a", 20L, 21L),
      // key b: exact duplicate rows — both count, one block
      ("b", 5L, 7L), ("b", 5L, 7L)
    ).toDF("k", "s", "e")
    val out = TimeSeries.intervalUnion(iv.repartition(5), "k", "s", "e")
      .orderBy("k", "block_start")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(out == Seq(
      ("a", 1L, 10L, 4L), ("a", 20L, 21L, 1L), ("b", 5L, 7L, 2L)))
  }

  test("changePoint: planted level shift found; flat series tie-breaks first") {
    val rows =
      (1 to 10).map(i => ("a", i.toLong, 100L)) ++
      (11 to 20).map(i => ("a", i.toLong, 200L)) ++
      (1 to 5).map(i => ("flat", i.toLong, 7L))
    val out = TimeSeries.changePoint(
        rows.toDF("k", "id", "c").repartition(4), "k", "id", "c")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // peak at the boundary: T_10 = 20*1000 - 10*3000 = -10000
    assert(out("a") == (10L, -10000L, 20L))
    // constant series: every T_i = 0, earliest position wins the tie
    assert(out("flat") == (1L, 0L, 5L))
  }

  test("Urls.canonicalize collapses campaign/fragment/case variants to one key") {
    val urls = Seq(
      "https://WWW.Example.COM/Page/?utm_source=x&utm_campaign=y#frag",
      "https://www.example.com/Page?id=3&utm_medium=z",
      "https://www.example.com/Page/",
      "http://example.com",
      "HTTPS://Host.io/a/b?fbclid=abc&keep=1",
      // tracking param SANDWICHED between kept ones must not fuse them
      "https://x.com/p?a=1&utm_source=t&b=2",
      // bare root slash collapses to the host form
      "https://x.com/"
    ).toDF("u")
    val got = urls.select(Urls.canonicalize(col("u")).as("c"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq(
      "https://www.example.com/Page",
      "https://www.example.com/Page?id=3",
      "https://www.example.com/Page",
      "http://example.com",
      "https://host.io/a/b?keep=1",
      "https://x.com/p?a=1&b=2",
      "https://x.com"))
  }

  test("stripHtml: script/style content gone, entities decoded, text kept") {
    val html = Seq(
      ("""<html><body><p>Hello <b>world</b></p>""" +
        """<script>var s="<evil>leak</evil>";</script>""" +
        """<style>p { x: "y" }</style><!-- note -->""" +
        """A &amp; B &lt;tag&gt; &#39;q&#39;&nbsp;end</body></html>""")
    ).toDF("h")
    val out = html.select(TextAnalysis.stripHtml(col("h")).as("t"))
      .head().getString(0)
    assert(out == """Hello world A & B <tag> 'q' end""", s"got: $out")
    assert(!out.contains("leak") && !out.contains("color"))
  }

  test("winsorize: null values stay null, never the fabricated p-lo bound") {
    val df = Seq(
      ("g", Some(1.0)), ("g", Some(2.0)), ("g", Some(3.0)),
      ("g", Some(100.0)), ("g", None)
    ).toDF("k", "v")
    val out = Analytics.winsorize(df, "k", "v", 0.25, 0.75)
      .select("v", "v_w").collect()
    val nulls = out.filter(_.isNullAt(0))
    assert(nulls.length == 1 && nulls.forall(_.isNullAt(1)),
      "null input must winsorize to null")
    // non-null rows clip into the band
    assert(out.filter(!_.isNullAt(1)).forall { r =>
      r.getDouble(1) >= 1.0 && r.getDouble(1) <= 100.0 })
  }
}
