package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Model-based property tests for the set-similarity dedup operators:
  * random corpora, expected results computed by plain-Scala models. */
class DedupPropertySpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private val words = Vector("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "eta", "theta", "iota", "kappa", "mu", "nu")

  private def randText(rng: scala.util.Random): String =
    Seq.fill(rng.nextInt(12) + 2)(words(rng.nextInt(words.size)))
      .mkString(" ")

  /** Plain-Scala model of char n-gram sets over normalized text. */
  private def modelGrams(text: String, n: Int): Set[String] = {
    val t = text.trim.toLowerCase.replaceAll("\\s+", " ")
    if (t.length >= n) t.sliding(n).toSet else Set(t)
  }

  private def jaccard(a: Set[String], b: Set[String]): Double =
    a.intersect(b).size.toDouble / a.union(b).size.toDouble

  test("property: jaccardNgramPairs matches the set-algebra model") {
    for (seed <- 0 until 10) {
      val rng = new scala.util.Random(seed)
      val docs = (0L until 12L).map(i => (i, randText(rng)))
      val threshold = 0.1 + rng.nextDouble() * 0.6
      val got = Dedup.jaccardNgramPairs(docs.toDF("doc_id", "text"),
          "doc_id", "text", 3, threshold)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
      val grams = docs.map { case (id, t) => id -> modelGrams(t, 3) }.toMap
      val expected = (for {
        a <- docs.map(_._1); b <- docs.map(_._1) if a < b
        j = jaccard(grams(a), grams(b)) if j >= threshold
      } yield (a, b) -> j).toMap
      assert(got.keySet == expected.keySet, s"seed=$seed")
      got.foreach { case (k, v) =>
        assert(math.abs(v - expected(k)) < 1e-12, s"seed=$seed pair=$k")
      }
    }
  }

  test("property: minhash component agreement estimates shingle Jaccard") {
    // MinHash theory: each signature component matches with probability
    // J(A,B); with 64 components the estimate's sigma is <= 0.0625, so
    // |estimate - J| < 0.35 is a >5-sigma bound — deterministic seeds,
    // no flake. Shingle size 1 makes the model the word-set Jaccard.
    val rng = new scala.util.Random(7)
    val docs = (0L until 8L).map(i => (i, randText(rng)))
    val sigs = Dedup.minHashSignatures(docs.toDF("doc_id", "text"),
        "doc_id", "text", numHashes = 64, shingleSize = 1)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val sets = docs.map { case (id, t) =>
      id -> t.trim.toLowerCase.replaceAll("\\s+", " ").split(" ").toSet
    }.toMap
    for (a <- docs.map(_._1); b <- docs.map(_._1) if a < b) {
      val est = sigs(a).zip(sigs(b)).count { case (x, y) => x == y } / 64.0
      val exact = jaccard(sets(a), sets(b))
      assert(math.abs(est - exact) < 0.35,
        s"pair=($a,$b) est=$est exact=$exact")
    }
  }

  /** Plain-Scala chunk model shared by the corpus-hygiene properties:
    * normalized tokens grouped in k-token units (last unit short). */
  private def modelChunks(text: String, k: Int): Seq[String] =
    text.trim.toLowerCase.replaceAll("\\s+", " ").split(" ").toSeq
      .grouped(k).map(_.mkString(" ")).toSeq

  test("property: dedupTokenChunks matches a first-occurrence model") {
    for (seed <- 0 until 8) {
      val rng = new scala.util.Random(seed)
      // 3-word vocab so chunks genuinely collide across docs
      val small = Vector("a", "b", "c")
      val docs = (0L until 10L).map(i =>
        (i, Seq.fill(rng.nextInt(9) + 1)(small(rng.nextInt(3)))
          .mkString(" ")))
      val k = rng.nextInt(3) + 1
      // ascending (doc, pos) scan + first-sighting set == smallest
      // (id, pos) survivor
      val seen = scala.collection.mutable.Set.empty[String]
      val expected = docs.flatMap { case (id, t) =>
        val kept = modelChunks(t, k).filter(seen.add)
        if (kept.nonEmpty) Some(id -> ((kept.size.toLong, kept.mkString(" "))))
        else None
      }.toMap
      val got = Dedup.dedupTokenChunks(docs.toDF("doc_id", "text"),
          "doc_id", "text", k)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
        .toMap
      assert(got == expected, s"seed=$seed k=$k")
    }
  }

  test("property: removeBoilerplate matches a doc-frequency model") {
    for (seed <- 0 until 8) {
      val rng = new scala.util.Random(100 + seed)
      val small = Vector("a", "b", "c")
      val docs = (0L until 10L).map(i =>
        (i, Seq.fill(rng.nextInt(9) + 1)(small(rng.nextInt(3)))
          .mkString(" ")))
      val k = rng.nextInt(2) + 1
      val minDocs = rng.nextInt(4) + 2
      val chunked = docs.map { case (id, t) => id -> modelChunks(t, k) }
      val bp = chunked
        .flatMap { case (id, cs) => cs.distinct.map(_ -> id) }
        .groupBy(_._1).filter(_._2.map(_._2).distinct.size >= minDocs)
        .keySet
      val expected = chunked.flatMap { case (id, cs) =>
        val kept = cs.filterNot(bp)
        if (kept.nonEmpty) Some(id -> ((kept.size.toLong, kept.mkString(" "))))
        else None
      }.toMap
      val got = Dedup.removeBoilerplate(docs.toDF("doc_id", "text"),
          "doc_id", "text", k, minDocs)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
        .toMap
      assert(got == expected, s"seed=$seed k=$k minDocs=$minDocs")
    }
  }

  test("duplicateSpans: planted cross-doc and within-doc repeats, exact counts") {
    import spark.implicits._
    val para = (1 to 6).map(i => s"p$i").mkString(" ")   // 6 tokens
    val docs = Seq(
      // doc 1: unique head + the shared paragraph → grams touching the
      // paragraph only count as dup where the full 4-gram recurs
      (1L, s"u1 u2 u3 u4 $para"),
      (2L, s"v1 v2 v3 v4 $para"),
      // doc 3: within-doc repetition — one doc alone can plant dups
      (3L, s"$para w1 $para"),
      // doc 4: too short for any 4-gram
      (4L, "x1 x2 x3"))
      .toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(docs, "doc_id", "text", n = 4)
      .orderBy("doc_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    // brute force over 4-gram multisets
    val gramsOf = Map(
      1L -> "u1 u2 u3 u4 p1 p2 p3 p4 p5 p6".split(" ").sliding(4).map(_.mkString(" ")).toSeq,
      2L -> "v1 v2 v3 v4 p1 p2 p3 p4 p5 p6".split(" ").sliding(4).map(_.mkString(" ")).toSeq,
      3L -> "p1 p2 p3 p4 p5 p6 w1 p1 p2 p3 p4 p5 p6".split(" ").sliding(4).map(_.mkString(" ")).toSeq)
    val corpus = gramsOf.values.flatten.groupBy(identity).view.mapValues(_.size).toMap
    val expected = gramsOf.toSeq.sortBy(_._1).map { case (id, gs) =>
      val dup = gs.count(g => corpus(g) >= 2)
      (id, gs.size.toLong, dup.toLong,
        math.rint(dup.toDouble / gs.size * 1e6) / 1e6)
    }
    assert(got == expected)
    assert(!got.exists(_._1 == 4L), "sub-n docs must not appear")
  }

  test("property: minHashLshPairs and verifiedJaccard equal the driver-side shingle-set Jaccard") {
    for (seed <- 0 until 3) {
      val rng = new scala.util.Random(100 + seed)
      // random docs plus one-word edits of some of them, so LSH finds
      // candidates across the whole Jaccard range
      val base = (0L until 16L).map(i => (i, randText(rng)))
      val edits = base.take(8).map { case (i, t) =>
        val ws = t.split(" ")
        ws(rng.nextInt(ws.length)) = words(rng.nextInt(words.size))
        (i + 100L, ws.mkString(" "))
      }
      val df = (base ++ edits).toDF("doc_id", "text")
      val sets = Dedup.shingleHashArrays(df, "doc_id", "text", 3)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      def common(a: Long, b: Long): Int = sets(a).intersect(sets(b)).size
      def model(a: Long, b: Long): Double = {
        val c = common(a, b)
        c.toDouble / (sets(a).size + sets(b).size - c).toDouble
      }
      def pairsOf(t: Double): Map[(Long, Long), Double] =
        Dedup.minHashLshPairs(df, "doc_id", "text", numHashes = 16,
            bands = 8, jaccardThreshold = t)
          .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
          .toMap
      val all = pairsOf(0.0)
      assert(all.nonEmpty, s"seed=$seed")
      all.foreach { case ((a, b), j) =>
        assert(a < b, s"seed=$seed pair=($a,$b)")
        assert(common(a, b) > 0,
          s"seed=$seed pair=($a,$b) shares no shingle")
        assert(j == model(a, b), s"seed=$seed pair=($a,$b)")
      }
      assert(pairsOf(0.5) == all.filter(_._2 >= 0.5), s"seed=$seed")
      // every pair, disjoint ones included: the verify keeps exactly the
      // pairs that share a shingle, with the exact set Jaccard
      val ids = sets.keys.toSeq.sorted
      val every = for (a <- ids; b <- ids if a < b) yield (a, b)
      val verified = Dedup.verifiedJaccard(every.toDF("id_a", "id_b"), df,
          "doc_id", "text", 3)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      val expected = every.filter { case (a, b) => common(a, b) > 0 }
        .map { case (a, b) => (a, b) -> model(a, b) }.toMap
      assert(expected.size < every.size, s"seed=$seed: no disjoint pair")
      assert(verified == expected, s"seed=$seed")
    }
  }
}
