package graft

import graft.ops.{DedupOps, ModelOps, SimilarityOps, TextOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unit semantics of the trained-model family: the hand-computed GD
  * trajectory of the logistic probe, exact AUC tie handling,
  * calibration binning, Stupid-Backoff's backoff path, and the TF-IDF
  * cosine verify identities.
  */
class ModelOpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  test("logRegTrain: two-doc separable corpus follows the hand-computed GD trajectory exactly") {
    // 'good' hashes to bucket 16, 'spam' to 45 (md5('9:'||tok) % 64) —
    // distinct, so each doc is (its bucket, x=1) + (bias -1, x=1).
    // Iter 1 from w=0: p=0.5 both, err=±0.5 → w16=+0.25, w45=-0.25,
    // bias 0 (gradients cancel). Iter 2: m=±0.25, p6=0.562177 →
    // err=±0.437823 → w16 = round(0.25 + 0.437823/2, 6) = 0.468912.
    val docs = Seq((1L, "good", 1), (2L, "spam", 0)).toDF("doc_id", "text", "y")
    val w = ModelOps.logRegTrain(docs, col("y") === 1)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(w.size === 65)
    assert(w(16) === 0.468912)
    assert(w(45) === -0.468912)
    assert(w(-1) === 0.0)
    assert(w.view.filterKeys(k => k != 16 && k != 45 && k != -1).values.forall(_ == 0.0))
  }

  test("logRegTrain: a bucket whose docs all have null labels gets no gradient") {
    // every doc is unlabeled, so every bucket, the bias included, sums
    // null error terms: a null gradient counts as 0 and nothing moves
    val docs = Seq[(Long, String, Option[Int])]((1L, "good", None), (2L, "spam", None))
      .toDF("doc_id", "text", "y")
    val w = ModelOps.logRegTrain(docs, col("y") === 1)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(w.size === 65)
    assert(w.values.forall(_ == 0.0))
  }

  test("logRegScored: held-out fifth is scored, train split is not, labels thresholded at 0.5") {
    // ids 5,10 are held out (mod 5); the training split is separable
    // on 'good'/'spam' so held-out copies score on the right side.
    val docs = Seq(
      (1L, "good good", 1), (2L, "spam spam", 0), (3L, "good", 1), (4L, "spam", 0),
      (5L, "good", 1), (10L, "spam", 0)).toDF("doc_id", "text", "y")
    val got = ModelOps.logRegScored(docs, col("y") === 1)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getString(2), r.getString(3)))).toMap
    assert(got.keySet === Set(5L, 10L))
    val (p5, t5, pr5) = got(5L)
    val (p10, t10, pr10) = got(10L)
    assert(t5 === "pos" && t10 === "neg")
    assert(p5 > 0.5 && pr5 === "pos")
    assert(p10 < 0.5 && pr10 === "neg")
  }

  test("aucReport: perfect separation 1.0, all-ties 0.5, hand-computed interleaving 0.75, degenerate 0.5") {
    def auc(rows: Seq[(Double, String)]): Double =
      ModelOps.aucReport(rows.toDF("p", "true_label")).collect()(0).getDouble(2)
    assert(auc(Seq((0.9, "pos"), (0.8, "pos"), (0.1, "neg"))) === 1.0)
    assert(auc(Seq((0.5, "pos"), (0.5, "neg"), (0.5, "pos"))) === 0.5)
    // ranks: 0.2(n) 0.4(p) 0.6(n) 0.8(p): 3 of 4 (pos, neg) pairs won
    assert(auc(Seq((0.8, "pos"), (0.4, "pos"), (0.6, "neg"), (0.2, "neg"))) === 0.75)
    assert(auc(Seq((0.9, "pos"), (0.1, "pos"))) === 0.5) // no negatives
  }

  test("calibrationBins: p=1.0 joins bin 9, per-bin means and rates are exact") {
    val rows = Seq((1.0, "pos"), (0.95, "pos"), (0.12, "neg"), (0.05, "neg"), (0.18, "pos"))
      .toDF("p", "true_label")
    val got = ModelOps.calibrationBins(rows).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(got.keySet === Set(0, 1, 9))
    assert(got(9) === ((2L, 0.975, 1.0)))
    assert(got(0) === ((1L, 0.05, 0.0)))
    assert(got(1) === ((2L, 0.15, 0.5))) // 0.12 neg + 0.18 pos
  }

  test("stupidBackoffLm: seen bigrams score cb/c1, unseen back off through 0.4·cu/T with the count-1 floor") {
    // train (ids 1,2): "a b a b", "b c" → cb: {a b:2, b a:1, b c:1},
    // c1: {a:2, b:2}; unigrams a:2 b:3 c:1, T=6.
    val docs = Seq(
      (1L, "a b a b"), (2L, "b c"),
      (5L, "a b"),  // seen, p=2/2 → nll 0
      (10L, "b a"), // seen, p=1/2 → nll 1
      (15L, "c a"), // unseen bigram → 0.4·cu(a)/T = 0.4·2/6 → nll 2.906891
      (20L, "a z")  // unseen bigram AND unseen unigram z → 0.4·1/6 → nll 3.906891
    ).toDF("doc_id", "text")
    val got = TextOps.stupidBackoffLm(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(5L) === ((1L, 0L, 0.0)))
    assert(got(10L) === ((1L, 0L, 1.0)))
    assert(got(15L) === ((1L, 1L, 2.9069)))
    assert(got(20L) === ((1L, 1L, 3.9069)))
  }

  test("readabilityFrame: hand-computed Flesch, sentence floor, zero-word docs excluded") {
    val docs = Seq((1L, "the cat sat"), (2L, "Hi! Go now."), (3L, "!!!"))
      .toDF("doc_id", "text")
    val got = TextOps.readabilityFrame(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // 3 words, 3 vowel groups, sentence floor 1:
    // 206.835 − 1.015·3 − 84.6·1 = 119.19
    assert(got(1L) === ((3L, 3L, 1L, 119.19)))
    // "Hi! Go now." → 3 words, 3 vowel groups, 2 sentences:
    // 206.835 − 1.015·1.5 − 84.6·1 = 120.7125
    assert(got(2L) === ((3L, 3L, 2L, 120.7125)))
    assert(!got.contains(3L)) // punctuation-only: no words, no row
  }

  test("surprisalOutliers: hand-computed z, zero-variance and singleton groups emit nothing") {
    val scored = Seq((1L, 1.0), (2L, 1.0), (3L, 1.0), (4L, 2.0),
      (5L, 7.0), (6L, 7.0), (7L, 3.0)).toDF("doc_id", "avg_nll")
    val groups = Seq((1L, "g1"), (2L, "g1"), (3L, "g1"), (4L, "g1"),
      (5L, "g2"), (6L, "g2"), (7L, "g3")).toDF("doc_id", "source")
    val got = TextOps.surprisalOutliers(scored, groups).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    // g1: mean 1.25, var = (4·7e8 − 25e8)/48 (1e-4 units²) → std 0.25:
    // the 2.0 doc is z = +3, the 1.0 docs are z = −1 (not flagged)
    assert(got === Map(4L -> 3.0))
  }

  test("psiDrift: identical halves 0.0, fully separated deciles pin to the banked value") {
    val same = Seq((0L, 0.5), (1L, 0.5), (2L, 0.5), (3L, 0.5))
      .toDF("doc_id", "quality_score")
    val r0 = ModelOps.psiDrift(same, col("doc_id") % 2 === 0).collect()(0)
    assert((r0.getLong(0), r0.getLong(1), r0.getDouble(2)) === ((2L, 2L, 0.0)))
    // A (even ids) all in bin 9, B (odd) all in bin 0, 4 docs each:
    // two non-zero terms of (5/14 − 1/14)·ln 5 → 0.459839 banked twice
    val split = (0L until 8L).map(i => (i, if (i % 2 == 0) 0.95 else 0.05))
      .toDF("doc_id", "quality_score")
    val r1 = ModelOps.psiDrift(split, col("doc_id") % 2 === 0).collect()(0)
    assert((r1.getLong(0), r1.getLong(1), r1.getDouble(2)) === ((4L, 4L, 0.919678)))
  }

  test("bootstrapCi: constant metric collapses the CI to the point, spread widens it around the mean") {
    val const = (1L to 40L).map(i => (i, 0.7)).toDF("doc_id", "quality_score")
    val r0 = ModelOps.bootstrapCi(const).collect()(0)
    assert(r0.getLong(0) === 40L && r0.getInt(1) === 50)
    assert(r0.getDouble(2) === 0.7 && r0.getDouble(3) === 0.7 && r0.getDouble(4) === 0.7)
    // half 0.2, half 0.8: point mean 0.5, CI strictly inside (0.2, 0.8)
    // and straddling the mean
    val spread = (1L to 40L).map(i => (i, if (i % 2 == 0) 0.2 else 0.8))
      .toDF("doc_id", "quality_score")
    val r1 = ModelOps.bootstrapCi(spread).collect()(0)
    assert(r1.getDouble(2) === 0.5)
    val (lo, hi) = (r1.getDouble(3), r1.getDouble(4))
    assert(lo < 0.5 && hi > 0.5 && lo > 0.2 && hi < 0.8)
  }

  test("embeddingStats: hand-computed per-dim mean/std, pathology rows counted, non-conforming excluded") {
    val rows: Seq[(Long, Array[Float])] = Seq(
      1L -> Array(1f, 3f), 2L -> Array(3f, 5f), 4L -> Array(0f, 0f), // in the stats
      3L -> null,               // null vector
      5L -> Array(Float.NaN),   // NaN AND wrong length (stats stay NaN-free)
      6L -> Array(7f))          // wrong length only
    val got = SimilarityOps.embeddingStats(rows.toDF("vec_id", "embedding"), dims = 2)
      .collect()
    val byDim = got.map(r => r.getInt(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    // dim 1 over {1, 3, 0}: mean 4/3, pop-std sqrt(14/9); dim 2 over
    // {3, 5, 0}: mean 8/3, pop-std sqrt(38/9) — in 1e-6-banked form
    assert(byDim(1) === ((1.333333, 1.247219)))
    assert(byDim(2) === ((2.666667, 2.054805)))
    val r0 = got(0)
    // null=1 (id 3), wrong-len=2 (ids 5, 6), zero=1 (id 4), nan=1 (id 5)
    assert((r0.getLong(3), r0.getLong(4), r0.getLong(5), r0.getLong(6))
      === ((1L, 2L, 1L, 1L)))
  }

  test("bootstrapCiByGroup: per-group CIs match the scalar form run on each group alone") {
    val rows = ((1L to 20L).map(i => ("a", i, 0.5)) ++ (21L to 40L).map(i => ("b", i, 0.9)))
      .map { case (g, i, v) => (g, i, v) }.toDF("source", "doc_id", "quality_score")
    val grouped = ModelOps.bootstrapCiByGroup(rows).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    for (g <- Seq("a", "b")) {
      val solo = ModelOps.bootstrapCi(rows.filter(col("source") === g)).collect()(0)
      assert(grouped(g) === ((solo.getLong(0), solo.getDouble(2),
        solo.getDouble(3), solo.getDouble(4))))
    }
    // constant groups collapse their CIs to the point means
    assert(grouped("a") === ((20L, 0.5, 0.5, 0.5)))
    assert(grouped("b") === ((20L, 0.9, 0.9, 0.9)))
  }

  test("chi2Independence: independent grid scores 0, determined grid scores N, empty cells contribute") {
    val indep = Seq(("en", "s0"), ("en", "s1"), ("de", "s0"), ("de", "s1"))
      .toDF("lang", "source")
    val r0 = ModelOps.chi2Independence(indep, "lang", "source").collect()(0)
    assert((r0.getLong(0), r0.getLong(1), r0.getLong(2), r0.getLong(3), r0.getDouble(4))
      === ((4L, 2L, 2L, 1L, 0.0)))
    // lang fully determines source: chi2 = N for a 2×2 (off-diagonal
    // cells are EMPTY observed but expected n/2 — they must count)
    val dep = Seq(("en", "s0"), ("en", "s0"), ("de", "s1"), ("de", "s1"))
      .toDF("lang", "source")
    val r1 = ModelOps.chi2Independence(dep, "lang", "source").collect()(0)
    assert(r1.getDouble(4) === 4.0 && r1.getLong(3) === 1L)
  }

  test("hhiConcentration: even mixture floors at 1/k (normalized 0), monopoly hits 1.0") {
    val even = Seq(("a", 10L), ("b", 10L), ("c", 10L), ("d", 10L)).toDF("source", "mass")
    val r0 = ModelOps.hhiConcentration(even, "source", "mass").collect()(0)
    assert((r0.getLong(0), r0.getDouble(1), r0.getDouble(2)) === ((4L, 0.25, 0.0)))
    val mono = Seq(("a", 100L), ("b", 0L)).toDF("source", "mass")
    val r1 = ModelOps.hhiConcentration(mono, "source", "mass").collect()(0)
    assert((r1.getLong(0), r1.getDouble(1), r1.getDouble(2)) === ((2L, 1.0, 1.0)))
  }

  test("recallCurve: identical rankings give 1.0 at every k, disjoint give 0.0") {
    val exact = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2), (2L, 22L, 3))
      .toDF("query_id", "neighbor_id", "rank")
    val same = SimilarityOps.recallCurve(exact, exact, Seq(1, 3)).collect()
      .map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(same === Map(1 -> 1.0, 3 -> 1.0))
    val disjoint = exact.withColumn("neighbor_id", col("neighbor_id") + 100L)
    val none = SimilarityOps.recallCurve(disjoint, exact, Seq(1, 3)).collect()
      .map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(none === Map(1 -> 0.0, 3 -> 0.0))
  }

  test("trimmedMeans: the outlier drags the mean, not the trimmed/winsorized pair") {
    val rows = ((1 to 9).map(_ => ("g", 0.5)) :+ ("g", 100.0))
      .toDF("source", "quality_score")
    val r = ModelOps.trimmedMeans(rows).collect()(0)
    assert(r.getLong(1) === 10L)
    assert(r.getDouble(2) === 10.45)   // plain mean: dragged
    assert(r.getDouble(3) === 0.5)     // trimmed: outlier outside p95
    // winsorized: 100 clamps to p95 = 0.5 + 0.55·99.5 = 55.225
    assert(r.getDouble(4) === 5.9725)
  }

  test("termShift: hand-computed smoothed log-odds, rank by |ratio|") {
    val docs = Seq((2L, "aaa aaa"), (1L, "bbb")).toDF("doc_id", "text")
    val got = TextOps.termShift(docs, sideA = col("doc_id") % 2 === 0).collect()
      .map(r => r.getString(0) -> ((r.getDouble(3), r.getInt(4)))).toMap
    // TA=2, TB=1, V=2: aaa → ln((3/4)/(1/3)) = ln 2.25; bbb → ln 0.375
    assert(got("aaa") === ((0.81093, 2)))
    assert(got("bbb") === ((-0.980829, 1))) // larger |ratio| ranks first
  }

  test("tfidfCosineVerify: identical docs 1.0, disjoint docs 0.0, empty doc 0.0") {
    val docs = Seq((1L, "x y"), (2L, "x y"), (3L, "p q"), (4L, "")).toDF("doc_id", "text")
    val cand = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("id_a", "id_b")
    val got = DedupOps.tfidfCosineVerify(cand, docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got((1L, 2L)) === 1.0)
    assert(got((1L, 3L)) === 0.0)
    assert(got((1L, 4L)) === 0.0)
  }

  test("kAnonymityAudit: sub-k cells flagged, null QI is its own category, shares sum to 1") {
    val rows = Seq.fill(5)(("en", "web")) ++ Seq(("en", "books")) ++
      Seq((null: String, "web"), (null: String, "web"))
    val got = ModelOps.kAnonymityAudit(rows.toDF("lang", "source"),
      Seq("lang", "source"), k = 5).collect()
      .map(r => (Option(r.getString(0)), r.getString(1)) ->
        (r.getLong(2), r.getBoolean(3), r.getDouble(4))).toMap
    assert(got((Some("en"), "web")) === ((5L, false, 0.625)))
    assert(got((Some("en"), "books")) === ((1L, true, 0.125)))
    assert(got((None, "web")) === ((2L, true, 0.25)))   // nulls audited, not dropped
    assert(math.abs(got.values.map(_._3).sum - 1.0) < 1e-9)
  }

  test("dpNoisyCounts: noise replays the seeded inverse-CDF formula, floor at zero, eps scales") {
    def expectedNoise(group: String, eps: Double, seed: Long = 42): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed:$group".getBytes("UTF-8"))
      val hex = md.map(b => f"$b%02x").mkString.take(15)
      val u = (java.lang.Long.parseLong(hex, 16) % 1000000000L + 1.0) / 1000000002.0
      val v = u - 0.5
      val raw = -math.signum(v) * math.log(1.0 - 2.0 * math.abs(v)) / eps
      math.signum(raw) * math.floor(math.abs(raw) * 1e6 + 0.5) / 1e6
    }
    val rows = (Seq.fill(7)("a") ++ Seq.fill(3)("b")).toDF("source")
    val got = ModelOps.dpNoisyCounts(rows, "source").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3), r.getLong(4))).toMap
    for (g <- Seq("a", "b")) {
      val n = got(g)._1
      assert(got(g)._2 === expectedNoise(g, 1.0))
      assert(got(g)._3 === math.max(0L, math.floor(n + got(g)._2 + 0.5).toLong))
    }
    // doubling eps halves the Laplace scale (same u, half the magnitude)
    val tight = ModelOps.dpNoisyCounts(rows, "source", eps = 2.0).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(tight("a") === expectedNoise("a", 2.0))
    assert(math.abs(tight("a")) <= math.abs(got("a")._2))
  }

  test("bradleyTerry: two-item fixed point lands in one round and holds") {
    // A beats B twice, B beats A once. Round 1: t = 3/2 → s6 = 1500000
    // both; w'_A = 2e6/1.5e6 = 1.333333, w'_B = 0.666667; the mean-1
    // normalization is already satisfied, and w_A + w_B stays 2.0, so
    // every later round replays the same step — a fixed point.
    val cmp = Seq(("A", "B"), ("A", "B"), ("B", "A")).toDF("winner", "loser")
    val got = ModelOps.bradleyTerry(cmp, iters = 3).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got("A") === ((3L, 2L, 1.333333)))
    assert(got("B") === ((3L, 1L, 0.666667)))
  }

  test("bradleyTerry: 3-item tournament follows the hand-computed MM trajectory; zero-win item pins to 0") {
    // A>B, A>C, B>C — replayed by hand through three banked MM rounds
    // (terms 6dp at 1e6, update wins·1e6/s6, mean-1 normalization).
    val cmp = Seq(("A", "B"), ("A", "C"), ("B", "C")).toDF("winner", "loser")
    val got = ModelOps.bradleyTerry(cmp, iters = 3).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(got === Map("A" -> 2.454278, "B" -> 0.545722, "C" -> 0.0))
  }

  test("lDiversityAudit: homogeneous group flagged with max_share 1, diverse group passes") {
    val rows = Seq(
      ("a", "x"), ("a", "x"), ("a", "x"),          // size 3, 1 sensitive value
      ("b", "x"), ("b", "y"), ("b", "y"), ("b", "z")) // size 4, 3 values
      .toDF("qi", "sens")
    val got = ModelOps.lDiversityAudit(rows, Seq("qi"), "sens", l = 3).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3), r.getDouble(4))))
      .toMap
    assert(got("a") === ((3L, 1L, true, 1.0)))
    assert(got("b") === ((4L, 3L, false, 0.5)))
  }

  test("bradleyTerry invariants: mean-1 normalization within rounding; an unbeaten item ranks first") {
    // pseudo-random round-robin over 5 items, deterministic winners;
    // item E additionally beats everyone twice — it must rank top
    val items = Seq("A", "B", "C", "D", "E")
    val cmp = (for {
      (a, i) <- items.zipWithIndex; (b, j) <- items.zipWithIndex if i < j
    } yield if ((i * 3 + j * 7) % 2 == 0 && b != "E" || a == "E") (a, b) else (b, a)) ++
      items.filter(_ != "E").flatMap(o => Seq(("E", o), ("E", o)))
    val got = ModelOps.bradleyTerry(cmp.toDF("winner", "loser"), iters = 4).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(math.abs(got.values.sum - items.size) < 1e-4) // mean-1 normalization
    assert(got.maxBy(_._2)._1 === "E")
  }

  test("conformalThreshold: finite-sample k picks the exact order statistic; report counts the rest") {
    // 10 calibration scores 0.1..1.0: k = floor(11·1/10) = 1 →
    // threshold = the smallest (0.1); rest keeps 0.5, rejects 0.05.
    val cal = (1 to 10).map(i => (i / 10.0, true))
    val rest = Seq((0.05, false), (0.5, false))
    val df = (cal ++ rest).toDF("quality_score", "__cal")
    val r = ModelOps.conformalThreshold(df).collect()(0)
    assert((r.getLong(0), r.getLong(1), r.getDouble(2)) === ((10L, 1L, 0.1)))
    assert((r.getLong(3), r.getLong(4), r.getDouble(5)) === ((2L, 1L, 0.5)))
    // alpha = 2/10 → k = floor(11·2/10) = 2 → threshold climbs to 0.2
    val r2 = ModelOps.conformalThreshold(df, alphaNum = 2, alphaDen = 10).collect()(0)
    assert((r2.getLong(1), r2.getDouble(2)) === ((2L, 0.2)))
  }

  test("conformalThresholdByGroup: per-group thresholds; a group with no calibration rows is absent") {
    // group a calibrates at 0.1..1.0 (k=1 → t=0.1); group b at 2.1..3.0
    // (t=2.1) — a global cut could never serve both; group c has only
    // non-calibration rows and must be absent from the report.
    val rows = (1 to 10).map(i => ("a", i / 10.0, true)) ++
      (1 to 10).map(i => ("b", 2.0 + i / 10.0, true)) ++
      Seq(("a", 0.05, false), ("a", 0.5, false),
        ("b", 2.05, false), ("b", 2.5, false), ("c", 9.9, false))
    val got = ModelOps.conformalThresholdByGroup(
      rows.toDF("source", "quality_score", "__cal")).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4), r.getLong(5), r.getDouble(6))))
      .toMap
    assert(got.keySet === Set("a", "b"))
    assert(got("a") === ((10L, 1L, 0.1, 2L, 1L, 0.5)))
    assert(got("b") === ((10L, 1L, 2.1, 2L, 1L, 0.5)))
  }

  test("conformal k=0 (sparse calibration): NULL threshold admits everything") {
    // 8 calibration rows at alpha=1/10: k = floor(9/10) = 0 — no order
    // statistic honours the guarantee, so threshold is NULL and the
    // gate keeps 100% (taking the min score instead would mis-reject
    // with probability 1/9 > alpha)
    val df = ((1 to 8).map(i => (i / 10.0, true)) ++
      Seq((0.01, false), (0.99, false))).toDF("quality_score", "__cal")
    val r = ModelOps.conformalThreshold(df).collect()(0)
    assert(r.getLong(0) === 8L && r.getLong(1) === 0L)
    assert(r.isNullAt(2), "k=0 must produce a NULL (admit-all) threshold")
    assert((r.getLong(3), r.getLong(4), r.getDouble(5)) === ((2L, 2L, 1.0)))
    // per-group: the sparse group admits all; the dense group still gates
    val rows = (1 to 10).map(i => ("dense", i / 10.0, true)) ++
      (1 to 5).map(i => ("sparse", i / 10.0, true)) ++
      Seq(("dense", 0.05, false), ("dense", 0.5, false),
        ("sparse", 0.01, false), ("sparse", 0.99, false))
    val got = ModelOps.conformalThresholdByGroup(
      rows.toDF("source", "quality_score", "__cal")).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got("dense").getDouble(3) === 0.1)
    assert(got("sparse").isNullAt(3) && got("sparse").getDouble(6) === 1.0)
  }
}
