package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Rounding.round // binary rounding, DuckDB-consistent (shadows functions.round)

/** Trained-model operators for corpus curation: a fastText-style
  * logistic-regression classifier over hashed unigram features (train /
  * score / eval), plus the threshold-free evaluation reports (AUC,
  * calibration bins) that decide whether a cheap learned gate is good
  * enough to filter data with.
  *
  * Everything here follows the repo's determinism discipline: gradient
  * and margin sums are banked as EXACT integers (summation-order-free,
  * so each step replays bit-for-bit in any engine), per-step nonlinear
  * outputs (sigmoid) round to 6dp, and the full training loop unrolls
  * into plain SQL for the DuckDB oracle — the model is an auditable
  * query, not a binary artifact.
  */
object ModelOps {

  /** Hashed bag-of-words features for a labeled frame.
    *
    * Input must carry (`__id`, `__y` ∈ {0,1}, `__text`); output is one
    * row per (doc, bucket): (`__id`, `__y`, `b`, `x`) with
    * `x = round(count_b / n_tokens, 6)` (L1-normalized term counts —
    * doc-length invariant), plus a bias pseudo-feature `b = -1, x = 1.0`
    * for every doc with ≥ 1 token. Docs with zero tokens have no
    * feature mass and are excluded — the classifier has nothing to
    * condition on (callers gate empty docs with the length rules, not
    * the learned model). Bucketing is the DSIR convention
    * (seeded-md5 % buckets) so the oracle replays it verbatim.
    */
  private[ops] def hashedFeatures(labeled: DataFrame, buckets: Int,
                                  seed: Long): DataFrame = {
    val toks = DedupOps.widen(labeled)
      .select(col("__id"), col("__y"),
        explode_outer(TextOps.tokens(col("__text"))).as("tok"))
      .filter(col("tok").isNotNull)
    val dbc = toks
      .withColumn("b", (SampleOps.seededHash(col("tok"), seed) % buckets).cast("int"))
      .groupBy("__id", "__y", "b").agg(count(lit(1)).as("c"))
    val nd = dbc.groupBy("__id", "__y").agg(sum("c").as("n"))
    dbc.join(nd, Seq("__id", "__y"))
      .select(col("__id"), col("__y"), col("b"),
        round(col("c") / col("n").cast("double"), 6).as("x"))
      .unionByName(nd.select(col("__id"), col("__y"),
        lit(-1).as("b"), lit(1.0).as("x")))
  }

  /** [[hashedFeatures]] regrouped per doc: (__id, __y, farr) with
    * `farr` the bucket-sorted (b, x) structs, bias (−1, 1.0) first.
    * Exactly the same rows (built FROM hashedFeatures, so the x
    * arithmetic cannot drift), shaped so margins fold map-side against
    * a literal weight array instead of paying a doc-keyed aggregate
    * plus a doc-keyed error join per GD step.
    */
  private[ops] def hashedFeatureArrays(labeled: DataFrame, buckets: Int,
                                       seed: Long): DataFrame =
    hashedFeatures(labeled, buckets, seed)
      .groupBy("__id", "__y")
      .agg(sort_array(collect_list(struct(col("b"), col("x")))).as("farr"))

  /** Full-batch gradient-descent logistic regression over hashed
    * unigram features — the quality/domain classifier of the
    * fastText-filtering recipe (cf. CCNet / GPT-3's WebText classifier)
    * with the training loop made engine-replayable:
    *
    *  - margin `m_d = Σ_b w_b·x_db` is a sum of per-(doc,bucket)
    *    contributions banked at 1e-9 (longs: exact, order-free; a doc
    *    has ≤ buckets+1 rows, so the sum is far from Long range),
    *  - `p_d = sigmoid(m_d)` rounds to 6dp (the one transcendental per
    *    step — same exposure as every ln/exp oracle in this repo),
    *  - gradient `g_b = Σ_d err_d·x_db` banks at 1e-6 (safe to ~9e12
    *    docs; the coarser unit costs nothing — w is rounded to 6dp
    *    anyway),
    *  - `w_b += lr·g_b/N`, rounded 6dp ENGINE-SIDE (BinaryRound), then
    *    collected — the driver only ferries `buckets+1` already-rounded
    *    doubles between iterations (the k-means Lloyd precedent).
    *
    * Plan shape: ONE corpus pass builds the feature table (the
    * sufficient statistic), checkpointed because every iteration reads
    * it twice (margin pass + gradient pass). Per iteration: one
    * broadcast join (weights), one doc-keyed shuffle join (errors back
    * onto features), two partial aggregates. Iterations are a fixed
    * small count — this is a linear probe, not deep training; the
    * oracle unrolls them as CTEs.
    *
    * Bias is bucket `-1` (a pseudo-feature with x = 1.0), so the update
    * rule is uniform — no special-cased intercept in engine or oracle.
    *
    * Output: (`bucket`, `weight`) — `buckets`+1 rows.
    */
  def logRegTrain(docs: DataFrame, labelExpr: Column,
                  buckets: Int = 64, iters: Int = 2, lr: Double = 1.0,
                  seed: Long = 9L, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val feats = trainFeatures(docs, labelExpr, buckets, seed, idCol, textCol)
    try {
      // one row per tokened doc in the array form — ≡ the bias-row count
      val nDocs = feats.count()
      require(nDocs > 0, "logRegTrain: no docs with tokens to train on")
      var w: Seq[(Int, Double)] = (-1 until buckets).map(b => b -> 0.0)
      for (_ <- 1 to iters)
        w = logRegStep(feats, w, nDocs, lr)
      w.toDF("bucket", "weight")
    } finally feats.unpersist(blocking = false)
  }

  /** One GD step: returns the new rounded weights (see [[logRegTrain]]
    * for the banking contract).
    *
    * r15 shape: the margin is a map-side array fold against the
    * weights as a LITERAL array (index b+2, bias at slot 1) — the old
    * row form paid a doc-keyed aggregate for the margin plus a
    * doc-keyed join to bring errors back onto the features, i.e. two
    * corpus-sized exchanges per step where the gradient's single
    * bucket-keyed aggregate is the only one the arithmetic needs. The
    * weight update runs on the driver over the collected `buckets`+1
    * gradient rows with the identical expression (binary round6
    * replicated — the pcaTrace precedent). Terms and banking are
    * unchanged: m9 adds the same per-bucket longs (order-free), g6
    * sums the same per-doc longs, null labels still contribute null
    * err terms that the sum skips.
    */
  private def logRegStep(feats: DataFrame, w: Seq[(Int, Double)],
                         nDocs: Long, lr: Double): Seq[(Int, Double)] = {
    val wArr: Array[Double] = {
      val m = w.toMap
      Array.tabulate(m.size)(i => m(i - 1)) // index = b + 1 (bias b = -1 first)
    }
    val wLit = lit(wArr)
    val m9 = aggregate(col("farr"), lit(0L), (acc, s) =>
      acc + round(element_at(wLit, s.getField("b") + 2) * s.getField("x") * 1e9).cast("long"))
    val err = (col("__y") - round(lit(1.0) / (lit(1.0) + exp(-col("m9") / 1e9)), 6)).as("err")
    val gMap = feats
      .select(col("__y"), col("farr"), m9.as("m9"))
      .select(err, explode(col("farr")).as("s"))
      .groupBy(col("s.b").as("b"))
      .agg(sum(round(col("err") * col("s.x") * 1e6).cast("long")).as("g6"))
      .collect() // ≤ buckets+1 rows — the bounded driver read of the loop
      // a bucket touched only by null-label docs sums to null: no gradient
      .map(r => r.getInt(0) -> (if (r.isNullAt(1)) 0L else r.getLong(1))).toMap
    def round6(x: Double): Double = {
      val f = math.abs(x) * 1e6 + 0.5
      math.signum(x) * (f - (f % 1.0)) / 1e6
    }
    w.map { case (b, wv) =>
      b -> round6(wv + lr * (gMap.getOrElse(b, 0L).toDouble / 1e6) / nDocs.toDouble)
    }
  }

  /** Labeled, checkpointed ARRAY-FORM feature table for a training
    * frame: one row per tokened doc, `farr` = bucket-sorted
    * (b, x) structs with the bias (−1, 1.0) appended — exactly the
    * rows of [[hashedFeatures]] regrouped per doc, so margins fold
    * map-side and only the gradient aggregate ever shuffles.
    */
  private def trainFeatures(docs: DataFrame, labelExpr: Column, buckets: Int,
                            seed: Long, idCol: String, textCol: String): DataFrame =
    hashedFeatureArrays(
      docs.filter(col(textCol).isNotNull)
        .select(col(idCol).as("__id"), labelExpr.cast("int").as("__y"),
          col(textCol).as("__text")),
      buckets, seed)
      .localCheckpoint(true) // read once per iteration + the doc count

  /** Train on the `idCol % holdoutMod != 0` split, score the held-out
    * split — the leak-free evaluation run of [[logRegTrain]]. Output
    * per held-out doc with ≥ 1 token: (`idCol`, `p` (6dp sigmoid
    * score), `true_label`, `pred_label`) with labels 'pos'/'neg'
    * (threshold 0.5), shaped for [[TextOps.classifierEval]] /
    * [[aucReport]] / [[calibrationBins]] downstream. Scoring is one
    * broadcast join (weights) + one aggregate over the held-out
    * feature table; returned checkpointed because every consumer reads
    * it at least twice.
    */
  def logRegScored(docs: DataFrame, labelExpr: Column, holdoutMod: Int = 5,
                   buckets: Int = 64, iters: Int = 2, lr: Double = 1.0,
                   seed: Long = 9L, idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    val train = docs.filter(pmod(col(idCol), lit(holdoutMod)) =!= 0)
    val test = docs.filter(pmod(col(idCol), lit(holdoutMod)) === 0)
    // r15: weights as a literal array (65 doubles), scoring as the same
    // map-side margin fold the training step uses — no weight join, no
    // doc-keyed aggregate (same m9 terms, order-free long adds)
    val wArr: Array[Double] = {
      val m = logRegTrain(train, labelExpr, buckets, iters, lr, seed, idCol, textCol)
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      Array.tabulate(m.size)(i => m(i - 1)) // index = b + 1
    }
    val wLit = lit(wArr)
    val m9 = aggregate(col("farr"), lit(0L), (acc, s) =>
      acc + round(element_at(wLit, s.getField("b") + 2) * s.getField("x") * 1e9).cast("long"))
    val testFeats = hashedFeatureArrays(
      test.filter(col(textCol).isNotNull)
        .select(col(idCol).as("__id"), labelExpr.cast("int").as("__y"),
          col(textCol).as("__text")),
      buckets, seed)
    testFeats
      .select(col("__id"), col("__y"), m9.as("m9"))
      .select(col("__id").as(idCol),
        round(lit(1.0) / (lit(1.0) + exp(-col("m9") / 1e9)), 6).as("p"),
        when(col("__y") === 1, "pos").otherwise("neg").as("true_label"))
      .withColumn("pred_label", when(col("p") >= 0.5, "pos").otherwise("neg"))
      .localCheckpoint(true) // consumers (eval/AUC/calibration) read it repeatedly
  }

  /** Threshold-free ranking quality: AUC with exact tie handling via
    * the Mann-Whitney histogram form. Scores collapse to their distinct
    * (already-6dp) values first — ≤ 10⁶+1 bins — so the cumulative
    * window runs over the HISTOGRAM, never a per-row global sort (the
    * q150 discipline). With `pos_b`/`neg_b` counts per bin and
    * `cum_pos` the positives in strictly-lower bins,
    * `AUC = Σ_bins pos_b·(2·cum_neg + neg_b) / (2·P·N)` (each positive
    * beats the negatives strictly below it and half-ties the negatives
    * in its own bin) — ties count half, all arithmetic integer until
    * the final division. Degenerate
    * inputs (P = 0 or N = 0) return AUC 0.5 — no ranking evidence
    * either way.
    *
    * Eval contract (the q101 discipline): run on a bounded held-out
    * split — the numerator is Θ(P·N) in magnitude (not in work), so the
    * 64-bit bank covers P·N < 4.6e18; a 100 TB corpus evaluates its
    * gate on a sampled split anyway.
    *
    * Output: one row (n_pos, n_neg, auc).
    */
  def aucReport(scored: DataFrame, probCol: String = "p",
                trueCol: String = "true_label",
                posLabel: String = "pos"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bins = scored
      .groupBy(col(probCol).as("__p"))
      .agg(sum(when(col(trueCol) === posLabel, 1L).otherwise(0L)).as("pos_b"),
        sum(when(col(trueCol) === posLabel, 0L).otherwise(1L)).as("neg_b"))
    val w = Window.orderBy("__p").rowsBetween(Window.unboundedPreceding, -1)
    bins
      .withColumn("cum_neg", coalesce(sum("neg_b").over(w), lit(0L)))
      .agg(sum("pos_b").as("n_pos"), sum("neg_b").as("n_neg"),
        sum(col("pos_b") * (lit(2L) * col("cum_neg") + col("neg_b"))).as("__num2"))
      .select(col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round(col("__num2") / (lit(2.0) * col("n_pos") * col("n_neg")), 6))
          .otherwise(0.5).as("auc"))
  }

  /** χ² test of independence between two categorical columns — the
    * balance diagnostic behind "are languages spread evenly across
    * sources, or does src7 own all the German?": observed (a, b)
    * counts against the independence expectation e = rowΣ·colΣ/N.
    * Per-cell (o−e)²/e terms bank as integer micro-units over the
    * |A|×|B| grid (INCLUDING empty observed cells — their e is not
    * zero and they contribute), so the statistic replays exactly.
    * One count scan; marginals derive from it; the grid is
    * categories-sized, never row-sized.
    *
    * Output: one row (n, n_a, n_b, dof, chi2) — chi2 rounded 4dp,
    * dof = (|A|−1)(|B|−1).
    */
  def chi2Independence(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("__a"), col(bCol).as("__b"))
      .agg(count(lit(1)).as("__o"))
      .localCheckpoint(true) // marginals + the grid join all read it
    val ra = cells.groupBy("__a").agg(sum("__o").as("__ca"))
    val rb = cells.groupBy("__b").agg(sum("__o").as("__cb"))
    val tot = cells.agg(sum("__o").as("__n"))
    val grid = ra.crossJoin(rb)
      .join(cells, Seq("__a", "__b"), "left")
      .crossJoin(broadcast(tot))
      .select(col("__n"), col("__ca"), col("__cb"),
        coalesce(col("__o"), lit(0L)).as("__o"),
        (col("__ca") * col("__cb") / col("__n").cast("double")).as("__e"))
    grid
      .select(col("__n"),
        round(((col("__o") - col("__e")) * (col("__o") - col("__e"))) / col("__e") * 1e6)
          .cast("long").as("__c6"))
      .groupBy("__n")
      .agg(count(lit(1)).as("__cells"), sum("__c6").as("__s6"))
      .crossJoin(broadcast(ra.agg(count(lit(1)).as("n_a"))))
      .crossJoin(broadcast(rb.agg(count(lit(1)).as("n_b"))))
      .select(col("__n").as("n"), col("n_a"), col("n_b"),
        ((col("n_a") - 1) * (col("n_b") - 1)).as("dof"),
        round(col("__s6") / 1e6, 4).as("chi2"))
  }

  /** Market-concentration (HHI) of a mass column over groups — the
    * mixture-health scalar: Σ share² over per-group mass shares, 1/k
    * for a perfectly even k-way mixture, → 1.0 as one group dominates.
    * The normalized form rescales to [0, 1] independent of k. Shares
    * round 6dp before squaring (deterministic), the sum banks as
    * integer 1e-8 units of share².
    *
    * Output: one row (n_groups, hhi, hhi_normalized).
    */
  def hhiConcentration(df: DataFrame, groupCol: String, massCol: String): DataFrame = {
    val m = df.groupBy(col(groupCol).as("__g"))
      .agg(sum(col(massCol).cast("long")).as("__m"))
      .localCheckpoint(true) // total + the share pass both read it
    val tot = m.agg(sum("__m").as("__t"), count(lit(1)).as("n_groups"))
    m.crossJoin(broadcast(tot))
      .select(col("n_groups"),
        round(col("__m") / col("__t").cast("double"), 6).as("__s"))
      .select(col("n_groups"),
        round(col("__s") * col("__s") * 1e8).cast("long").as("__s8"))
      .groupBy("n_groups")
      .agg(sum("__s8").as("__h8"))
      .select(col("n_groups"),
        round(col("__h8") / 1e8, 6).as("hhi"),
        round(when(col("n_groups") > 1,
          (col("__h8") / 1e8 - lit(1.0) / col("n_groups"))
            / (lit(1.0) - lit(1.0) / col("n_groups"))).otherwise(1.0), 6)
          .as("hhi_normalized"))
  }

  /** Per-GROUP Poisson-bootstrap CIs — [[bootstrapCi]] keyed by a
    * group column: error bars on every source's mean at once, from the
    * same single exploded pass (the replica aggregate keys on
    * (group, replica) and the percentile window runs per group over
    * `replicas` rows each). Same determinism contract as the scalar
    * form.
    *
    * Output per group: (<groupCol>, n_rows, point_mean, ci_lo, ci_hi).
    */
  def bootstrapCiByGroup(scores: DataFrame, groupCol: String = "source",
                         valueCol: String = "quality_score",
                         idCol: String = "doc_id", replicas: Int = 50,
                         seed: Long = 11L): DataFrame = {
    require(replicas >= 2, s"bootstrapCiByGroup needs >= 2 replicas, got $replicas")
    val base = scores.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"), col(idCol).as("__id"),
        round(col(valueCol) * 1e4).cast("long").as("__x4"))
      .localCheckpoint(true) // point means + the replica explosion both read it
    val u = SampleOps.seededHash(
      concat(col("__id").cast("string"), lit(":"), col("__r").cast("string")), seed)
    val w = poissonThresholds.zipWithIndex.reverse
      .foldLeft(lit(poissonThresholds.size): Column) { case (acc, (t, i)) =>
        when(u < t, i).otherwise(acc)
      }
    val repMeans = base
      .select(col("__g"), col("__id"), col("__x4"),
        explode(sequence(lit(0), lit(replicas - 1))).as("__r"))
      .withColumn("__w", w)
      .groupBy("__g", "__r")
      .agg(sum(col("__w") * col("__x4")).as("__swx"), sum("__w").as("__sw"))
      .select(col("__g"), when(col("__sw") > 0,
        col("__swx") / col("__sw").cast("double") / 1e4).as("__m"))
    val pt = base.groupBy("__g").agg(count(lit(1)).as("n_rows"),
      (sum("__x4") / count(lit(1)).cast("double") / 1e4).as("__pm"))
    repMeans.groupBy("__g")
      .agg(percentile(col("__m"), lit(0.025)).as("__lo"),
        percentile(col("__m"), lit(0.975)).as("__hi"))
      .join(broadcast(pt), Seq("__g"))
      .select(col("__g").as(groupCol), col("n_rows"),
        round(col("__pm"), 6).as("point_mean"),
        round(col("__lo"), 6).as("ci_lo"), round(col("__hi"), 6).as("ci_hi"))
  }

  /** Robust per-group means — plain, trimmed, and winsorized — for a
    * bounded [0, 1]-ish metric: the trimmed mean drops everything
    * outside the exact [5th, 95th] percentile band, the winsorized
    * mean CLAMPS to it (keeps the row count, caps the influence).
    * The robust pair is what a heavy-tailed quality signal needs —
    * one pathological doc moves a plain mean, not these.
    *
    * Exact q44-convention percentiles per group (broadcast back);
    * all three means bank values as integer 1e-4 units (order-free
    * sums). One percentile aggregate + one join + one rollup, all
    * keyed on the group. The trim band is the 6dp-QUANTIZED
    * [q05, q95]: interpolated quantiles agree across engines only to
    * ulps, and a 4dp score sitting exactly ON a bound would flip in
    * or out of the trim set on an ulp (caught by the sf0.001 gate at
    * n=25 — Spark 0.754 vs DuckDB 0.75 trimmed means); rounding the
    * bound before the comparison makes membership engine-stable.
    *
    * Output per group: (<groupCol>, n, mean, trimmed_mean,
    * winsorized_mean) — 4dp.
    */
  def trimmedMeans(scores: DataFrame, valueCol: String = "quality_score",
                   groupCol: String = "source",
                   loQ: Double = 0.05, hiQ: Double = 0.95): DataFrame = {
    val base = scores.filter(col(valueCol).isNotNull)
      .select(col(groupCol).as("__g"), col(valueCol).cast("double").as("__v"))
      .localCheckpoint(true) // percentile agg + the rollup join both read it
    val bounds = base.groupBy("__g")
      .agg(round(percentile(col("__v"), lit(loQ)), 6).as("__lo"),
        round(percentile(col("__v"), lit(hiQ)), 6).as("__hi"))
    base.join(broadcast(bounds), Seq("__g"))
      .select(col("__g"),
        round(col("__v") * 1e4).cast("long").as("__x4"),
        round(least(greatest(col("__v"), col("__lo")), col("__hi")) * 1e4)
          .cast("long").as("__w4"),
        (col("__v") >= col("__lo") && col("__v") <= col("__hi")).as("__in"))
      .groupBy("__g")
      .agg(count(lit(1)).as("n"),
        sum("__x4").as("__sx"),
        sum(when(col("__in"), col("__x4")).otherwise(0L)).as("__st"),
        sum(when(col("__in"), 1L).otherwise(0L)).as("__nt"),
        sum("__w4").as("__sw"))
      .select(col("__g").as(groupCol), col("n"),
        round(col("__sx") / col("n").cast("double") / 1e4, 4).as("mean"),
        round(when(col("__nt") > 0, col("__st") / col("__nt").cast("double") / 1e4)
          .otherwise(0.0), 4).as("trimmed_mean"),
        round(col("__sw") / col("n").cast("double") / 1e4, 4).as("winsorized_mean"))
  }

  /** Population Stability Index between two corpus slices — the
    * standard drift metric of model monitoring, applied to data
    * curation: has the quality/score distribution of slice B (a new
    * crawl, this week's batch) drifted from slice A (the baseline)?
    * `PSI = Σ_bins (p_i − q_i)·ln(p_i/q_i)` over 10 FIXED deciles of
    * the [0, 1] score (fixed bins, not baseline quantiles — the
    * replayable variant), add-1 smoothed so empty bins contribute
    * finite terms. Rule of thumb: < 0.1 stable, > 0.25 drifted.
    *
    * Determinism: per-bin terms bank as integer micro-nats before the
    * sum (the q140 recipe). Plan: one binning aggregate over each side
    * of ONE scan (conditional sums — the sides are never scanned
    * separately), a 10-row grid, one rollup.
    *
    * Output: one row (n_a, n_b, psi) — psi rounded 6dp.
    */
  def psiDrift(scores: DataFrame, sideACol: Column, valueCol: String = "quality_score"): DataFrame = {
    val binned = scores
      .groupBy(least(floor(col(valueCol) * 10).cast("long"), lit(9L)).cast("int").as("bin"))
      .agg(sum(when(sideACol, 1L).otherwise(0L)).as("ca"),
        sum(when(sideACol, 0L).otherwise(1L)).as("cb"))
      .localCheckpoint(true) // ≤10 rows; totals + the grid join both read it
    val grid = scores.sparkSession.range(0, 10).select(col("id").cast("int").as("bin"))
    val tot = binned.agg(sum("ca").as("na"), sum("cb").as("nb"))
    grid.join(binned, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
      .crossJoin(broadcast(tot))
      .select(col("na"), col("nb"),
        round((((col("ca") + 1) / (col("na") + lit(10.0)))
          - ((col("cb") + 1) / (col("nb") + lit(10.0))))
          * log(((col("ca") + 1) / (col("na") + lit(10.0)))
            / ((col("cb") + 1) / (col("nb") + lit(10.0)))) * 1e6).cast("long").as("__t6"))
      .groupBy("na", "nb")
      .agg(round(sum("__t6") / 1e6, 6).as("psi"))
      .select(col("na").as("n_a"), col("nb").as("n_b"), col("psi"))
  }

  /** Inverse-CDF thresholds for a DETERMINISTIC Poisson(1) draw from a
    * seeded-md5 uniform in [0, 16^15): weight w is the count of
    * thresholds at or below u, capped at 6 (P(w > 6) < 1e-4). Shared
    * with the oracle SQL so both engines draw the identical weights.
    */
  val poissonThresholds: Seq[Long] = {
    val cum = Seq(0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
      0.9810118431238462, 0.9963401531726563, 0.9994058151824183)
    val range = BigDecimal(16).pow(15)
    cum.map(p => (BigDecimal(p) * range).toLong)
  }

  /** Poisson-bootstrap confidence interval for a corpus mean — error
    * bars on a curation metric (mean quality, mean length, dup rate)
    * without a second pass over resampled copies: each row draws a
    * DETERMINISTIC Poisson(1) weight per replica from the seeded hash
    * (the distributed bootstrap standard — per-replica multinomial
    * counts converge to independent Poissons, and the draw needs no
    * coordination), each replica's weighted mean is one group row, and
    * the CI is the exact 2.5/97.5 percentile over the replica means.
    * Fully engine-replayable: the inverse-CDF thresholds are shared
    * integer literals, values quantize to 1e-4 units, and each
    * replica's weighted sums are exact longs.
    *
    * Plan shape: ONE scan exploded ×`replicas` map-side (the honest
    * bootstrap cost — size the metric sample or the replica count
    * accordingly), a `replicas`-row aggregate, exact percentiles over
    * those rows. A replica whose weights all land 0 (only possible on
    * tiny inputs) yields a null mean, which both engines' percentile
    * skips.
    *
    * Output: one row (n_rows, n_replicas, point_mean, ci_lo, ci_hi).
    */
  def bootstrapCi(scores: DataFrame, valueCol: String = "quality_score",
                  idCol: String = "doc_id", replicas: Int = 50,
                  seed: Long = 11L): DataFrame = {
    require(replicas >= 2, s"bootstrapCi needs >= 2 replicas, got $replicas")
    val base = scores.filter(col(valueCol).isNotNull)
      .select(col(idCol).as("__id"), round(col(valueCol) * 1e4).cast("long").as("__x4"))
      .localCheckpoint(true) // point mean + the replica explosion both read it
    val u = SampleOps.seededHash(
      concat(col("__id").cast("string"), lit(":"), col("__r").cast("string")), seed)
    val w = poissonThresholds.zipWithIndex.reverse
      .foldLeft(lit(poissonThresholds.size): Column) { case (acc, (t, i)) =>
        when(u < t, i).otherwise(acc)
      }
    val repMeans = base
      .select(col("__id"), col("__x4"),
        explode(sequence(lit(0), lit(replicas - 1))).as("__r"))
      .withColumn("__w", w)
      .groupBy("__r")
      .agg(sum(col("__w") * col("__x4")).as("__swx"), sum("__w").as("__sw"))
      .select(when(col("__sw") > 0,
        col("__swx") / col("__sw").cast("double") / 1e4).as("__m"))
    val pt = base.agg(count(lit(1)).as("n_rows"),
      (sum("__x4") / count(lit(1)).cast("double") / 1e4).as("__pm"))
    repMeans
      .agg(percentile(col("__m"), lit(0.025)).as("__lo"),
        percentile(col("__m"), lit(0.975)).as("__hi"))
      .crossJoin(broadcast(pt))
      .select(col("n_rows"), lit(replicas).as("n_replicas"),
        round(col("__pm"), 6).as("point_mean"),
        round(col("__lo"), 6).as("ci_lo"), round(col("__hi"), 6).as("ci_hi"))
  }

  /** Calibration-by-decile report: does a predicted probability of 0.x
    * mean an 0.x empirical positive rate? Bins on `floor(p·10)` capped
    * at 9 (p = 1.0 joins the top bin); per bin the mean prediction is
    * banked from the 6dp scores as exact micro-units (order-free sum)
    * and both rates round to 4dp. One aggregate — no sort, no window.
    *
    * Output per non-empty bin: (bin, n, avg_p, pos_rate).
    */
  def calibrationBins(scored: DataFrame, probCol: String = "p",
                      trueCol: String = "true_label",
                      posLabel: String = "pos"): DataFrame =
    scored
      .groupBy(least(floor(col(probCol) * 10).cast("long"), lit(9L)).cast("int").as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(round(col(probCol) * 1e6).cast("long")).as("__p6"),
        sum(when(col(trueCol) === posLabel, 1L).otherwise(0L)).as("__pos"))
      .select(col("bin"), col("n"),
        round(col("__p6") / col("n") / 1e6, 4).as("avg_p"),
        round(col("__pos") / col("n").cast("double"), 4).as("pos_rate"))

  /** k-anonymity audit over a quasi-identifier grid: every QI
    * combination's population, flagged when it identifies fewer than k
    * rows — the release gate for sharing corpus metadata (a (lang,
    * source, length-bucket) cell of size 1 IS a fingerprint of that
    * document). Generalization (the coarse power-of-two length bucket
    * instead of raw length) is the caller's contract; this operator
    * measures what remains.
    *
    * Plan shape: ONE hash aggregate over the corpus (the grid is tiny
    * thereafter — categories × buckets), checkpointed because the
    * total and the share projection both read it; the total rides back
    * as a broadcast scalar. Null QI values stay their own category
    * (dropping them would hide the riskiest rows).
    *
    * Output per QI cell: (qi..., group_size, at_risk, share).
    */
  def kAnonymityAudit(df: DataFrame, qiCols: Seq[String], k: Int = 5): DataFrame = {
    val g = df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("group_size"))
      .localCheckpoint(true) // total + the share/flag pass both read it
    val tot = g.agg(sum("group_size").as("__t"))
    g.crossJoin(broadcast(tot))
      .select(qiCols.map(col) ++ Seq(col("group_size"),
        (col("group_size") < k).as("at_risk"),
        round(col("group_size") / col("__t").cast("double"), 6).as("share")): _*)
  }

  /** Differentially-private noisy counts: per-group counts released
    * with Laplace(1/ε) noise via the inverse CDF on the engine's
    * seeded-hash uniform — count queries have L1 sensitivity 1, so
    * scale 1/ε gives ε-DP per release. The noise is DETERMINISTIC
    * given (seed, group): the release replays bit-for-bit in any
    * engine (the q146 seeded-randomness discipline — randomness you
    * can audit), and a re-run cannot burn extra privacy budget by
    * accident. Rotate the seed to issue a fresh release.
    *
    * u = (h mod 1e9 + 1) / 1000000002 ∈ (0,1) strictly — both tails
    * stay finite; v = u − ½; noise = −sgn(v)·ln(1−2|v|)/ε, rounded 6dp.
    *
    * Plan shape: one hash aggregate; noise is map-only arithmetic on
    * the group key. Output: (group, true_n, eps, noise, noisy_n ≥ 0).
    */
  /** Two-sample Kolmogorov–Smirnov test: the maximum CDF gap between
    * two samples of an ordered value — the distribution-drift check
    * with NO binning choice (the complement of [[psiDrift]]'s fixed
    * deciles; KS sees shape changes deciles smear away). The statistic
    * is computed in exact integers: per-value counts on the merged
    * support, cumulative sums, and D's numerator |cumA·nb − cumB·na|
    * stays a long until the single final division. The critical value
    * is the classic α=0.05 large-sample 1.36·√((na+nb)/(na·nb));
    * rejection compares ROUNDED d to ROUNDED crit so both engines sit
    * on the same side.
    *
    * Plan shape: two hash aggregates to value histograms, a full-outer
    * merge, ONE cumulative window over the |support| rows (bounded by
    * distinct values — pre-quantize continuous scores before calling,
    * the q150 histogram discipline).
    *
    * Output: one row (na, nb, d 6dp, crit 6dp, reject).
    */
  def ksTwoSample(a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // null values are excluded on BOTH sides (engines disagree on NULL
    // ordering in the cumulative window otherwise)
    val ca = a.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).as("v")).agg(count(lit(1)).as("__na_v"))
    val cb = b.filter(col(valueCol).isNotNull)
      .groupBy(col(valueCol).as("v")).agg(count(lit(1)).as("__nb_v"))
    val merged = ca.join(cb, Seq("v"), "full_outer")
      .select(col("v"), coalesce(col("__na_v"), lit(0L)).as("__ca"),
        coalesce(col("__nb_v"), lit(0L)).as("__cb"))
      .localCheckpoint(true) // totals + the cumulative scan both read it
    val w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = broadcast(merged.agg(sum("__ca").as("na"), sum("__cb").as("nb")))
    merged
      .select(col("v"), sum("__ca").over(w).as("__cum_a"), sum("__cb").over(w).as("__cum_b"))
      .crossJoin(tot)
      .select(abs(col("__cum_a") * col("nb") - col("__cum_b") * col("na")).as("__num"),
        col("na"), col("nb"))
      .groupBy("na", "nb").agg(max("__num").as("__maxnum"))
      .select(col("na"), col("nb"),
        Rounding.round(col("__maxnum").cast("double")
          / (col("na").cast("double") * col("nb")), 6).as("d"),
        Rounding.round(lit(1.36) * sqrt((col("na") + col("nb")).cast("double")
          / (col("na").cast("double") * col("nb"))), 6).as("crit"))
      .withColumn("reject", col("d") > col("crit"))
  }

  /** Spearman rank correlation between two per-row signals: Pearson
    * over exact midrank percentiles ([[graft.ops.TextOps.percentileNormalize]]
    * with one global group) — the "do my two quality signals agree"
    * check that is robust to monotone rescaling, unlike raw Pearson.
    * Percentiles bank as integer 1e-6 units; all five moments
    * accumulate as exact decimals, so the only floating-point step is
    * the final ratio.
    *
    * Output: one row (n, spearman 4dp).
    */
  def spearmanCorr(df: DataFrame, idCol: String, xCol: String, yCol: String): DataFrame = {
    def pcts(vc: String) = graft.ops.TextOps.percentileNormalize(
      df.select(col(idCol), lit("all").as("__g"), col(vc)),
      idCol, "__g", vc)
      .select(col(idCol), round(col("pct") * 1e6).cast("long").as(s"__p_$vc"))
    val joined = pcts(xCol).join(pcts(yCol), Seq(idCol))
    def d(c: Column) = c.cast("decimal(38,0)")
    joined.agg(count(lit(1)).as("n"),
        sum(d(col(s"__p_$xCol"))).as("__sx"), sum(d(col(s"__p_$yCol"))).as("__sy"),
        sum(d(col(s"__p_$xCol")) * d(col(s"__p_$xCol"))).as("__sxx"),
        sum(d(col(s"__p_$yCol")) * d(col(s"__p_$yCol"))).as("__syy"),
        sum(d(col(s"__p_$xCol")) * d(col(s"__p_$yCol"))).as("__sxy"))
      .select(col("n"),
        ((col("n") * col("__sxx") - col("__sx") * col("__sx")).cast("double")
          * (col("n") * col("__syy") - col("__sy") * col("__sy")).cast("double")).as("__vp"),
        (col("n") * col("__sxy") - col("__sx") * col("__sy")).cast("double").as("__num"))
      .select(col("n"),
        when(col("__vp") > 0, Rounding.round(col("__num") / sqrt(col("__vp")), 4))
          .as("spearman")) // null when a signal is constant (zero variance)
  }

  def dpNoisyCounts(df: DataFrame, groupCol: String, eps: Double = 1.0,
                    seed: Long = 42): DataFrame = {
    val u = (SampleOps.seededHash(col(groupCol), seed) % 1000000000L + lit(1.0)) /
      lit(1000000002.0)
    val v = u - 0.5
    val noise = round(-signum(v) * log(lit(1.0) - lit(2.0) * abs(v)) / eps, 6)
    df.groupBy(col(groupCol)).agg(count(lit(1)).as("true_n"))
      .select(col(groupCol), col("true_n"), lit(eps).as("eps"), noise.as("noise"),
        greatest(lit(0.0), round(col("true_n") + noise)).cast("long").as("noisy_n"))
  }

  /** l-diversity audit — the k-anonymity companion ([[kAnonymityAudit]])
    * that catches the attack k alone misses: a large QI group whose
    * SENSITIVE attribute is (nearly) constant still discloses it. Per
    * QI group: size, distinct sensitive values, the largest single
    * value's share (the homogeneity measure behind recursive (c,l)-
    * diversity), and the `distinct < l` risk flag.
    *
    * Plan shape: one hash aggregate to (QI, sensitive) cells, one
    * rollup to QI groups — both partial-aggregable; the cell table is
    * bounded by the QI×sensitive category grid.
    *
    * Output: (qiCols..., group_size, distinct_sensitive, at_risk,
    * max_share 6dp).
    */
  def lDiversityAudit(df: DataFrame, qiCols: Seq[String], sensitiveCol: String,
                      l: Int = 3): DataFrame = {
    val cells = df.groupBy((qiCols.map(col) :+ col(sensitiveCol)): _*)
      .agg(count(lit(1)).as("__c"))
    cells.groupBy(qiCols.map(col): _*)
      .agg(sum("__c").as("group_size"),
        count(lit(1)).as("distinct_sensitive"),
        max("__c").as("__mx"))
      .select(qiCols.map(col) ++ Seq(col("group_size"), col("distinct_sensitive"),
        (col("distinct_sensitive") < l).as("at_risk"),
        round(col("__mx") / col("group_size").cast("double"), 6).as("max_share")): _*)
  }

  /** Bradley–Terry preference strengths from pairwise comparisons —
    * the rating model behind preference-data curation (which annotator
    * / source / policy wins head-to-heads), fit by the classic
    * minorization–maximization update (Zermelo 1929; Hunter, Ann.
    * Statist. 2004): w_i ← W_i / Σ_pairs(i,j) n_ij / (w_i + w_j),
    * renormalized to mean 1 each round.
    *
    * Engine-replayable by the [[logRegTrain]] discipline: per-pair
    * terms n_ij/(w_i+w_j) round to 6dp and bank at 1e6 (longs: exact,
    * order-free), the update divides the integer win count by the
    * banked sum, and normalization divides by the banked strength
    * total — every float step is the identical IEEE sequence in any
    * engine, so the oracle unrolls the loop as CTEs and hash-matches.
    *
    * Plan shape: ONE corpus-scale pass aggregates comparisons to the
    * games table (a, b, n, wins_a — at most items² rows, partial-
    * aggregable), checkpointed because every iteration reads it; per
    * iteration one broadcast join (current strengths) + two bounded
    * aggregates; the driver ferries #items rounded doubles per round
    * (the Lloyd/GD precedent). Items are a governance-sized set
    * (sources, annotators, policies) — the corpus never shuffles
    * twice.
    *
    * Zero-win items converge to strength 0 (the MM fixed point when
    * an item loses every game); pairs whose strengths sum to 0 are
    * skipped in the term sum, matching the oracle's WHERE guard.
    *
    * Output: (item, games, wins, strength) — one row per item.
    */
  def bradleyTerry(comparisons: DataFrame, iters: Int = 3,
                   winnerCol: String = "winner",
                   loserCol: String = "loser"): DataFrame = {
    val spark = comparisons.sparkSession
    import spark.implicits._
    val games = comparisons
      .select(least(col(winnerCol), col(loserCol)).as("a"),
        greatest(col(winnerCol), col(loserCol)).as("b"),
        when(col(winnerCol) <= col(loserCol), 1L).otherwise(0L).as("wa"))
      .groupBy("a", "b").agg(count(lit(1)).as("n"), sum("wa").as("wins_a"))
      .localCheckpoint(true) // totals + every MM iteration read it
    val tot = games.select(col("a").as("item"), col("wins_a").as("w"), col("n"))
      .unionByName(games.select(col("b").as("item"),
        (col("n") - col("wins_a")).as("w"), col("n")))
      .groupBy("item").agg(sum("w").as("wins"), sum("n").as("games"))
      .localCheckpoint(true) // every iteration's update reads it
    val nItems = tot.count()
    require(nItems > 0, "bradleyTerry: no comparisons")
    var w: Seq[(String, Double)] = tot.select("item").collect()
      .map(_.getString(0) -> 1.0).sortBy(_._1).toSeq
    for (_ <- 1 to iters) {
      val wDf = broadcast(w.toDF("item", "w"))
      val terms = games
        .join(wDf.select(col("item").as("a"), col("w").as("w_a")), Seq("a"))
        .join(wDf.select(col("item").as("b"), col("w").as("w_b")), Seq("b"))
        .filter(col("w_a") + col("w_b") > 0)
        .select(col("a"), col("b"),
          round(col("n") / (col("w_a") + col("w_b")) * 1e6).cast("long").as("t6"))
      val s = terms.select(col("a").as("item"), col("t6"))
        .unionByName(terms.select(col("b").as("item"), col("t6")))
        .groupBy("item").agg(sum("t6").as("s6"))
      val upd = tot.join(s, Seq("item"), "left")
        .select(col("item"),
          when(col("s6") > 0, round(col("wins") * lit(1e6) / col("s6"), 6))
            .otherwise(0.0).as("w"))
      val t6 = upd.agg(sum(round(col("w") * 1e6).cast("long")).as("t6"))
      w = upd.crossJoin(broadcast(t6))
        .select(col("item"),
          round(col("w") * lit(nItems.toDouble) * lit(1e6) / col("t6"), 6).as("w"))
        .collect() // #items rows — the bounded driver read of the loop
        .map(r => r.getString(0) -> r.getDouble(1)).sortBy(_._1).toSeq
    }
    tot.join(broadcast(w.toDF("item", "strength")), Seq("item"))
      .select(col("item"), col("games"), col("wins"), col("strength"))
  }

  /** Split-conformal quality threshold: the finite-sample-corrected
    * alpha-quantile of a calibration split's scores, plus the admission
    * report it implies on the rest of the corpus — the
    * distribution-free "keep ≥ 1−alpha of good data" gate (Vovk et
    * al.'s split conformal, the quantile form). With n calibration
    * scores, the threshold is the k-th SMALLEST with
    * k = floor(alphaNum·(n+1) / alphaDen) — admitting score ≥ t then
    * mis-rejects at most alpha of exchangeable data.
    *
    * alpha arrives as a rational (alphaNum/alphaDen) so k is exact
    * integer arithmetic in both engines. The order statistic comes
    * from the value-histogram cumulative (the q150/AUC discipline):
    * groupBy(score) → cumulative count window over the DISTINCT
    * score histogram — never a per-row global sort.
    *
    * Finite-sample edge: with n_cal + 1 < alphaDen/alphaNum (fewer
    * than 9 calibration rows at alpha = 1/10), k = 0 — there is NO
    * order statistic that honours the guarantee, so the threshold is
    * NULL and the gate admits everything (rejecting anything at k = 0
    * would mis-reject with probability 1/(n_cal+1) > alpha).
    *
    * Input: (`scoreCol`, `__cal` boolean) — `__cal` marks the
    * calibration split. Output one row: (n_cal, k, threshold, n_rest,
    * kept_n, kept_frac 4dp); threshold NULL ⇔ k = 0 ⇔ admit-all.
    */
  def conformalThreshold(scored: DataFrame, scoreCol: String = "quality_score",
                         alphaNum: Int = 1, alphaDen: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(alphaNum > 0 && alphaNum < alphaDen, "alpha must be in (0, 1)")
    val cal = scored.filter(col("__cal")).groupBy(col(scoreCol).as("__s"))
      .agg(count(lit(1)).as("c"))
    val cum = cal.withColumn("cum",
      sum("c").over(Window.orderBy("__s").rowsBetween(Window.unboundedPreceding, 0)))
    val nCal = cal.agg(sum("c").as("n_cal"))
    val thr = cum.crossJoin(broadcast(nCal))
      .withColumn("k", floor((col("n_cal") + 1) * alphaNum / alphaDen))
      .filter(col("cum") >= greatest(col("k"), lit(1L)))
      .groupBy("n_cal", "k").agg(min("__s").as("__t"))
      .select(col("n_cal"), col("k"),
        when(col("k") >= 1, col("__t")).as("threshold")) // k = 0: admit-all
    val rest = scored.filter(!col("__cal")).crossJoin(broadcast(thr))
      .groupBy("n_cal", "k", "threshold")
      .agg(count(lit(1)).as("n_rest"),
        sum(when(col("threshold").isNull || col(scoreCol) >= col("threshold"), 1L)
          .otherwise(0L)).as("kept_n"))
    rest.select(col("n_cal"), col("k"), col("threshold"), col("n_rest"), col("kept_n"),
      round(col("kept_n") / col("n_rest").cast("double"), 4).as("kept_frac"))
  }

  /** Group-conditional split conformal — [[conformalThreshold]] with a
    * per-group calibration quantile, the form a mixture pipeline
    * actually ships: one global threshold under-covers the weak
    * sources and over-rejects the strong ones; conditioning on the
    * group restores the ≥ 1−alpha guarantee PER SOURCE (assuming
    * within-group exchangeability). Same finite-sample
    * k = ⌊α(n_g+1)⌋ order statistic, now from a GROUP-PARTITIONED
    * histogram cumulative — the window is keyed, so this version
    * scales where the global one single-partitions.
    *
    * Groups with no calibration rows have no threshold and are absent
    * from the report (gate them globally or refuse — a policy call
    * this operator surfaces rather than hides). Groups whose
    * calibration is too SPARSE for the guarantee (n_cal + 1 <
    * alphaDen/alphaNum ⇒ k = 0) get a NULL threshold and admit
    * everything — the [[conformalThreshold]] finite-sample edge,
    * which any long-tail source mix hits on its smallest sources.
    *
    * Output per group: (group, n_cal, k, threshold, n_rest, kept_n,
    * kept_frac 4dp); threshold NULL ⇔ k = 0 ⇔ admit-all.
    */
  def conformalThresholdByGroup(scored: DataFrame, groupCol: String = "source",
                                scoreCol: String = "quality_score",
                                alphaNum: Int = 1, alphaDen: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(alphaNum > 0 && alphaNum < alphaDen, "alpha must be in (0, 1)")
    val cal = scored.filter(col("__cal"))
      .groupBy(col(groupCol).as("__g"), col(scoreCol).as("__s"))
      .agg(count(lit(1)).as("c"))
      .localCheckpoint(true) // per-group totals + the cumulative both read it
    val cum = cal.withColumn("cum", sum("c").over(
      Window.partitionBy("__g").orderBy("__s")
        .rowsBetween(Window.unboundedPreceding, 0)))
    val nCal = cal.groupBy("__g").agg(sum("c").as("n_cal"))
    val thr = cum.join(broadcast(nCal), Seq("__g"))
      .withColumn("k", floor((col("n_cal") + 1) * alphaNum / alphaDen))
      .filter(col("cum") >= greatest(col("k"), lit(1L)))
      .groupBy("__g", "n_cal", "k").agg(min("__s").as("__t"))
      .select(col("__g"), col("n_cal"), col("k"),
        when(col("k") >= 1, col("__t")).as("threshold")) // k = 0: admit-all
    scored.filter(!col("__cal"))
      .select(col(groupCol).as("__g"), col(scoreCol).as("__sc"))
      .join(broadcast(thr), Seq("__g"))
      .groupBy(col("__g").as(groupCol), col("n_cal"), col("k"), col("threshold"))
      .agg(count(lit(1)).as("n_rest"),
        sum(when(col("threshold").isNull || col("__sc") >= col("threshold"), 1L)
          .otherwise(0L)).as("kept_n"))
      .select(col(groupCol), col("n_cal"), col("k"), col("threshold"),
        col("n_rest"), col("kept_n"),
        round(col("kept_n") / col("n_rest").cast("double"), 4).as("kept_frac"))
  }
}
