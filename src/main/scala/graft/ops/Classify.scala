package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Model-based data-selection operators over hashed bag-of-words
  * features: DSIR-style importance weighting (select raw-pool documents
  * that look like a target corpus) and a multinomial Naive Bayes
  * classifier trained by counting — the two "cheap model" stages a
  * training-data pipeline runs before any GPU touches the data.
  *
  * Both are built on one featurizer: tokens (the corpus tokenizer —
  * lower, trim, whitespace split, length ≥ 2, the same contract as the
  * vocab/TF-IDF queries) hashed into a FIXED number of buckets via the
  * portable md5 hash. The bucket count bounds the model: the weight /
  * likelihood tables are `O(buckets·labels)` rows regardless of corpus
  * size, so the model always BROADCASTS and scoring is a narrow
  * broadcast equi-join — no vocab-sized shuffle ever happens on the
  * scoring path. That is the property that holds at 100 TB: training is
  * one map-side-combined count pass; scoring is one pass with a tiny
  * model at every executor (the hashing-trick / DSIR paper shape).
  *
  * Determinism discipline: every log-probability is computed from EXACT
  * integer counts (IEEE double division/multiply of exact ints), rounded
  * half-up to 6 decimals, and materialized as integer MICRO-units
  * (`micro6`). Document scores are then integer sums of
  * `count × micro-weight` — order-independent and bit-identical across
  * engines, so rankings/argmaxes can never flip on a float boundary
  * (only the per-value `ln` itself relies on the cross-engine 6dp-round
  * discipline established for kmeans/pagerank).
  */
object Classify {

  /** Corpus-tokenizer tokens of a text column (vocabQ contract). */
  private[graft] def tokensOf(text: Column): Column =
    split(trim(lower(text)), "\\s+")

  /** Hashed feature bucket of a token (portable 48-bit md5 hash, salted
    * so feature hashing never aliases another hash use of the tokens).
    */
  def featureBucket(token: Column, salt: String, buckets: Int): Column =
    TextOps.portableHash64(concat(lit(salt), token)) % buckets

  /** Half-up 6-decimal rounding to exact integer micro-units. */
  def micro6(x: Column): Column =
    floor(x * 1000000.0 + lit(0.5)).cast("long")

  /** Hashed bag-of-words: one row per (id..., bucket) with its token
    * count. One explode + one map-side-combined aggregate; `carry`
    * columns (functionally dependent on the id) ride the group-by.
    */
  def tokenBucketCounts(docs: DataFrame, idCol: String, textCol: String,
      salt: String, buckets: Int, carry: Seq[String] = Nil): DataFrame =
    docs.select(col(idCol) +: carry.map(col) :+
        explode(tokensOf(col(textCol))).as("tok"): _*)
      .filter(length(col("tok")) >= 2)
      .select(col(idCol) +: carry.map(col) :+
        featureBucket(col("tok"), salt, buckets).as("bucket"): _*)
      .groupBy(col(idCol) +: carry.map(col) :+ col("bucket"): _*)
      .agg(count(lit(1)).as("n"))

  // ------------------------------------------------------------- DSIR

  /** DSIR-style per-bucket importance weights: for every hashed n-gram
    * feature, `w(b) = ln( p_target(b) / p_raw(b) )` under add-1
    * smoothed unigram bucket models, emitted as integer micro-units.
    * One count pass over the corpus (target and raw tallied in the same
    * aggregate), then the weight arithmetic runs on the ≤`buckets`-row
    * table with the two totals broadcast — model-sized work.
    */
  def dsirWeightTable(docs: DataFrame, isTarget: Column, textCol: String,
      salt: String, buckets: Int): DataFrame = {
    val toks = docs
      .select(isTarget.as("is_t"), explode(tokensOf(col(textCol))).as("tok"))
      .filter(length(col("tok")) >= 2)
      .select(col("is_t"), featureBucket(col("tok"), salt, buckets).as("bucket"))
    val perBucket = toks.groupBy(col("bucket")).agg(
      sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
      sum(when(col("is_t"), 0L).otherwise(1L)).as("cr"))
    val totals = perBucket.agg(sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
    // Ratio assembled in doubles (exact-int inputs, IEEE ops — identical
    // cross-engine); ONE ln per bucket, then micro6.
    perBucket.crossJoin(broadcast(totals))
      .select(col("bucket"), micro6(log(
        ((col("ct") + 1).cast("double") * (col("nr") + buckets).cast("double")) /
          ((col("cr") + 1).cast("double") * (col("nt") + buckets).cast("double"))))
        .as("w_micro"))
  }

  /** Score a candidate pool against a DSIR weight table: per-doc
    * `Σ count(b) · w_micro(b)` — an exact integer. The weight table
    * broadcasts; the only shuffles are the two doc-keyed aggregates.
    */
  def dsirScore(pool: DataFrame, weights: DataFrame, idCol: String,
      textCol: String, salt: String, buckets: Int,
      carry: Seq[String] = Nil): DataFrame =
    tokenBucketCounts(pool, idCol, textCol, salt, buckets, carry)
      .join(broadcast(weights), "bucket")
      .groupBy(col(idCol) +: carry.map(col): _*)
      .agg(sum(col("n")).as("n_tokens"),
        sum(col("n") * col("w_micro")).as("score_micro"))

  // ------------------------------------------------------ Naive Bayes

  /** Multinomial NB model trained by counting: returns
    * `(model, labelStats)` where `model` holds the per-(label, bucket)
    * likelihood DELTA over that label's unseen-bucket default (integer
    * micro-units; ≤ labels·buckets rows) and `labelStats` holds one row
    * per label: `prior_micro = micro(ln D_l/D)` and
    * `default_micro = micro(ln 1/(N_l + buckets))`. Splitting the
    * default out keeps scoring exact for buckets never seen with a
    * label: `score(d,l) = prior_l + n_tokens(d)·default_l +
    * Σ_b n(d,b)·delta(l,b)` — the unseen-bucket mass is carried by the
    * closed-form second term instead of a dense labels×buckets join.
    */
  def nbTrain(train: DataFrame, labelCol: String, textCol: String,
      salt: String, buckets: Int): (DataFrame, DataFrame) = {
    val toks = train
      .select(col(labelCol).as("label"), explode(tokensOf(col(textCol))).as("tok"))
      .filter(length(col("tok")) >= 2)
      .select(col("label"), featureBucket(col("tok"), salt, buckets).as("bucket"))
    val c = toks.groupBy(col("label"), col("bucket")).agg(count(lit(1)).as("c"))
    val nl = c.groupBy(col("label")).agg(sum(col("c")).as("n_l"))
    val dl = train.groupBy(col(labelCol).as("label")).agg(count(lit(1)).as("d_l"))
    val dTot = dl.agg(sum(col("d_l")).as("d"))
    val labelStats = dl.crossJoin(broadcast(dTot))
      .join(broadcast(nl), "label")
      .select(col("label"),
        micro6(log(col("d_l").cast("double") / col("d").cast("double")))
          .as("prior_micro"),
        micro6(log(lit(1.0) / (col("n_l") + buckets).cast("double")))
          .as("default_micro"))
    val model = c.join(broadcast(labelStats.select(col("label"), col("default_micro"))
        .join(broadcast(nl), "label")), "label")
      .select(col("label"), col("bucket"),
        (micro6(log((col("c") + 1).cast("double") / (col("n_l") + buckets).cast("double")))
          - col("default_micro")).as("delta_micro"))
    (model, labelStats)
  }

  /** Classify documents with a trained NB model: integer-exact argmax
    * of `prior + n_tokens·default + Σ n·delta` per label, ties broken
    * by label ascending (min-struct argmax — one hash aggregate, no
    * per-doc sort window). Model and label stats broadcast.
    */
  def nbPredict(docs: DataFrame, model: DataFrame, labelStats: DataFrame,
      idCol: String, textCol: String, salt: String, buckets: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val tb = tokenBucketCounts(docs, idCol, textCol, salt, buckets, carry)
    val ntok = tb.groupBy(col(idCol) +: carry.map(col): _*)
      .agg(sum(col("n")).as("n_tokens"))
    val matched = tb.join(broadcast(model), "bucket")
      .groupBy(col(idCol), col("label"))
      .agg(sum(col("n") * col("delta_micro")).as("m_sum"))
    ntok.crossJoin(broadcast(labelStats))
      .join(matched, Seq(idCol, "label"), "left")
      .select(col(idCol) +: carry.map(col) :+ col("label") :+
        (col("prior_micro") + col("n_tokens") * col("default_micro") +
          coalesce(col("m_sum"), lit(0L))).as("score_micro"): _*)
      .groupBy(col(idCol) +: carry.map(col): _*)
      .agg(min(struct((-col("score_micro")).as("neg"), col("label"))).as("best"))
      .select(col(idCol) +: carry.map(col) :+
        col("best.label").as("pred_label"): _*)
  }

  // ------------------------------------------------------- perceptron

  /** Distributed batch PERCEPTRON — the discriminative companion of
    * [[nbTrain]], trained end-to-end in EXACT integer arithmetic (no
    * learning-rate float, no sigmoid, no ln): labels are y ∈ {+1, −1};
    * iteration t scores every doc (`s_d = Σ_b n_db·w_b + w₀`), takes
    * the misclassified set `M = {d : y_d·s_d ≤ 0}` (a tie is a mistake,
    * so the all-zero start updates on every doc — iteration 1 IS the
    * class-difference count vector), and applies the batch update
    * `w_b += Σ_{d∈M} y_d·n_db`, `w₀ += Σ_{d∈M} y_d`. Every quantity is
    * an integer sum of integer counts — bit-identical in any engine —
    * which is what lets the oracle replay TRAINING, not just scoring.
    *
    * Scale shape: the hashed count table is built once, repartitioned
    * by doc_id and persisted; the per-doc score aggregate and the
    * misclassified-set equi-join both reuse that single partitioning
    * (hash on doc_id satisfies both clusterings), so one iteration
    * moves only the ≤buckets-row weight table — broadcast out,
    * aggregated back with map-side combine. `iters` is a fixed budget,
    * not a convergence loop: the batch perceptron on non-separable
    * data oscillates, so pipelines run N passes and take the result —
    * the fixed-pass shape kmeans established. Training domain = docs
    * with ≥ 1 hashed token (the featurizer's length-≥-2 filter).
    *
    * Returns (weights, bias): `weights` is (bucket, w) with ≤ buckets
    * rows, `bias` a single row (b) — both model-sized local relations
    * (training runs eagerly, one model-sized collect per pass).
    */
  def perceptronTrain(train: DataFrame, yCol: String, textCol: String,
      salt: String, buckets: Int, iters: Int,
      averaged: Boolean = false): (DataFrame, DataFrame) = {
    val spark = train.sparkSession
    import spark.implicits._
    val counts = tokenBucketCounts(
        train.select(col("doc_id"), col(yCol).as("y"), col(textCol).as("text")),
        "doc_id", "text", salt, buckets, carry = Seq("y"))
      .repartition(col("doc_id"))
      .persist()
    val (fw, fb) = trainLoop(counts, iters, averaged)
    counts.unpersist()
    (fw.toSeq.sortBy(_._1).toDF("bucket", "w"), Seq(fb).toDF("b"))
  }

  /** The batch-perceptron pass loop over a persisted count table with
    * columns (doc_id, y, bucket, n). The model rides the driver between
    * passes (the kmeans/MLlib pattern — a ≤buckets-row collect per
    * iteration): keeping the weights as chained DataFrames instead
    * would re-evaluate iteration i's subtree 2× per LATER iteration
    * (scores + update both read it), compounding exponentially in
    * `iters`. Collected weights are exact integers, so nothing about
    * determinism changes.
    *
    * `averaged` returns the SUM of the post-pass weight vectors
    * (Collins 2002's averaged perceptron scaled by iters — an integer
    * scale factor leaves every sign, margin ordering and tie exactly
    * where the true average puts them, and keeps the model integral).
    */
  private def trainLoop(counts: DataFrame, iters: Int,
      averaged: Boolean): (Map[Long, Long], Long) = {
    val snaps = trainSnapshots(counts, iters)
    if (snaps.isEmpty) (Map.empty, 0L)
    else if (averaged) (sumW(snaps.map(_._2)), snaps.map(_._3).sum)
    else (snaps.last._2, snaps.last._3)
  }

  /** Key-wise sum of weight maps (the Collins average at integer
    * scale — identical to the running wSum the loop used to keep).
    */
  private def sumW(ws: Seq[Map[Long, Long]]): Map[Long, Long] =
    ws.foldLeft(Map.empty[Long, Long]) { (acc, w) =>
      (acc.keySet ++ w.keySet).map(k =>
        k -> (acc.getOrElse(k, 0L) + w.getOrElse(k, 0L))).toMap
    }

  /** Per-pass snapshots of the batch-perceptron state: (pass, w, b)
    * after each pass 1..iters. Pass p's entry is bit-identical to what
    * `trainLoop(counts, p, averaged = false)` returns, because the
    * batch update never looks ahead — which is what lets N queries that
    * train the same model at different budgets share ONE training run
    * (see [[perceptronTrainTrajectory]]).
    */
  private def trainSnapshots(counts: DataFrame,
      iters: Int): Seq[(Int, Map[Long, Long], Long)] = {
    val spark = counts.sparkSession
    import spark.implicits._
    var w = Map.empty[Long, Long]
    var b = 0L
    val snaps = scala.collection.mutable.ArrayBuffer.empty[(Int, Map[Long, Long], Long)]
    for (i <- 1 to iters) {
      val wDf = broadcast(w.toSeq.toDF("bucket", "w"))
      // The misclassified set feeds TWO readouts (the per-bucket
      // gradient join and the bias sum): one |mis|-row checkpoint keeps
      // the score pass (scan + model join + doc aggregate) to a single
      // evaluation per training pass instead of two, scoped to the pass
      // that collects both gradients.
      val gs = Checkpoints.scoped { s =>
        val mis = s.checkpoint(counts.join(wDf, Seq("bucket"), "left")
          .groupBy(col("doc_id"), col("y"))
          .agg(sum(col("n") * coalesce(col("w"), lit(0L))).as("sw"))
          .filter(col("y") * (col("sw") + lit(b)) <= 0)
          .select(col("doc_id"), col("y")))
        // one collect for both gradients: the bias rides the per-bucket
        // table as a bucket = −1 row (buckets are non-negative)
        counts.join(mis.select(col("doc_id")), Seq("doc_id"))
          .groupBy(col("bucket")).agg(sum(col("y") * col("n")).as("g"))
          .unionByName(mis.agg(coalesce(sum(col("y")), lit(0L)).as("g"))
            .select(lit(-1L).as("bucket"), col("g")))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      val grad = gs - (-1L)
      w = (w.keySet ++ grad.keySet).map(k =>
        k -> (w.getOrElse(k, 0L) + grad.getOrElse(k, 0L))).toMap
      b += gs(-1L)
      snaps += ((i, w, b))
    }
    snaps.toSeq
  }

  /** Full training trajectory over a PREBUILT count table (the
    * [[tokenBucketCounts]] output with at least (doc_id, y, bucket, n);
    * extra functionally-dependent carry columns are harmless to the
    * doc-keyed aggregates) as ONE local model frame: rows
    * (pass, bucket, w) for each pass 1..iters, the bias riding at
    * bucket = −1, plus the Collins-averaged model (key-wise sum of the
    * per-pass vectors) at pass 0. Each pass's rows are bit-identical to
    * [[perceptronTrain]] run with that iteration budget, and pass 0 to
    * `averaged = true` — so queries that train the same model at
    * different budgets (or averaged) can share ONE training run via a
    * caller-side memo instead of re-running the identical integer jobs.
    */
  def perceptronTrainTrajectoryOnCounts(counts: DataFrame,
      iters: Int): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    val snaps = trainSnapshots(counts, iters)
    val all = snaps :+ ((0, sumW(snaps.map(_._2)), snaps.map(_._3).sum))
    all.flatMap { case (p, w, b) =>
      w.toSeq.sortBy(_._1).map { case (bk, wv) => (p, bk, wv) } :+ ((p, -1L, b))
    }.toDF("pass", "bucket", "w")
  }

  /** [[perceptronTrain]] minus the featurize step: train over a
    * prebuilt (possibly filtered) count table — the 3-fold CV shape,
    * where one shared persisted table serves every fold's training and
    * scoring instead of three tokenize passes.
    */
  def perceptronTrainOnCounts(counts: DataFrame, iters: Int,
      averaged: Boolean = false): (DataFrame, DataFrame) = {
    val spark = counts.sparkSession
    import spark.implicits._
    val (fw, fb) = trainLoop(counts, iters, averaged)
    (fw.toSeq.sortBy(_._1).toDF("bucket", "w"), Seq(fb).toDF("b"))
  }

  /** [[perceptronScore]] minus the featurize step: identical rows when
    * the count table was built from the same docs, because grouping by
    * a SUPERSET of functionally-dependent carry columns cannot split a
    * (doc, bucket) group; `carryOut` projects the caller's contract.
    */
  def perceptronScoreOnCounts(counts: DataFrame, weights: DataFrame,
      bias: DataFrame, idCol: String, groupCarry: Seq[String],
      carryOut: Seq[String]): DataFrame =
    counts.join(broadcast(weights), Seq("bucket"), "left")
      .groupBy(col(idCol) +: groupCarry.map(col): _*)
      .agg(sum(col("n") * coalesce(col("w"), lit(0L))).as("sw"))
      .crossJoin(broadcast(bias))
      .select(col(idCol) +: carryOut.map(col) :+
        (col("sw") + col("b")).as("score") :+
        when(col("sw") + col("b") > 0, 1L).otherwise(-1L).as("pred"): _*)

  /** [[perceptronScoresOvr]] minus the featurize step (same superset-
    * carry argument as [[perceptronScoreOnCounts]]). */
  def perceptronScoresOvrOnCounts(counts: DataFrame, weights: DataFrame,
      biases: DataFrame, idCol: String, groupCarry: Seq[String],
      carryOut: Seq[String]): DataFrame = {
    val wts = weights.select(col("bucket"), col("label").as("_m_label"), col("w"))
    val bs = biases.select(col("label").as("_m_label"), col("b"))
    val matched = counts.join(broadcast(wts), Seq("bucket"))
      .groupBy(col(idCol), col("_m_label"))
      .agg(sum(col("n") * col("w")).as("sw"))
    val ids = counts.groupBy(col(idCol) +: groupCarry.map(col): _*)
      .agg(count(lit(1)).as("_nb")).drop("_nb")
    ids.crossJoin(broadcast(bs))
      .join(matched, Seq(idCol, "_m_label"), "left")
      .select(col(idCol) +: carryOut.map(col) :+ col("_m_label") :+
        (coalesce(col("sw"), lit(0L)) + col("b")).as("score"): _*)
  }

  /** ONE-VS-REST multi-class perceptron over the SAME persisted count
    * table: one binary [[trainLoop]] per label (y = +1 on the label,
    * −1 off it), so the expensive part — tokenize, hash, count,
    * doc_id-repartition, persist — is paid ONCE and every per-label
    * pass reuses the cached exchange; the only per-label traffic is the
    * ≤buckets-row model riding the driver. Labels are the distinct
    * values of `labelCol` (a label-count-sized collect), trained in
    * sorted order so the model tables are deterministic.
    *
    * Returns (weights, biases): `weights` is (label, bucket, w) with
    * ≤ labels·buckets rows, `biases` (label, b) — still model-sized,
    * still broadcastable at any corpus scale.
    */
  def perceptronTrainOvr(train: DataFrame, labelCol: String, textCol: String,
      salt: String, buckets: Int, iters: Int,
      averaged: Boolean = true): (DataFrame, DataFrame) = {
    val spark = train.sparkSession
    import spark.implicits._
    val counts = tokenBucketCounts(
        train.select(col("doc_id"), col(labelCol).as("label"), col(textCol).as("text")),
        "doc_id", "text", salt, buckets, carry = Seq("label"))
      .repartition(col("doc_id"))
      .persist()
    val r = perceptronTrainOvrOnCounts(counts, iters, averaged)
    counts.unpersist()
    r
  }

  /** [[perceptronTrainOvr]] minus the featurize step: the count table
    * must carry a `label` column (extra functionally-dependent carry
    * columns are harmless to the doc-keyed training aggregates).
    */
  def perceptronTrainOvrOnCounts(counts: DataFrame, iters: Int,
      averaged: Boolean = true): (DataFrame, DataFrame) = {
    val spark = counts.sparkSession
    import spark.implicits._
    val labels = counts.select(col("label")).distinct()
      .collect().map(_.getString(0)).sorted
    val models = labels.map { l =>
      val lc = counts.withColumn("y",
        when(col("label") === lit(l), 1L).otherwise(-1L))
      l -> trainLoop(lc, iters, averaged)
    }
    val weights = models.toSeq.flatMap { case (l, (w, _)) =>
      w.toSeq.sortBy(_._1).map { case (bk, wv) => (l, bk, wv) }
    }.toDF("label", "bucket", "w")
    val biases = models.toSeq.map { case (l, (_, b)) => (l, b) }
      .toDF("label", "b")
    (weights, biases)
  }

  /** Classify documents with a one-vs-rest perceptron model:
    * integer-exact argmax over labels of `Σ n·w_l + b_l`, ties broken
    * by label ascending (the nbPredict min-struct pattern — one hash
    * aggregate, no per-doc sort window). Model and biases broadcast;
    * labels with no matched bucket still score (left join + coalesce,
    * the bias carries them).
    */
  def perceptronPredictOvr(docs: DataFrame, weights: DataFrame,
      biases: DataFrame, idCol: String, textCol: String, salt: String,
      buckets: Int, carry: Seq[String] = Nil): DataFrame =
    perceptronScoresOvr(docs, weights, biases, idCol, textCol, salt, buckets,
        carry)
      .groupBy(col(idCol) +: carry.map(col): _*)
      .agg(min(struct((-col("score")).as("neg"), col("_m_label"))).as("best"))
      .select(col(idCol) +: carry.map(col) :+
        col("best._m_label").as("pred_label"): _*)

  /** The full per-(doc, label) score table behind
    * [[perceptronPredictOvr]] — one row per document per model label
    * with the exact-integer OvR score (`_m_label`, `score`). Exposed
    * for the calibration/noise audits (confident learning) that need
    * every class margin, not just the argmax; same broadcast-model
    * joins and cost as prediction.
    */
  def perceptronScoresOvr(docs: DataFrame, weights: DataFrame,
      biases: DataFrame, idCol: String, textCol: String, salt: String,
      buckets: Int, carry: Seq[String] = Nil): DataFrame = {
    // model columns renamed so a carry column named "label" (the usual
    // truth column) can never collide with the model's label key
    val wts = weights.select(col("bucket"), col("label").as("_m_label"), col("w"))
    val bs = biases.select(col("label").as("_m_label"), col("b"))
    val tb = tokenBucketCounts(docs, idCol, textCol, salt, buckets, carry)
    val matched = tb.join(broadcast(wts), Seq("bucket"))
      .groupBy(col(idCol), col("_m_label"))
      .agg(sum(col("n") * col("w")).as("sw"))
    val ids = tb.groupBy(col(idCol) +: carry.map(col): _*)
      .agg(count(lit(1)).as("_nb")).drop("_nb")
    ids.crossJoin(broadcast(bs))
      .join(matched, Seq(idCol, "_m_label"), "left")
      .select(col(idCol) +: carry.map(col) :+ col("_m_label") :+
        (coalesce(col("sw"), lit(0L)) + col("b")).as("score"): _*)
  }

  /** Score documents against a perceptron model: exact-integer
    * `s = Σ n·w + b`, `pred = +1 iff s > 0` (a zero score predicts −1,
    * matching the mistake-on-tie training rule). Weights and bias
    * broadcast; one doc-keyed aggregate.
    */
  def perceptronScore(docs: DataFrame, weights: DataFrame, bias: DataFrame,
      idCol: String, textCol: String, salt: String, buckets: Int,
      carry: Seq[String] = Nil): DataFrame =
    tokenBucketCounts(docs, idCol, textCol, salt, buckets, carry)
      .join(broadcast(weights), Seq("bucket"), "left")
      .groupBy(col(idCol) +: carry.map(col): _*)
      .agg(sum(col("n") * coalesce(col("w"), lit(0L))).as("sw"))
      .crossJoin(broadcast(bias))
      .select(col(idCol) +: carry.map(col) :+
        (col("sw") + col("b")).as("score") :+
        when(col("sw") + col("b") > 0, 1L).otherwise(-1L).as("pred"): _*)
}
