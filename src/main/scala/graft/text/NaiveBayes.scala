package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multinomial Naive Bayes text classifier — train AND apply as pure
  * dataframe plans (LLM-data-pipeline extension: the fastText-shaped
  * model-based filtering step — language ID / quality gating by a trained
  * classifier rather than hand rules — that sits in front of every modern
  * pretraining corpus; cf. CCNet and the DCLM/RedPajama quality filters).
  *
  * Training is ONE token-count aggregation over the train slice (plus a
  * doc-count aggregate over two pruned columns): per-class add-one-smoothed
  * term log-likelihoods over the train vocabulary. The fitted model is
  * MODEL-SIZED (|vocab| × |classes| rows — the plan-constant pattern used
  * by the IVF centroids and PQ codebooks) and broadcasts to the scoring
  * scan; applying it is postings × classes → map-side-combined per-(doc,
  * class) sum, then a rank-1 window that [[graft.plans.BoundedTopKStrategy]]
  * plans as a bounded-heap top-k (no sort). Nothing about the corpus ever
  * shuffles except 16-byte (doc_id, class, partial-sum) rows.
  *
  * Exactness: every log-probability is truncated to INTEGER micro-nats
  * (floor(ln(p) × 1e6)) BEFORE any per-document sum — the same
  * order-independence trick as [[TrainingPrep.unigramLogProb]] — so class
  * scores are exact integer arithmetic and the DuckDB oracle reproduces
  * them bit-for-bit, including the deterministic tie-break (highest score,
  * then lexicographically smallest class label).
  *
  * Held-out protocol: docs with `doc_id % holdoutMod == 0` are NEVER
  * trained on and are the ones scored — so the out-of-vocabulary path
  * (a held-out token absent from the train vocabulary contributes the
  * class's smoothed unseen mass ln(1/(tokens_c + V))) is exercised by the
  * oracle gate, not just by unit tests.
  */
object NaiveBayes {

  /** Default holdout modulus — doc_id % 5 == 0 (20%) is scored, the rest
    * trains. Shared with the oracle SQL in [[TextQueries]]. */
  val HoldoutMod = 5L

  private def trainSlice(documents: DataFrame, holdoutMod: Long) =
    documents.filter(col("doc_id") % holdoutMod =!= 0)

  /** Per-class token counts over the train slice: (label, term, term_n).
    * One explode + one hash aggregation; vocabulary-sized output. */
  private def termCounts(documents: DataFrame, labelCol: String,
      holdoutMod: Long): DataFrame =
    trainSlice(documents, holdoutMod)
      .select(col(labelCol).as("label"),
        explode(split(col("text"), " ")).as("term"))
      .groupBy("label", "term")
      .agg(count(lit(1)).as("term_n"))

  /** The fitted model: for EVERY (class, train-vocabulary term) pair, the
    * raw count and the add-one-smoothed log-likelihood in integer
    * micro-nats: lp = floor(ln((term_n + 1) / (tokens_c + V)) × 1e6).
    * The full grid (absent pairs at term_n = 0) is materialized because
    * the scoring join needs the smoothed value for seen-in-other-class
    * terms too — and the grid is |vocab| × |classes|, model-sized. */
  def model(documents: DataFrame, labelCol: String = "lang",
      holdoutMod: Long = HoldoutMod): DataFrame =
    modelFrom(termCounts(documents, labelCol, holdoutMod))

  private def modelFrom(tc: DataFrame): DataFrame = {
    // class totals and vocabulary both derive from the vocabulary-sized
    // aggregate — no second scan of the corpus text
    val classTokens = tc.groupBy("label").agg(sum("term_n").as("class_tokens"))
    val vocab = tc.select("term").distinct()
    val vn = vocab.agg(count(lit(1)).as("vn"))
    classTokens
      .crossJoin(broadcast(vocab))
      .join(tc, Seq("label", "term"), "left")
      .crossJoin(broadcast(vn))
      .select(col("label"), col("term"),
        coalesce(col("term_n"), lit(0L)).as("term_n"),
        floor(log((coalesce(col("term_n"), lit(0L)) + 1) /
          (col("class_tokens") + col("vn")).cast("double")) * 1e6)
          .cast("long").as("lp_micro"))
  }

  /** Per-class scoring constants: log-prior ln(docs_c / docs_total) and
    * the out-of-vocabulary log-likelihood ln(1 / (tokens_c + V)), both in
    * integer micro-nats. |classes| rows. */
  private def classConsts(documents: DataFrame, labelCol: String,
      holdoutMod: Long, tc: DataFrame): DataFrame = {
    val classTokens = tc.groupBy("label").agg(sum("term_n").as("class_tokens"))
    val vn = tc.select("term").distinct().agg(count(lit(1)).as("vn"))
    // doc counts scan only (doc_id, label) — parquet prunes to 2 columns
    val docCounts = trainSlice(documents, holdoutMod)
      .groupBy(col(labelCol).as("label")).agg(count(lit(1)).as("n_docs"))
    val total = docCounts.agg(sum("n_docs").as("n_total"))
    docCounts.join(classTokens, "label")
      .crossJoin(broadcast(vn)).crossJoin(broadcast(total))
      .select(col("label"),
        floor(log(col("n_docs") / col("n_total").cast("double")) * 1e6)
          .cast("long").as("prior_micro"),
        floor(log(lit(1) / (col("class_tokens") + col("vn")).cast("double"))
          * 1e6).cast("long").as("unseen_micro"))
  }

  /** Score every held-out document under every class and keep the argmax:
    * (doc_id, pred_label, score_micro, n_tokens). score = prior_c +
    * Σ_tokens lp(term | c), OOV tokens contributing the class's unseen
    * mass. The postings × classes expansion is bounded by the class count
    * (single digits here; at a 100 TB corpus with C classes the
    * intermediate is tokens × C BEFORE map-side combine collapses it to
    * docs × C — the standard cost of dense NB scoring; a pivoted
    * per-class-column variant avoids even that when the class list is
    * static). The rank-1 window is planned by BoundedTopKStrategy as a
    * bounded-heap partial top-k — no sort, shuffle carries ≤ docs × maps
    * rows. */
  def predict(documents: DataFrame, labelCol: String = "lang",
      holdoutMod: Long = HoldoutMod): DataFrame = {
    // ONE corpus token-count pass feeds both the likelihood grid and the
    // class constants (an unshared plan would scan + explode the train
    // text twice)
    val tc = termCounts(documents, labelCol, holdoutMod)
    val m = modelFrom(tc)
    val cls = classConsts(documents, labelCol, holdoutMod, tc)
    val postings = documents.filter(col("doc_id") % holdoutMod === 0)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val scored = postings
      .crossJoin(broadcast(cls))
      .join(broadcast(m.select("label", "term", "lp_micro")),
        Seq("term", "label"), "left")
      .groupBy("doc_id", "label", "prior_micro")
      .agg(sum(coalesce(col("lp_micro"), col("unseen_micro"))).as("sum_lp"),
        count(lit(1)).as("n_tokens"))
      .select(col("doc_id"), col("label"),
        (col("prior_micro") + col("sum_lp")).as("score_micro"),
        col("n_tokens"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_micro").desc, col("label").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("doc_id"), col("label").as("pred_label"),
        col("score_micro"), col("n_tokens"))
  }

  /** Confusion matrix of [[predict]] against the true labels on the
    * held-out slice: (true_label, pred_label, n). Classes-squared rows —
    * the accuracy evidence a user gates a trained filter on. */
  def confusion(documents: DataFrame, labelCol: String = "lang",
      holdoutMod: Long = HoldoutMod): DataFrame =
    predict(documents, labelCol, holdoutMod)
      .join(documents.select(col("doc_id"), col(labelCol).as("true_label")),
        "doc_id")
      .groupBy("true_label", "pred_label")
      .agg(count(lit(1)).as("n"))
}
