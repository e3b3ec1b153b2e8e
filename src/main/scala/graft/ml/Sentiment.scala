package graft.ml

import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.{LinearSVC, NaiveBayes}
import org.apache.spark.ml.feature.{HashingTF, IDF, RegexTokenizer, SQLTransformer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Folds, TextOps}

/** The reference's classification surface, Spark-first (A12-A16).
  *
  * Reference shape (Spark/NB/src/main/scala/NB.scala:71-99 and
  * SVM.scala:84-97): Tokenizer → HashingTF → IDF → randomSplit(0.75/0.25,
  * seed) → NaiveBayes / LinearSVC(maxIter=10, regParam=0.1) →
  * MulticlassMetrics via an RDD round-trip.
  *
  * Differences, deliberately:
  *  - the split is `id % 4 < 3` — deterministic, partition-independent,
  *    and reproducible by the DuckDB oracle (randomSplit is neither
  *    partition-stable nor reproducible outside Spark);
  *  - cleaning is the shared [[TextOps.cleanText]] chain;
  *  - metrics stay DataFrames end-to-end (NB.scala:94's
  *    `.rdd.map(...)` round-trip is exactly what loses codegen).
  */
object Sentiment {

  /** Deterministic 75/25 split indicator (A12). */
  def splitCol(idCol: String) = when(pmod(col(idCol), lit(4)) < 3, "train").otherwise("test")

  /** Split summary: (split, n_rows) — oracle-checkable. */
  def trainTestSplit(docs: DataFrame): DataFrame =
    docs.groupBy(splitCol("doc_id").as("split")).agg(count(lit(1)).as("n_rows"))

  /** Featurize: clean → tokenize → HashingTF → IDF(minDocFreq), the
    * NB.scala:71-80 pipeline on a `label`/`text` frame. */
  def featurizer(numFeatures: Int = 1 << 16, minDocFreq: Int = 0): Pipeline = {
    val clean = new SQLTransformer().setStatement(
      "SELECT *, trim(regexp_replace(lower(regexp_replace(regexp_replace(regexp_replace(" +
        "regexp_replace(text, '(?i)(https?://\\\\S+|www\\\\.\\\\S+)', ''), " +
        "'[@#&]\\\\w+', ''), '\\\\d+', ''), '[^a-zA-Z ]', ' ')), '\\\\s+', ' ')) AS clean FROM __THIS__")
    val tok = new RegexTokenizer().setInputCol("clean").setOutputCol("words")
      .setPattern("\\s+")
    val tf = new HashingTF().setInputCol("words").setOutputCol("rawFeatures")
      .setNumFeatures(numFeatures)
    val idf = new IDF().setInputCol("rawFeatures").setOutputCol("features")
      .setMinDocFreq(minDocFreq)
    new Pipeline().setStages(Array(clean, tok, tf, idf))
  }

  /** Train NaiveBayes (NB.scala:86) on the train split, predict the test
    * split. Expects (id, text, label). */
  def nbPredictions(data: DataFrame, minDocFreq: Int = 0): DataFrame =
    fitPredict(data, new NaiveBayes().setFeaturesCol("features"), minDocFreq)

  /** Train LinearSVC(maxIter=10, regParam=0.1) (SVM.scala:89-91); label
    * must be binary. */
  def svmPredictions(data: DataFrame, minDocFreq: Int = 0): DataFrame =
    fitPredict(data, new LinearSVC().setMaxIter(10).setRegParam(0.1), minDocFreq)

  private def fitPredict(data: DataFrame,
                         clf: org.apache.spark.ml.Estimator[_ <: org.apache.spark.ml.Model[_]],
                         minDocFreq: Int): DataFrame =
    fitPredictFeaturized(
      featurizer(minDocFreq = minDocFreq).fit(data).transform(data), clf)

  /** Train on the `id % 4 < 3` split of an (id, features, label) frame,
    * predict the rest. Also the entry point for precomputed embeddings:
    * pass an array column through [[vectorize]] first. */
  def fitPredictFeaturized(feats: DataFrame,
                           clf: org.apache.spark.ml.Estimator[_ <: org.apache.spark.ml.Model[_]]): DataFrame = {
    // localCheckpoint: iterative estimators (LinearSVC does maxIter passes)
    // and the test-side transform must not re-run the featurize chain per
    // pass — and under a multi-hundred-query official pass MEMORY_AND_DISK
    // cache blocks were observed evicted+recomputed mid-fit (the r12-r14
    // svm_predictions 1.95→2.84 s drift); checkpointed partitions cannot be
    val withSplit = feats.withColumn("split", splitCol("id"))
      .localCheckpoint(true)
    val train = withSplit.filter(col("split") === "train")
    val test = withSplit.filter(col("split") === "test")
    val fitted = clf.fit(train).asInstanceOf[org.apache.spark.ml.Model[_]]
    // Transform serializes the MODEL into the task closure, and
    // HasTrainingSummary models (LinearSVCModel here) pin a training
    // summary holding a live SparkSession reference onto the instance.
    // A session whose lazy ObservationManager has been initialized (any
    // Dataset.observe use in the session's lifetime) is not
    // java-serializable, so transform() would throw Task not serializable
    // depending on which queries ran earlier in the JVM — an
    // order-dependent landmine in a multi-hundred-query pass. copy()
    // rebuilds the model from its learned params WITHOUT the summary
    // (verified against the Spark 4.1 bytecode), making the closure
    // session-free regardless of session history.
    val model = fitted.copy(org.apache.spark.ml.param.ParamMap.empty)
      .asInstanceOf[org.apache.spark.ml.Model[_]]
    // materialize the small prediction frame so the big featurized cache
    // can be released instead of pinning executor memory for the session;
    // the result cache itself is CacheTracker-scoped (harness releases it)
    val preds = graft.CacheTracker.track(
      model.transform(test).select(col("id"), col("label"), col("prediction"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    preds.count()
    // the featurized checkpoint blocks release at the harness query
    // boundary (CacheTracker.drainAll) — Dataset.unpersist is a no-op on
    // a localCheckpoint, which is exactly why preds above must still
    // materialize before this function returns
    preds
  }

  /** array<float|double> embedding column → ml Vector `features`. */
  def vectorize(data: DataFrame, arrayCol: String): DataFrame =
    data.withColumn("features",
      org.apache.spark.ml.functions.array_to_vector(col(arrayCol)))

  /** Confusion matrix as a plain aggregation (A15; NB.scala:96-97 without
    * the RDD round-trip). */
  def confusionMatrix(predictions: DataFrame): DataFrame =
    predictions.groupBy(col("label"), col("prediction")).agg(count(lit(1)).as("n"))

  /** Accuracy + weighted precision/recall/F1 from (label, prediction)
    * (A16; NB.scala:98-99), entirely as DataFrame aggregation.
    *
    * Shape: per-class support / predicted / tp come from ONE union +
    * groupBy over the confusion matrix (each cm row feeds its label's
    * support+tp and its prediction's predicted count) instead of a
    * five-way join fan-out — the earlier formulation planned 37 exchanges
    * of sub-kilobyte frames; this one plans 4. */
  def evalMetrics(predictions: DataFrame): DataFrame = {
    val cm = confusionMatrix(predictions).cache()
    val byLabel = cm.select(col("label").as("cls"), col("n"),
      when(col("label") === col("prediction"), col("n")).otherwise(lit(0L)).as("tpn"),
      lit(true).as("is_support"))
    val byPred = cm.select(col("prediction").as("cls"), col("n"),
      lit(0L).as("tpn"), lit(false).as("is_support"))
    val perClass = byLabel.unionByName(byPred)
      .groupBy("cls")
      .agg(
        sum(when(col("is_support"), col("n")).otherwise(lit(0L))).as("support"),
        sum(when(!col("is_support"), col("n")).otherwise(lit(0L))).as("predicted"),
        sum(col("tpn")).as("tp"))
      // classes that are predicted but never a true label carry no weight
      // (support 0) — excluded, matching the label-driven formulation
      .filter(col("support") > 0)
      .withColumn("precision",
        when(col("predicted") > 0, col("tp").cast("double") / col("predicted")).otherwise(0.0))
      .withColumn("recall",
        when(col("support") > 0, col("tp").cast("double") / col("support")).otherwise(0.0))
      .withColumn("f1",
        when(col("precision") + col("recall") > 0,
          lit(2.0) * col("precision") * col("recall") / (col("precision") + col("recall")))
          .otherwise(0.0))
    val tot = perClass.agg(sum("support").as("total"), sum("tp").as("correct"))
    // double sums are order-sensitive in the last bits and aggregation
    // order is nondeterministic — sort the handful of per-class terms and
    // fold sequentially so the result is bit-stable (the oracle does the
    // same with list_sort + list_reduce)
    val out = perClass
      .crossJoin(broadcast(tot))
      .select(col("total"), col("correct"),
        (col("f1") * col("support") / col("total")).as("wf1_part"),
        (col("precision") * col("support") / col("total")).as("wp_part"),
        (col("recall") * col("support") / col("total")).as("wr_part"))
      .agg(
        round(max(col("correct")).cast("double") / max(col("total")), 6).as("accuracy"),
        round(Folds.sortedSum(col("wp_part")), 6).as("weighted_precision"),
        round(Folds.sortedSum(col("wr_part")), 6).as("weighted_recall"),
        round(Folds.sortedSum(col("wf1_part")), 6).as("weighted_f1"))
      .select("accuracy", "weighted_precision", "weighted_recall", "weighted_f1")
    graft.CacheTracker.track(
      out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    out.count()
    cm.unpersist() // one-row result is cached; drop the confusion cache
    out
  }

  /** Positive/negative opinion words for [[lexiconScore]] — a fixed tiny
    * lexicon in the spirit of Hu & Liu's opinion word lists. Constant
    * and broadcast-free: the IN-list compiles into the row expression. */
  private val PosWords = Seq("good", "great", "love", "happy", "best",
    "awesome", "excellent", "nice", "amazing", "wonderful", "like", "win")
  private val NegWords = Seq("bad", "hate", "worst", "sad", "terrible",
    "awful", "horrible", "angry", "poor", "wrong", "lose", "fail")

  /** Lexicon sentiment score (B111) — the non-ML baseline of the
    * reference's task: per doc, counts of positive and negative lexicon
    * tokens and their normalized difference (n_pos − n_neg)/n_tokens.
    * The lexicon is a compile-time constant folded into the per-row
    * expression, so the operator is purely narrow: zero shuffles, zero
    * joins, codegen end-to-end — the shape that saturates scan
    * bandwidth at 100 TB. Empty docs score NULL (not NaN), matching
    * the oracle. */
  def lexiconScore(docs: DataFrame): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    def hits(words: Seq[String]) =
      size(filter(toks, t => t.isInCollection(words))).cast("long")
    docs.select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        hits(PosWords).as("n_pos"), hits(NegWords).as("n_neg"))
      .select(col("doc_id"), col("n_tokens"), col("n_pos"), col("n_neg"),
        round((col("n_pos") - col("n_neg")).cast("double")
          / nullif(col("n_tokens"), lit(0L)), 6).as("polarity"))
  }
}
