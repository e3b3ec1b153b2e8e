package perfbench

import org.apache.spark.ml.classification.{LinearSVC, NaiveBayes}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Graft
import graft.ml.Sentiment
import graft.operators.{Dedup, TextOps, TfIdf}
import graft.sources.{JsonlSink, ParquetSink}

/** Outcome of the output checks of one pass: each named check, and the
  * quality figures the pass reached (printed, not part of the metrics). */
final case class Verdict(checks: Seq[(String, Boolean)], figures: Seq[(String, Double)]) {
  def ok: Boolean = checks.forall(_._2)
}

/** One pipeline over one generated corpus. `pass` runs it end to end
  * through graft's public functions, with a span around each call into a
  * graft module; `check` compares the pass's outputs with values worked
  * out without the operator under test. */
trait Workload {
  type Out
  /** The generated corpus as (doc_id, text), for its printed properties. */
  def corpusDocs: DataFrame
  lazy val docs: Long = corpusDocs.count()
  /** Rows of the planted duplicates, for the corpus properties. */
  def plantedDup: Column
  def pass(t: Tracer): Out
  def check(out: Out): Verdict
}

object Workload {
  def apply(name: String, spark: SparkSession, corpus: String, work: String): Workload =
    name match {
      case "sentiment" => new SentimentWorkload(spark, corpus)
      case "curation" => new CurationWorkload(spark, corpus, work)
    }
}

/** The paper's pipeline over tweets, both of its halves: quoted CSV →
  * clean → TF-IDF (minDocFreq 5) → `id % 4` split → NaiveBayes and
  * LinearSVC → weighted metrics (the Spark NB/SVM programs), and graft's
  * TF-IDF table with its per-doc top 75% of features (the Modified_NB
  * chain), both forced through the noop sink. */
final class SentimentWorkload(spark: SparkSession, corpus: String) extends Workload {
  type Out = (Seq[(String, DataFrame, org.apache.spark.sql.Row)], Long, Long)
  private val MinDf = 5
  /** Halfway from a coin flip to what the planted words allow. */
  private val F1Floor = (0.5 + Corpus.PlantedAccuracy) / 2

  private def read(): DataFrame =
    spark.read.option("header", "true").option("quote", "\"").option("escape", "\"")
      .csv(corpus)
      .select(col("id").cast("long"), col("label").cast("double"), col("text"))

  def corpusDocs: DataFrame = read().withColumnRenamed("id", "doc_id")
  private lazy val testSize = docs / 4 // ids 0..docs-1 with id % 4 == 3
  def plantedDup: Column = pmod(col("doc_id"), lit(20)) === 19

  // Plain-SQL recounts of the TF-IDF outputs. Tweets are generated from
  // letter-only words plus noise words (@mention, URL, #tag, number), so
  // graft's tokens are the words that are letters once commas are dropped.
  private val (tfidfRows, top75Rows) = {
    corpusDocs.createOrReplaceTempView("perfbench_tweets")
    val r = spark.sql(
      s"""WITH dt AS (SELECT DISTINCT doc_id, t FROM perfbench_tweets LATERAL VIEW
         |              explode(split(lower(replace(text, ',', ' ')), ' ')) x AS t
         |            WHERE t RLIKE '^[a-z]+$$'),
         |     df AS (SELECT t, count(*) AS df FROM dt GROUP BY t),
         |     per AS (SELECT doc_id, count(*) AS n FROM dt GROUP BY doc_id)
         |SELECT (SELECT count(*) FROM dt JOIN df USING (t) WHERE df >= $MinDf),
         |       (SELECT sum(CAST(ceil(n * 0.75) AS BIGINT)) FROM per)""".stripMargin).head()
    (r.getLong(0), r.getLong(1))
  }

  private def noop(df: DataFrame): Long = {
    val (observed, obs) = Graft.observed(df, "n" -> count(lit(1)))
    observed.write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  def pass(t: Tracer): Out = {
    val raw = t.frame("sources.read_csv")(read())
    val tweets = raw.select(col("id").as("doc_id"), col("text"))
    val nTfidf = t.run("operators.TfIdf.tfidf")(TfIdf.tfidf(tweets, MinDf))(noop)
    val nTop75 = t.run("operators.TfIdf.top75")(TfIdf.featureSelectTop(tweets))(noop)
    val preds = Seq("nb", "svm").map { k =>
      val p =
        if (!t.traced) {
          if (k == "nb") Sentiment.nbPredictions(raw, MinDf) else Sentiment.svmPredictions(raw, MinDf)
        } else {
          // nbPredictions / svmPredictions, one call at a time
          val feats = t.frame("ml.Sentiment.featurize")(
            Sentiment.featurizer(minDocFreq = MinDf).fit(raw).transform(raw))
          val clf =
            if (k == "nb") new NaiveBayes().setFeaturesCol("features")
            else new LinearSVC().setMaxIter(10).setRegParam(0.1)
          var out: DataFrame = null
          t.run(s"ml.Sentiment.fit_$k") { out = Sentiment.fitPredictFeaturized(feats, clf); out }(_.count())
          out
        }
      k -> p
    }
    var metrics: Seq[org.apache.spark.sql.Row] = Nil
    t.run("ml.Sentiment.eval")(preds.map { case (_, p) => Sentiment.evalMetrics(p) }) { ms =>
      metrics = ms.map(_.head())
      ms.size.toLong
    }
    (preds.zip(metrics).map { case ((k, p), m) => (k, p, m) }, nTfidf, nTop75)
  }

  def check(out: Out): Verdict = {
    val (models, nTfidf, nTop75) = out
    val per = models.map { case (k, preds, m) =>
      val cm = preds.groupBy("label", "prediction").count().collect()
        .map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
      val total = cm.map(_._3).sum
      // weighted F1 from the confusion counts, apart from evalMetrics
      val f1 = cm.map(_._1).distinct.map { c =>
        val support = cm.filter(_._1 == c).map(_._3).sum.toDouble
        val tp = cm.filter(r => r._1 == c && r._2 == c).map(_._3).sum.toDouble
        val predicted = cm.filter(_._2 == c).map(_._3).sum.toDouble
        val (p, r) = (if (predicted > 0) tp / predicted else 0.0, tp / support)
        (if (p + r > 0) 2 * p * r / (p + r) else 0.0) * support / total
      }.sum
      val reported = m.getAs[Double]("weighted_f1")
      (Seq(s"${k}_test_rows" -> (preds.count() == testSize),
        s"${k}_confusion_total" -> (total == testSize),
        s"${k}_f1_matches_confusion" -> (math.abs(f1 - reported) < 1e-5),
        s"${k}_f1_above_floor" -> (reported >= F1Floor)),
        Seq(s"${k}_weighted_f1" -> reported))
    }
    Verdict(per.flatMap(_._1) ++ Seq(
        "tfidf_rows_eq_sql_recount" -> (nTfidf == tfidfRows),
        "top75_rows_eq_sql_recount" -> (nTop75 == top75Rows)),
      per.flatMap(_._2))
  }
}

/** The training-data curation chain: parquet → Gopher + quality filter →
  * exact dedup → MinHash LSH near-dup removal → decontamination →
  * token-budget selection → sharded JSONL with a manifest. */
final class CurationWorkload(spark: SparkSession, corpus: String, work: String) extends Workload {
  type Out = (Long, Array[org.apache.spark.sql.Row], String)
  private val Schema =
    "doc_id BIGINT, quality DOUBLE, n_tokens BIGINT, sel_rank BIGINT, cum_tokens BIGINT, text STRING"
  private val spec = Corpus.Specs("curation")
  private val budget = spec.docs.toLong * spec.tokensPerDoc * 2 / 5
  private val RecallFloor = 0.75

  def corpusDocs: DataFrame = ParquetSink.read(spark, corpus)
  def plantedDup: Column = pmod(col("doc_id"), lit(20)).isin(9, 19)

  private def without(df: DataFrame, ids: DataFrame): DataFrame =
    df.join(ids, Seq("doc_id"), "left_anti")

  def pass(t: Tracer): Out = {
    val raw = t.frame("sources.read_parquet")(ParquetSink.read(spark, corpus))
    // Each stage reads its input twice (operator + anti-join), so a fully
    // lazy chain re-expands every earlier stage at each step; the stages
    // are materialized instead, as a multi-stage curation job would be.
    val kept = t.stage("operators.TextOps.quality") {
      val gopher = TextOps.gopherFilter(raw).where(col("kept")).select("doc_id")
      val quality = TextOps.qualityScore(raw).where(col("quality") >= 0.5).select("doc_id")
      raw.join(gopher, "doc_id").join(quality, "doc_id")
    }
    val unique = t.stage("operators.Dedup.exact")(
      kept.join(Dedup.exact(kept).select(col("keeper_id").as("doc_id")), "doc_id"))
    val distinct = t.stage("operators.Dedup.lsh")(
      without(unique, Dedup.minhashLshPairs(unique).select(col("b_id").as("doc_id"))))
    val clean = t.stage("operators.TextOps.decontam")(
      without(distinct, TextOps.contamination(distinct).select("doc_id")))
    val selected = t.stage("operators.TextOps.budget")(
      TextOps.tokenBudgetSelect(clean, budget).join(clean, "doc_id"))
    val dir = s"$work/export"
    var manifest: Array[org.apache.spark.sql.Row] = Array.empty
    var n = 0L
    t.run("sources.jsonl")(Graft.observed(selected, "n" -> count(lit(1)))) { case (df, obs) =>
      JsonlSink.writeSharded(df, dir, "doc_id")
      n = obs.get("n").asInstanceOf[Long]
      manifest = JsonlSink.manifest(JsonlSink.read(spark, dir, Schema), "doc_id").collect()
      manifest.map(_.getAs[Long]("n_rows")).sum
    }
    (n, manifest, dir)
  }

  def check(out: Out): Verdict = {
    val (selected, manifest, dir) = out
    val exported = JsonlSink.read(spark, dir, Schema)
    val ids = exported.select("doc_id").collect().map(_.getLong(0)).toSet
    def recall(mod: Int): (Int, Int) = {
      val pairs = ids.filter(i => Math.floorMod(i + 1, 20L) == mod)
      (pairs.count(i => !ids(i + 1)), pairs.size)
    }
    val (exactRemoved, exactPlanted) = recall(19)
    val (nearRemoved, nearPlanted) = recall(9)
    val nearDupRecall = (exactRemoved + nearRemoved).toDouble / (exactPlanted + nearPlanted)
    // 4-grams shared with a benchmark doc (doc_id % 50 == 0), by plain
    // whitespace split rather than TextOps.contamination
    def grams(df: DataFrame) = df.select(col("doc_id"),
      explode(expr("transform(sequence(1, size(t) - 3), i -> concat_ws(' ', slice(t, i, 4)))")).as("g"))
    val toks = (df: DataFrame) => df.select(col("doc_id"), split(lower(col("text")), "\\s+").as("t"))
      .where(size(col("t")) >= 4)
    val bench = grams(toks(ParquetSink.read(spark, corpus).where(pmod(col("doc_id"), lit(50)) === 0)))
      .select("g").distinct()
    val leaked = grams(toks(exported.where(pmod(col("doc_id"), lit(50)) =!= 0)))
      .join(bench, "g").select("doc_id").distinct().count()
    Verdict(Seq(
      "no_exact_clone_exported" -> !ids.exists(i => Math.floorMod(i, 20L) == 19),
      "no_planted_contamination_exported" -> !ids.exists(i => Math.floorMod(i, 100L) == 25),
      "no_exported_doc_shares_benchmark_4gram" -> (leaked == 0),
      "manifest_rows_eq_read_back" -> (manifest.map(_.getAs[Long]("n_rows")).sum == ids.size),
      "read_back_eq_selected" -> (ids.size == selected),
      "exported_within_budget" -> (exported.agg(sum("n_tokens")).head().getLong(0) <= budget),
      "near_dup_recall_above_floor" -> (nearDupRecall >= RecallFloor && exactPlanted > 0)),
      Seq("near_dup_recall" -> nearDupRecall, "exported_docs" -> ids.size.toDouble))
  }
}
