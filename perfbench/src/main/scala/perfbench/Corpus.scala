package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded corpora for the two workloads.
  *
  * Token ranks come from graft's own Zipf draw, [[graft.bench.ZipfCheck.zipfDocs]]
  * (inverse-CDF `V^u` over an md5 uniform, deterministic per doc id). The
  * seed selects which block of that doc-id stream a corpus is cut from, and
  * it also keys every hash the decorations below draw from, so the same seed
  * gives the same files and another seed gives other ones.
  *
  * Planted structure is a function of `doc_id` alone, so the output checks
  * know it without running any graft operator:
  *  - sentiment: `label` = hash parity; three class words per tweet, each from
  *    the tweet's own class with probability 0.8; `id % 20 == 19` repeats the
  *    words of its predecessor (zipfDocs' clone, here a retweet);
  *  - curation: `doc_id % 20 == 19` is an exact clone of its predecessor
  *    (zipfDocs makes the copy; here it is upper-cased and re-spaced),
  *    `% 20 == 9` is its predecessor with one token replaced,
  *    `% 20 == 13` is cut to 4 tokens (fails the Gopher length rule),
  *    `% 100 == 25` carries an 8-token span of doc `id - 25`, a benchmark doc
  *    of `TextOps.contamination` (`doc_id % 50 == 0`).
  */
object Corpus {

  /** Distinct corpora: seeds are taken modulo this many doc-id blocks. */
  val Blocks = 64

  private val Stopwords = Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Share of tweets the Bayes-optimal classifier gets right from the three
    * planted class words: a majority of them is own-class. */
  val PlantedAccuracy: Double = math.pow(0.8, 3) + 3 * math.pow(0.8, 2) * 0.2

  case class Spec(docs: Int, vocab: Int, tokensPerDoc: Int)

  // Sizes keep one run (a fresh JVM: start, generation, a warm pass and
  // three measured passes) near a minute, which is what the benchmark's
  // run count allows. At this size per-job overhead and JIT warm-up are
  // still a large part of a pass.

  val Specs: Map[String, Spec] = Map(
    "sentiment" -> Spec(4000, 100000, 16),
    "curation" -> Spec(600, 100000, 120))

  private def offset(seed: Long, s: Spec): Long =
    java.lang.Math.floorMod(seed, Blocks.toLong) * s.docs

  /** `n` zipfDocs rows from the seed's block of doc ids, rebased to 0..n-1. */
  private def zipfBlock(spark: SparkSession, seed: Long, s: Spec): DataFrame = {
    val off = offset(seed, s)
    graft.bench.ZipfCheck.zipfDocs(spark, (off + s.docs).toInt, s.vocab, s.tokensPerDoc)
      .where(col("doc_id") >= off)
      .select((col("doc_id") - off).as("doc_id"), col("text"))
  }

  private val Letters = "translate(CAST(%s AS STRING), '0123456789', 'abcdefghij')"

  /** Tweets: (id, label, text) with planted class words and @mention, URL,
    * #tag, digit and embedded-comma noise. */
  def sentiment(spark: SparkSession, seed: Long): DataFrame = {
    val s = Specs("sentiment")
    def h(parts: String*) = s"xxhash64(${seed}L, doc_id, ${parts.mkString(", ")})"
    def classWord(j: Int) =
      s"""concat(CASE WHEN (pmod(${h(s"$j", "1")}, 10) < 8) = (label = 1)
         |  THEN 'zpos' ELSE 'zneg' END, ${Letters.format(s"pmod(${h(s"$j", "2")}, 40)")})""".stripMargin
    zipfBlock(spark, seed, s)
      .withColumn("label", expr(s"CAST(pmod(${h("0")}, 2) AS INT)"))
      .withColumn("noise", expr(s"pmod(${h("3")}, 10)"))
      .select(col("doc_id").as("id"), col("label"), expr(
        s"""concat_ws(' ',
           |  CASE noise WHEN 0 THEN concat('@user', pmod(${h("4")}, 9999))
           |             WHEN 1 THEN concat('http://t.co/', substr(md5(CAST(doc_id AS STRING)), 1, 8))
           |             WHEN 2 THEN concat('#', ${Letters.format(s"pmod(${h("5")}, 999)")}) END,
           |  text, ${classWord(0)}, ${classWord(1)}, ${classWord(2)},
           |  CASE noise WHEN 3 THEN CAST(pmod(${h("6")}, 2030) AS STRING)
           |             WHEN 4 THEN ', so, yeah' END)""".stripMargin).as("text"))
  }

  /** Web docs: (doc_id, text) with 15% stopwords and the planted clones,
    * short docs and contamination listed above. */
  def curation(spark: SparkSession, seed: Long): DataFrame = {
    val s = Specs("curation")
    val stop = Stopwords.map(w => s"'$w'").mkString("array(", ", ", ")")
    // clones hash by their source id, so they get the same stopwords
    val withStop = zipfBlock(spark, seed, s).select(col("doc_id"), expr(
      s"""transform(split(text, ' '), (t, i) ->
         |  CASE WHEN pmod(xxhash64(${seed}L, src, i), 100) < 15
         |  THEN element_at($stop, CAST(1 + pmod(xxhash64(${seed}L, src, i, 1), 10) AS INT))
         |  ELSE t END)""".stripMargin.replace("src",
        "(doc_id - CASE WHEN pmod(doc_id, 20) = 19 THEN 1 ELSE 0 END)")).as("toks"))
    val ref = withStop.select(col("doc_id").as("ref_id"), col("toks").as("ref_toks"))
    withStop
      .withColumn("ref_id", expr(
        "CASE WHEN pmod(doc_id, 20) = 9 THEN doc_id - 1 WHEN pmod(doc_id, 100) = 25 THEN doc_id - 25 END"))
      .join(ref, Seq("ref_id"), "left")
      .select(col("doc_id"), expr(
        s"""CASE WHEN pmod(doc_id, 20) = 9 THEN transform(ref_toks, (t, i) ->
           |       CASE WHEN i = pmod(xxhash64(${seed}L, doc_id), size(ref_toks))
           |       THEN concat('zz', ${Letters.format("doc_id")}) ELSE t END)
           |     WHEN pmod(doc_id, 100) = 25
           |       THEN concat(slice(toks, 1, 50), slice(ref_toks, 11, 8), slice(toks, 51, 1000))
           |     WHEN pmod(doc_id, 20) = 13 THEN slice(toks, 1, 4)
           |     ELSE toks END""".stripMargin).as("toks"))
      .select(col("doc_id"), expr(
        """CASE WHEN pmod(doc_id, 20) = 19 THEN upper(concat_ws('  ', toks))
          |     ELSE concat_ws(' ', toks) END""".stripMargin).as("text"))
  }

  /** Writes the workload's corpus under `dir`: quoted CSV for sentiment,
    * parquet otherwise. */
  def write(spark: SparkSession, workload: String, seed: Long, dir: String): Unit = {
    val parts = spark.sparkContext.defaultParallelism
    val df = workload match {
      case "sentiment" => sentiment(spark, seed)
      case "curation" => curation(spark, seed)
    }
    // zipfDocs' range splits its ids evenly over its partitions; size them
    // so the seed's block spreads over several tasks, not the last one only
    val s = Specs(workload)
    val rangeParts = (offset(seed, s) + s.docs) / math.max(1, s.docs / parts) + 1
    spark.conf.set("spark.sql.leafNodeDefaultParallelism", rangeParts.toString)
    try {
      val w = df.repartition(parts).write.mode("overwrite")
      if (workload == "sentiment")
        w.option("header", "true").option("quote", "\"").option("escape", "\"").csv(dir)
      else w.parquet(dir)
    } finally spark.conf.unset("spark.sql.leafNodeDefaultParallelism")
  }

  /** Measured properties of a written corpus: docs, tokens, distinct
    * tokens, top-10 token share and planted-duplicate share. Tokens here
    * are the whitespace split of the lower-cased text, so they are counted
    * without graft's tokenizer. */
  def properties(docs: DataFrame, plantedDup: org.apache.spark.sql.Column)
      : Seq[(String, Double)] = {
    val counts = docs.select(explode(split(lower(col("text")), " +")).as("t"))
      .where(col("t") =!= "").groupBy("t").count()
    val Seq(total, distinct) = counts.agg(sum("count"), count(lit(1))).head().toSeq
      .map(_.asInstanceOf[Number].doubleValue)
    val top10 = counts.orderBy(col("count").desc, col("t")).limit(10)
      .agg(sum("count")).head().getLong(0)
    val Seq(n, dups) = docs.agg(count(lit(1)), sum(plantedDup.cast("long"))).head().toSeq
      .map(_.asInstanceOf[Number].doubleValue)
    Seq("docs" -> n, "tokens" -> total, "distinct_tokens" -> distinct,
      "top10_token_share" -> top10 / total, "planted_dup_share" -> dups / n)
  }
}
