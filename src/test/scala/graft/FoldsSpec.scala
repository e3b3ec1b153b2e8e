package graft

import graft.operators.{Dedup, Folds, Similarity, TextOps}
import org.apache.spark.sql.functions._

/** Round-10 scale fixes: the two-level bit-stable fold (Folds.scala)
  * replacing the data-sized one-level collect_list buffers, and the
  * edit-distance length-gate prefilter. Each test pins value parity with
  * the shape it replaced. */
class FoldsSpec extends SparkSpec {
  import spark.implicits._

  private def randEmb(n: Int, dims: Int, seed: Int = 7) = {
    val rnd = new scala.util.Random(seed)
    (1L to n.toLong).map { i =>
      (i, Seq.fill(dims)(rnd.nextFloat() * 2 - 1), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
  }

  test("bucketedSums is the two-level sorted fold, bit for bit with its driver twin") {
    val rnd = new scala.util.Random(3)
    val rows = (0L until 5000L).map(i => (i % 3, i * 7919 % 100003, rnd.nextGaussian() * 1e3))
    val df = rows.toDF("g", "id", "x")
    val got = Folds.bucketedSums(df, Seq("g"), col("id"),
        "s" -> col("x"), "s2" -> col("x") * col("x"))
      .as[(Long, Long, Double, Double)].collect().sortBy(_._1).toSeq
    val want = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (g, rs) =>
      val subs = rs.groupBy(_._2 % Folds.DefaultBuckets).values.toSeq
      def twoLevel(f: Double => Double) =
        Folds.sortedSum(subs.map(sb => Folds.sortedSum(sb.map(r => f(r._3)))))
      (g, rs.size.toLong, twoLevel(identity), twoLevel(x => x * x))
    }
    assert(got === want)
    // no keys: one global row
    val global = Folds.bucketedSums(df, Nil, col("id"), "s" -> col("x"))
      .as[(Long, Double)].collect().toSeq
    assert(global.map(_._1) === Seq(5000L))
  }

  test("embedCentroids two-level fold matches the one-level sorted fold at 6 dp") {
    // 3000 vectors spread every vec_id%1024 sub-bucket across 2-3 values
    val emb = randEmb(3000, 4)
    val two = Similarity.embedCentroids(emb)
      .select("label", "dim", "n_vecs", "centroid")
      .as[(Int, Long, Long, Double)].collect().toSet
    val one = emb.select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("label"), (col("pos") + 1).cast("long").as("dim"),
        col("x").cast("double").as("x"))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n_vecs"),
        round(aggregate(sort_array(collect_list(col("x"))), lit(0.0),
          (a, b) => a + b) / count(lit(1)), 6).as("centroid"))
      .as[(Int, Long, Long, Double)].collect().toSet
    assert(two === one)
  }

  test("embedCovariance two-level fold matches the one-level values at 6 dp") {
    val emb = randEmb(2500, 8)
    val two = Similarity.embedCovariance(emb)
      .select("dim_i", "dim_j", "n_vecs", "cov")
      .as[(Long, Long, Long, Double)].collect().toSet
    def oneSum(c: org.apache.spark.sql.Column) =
      aggregate(sort_array(collect_list(c)), lit(0.0), (a, b) => a + b)
    val cells = for (i <- 1 to 8; j <- i to 8) yield
      struct(lit(i.toLong).as("dim_i"), lit(j.toLong).as("dim_j"),
        element_at(col("embedding"), i).cast("double").as("x"),
        element_at(col("embedding"), j).cast("double").as("y"))
    val one = emb.select(explode(array(cells: _*)).as("c"))
      .select(col("c.dim_i"), col("c.dim_j"), col("c.x"), col("c.y"))
      .groupBy("dim_i", "dim_j")
      .agg(count(lit(1)).as("n_vecs"),
        round(oneSum(col("x") * col("y")) / count(lit(1))
          - (oneSum(col("x")) / count(lit(1)))
          * (oneSum(col("y")) / count(lit(1))), 6).as("cov"))
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(two === one)
  }

  test("embedStandardize and qualityByLengthDecile are partitioning-independent") {
    val emb = randEmb(2000, 4)
    val a = Similarity.embedStandardize(emb.repartition(1))
      .as[(Long, Long, Double, Double)].collect().toSet
    val b = Similarity.embedStandardize(emb.repartition(13))
      .as[(Long, Long, Double, Double)].collect().toSet
    assert(a === b && a.nonEmpty)
    val rnd = new scala.util.Random(11)
    val docs = (1L to 2000L).map { i =>
      val words = Seq.fill(3 + rnd.nextInt(8))("w" + rnd.nextInt(50)).mkString(" ")
      (i, words, "en", "src" + (i % 4), words.length)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
    val qa = TextOps.qualityByLengthDecile(docs.repartition(1))
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    val qb = TextOps.qualityByLengthDecile(docs.repartition(13))
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(qa === qb && qa.size === 10)
  }

  test("editDistancePairs length-gate: output unchanged, gate evaluates before levenshtein") {
    // (1, 2): the GraphSpec near-dup construction — one token changed in
    // 50 → deterministic band collision, tiny Δlen, survives the gate.
    // (3, 4): IDENTICAL shingle set (a single repeated token yields one
    // distinct trigram no matter the repetition count), so the minhash
    // signatures are equal and the band join MUST propose the pair — a
    // 20x length difference only the gate stops; the ungated shape would
    // have paid a 39x799-cell levenshtein before discarding it on the
    // same bound (lev >= |Δlen|), so the output set is provably unchanged.
    val toks = for (a <- 'a' to 'h'; b <- 'a' to 'g') yield s"$a$b"
    val base = toks.take(50).mkString(" ")
    val variant = (toks.take(49) :+ "zz").mkString(" ")
    val d = Seq(
      (1L, base), (2L, variant),
      (3L, Seq.fill(10)("foo").mkString(" ")),
      (4L, Seq.fill(200)("foo").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Dedup.editDistancePairs(d)
    val rows = out.collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    // surviving pair's values agree with a direct levenshtein
    val cleaned = d.filter(col("doc_id") <= 2).orderBy("doc_id")
      .select(TextOps.cleanText(col("text")).as("c")).as[String].collect()
    val direct = spark.range(1)
      .select(levenshtein(lit(cleaned(0)), lit(cleaned(1))).cast("long"))
      .as[Long].head()
    val r = rows.head
    assert(r.getLong(2) === direct)
    assert(r.getLong(3) === math.max(cleaned(0).length, cleaned(1).length).toLong)
    assert(r.getDouble(4) === math.round(direct.toDouble / r.getLong(3) * 1e6) / 1e6)
    // plan shape: the length gate exists, and wherever CombineFilters
    // merged it with the pushed-down norm predicate, the gate's abs()
    // term sits LEFT of levenshtein — And short-circuits left-to-right,
    // so the distance is never computed for gate-rejected pairs
    // the gate may end up as a Filter node or pushed into a join's
    // non-equi condition — scan both
    val conds = out.queryExecution.optimizedPlan.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition.toString
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
        if j.condition.isDefined => j.condition.get.toString
    }
    val gates = conds.filter(_.contains("abs("))
    assert(gates.nonEmpty, s"length gate missing from: $conds")
    gates.foreach { c =>
      val li = c.indexOf("levenshtein")
      assert(li < 0 || c.indexOf("abs(") < li, s"gate not left of levenshtein: $c")
    }
  }

  test("nano-unit long sum equals the exact BigDecimal sum at 6 dp HALF_UP " +
      "(the docEmbedHash / topicLabels identity)") {
    // precondition of the rewrite: inputs are 6 dp-rounded doubles, so
    // x·1e9 is an exact integer hit exactly by one double multiply, and
    // group sums are multiples of 1000 nanos (the ±500 div is exact)
    val rnd = new scala.util.Random(42)
    val vals = Seq.fill(500)(BigDecimal(rnd.nextDouble() * 2000 - 1000)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) ++
      Seq(0.000001, -0.000001, 999999.999999, -999999.999999, 0.0)
    val data = vals.zipWithIndex.map { case (v, i) => (i % 7, v) }
    val df = data.toDF("g", "x")
    // per-value: the Spark-side nanos conversion is exactly the decimal
    val nanos = df.select(col("x"), round(col("x") * lit(1e9)).cast("long").as("n"))
      .collect()
    nanos.foreach { r =>
      val want = BigDecimal.valueOf(r.getDouble(0))
        .bigDecimal.movePointRight(9)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValueExact()
      assert(r.getLong(1) === want, s"nanos(${r.getDouble(0)})")
    }
    // per-group: the integer-space HALF_UP chain equals the exact sum
    val got = df.select(col("g"), round(col("x") * lit(1e9)).cast("long").as("n"))
      .groupBy("g")
      .agg((expr("(sum(n) + if(sum(n) >= 0, 500L, -500L)) div 1000")
        .cast("double") / lit(1e6)).as("v"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val want = data.groupBy(_._1).map { case (g, vs) =>
      g -> vs.map(v => BigDecimal.valueOf(v._2)).sum
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    assert(got === want)
  }
}
