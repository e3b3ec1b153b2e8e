package graft

import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._

/** Plan-shape regression guards: pins the structural properties that make
  * key queries scale — shuffle counts, broadcast usage, pushdown — so a
  * future refactor that silently degrades a plan (extra exchange, lost
  * broadcast, lost pushdown) fails a test instead of a benchmark round.
  * Counts are upper bounds read off the CURRENT plans at sf0.001.
  */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def plan(key: String): String = {
    val df = SparkEntry.queries(key)(spark, sf)
    df.queryExecution.executedPlan.toString
  }

  private def exchanges(p: String): Int =
    "Exchange hashpartitioning".r.findAllIn(p).size +
      "Exchange rangepartitioning".r.findAllIn(p).size

  test("narrow per-row queries plan ZERO shuffles") {
    // clean_text/token_stats/quality_score are pure projections — any
    // exchange beyond the deliberate spread() repartition is a regression
    for (key <- Seq("clean_text", "token_stats", "quality_score", "mm_extract")) {
      val p = plan(key)
      val n = "Exchange".r.findAllIn(p).size
      assert(n <= 1, s"$key: expected only the spread() round-robin, got $n exchanges")
    }
  }

  test("dedup_exact is one hash-partitioned shuffle") {
    assert(exchanges(plan("dedup_exact")) <= 1)
  }

  test("orders_join broadcasts nation and shuffles at most once per side") {
    val p = plan("orders_join")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastHashJoin"),
      "nation must broadcast")
  }

  test("lineitem_agg pushes the shipdate filter into the parquet scan") {
    val p = plan("lineitem_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      p.linesIterator.filter(_.contains("PushedFilters")).mkString("\n"))
  }

  test("tpch_q3 pushes segment and date filters into all three scans") {
    val p = plan("tpch_q3")
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"), "segment filter must push")
    assert(p.contains("LessThan(o_orderdate"), "order-date filter must push")
    assert(p.contains("GreaterThan(l_shipdate"), "ship-date filter must push")
  }

  /** Formatted explain keeps per-scan detail that the deep-tree toString
    * truncates past its maxFields limit. */
  private def planFmt(key: String): String = {
    val df = SparkEntry.queries(key)(spark, sf)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("tpch_q7 pushes the shipdate range and broadcasts both nation maps") {
    val p = planFmt("tpch_q7")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "ship-date lower bound must push")
    assert(p.contains("LessThanOrEqual(l_shipdate"), "ship-date upper bound must push")
    assert("BroadcastExchange".r.findAllIn(p).size >= 2,
      "supplier->nation and customer->nation maps must broadcast")
  }

  test("tpch_q10 pushes returnflag + order-date filters into the scans") {
    val p = planFmt("tpch_q10")
    assert(p.contains("EqualTo(l_returnflag,R)"), "returnflag filter must push")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), "order-date filter must push")
  }

  test("tpch_q14 is broadcast-only: no shuffle join anywhere in the plan") {
    val p = planFmt("tpch_q14")
    assert(p.contains("BroadcastHashJoin"), "part must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "promo-share plan must not shuffle a join side")
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "month filter must push")
  }

  test("tpch_q4 plans the EXISTS as a semi join, not a blow-up join") {
    val p = plan("tpch_q4")
    assert(p.contains("LeftSemi"), "EXISTS must plan as left-semi")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), "quarter filter must push")
  }

  test("tpch_q16 broadcasts part and plans the exclusion as anti join") {
    val p = planFmt("tpch_q16")
    assert(p.contains("LeftAnti"), "bad-standing suppliers must leave via anti join")
    assert("BroadcastExchange".r.findAllIn(p).size >= 2,
      "part filter and supplier exclusion must both broadcast")
  }

  test("tpch_q9 broadcasts every dimension input; only fact frames shuffle") {
    val p = planFmt("tpch_q9")
    assert("BroadcastExchange".r.findAllIn(p).size >= 3,
      "part filter, nation-tagged suppliers, and the derived cost table must broadcast")
    assert(p.contains("EqualTo(p_type,STANDARD)"), "part-type filter must push")
  }

  test("tpch_q2 decorrelates the per-part min into a broadcast join") {
    val p = planFmt("tpch_q2")
    assert(p.contains("EqualTo(p_size,15)"), "part-size filter must push")
    assert("BroadcastExchange".r.findAllIn(p).size >= 3,
      "part filter, region suppliers, and per-part min must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("keyword_extract ranks through the TopKPerKey heap operator") {
    val p = plan("keyword_extract")
    assert(p.contains("TopKPerKey"),
      "per-doc pruning must run through the custom heap operator")
  }

  test("tokenize_ids broadcasts the vocabulary; the corpus join never shuffles") {
    val p = plan("tokenize_ids")
    assert(p.contains("BroadcastHashJoin"), "vocab must broadcast")
    assert(!p.contains("SortMergeJoin"),
      "corpus-side sort-merge join means the vocab broadcast was lost")
  }

  test("order_skyline reduces to the date frame before the global window") {
    val p = plan("order_skyline")
    assert(p.contains("BroadcastHashJoin"), "skyline dates must broadcast back")
    assert(exchanges(p) <= 2,
      s"per-date reduction + single-partition date window only:\n${p.take(400)}")
  }

  test("embed_pq broadcasts codebooks every round; the data never " +
    "sort-merge-joins") {
    val p = plan("embed_pq")
    assert("BroadcastExchange".r.findAllIn(p).size >= 2,
      "each Lloyd round's (m.k)-bounded codebook must broadcast")
    assert(!p.contains("SortMergeJoin"))
  }

  test("no query plans a CartesianProduct") {
    // plan_audit.py enforces this per round; the spec makes it per-commit.
    // Model-fitting queries execute during planning, so guard the cheap
    // declarative surface here (the audit still covers everything).
    val declarative = SparkEntry.queries.keys.filterNot(k =>
      k.startsWith("nb_") || k.startsWith("svm_") || k.startsWith("ann_ivf_kmeans")
        || k.startsWith("dedup_components") || k.startsWith("near_dedup"))
    for (key <- declarative) {
      val p = plan(key)
      assert(!p.contains("CartesianProduct"), s"$key plans a CartesianProduct")
    }
  }

  test("global rank queries have no data-sized single-partition window") {
    // userSpendRank/spendGini/rfmSegments rank frames that GROW with the
    // data (per-user, per-customer) — an unpartitioned Window there lands
    // every row on one task at scale. After the Ranks.withGlobalRowNumber
    // rewrite, the only permitted empty-partitionSpec Window is the
    // partition-offset fold over the numShufflePartitions-row counts
    // frame (output exactly {_pid, _cnt}: bounded by config, not data).
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // vocab-sized frames count as data-sized too: a web corpus carries
    // 10⁸+ distinct tokens, so neg_sampling_table / token_pagerank /
    // zipf_slope / token_coverage_curve all ride the two-pass machinery
    // (rounds 11–12 rewrites) — NO vocab whitelist remains
    for (key <- Seq("user_spend_rank", "spend_gini", "rfm_segments",
        "quality_by_length_decile", "rrf_fusion", "tpch_q11",
        "neg_sampling_table", "token_pagerank",
        "zipf_slope", "token_coverage_curve")) {
      val lp = SparkEntry.queries(key)(spark, sf).queryExecution.optimizedPlan
      val unpartitioned = lp.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      for (w <- unpartitioned) {
        val childCols = w.child.output.map(_.name).toSet
        assert(childCols.subsetOf(
            Set("_pid", "_cnt", "_off", "_psum", "_roff", "_coff")),
          s"$key has a data-sized unpartitioned window over $childCols")
      }
    }
  }

  test("attribution_linear pairs purchases to clicks through the binned " +
    "range join, not a bare user_id equi-join with a time residual") {
    // the raw shape is skew-quadratic: a bot key with 10⁶ clicks and 10⁶
    // purchases generates 10¹² candidates on one task; the (key, 24h-bin)
    // join bounds candidates to two adjacent bins per purchase
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val lp = SparkEntry.queries("attribution_linear")(spark, sf)
      .queryExecution.optimizedPlan
    val userJoins = lp.collect {
      case j: Join if j.condition.exists(_.references.exists(_.name == "user_id")) => j
    }
    assert(userJoins.nonEmpty, "expected a purchase-click join on user_id")
    for (j <- userJoins)
      assert(j.condition.get.references.exists(_.name == "_bin"),
        s"purchase-click join must include the 24h bin key:\n${j.condition.get}")
  }

  test("window_funnel chains both funnel steps through the binned range " +
    "join, never a bare user_id equi-join with a time residual") {
    // same skew-quadratic hazard as attribution_linear: a bot user's
    // views x clicks would all-pair on one key without the window bin
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val lp = SparkEntry.queries("window_funnel")(spark, sf)
      .queryExecution.optimizedPlan
    val userJoins = lp.collect {
      case j: Join if j.condition.exists(_.references.exists(_.name == "user_id")) => j
    }
    assert(userJoins.size >= 2, "expected two chained funnel joins on user_id")
    for (j <- userJoins)
      assert(j.condition.get.references.exists(_.name == "_bin"),
        s"funnel chain join must include the window bin key:\n${j.condition.get}")
  }

  test("interval_join equi-joins on the time bin, never a nested loop") {
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val lp = SparkEntry.queries("interval_join")(spark, sf)
      .queryExecution.optimizedPlan
    val joins = lp.collect { case j: Join => j }
    assert(joins.nonEmpty)
    for (j <- joins)
      assert(j.condition.get.references.exists(_.name == "_bin"),
        s"overlap join must carry the bin equi-key:\n${j.condition.get}")
    val p = plan("interval_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "binned overlap join must not plan a nested loop")
  }

  test("round-12 narrow curation queries stay shuffle-lean") {
    // url_domains / bpe_apply are pure projections after the spread()
    // round-robin; html_extract adds exactly the doc_id reassembly agg
    assert("Exchange".r.findAllIn(plan("url_domains")).size <= 1)
    assert("Exchange".r.findAllIn(plan("bpe_apply")).size <= 1)
    assert(exchanges(plan("html_extract")) <= 1)
  }

  test("round-13 pinned iterative chains collapse to checkpointed leaves") {
    // bigram_greedy_gen (r17): the ≤ steps+1-row chain is carried
    // driver-side (one literal-predicate probe job per step), so the
    // FINAL plan is a single LocalTableScan — zero broadcasts, zero
    // shuffles, no RDD leaves at all (the round-12 unpinned plan
    // carried Σk = 55 broadcast exchanges; the r13-r16 checkpointed
    // unroll still paid an eager checkpoint + broadcast per step).
    // token_bfs keeps the checkpointed-frontier shape: LogicalRDD
    // leaves, zero exchanges.
    for (key <- Seq("bigram_greedy_gen", "token_bfs")) {
      val p = plan(key)
      assert(!p.contains("BroadcastExchange"),
        s"$key: pinned chain must not replay broadcast probes\n${p.take(400)}")
      assert("Exchange".r.findAllIn(p).size === 0,
        s"$key: pinned chain must not replay shuffles")
    }
    assert(plan("bigram_greedy_gen").contains("LocalTableScan"),
      "bigram_greedy_gen: expected the driver-side chain's LocalTableScan")
    val bfs = plan("token_bfs")
    assert(bfs.contains("Scan ExistingRDD") || bfs.contains("LogicalRDD"),
      "token_bfs: expected checkpointed leaves")
    graft.CacheTracker.drainAll(spark)
  }

  test("nano-unit sums partial-aggregate: no collect_list fold in the " +
      "doc_embed_hash / topic_labels mass aggregates") {
    // the r14 exact-integer-sum rewrites exist to let map-side partial
    // aggregation collapse the exploded streams BEFORE the shuffle; a
    // collect_list (sorted-fold) reappearing in these plans would ship
    // every exploded value across it again
    val deh = plan("doc_embed_hash")
    assert("sum\\(".r.findFirstIn(deh).isDefined,
      s"doc_embed_hash: expected a declarative sum aggregate\n${deh.take(400)}")
    assert(!deh.contains("collect_list"),
      "doc_embed_hash: the exploded stream must never ride a collect_list fold")
    // topic_labels keeps ONE legitimate collect_list — the dims-bounded
    // (<= signDims elements) bucket-bit pivot — but the corpus-sized
    // token-mass aggregate must be the declarative nano-unit sum
    val tl = plan("topic_labels")
    assert("sum\\(tfn".r.findFirstIn(tl).isDefined,
      s"topic_labels: expected the nano-unit mass sum\n${tl.take(400)}")
    assert("collect_list".r.findAllIn(tl).size <= 2,
      "topic_labels: only the bounded bucket-bit pivot may collect")
    graft.CacheTracker.drainAll(spark)
  }

  test("round-14b additions keep their scale shapes") {
    // hilbert_key is a narrow projection: only the spread() round-robin
    val hk = plan("hilbert_key")
    assert("Exchange".r.findAllIn(hk).size <= 1,
      s"hilbert_key must stay a narrow projection\n${hk.take(400)}")
    // the sketch builds aggregate exploded tokens; no pair joins, no
    // windows — their cell/register frames are bounded, so any sort-merge
    // join appearing here would be a regression
    for (key <- Seq("countmin_err", "hll_det")) {
      val p = plan(key)
      assert(!p.contains("SortMergeJoin"),
        s"$key: bounded sketch frames must broadcast, not SMJ\n${p.take(400)}")
      assert(!p.contains("CartesianProduct"), s"$key: no cartesian")
    }
    // knn_label_vote rides annTopK's broadcast nested loop (query side
    // tiny) — the corpus must never shuffle for the scoring join
    val knn = plan("knn_label_vote")
    assert(knn.contains("BroadcastNestedLoopJoin"),
      s"knn_label_vote must broadcast the query side\n${knn.take(400)}")
    // gate_shapley is ONE corpus aggregate + a 3-row unpivot: the corpus
    // contributes exactly one exchange (plus the spread round-robin)
    val gs = plan("gate_shapley")
    assert(exchanges(gs) <= 1,
      s"gate_shapley must stay a single corpus aggregate\n${gs.take(400)}")
    graft.CacheTracker.drainAll(spark)
  }

  test("round-15 continuation operators keep their scale shapes") {
    // kruskal_wallis: the rank sweep is Ranks' two-pass machinery — no
    // unpartitioned data-sized window; everything after is value-bounded
    val kw = plan("kruskal_wallis")
    assert(!kw.contains("CartesianProduct"))
    // caliper_match: candidates only via the bucket hash join — no
    // cartesian between treated and control
    val cm = plan("caliper_match")
    assert(!cm.contains("CartesianProduct"),
      s"caliper_match must bucket-gate its candidates\n${cm.take(400)}")
    // pq_ann_recall: the LUT side must broadcast (queries x m x k rows),
    // keeping the corpus side free of float math
    val pq = plan("pq_ann_recall")
    assert(pq.contains("BroadcastExchange") || pq.contains("BroadcastHashJoin"),
      s"pq_ann_recall must broadcast the LUT\n${pq.take(400)}")
    // wminhash signatures are a narrow plan: banding is the FIRST
    // exchange the operator pays
    val ws = operators.Dedup.wminhashSigArr(
      spark.read.parquet(s"$sf/documents.parquet"), 16)
      .queryExecution.executedPlan.toString
    assert(!ws.contains("Exchange"),
      s"wminhash signature computation must stay shuffle-free\n${ws.take(400)}")
    graft.CacheTracker.drainAll(spark)
  }

  test("round-16 heap replans: neyman_allocation and balanced_sample") {
    // neyman_allocation: the corpus-sized md5 pre-rank must take the
    // literal-k bounded-heap path (no stratum is ever sorted whole on one
    // task); any per-lang Window left in the plan may rank only the heap's
    // budget-bounded output — i.e. must have a TopKPerKeyPlan beneath it
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val lp = SparkEntry.queries("neyman_allocation")(spark, sf)
      .queryExecution.optimizedPlan
    assert(lp.collectFirst { case t: graft.plans.TopKPerKeyPlan => t }.isDefined,
      "neyman's md5 pre-rank must replan as TopKPerKey")
    for (w <- lp.collect { case w: LWindow if w.partitionSpec.nonEmpty => w })
      assert(w.child.collectFirst {
          case t: graft.plans.TopKPerKeyPlan => t }.isDefined,
        s"data-sized partitioned window survived the heap replan:\n$w")
    // balanced_sample keeps `rn` observable, so it routes through the heap
    // operator explicitly (the domainCap discipline)
    assert(plan("balanced_sample").contains("TopKPerKey"),
      "balanced_sample must prune through the TopKPerKey heap")
    graft.CacheTracker.drainAll(spark)
  }

  test("join hints are honored: broadcast vs merge on the same join") {
    val a = spark.read.parquet(s"$sf/orders.parquet")
    val b = spark.read.parquet(s"$sf/customer.parquet")
    val broadcastPlan = a.join(b.hint("broadcast"), col("o_custkey") === col("c_custkey"))
      .queryExecution.executedPlan.toString
    assert(broadcastPlan.contains("BroadcastHashJoin"))
    val mergePlan = a.join(b.hint("merge"), col("o_custkey") === col("c_custkey"))
      .queryExecution.executedPlan.toString
    assert(mergePlan.contains("SortMergeJoin"),
      s"merge hint must force SMJ:\n${mergePlan.take(600)}")
    val shPlan = a.join(b.hint("shuffle_hash"), col("o_custkey") === col("c_custkey"))
      .queryExecution.executedPlan.toString
    assert(shPlan.contains("ShuffledHashJoin"),
      s"shuffle_hash hint must force SHJ:\n${shPlan.take(600)}")
  }

  test("tfidf's executed plan reuses an exchange and tokenizes once") {
    // the reuse only exists in the plan AQE finally ran, so read the
    // write's own plan, not df.queryExecution (isFinalPlan=false there)
    val p = ExplainExec.executedPlan(SparkEntry.queries("tfidf")(spark, sf))
    val aqe = new AdaptiveSparkPlanHelper {}
    val reused = aqe.collect(p) { case r: ReusedExchangeExec => r }
    val generates = aqe.collect(p) { case g: GenerateExec => g }
    assert(reused.nonEmpty, s"no ReusedExchange in the executed plan:\n$p")
    assert(generates.size == 1,
      s"${generates.size} tokenize Generates in the executed plan:\n$p")
  }
}
