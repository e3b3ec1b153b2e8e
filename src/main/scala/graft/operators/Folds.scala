package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._

/** The one definition of how graft sums doubles bit-stably, for both
  * engines: Spark ([[sortedSum]], [[bucketedSums]]) and the DuckDB oracle
  * ([[sortedSumSql]]).
  *
  * Double addition is not associative, so a plain `sum` over a shuffled
  * frame gives partitioning-dependent low bits. graft instead folds the
  * group's values in ascending SORTED order, which is order-independent
  * by construction:
  *
  *  - Spark:  `aggregate(sort_array(collect_list(x)), 0.0, (a, b) => a + b)`
  *  - DuckDB: `list_reduce(list_sort(list(x)), (a, b) -> a + b)`
  *
  * Both twins add the same terms in the same order, so the results agree
  * bit for bit on every group of non-NULL terms. They differ at the edges,
  * and callers must keep those edges out of compared output:
  *
  *  - NULLs. Spark's `collect_list` drops NULL terms; DuckDB's `list()`
  *    keeps them, and a NULL term then propagates through the fold, so
  *    the oracle's sum is NULL where Spark's is the sum of the rest.
  *  - Empty input. DuckDB's `list_reduce` raises on an empty list (and a
  *    global `list()` over zero rows is NULL, so the fold is NULL), while
  *    Spark returns the 0.0 seed. Checked with duckdb 1.0.0.
  *  - The seed. Spark starts from 0.0, DuckDB from the first term; they
  *    differ only in the sign of an all-`-0.0` sum.
  *
  * Any change of definition (an exact decimal sum, say) is an edit here:
  * every sorted sum in the engine and in `graft.Oracles` routes through
  * this object. Key-ordered folds (`list(x ORDER BY k)` in SQL, folds over
  * struct-sorted arrays in Spark) are a different definition and stay at
  * their call sites.
  *
  * [[sortedSum]] collects the whole group, so its aggregation buffer is
  * group-sized: fine when the group is bounded (per-doc tokens, per-vec
  * dims, a vocab key), an executor OOM when the group grows with the
  * corpus (per-dim over ALL vectors at 1B rows = gigabytes in one buffer).
  * For those, use the two-level [[bucketedSums]]: key each value to one of
  * [[DefaultBuckets]] sub-buckets by a deterministic row id
  * ([[subBucket]]), sorted-fold within the sub-bucket (buffer ≤ group/B
  * values), then sorted-fold the ≤B sub-totals (buffer ≤ B). State is
  * O(group/B + B) instead of O(group), and the value stays bit-stable at
  * any partitioning because both levels are order-independent folds of
  * deterministic multisets. It differs from the one-level fold only in
  * ulp-level association error; the oracle SQL mirrors the two-level
  * structure (`id % B AS sb`, fold per sb, fold the sub-totals), so the
  * oracle comparison stays exact.
  */
object Folds {

  /** Fold `c` over the group in sorted order: bit-stable under any
    * partitioning. Buffer is GROUP-SIZED — only for bounded groups. */
  def sortedSum(c: Column): Column =
    aggregate(sort_array(collect_list(c)), lit(0.0), (a, b) => a + b)

  /** [[sortedSum]] over a window frame instead of a group. */
  def sortedSum(c: Column, window: WindowSpec): Column =
    aggregate(sort_array(collect_list(c).over(window)), lit(0.0), (a, b) => a + b)

  /** Driver-side twin of [[sortedSum]] for values already collected. */
  def sortedSum(vs: Seq[Double]): Double = vs.sorted.foldLeft(0.0)(_ + _)

  /** The DuckDB twin of [[sortedSum]], as an SQL expression over `x`. */
  def sortedSumSql(x: String): String =
    s"list_reduce(list_sort(list($x)), (a, b) -> a + b)"

  /** Sub-bucket fan-out of the two-level fold. 1024 bounds the level-2
    * buffer at 8 KiB of doubles while dividing the level-1 buffer
    * 1024-fold; a deployment at 10^12-row groups would raise it toward
    * √group (10^6) — both levels stay in the kilobyte-to-megabyte range
    * instead of the one-level fold's gigabytes. */
  val DefaultBuckets = 1024

  /** Deterministic sub-bucket key `sb` from a non-negative row id. Plain
    * `%` (not pmod) so the oracle's `id % B` matches verbatim. */
  def subBucket(id: Column): Column = (id % DefaultBuckets).as("sb")

  /** Two-level sorted sums of `terms` per `keys` group: level 1 folds each
    * term per (keys, [[subBucket]] of `id`), level 2 folds the sub-totals.
    * Returns the keys, `n` (the group's row count) and one column per
    * term, named after it. */
  def bucketedSums(df: DataFrame, keys: Seq[String], id: Column,
                   terms: (String, Column)*): DataFrame = {
    val ks = keys.map(col)
    df.groupBy(ks :+ subBucket(id): _*)
      .agg(count(lit(1)).as("n"), terms.map { case (nm, c) => sortedSum(c).as(nm) }: _*)
      .groupBy(ks: _*)
      .agg(sum(col("n")).as("n"), terms.map { case (nm, _) => sortedSum(col(nm)).as(nm) }: _*)
  }
}
