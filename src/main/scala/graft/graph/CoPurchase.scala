package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** The co-purchase kernel: order baskets, the item pairs (and triples)
  * bought together in at least [[MinSupport]] of them, and the
  * symmetric edge list of the graph the pairs span. rec1, kcore1, lp1,
  * ppr1, deg1 and apr1 build on it; the reference domain's portfolio
  * graph is the same pair graph over buildings with shared attributes.
  *
  * Scale shape: ONE shuffle collapses each order into a sorted distinct
  * item array (`collect_set` is map-side combinable); combinations
  * generate WITHIN the basket row, so the fact table never self-joins;
  * the support aggregate is the second and last shuffle.
  *
  * Where the time goes (benchmark `tail` workload, 4-core host,
  * local[2], sf0.1, warm JVM): building the edge list was ~70% of the
  * pass — kcore1 ~1.8 s of 2.4 s, lp1 ~2.4 s of 3.3 s — and each
  * peel/propagation round 0.15–0.25 s. Two costs, both removed here:
  *   - the HOF-lambda trap: pairs used to come from
  *     `explode(filter(items, x => x > a))`. `ArrayFilter` is
  *     `CodegenFallback`, so the lambda runs interpreted inside the
  *     generated stage and re-scans the whole basket per element. The
  *     array is sorted and distinct, so the items greater than the one
  *     at position i are its tail: `posexplode` + `slice`, plain
  *     codegen'd expressions, identical rows (0.2–0.3 s per build);
  *   - two passes for two directions: `a→b unionAll b→a` over an
  *     unmaterialized edge frame runs the pair aggregate once per side.
  *     [[directed]] emits both directions from ONE aggregate.
  * Measured and not worth doing: broadcast hints on the peel's `keep`
  * or lp1's labels; a `max(struct)` argmax for lp1's `row_number`.
  */
object CoPurchase {

  /** Max distinct items per basket. Fan-out is quadratic in basket size
    * (cubic for triples), so one 10^5-item crawler cart would emit 10^10
    * pairs; dropping such mega-baskets bounds the per-row work. TPC-H
    * baskets top out at 7 lines: nothing is dropped on the test data.
    */
  val MaxBasket = 50

  /** Baskets a pair (or triple) must appear in to count. */
  val MinSupport = 2

  /** One row per order `ok` with `items`, its sorted distinct `pk`
    * array, kept when it holds `minSize..`[[MaxBasket]] items.
    */
  def baskets(items: DataFrame, minSize: Int): DataFrame =
    items.groupBy("ok").agg(sort_array(collect_set(col("pk"))).as("items"))
      .filter(size(col("items")).between(minSize, MaxBasket))

  /** The lineitem baskets of the co-purchase graph: 2+ distinct parts. */
  def orderBaskets(s: SparkSession, d: String): DataFrame =
    baskets(Tables.lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")), 2)

  /** Canonical pairs (a, b, n_ab): a < b, n_ab >= [[MinSupport]]. */
  def pairs(baskets: DataFrame): DataFrame =
    baskets.select(col("items"), posexplode(col("items")).as(Seq("i", "a")))
      .select(col("a"), explode(after(col("i"))).as("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= MinSupport)

  /** The symmetric edge list (src, dst): every pair both ways. */
  def directed(baskets: DataFrame): DataFrame =
    pairs(baskets)
      .select(explode(array(
        struct(col("a").as("src"), col("b").as("dst")),
        struct(col("b").as("src"), col("a").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))

  /** Canonical triples (a, b, c, supp): a < b < c, supp >= [[MinSupport]].
    * b sits at position i + 1 + j of `items`.
    */
  def triples(baskets: DataFrame): DataFrame =
    baskets.select(col("items"), posexplode(col("items")).as(Seq("i", "a")))
      .select(col("items"), col("i"), col("a"),
        posexplode(after(col("i"))).as(Seq("j", "b")))
      .select(col("a"), col("b"),
        explode(after(col("i") + col("j") + 1)).as("c"))
      .groupBy("a", "b", "c").agg(count(lit(1)).as("supp"))
      .filter(col("supp") >= MinSupport)

  /** The items after 0-based position `i` (`slice` is 1-based). */
  private def after(i: Column): Column =
    slice(col("items"), i + 2, size(col("items")))

  /** The oracles' DuckDB twin of [[orderBaskets]], [[pairs]] and
    * [[directed]], by self-join: CTEs `dd` (ok, pk), `pc` (a, b, n_ab),
    * `e0` (a, b) and `dir` (src, dst).
    */
  val oracleCte: String =
    s"""WITH d AS MATERIALIZED (
         SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       sz AS (SELECT ok FROM d GROUP BY ok
              HAVING count(*) BETWEEN 2 AND $MaxBasket),
       dd AS MATERIALIZED (SELECT d.* FROM d JOIN sz USING (ok)),
       pc AS MATERIALIZED (
         SELECT x.pk AS a, y.pk AS b, count(*) AS n_ab
         FROM dd x JOIN dd y ON x.ok = y.ok AND x.pk < y.pk
         GROUP BY 1, 2 HAVING count(*) >= $MinSupport),
       e0 AS (SELECT a, b FROM pc),
       dir AS MATERIALIZED (
         SELECT a AS src, b AS dst FROM pc UNION ALL SELECT b, a FROM pc)"""
}
