package graft.operators

import graft.{QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Core relational operator surface (SURVEY.md §2.3 Q1–Q20).
  *
  * Every query is declared through the DataFrame API so Catalyst owns the
  * physical plan: filters/projections push to the parquet scan, small
  * dimensions are broadcast explicitly, aggregates get map-side partials,
  * AQE re-plans shuffles at runtime.
  *
  * Float discipline for the hash oracle: money columns are exact
  * 2-decimal values, so sums are computed over DECIMAL casts (exact,
  * order-independent — identical in Spark and DuckDB regardless of
  * partial-aggregation order) and converted to DOUBLE only at the end.
  * Genuinely floating aggregates (corr) are rounded to 6 decimals on both
  * sides.
  */
object Relational {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = Tables(s, dir, n)

  /** Scratch dir for a round-trip query: per-process (pid suffix),
    * removed on JVM exit.
    */
  private[operators] def roundtripDir(tag: String): String = {
    val path = s"${System.getProperty("java.io.tmpdir")}/graft_${tag}_" +
      ProcessHandle.current().pid()
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      graft.GraftSession.rmTree(new java.io.File(path))
    }))
    path
  }

  /** Stable per-dataset key: the input dir's basename (readable) plus
    * 8 hex chars of the md5 of its CANONICAL path — basename alone
    * collides for two datasets named alike under different parents
    * (e.g. /data/a/sf0.1 vs /data/b/sf0.1), which would recreate the
    * q205 interleaved-overwrite race the scoping exists to prevent.
    * Non-identifier chars are folded to '_' so the key is also legal
    * in catalog table names.
    */
  private[graft] def datasetKey(inputDir: String): String = {
    val canon = new java.io.File(inputDir).getCanonicalPath
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest(canon.getBytes("UTF-8"))
    val h = md5.take(4).map(b => f"$b%02x").mkString
    val base = new java.io.File(inputDir).getName
      .replaceAll("[^A-Za-z0-9_]", "_")
    s"${base}_$h"
  }

  /** Dataset-scoped scratch path: every roundtrip query writes then
    * reads under its pid-scoped dir; keying additionally by the INPUT
    * dataset keeps interleaved runs over different sf dirs from
    * overwriting each other between the write and the read (the q205
    * race, applied uniformly across the scratch surface). The
    * pid-level shutdown hook removes the whole tree, subdirs included.
    */
  private[graft] def scoped(base: String, inputDir: String): String =
    s"$base/${datasetKey(inputDir)}"

  /** q03's scratch dir. */
  private[operators] lazy val csvRoundtripDir: String = roundtripDir("nation_tsv")

  /** q03b's scratch dir. */
  private[operators] lazy val orcRoundtripDir: String = roundtripDir("supplier_orc")

  /** q03c's scratch dir. */
  private[operators] lazy val jsonRoundtripDir: String = roundtripDir("part_json")

  /** q60's scratch dir (hive-partitioned orders). */
  private[operators] lazy val partitionedDir: String = roundtripDir("orders_by_yr")

  /** q205's scratch dir (hive-partitioned orders for the DPP join). */
  private[operators] lazy val dppDir: String = roundtripDir("orders_dpp")

  /** q03d's scratch dir. */
  private[operators] lazy val textRoundtripDir: String = roundtripDir("documents_txt")

  /** q73's scratch dir (range-sorted orders export). */
  private[operators] lazy val sortedExportDir: String = roundtripDir("orders_sorted")

  /** q88's scratch dir (z-ordered lineitem export). */
  private[operators] lazy val zorderDir: String = roundtripDir("lineitem_zorder")

  /** q90's scratch dirs (fragmented orders + its compaction). */
  private[operators] lazy val fragmentedDir: String = roundtripDir("orders_frag")
  private[operators] lazy val compactedDir: String = roundtripDir("orders_compact")

  private[operators] lazy val corruptJsonDir: String = roundtripDir("supplier_dirty_json")
  private[operators] lazy val evolutionDir: String = roundtripDir("orders_evolution")
  private[operators] lazy val gzipRoundtripDir: String = roundtripDir("documents_gz")

  /** q87's scratch dir (the materialized CDC change set). */
  private[operators] lazy val changeSetDir: String = roundtripDir("orders_changes")

  /** q74's scratch dir (two-era schema-evolved orders). */
  private[operators] lazy val schemaEvoDir: String = roundtripDir("orders_evo")

  /** TPC-H Q1/Q3 as ONE dialect-neutral SQL text each: the Spark query
    * (over `graft_`-prefixed temp views, so fixture-named views in the
    * session are never clobbered) and the DuckDB oracle (bare table
    * names) are the SAME string modulo the prefix — no drift surface.
    */
  private def tpchQ1Sql(p: String): String =
    "SELECT l_returnflag, l_linestatus, " +
      "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, " +
      "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price, " +
      "CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
      "(1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price, " +
      "CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
      "(1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4)) * " +
      "(1 + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge, " +
      "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty, " +
      "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price, " +
      "CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_disc, " +
      "COUNT(*) AS count_order " +
      s"FROM ${p}lineitem WHERE l_shipdate <= DATE '1998-09-02' " +
      "GROUP BY l_returnflag, l_linestatus"

  private def tpchQ5Sql(p: String): String =
    "SELECT n_name, " +
      "CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
      "(1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue " +
      s"FROM ${p}customer JOIN ${p}orders ON c_custkey = o_custkey " +
      s"JOIN ${p}lineitem ON l_orderkey = o_orderkey " +
      s"JOIN ${p}supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
      s"JOIN ${p}nation ON s_nationkey = n_nationkey " +
      s"JOIN ${p}region ON n_regionkey = r_regionkey " +
      "WHERE r_name = 'ASIA' " +
      "AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01' " +
      // n_name tie-break: deterministic order cross-engine, same as every
      // other shared-SQL query here
      "GROUP BY n_name ORDER BY revenue DESC, n_name"

  private def tpchQ10Sql(p: String): String =
    "SELECT c_custkey, c_name, " +
      "CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
      "(1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue, " +
      "c_acctbal, n_name " +
      s"FROM ${p}customer JOIN ${p}orders ON c_custkey = o_custkey " +
      s"JOIN ${p}lineitem ON l_orderkey = o_orderkey " +
      s"JOIN ${p}nation ON c_nationkey = n_nationkey " +
      "WHERE o_orderdate >= DATE '1996-10-01' AND o_orderdate < DATE '1997-01-01' " +
      "AND l_returnflag = 'R' " +
      "GROUP BY c_custkey, c_name, c_acctbal, n_name " +
      // custkey tie-break makes the top-20 cut deterministic cross-engine
      "ORDER BY revenue DESC, c_custkey LIMIT 20"

  private def tpchQ3Sql(p: String): String =
    "SELECT l_orderkey, " +
      "CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
      "(1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS revenue, " +
      "o_orderdate " +
      s"FROM ${p}customer JOIN ${p}orders ON c_custkey = o_custkey " +
      s"JOIN ${p}lineitem ON l_orderkey = o_orderkey " +
      "WHERE c_mktsegment = 'BUILDING' " +
      "AND o_orderdate < DATE '1997-03-15' AND l_shipdate > DATE '1997-03-15' " +
      "GROUP BY l_orderkey, o_orderdate " +
      "ORDER BY revenue DESC, l_orderkey LIMIT 10"

  // SUM over an exact DECIMAL(18,2) view of a 2-decimal money column,
  // surfaced as DOUBLE. Deterministic under any aggregation order.
  private def dsum(e: String): org.apache.spark.sql.Column =
    expr(s"CAST(SUM($e) AS DOUBLE)")
  private val price = "CAST(l_extendedprice AS DECIMAL(18,2))"
  private val disc = "CAST(l_discount AS DECIMAL(18,2))"
  private val tax = "CAST(l_tax AS DECIMAL(18,2))"
  private val qty = "CAST(l_quantity AS DECIMAL(18,2))"

  /** Exact discounted price — every product needs ≤4 decimal places, so
    * the DECIMAL(18,4) view is exactly representable on both engines.
    */
  private val discPrice = s"CAST($price * (1 - $disc) AS DECIMAL(18,4))"

  // ── TPC-H Q4/Q6/Q7/Q13/Q14/Q15/Q17/Q18/Q19/Q22, adapted where the
  // fixture schema is trimmed (no partsupp / l_commitdate / l_receiptdate
  // / l_shipmode / c_phone — substitutions noted per query). Same
  // dialect-neutral shared-SQL discipline as Q1/Q3/Q5/Q10: the Spark
  // query (prefixed views) and the DuckDB oracle are the SAME string.

  /** Q4 order-priority checking. The reference's late-delivery predicate
    * (l_commitdate < l_receiptdate) isn't representable in the fixture
    * schema; shipped-after-order-date keeps the same plan shape — a
    * correlated EXISTS (left-semi join with a mixed equi + non-equi
    * condition) feeding a grouped count.
    */
  private def tpchQ4Sql(p: String): String =
    "SELECT o_orderpriority, COUNT(*) AS order_count " +
      s"FROM ${p}orders " +
      "WHERE o_orderdate >= DATE '1996-07-01' AND o_orderdate < DATE '1996-10-01' " +
      s"AND EXISTS (SELECT 1 FROM ${p}lineitem " +
      "WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate) " +
      "GROUP BY o_orderpriority ORDER BY o_orderpriority"

  /** Q6 forecast-revenue: the pure scan-aggregate — every predicate must
    * reach the parquet scan (date + discount + quantity pushdown), zero
    * joins, one map-side-combinable global sum. The discount band
    * compares the RAW double column (a DECIMAL cast would block the
    * parquet pushdown); both engines promote the 2-dp literals to the
    * same doubles, so the comparison is engine-identical — only the SUM
    * needs the exact-decimal treatment.
    */
  private def tpchQ6Sql(p: String): String =
    s"SELECT CAST(SUM($price * $disc) AS DOUBLE) AS revenue " +
      s"FROM ${p}lineitem " +
      "WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01' " +
      "AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"

  /** Q7 volume-shipping: the dimension-self-join shape — nation joined
    * TWICE under different aliases (supplier side vs customer side) with
    * a symmetric pair condition, then a 3-key grouped sum. A 5-nation
    * set with n1 <> n2 instead of the reference's single ordered pair:
    * at sf0.001 only ~10 suppliers exist spread across nations, so any
    * fixed pair matches nothing and the gate would be vacuous at the
    * dev scale — the set keeps the double-alias symmetric-filter shape
    * non-degenerate at every sf.
    */
  private def tpchQ7Sql(p: String): String =
    "SELECT supp_nation, cust_nation, l_year, " +
      "CAST(SUM(volume) AS DOUBLE) AS revenue FROM (" +
      "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, " +
      s"YEAR(l_shipdate) AS l_year, $discPrice AS volume " +
      s"FROM ${p}supplier JOIN ${p}lineitem ON s_suppkey = l_suppkey " +
      s"JOIN ${p}orders ON o_orderkey = l_orderkey " +
      s"JOIN ${p}customer ON c_custkey = o_custkey " +
      s"JOIN ${p}nation n1 ON s_nationkey = n1.n_nationkey " +
      s"JOIN ${p}nation n2 ON c_nationkey = n2.n_nationkey " +
      "WHERE n1.n_name IN ('NATION_0','NATION_1','NATION_2','NATION_3','NATION_4') " +
      "AND n2.n_name IN ('NATION_0','NATION_1','NATION_2','NATION_3','NATION_4') " +
      "AND n1.n_name <> n2.n_name " +
      "AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1998-01-01'" +
      ") AS shipping " +
      "GROUP BY supp_nation, cust_nation, l_year " +
      "ORDER BY supp_nation, cust_nation, l_year"

  /** Q13 customer-order distribution: LEFT OUTER join with an extra
    * join-side filter (reference filters o_comment, absent here — the
    * priority filter keeps the "condition on the join, not the WHERE"
    * semantics that make this a left join and not an inner one), then a
    * second aggregation over the first — the histogram-of-group-sizes
    * shape.
    */
  private def tpchQ13Sql(p: String): String =
    "SELECT c_count, COUNT(*) AS custdist FROM (" +
      "SELECT c_custkey, COUNT(o_orderkey) AS c_count " +
      s"FROM ${p}customer LEFT JOIN ${p}orders " +
      "ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT' " +
      "GROUP BY c_custkey) AS c_orders " +
      "GROUP BY c_count ORDER BY custdist DESC, c_count DESC"

  /** Q14 promo-revenue: conditional aggregation over a fact-dimension
    * join. Numerator and denominator are exact decimal sums cast to
    * DOUBLE before one IEEE division — identical operands → identical
    * quotient on both engines. Fixture p_type is single-word.
    */
  private def tpchQ14Sql(p: String): String =
    "SELECT CAST(100.00 * " +
      s"CAST(SUM(CASE WHEN p_type = 'PROMO' THEN $discPrice " +
      "ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) / " +
      s"CAST(SUM($discPrice) AS DOUBLE) AS DOUBLE) AS promo_revenue " +
      s"FROM ${p}lineitem JOIN ${p}part ON l_partkey = p_partkey " +
      "WHERE l_shipdate >= DATE '1996-09-01' AND l_shipdate < DATE '1996-10-01'"

  /** Q15 top supplier: a CTE consumed TWICE — once as the join input,
    * once inside the scalar MAX subquery. Revenue stays exact DECIMAL
    * through the equality test (deterministic cross-engine), DOUBLE only
    * in the projection.
    */
  private def tpchQ15Sql(p: String): String =
    "WITH revenue AS (SELECT l_suppkey AS supplier_no, " +
      s"SUM($discPrice) AS total_revenue " +
      s"FROM ${p}lineitem " +
      "WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01' " +
      "GROUP BY l_suppkey) " +
      "SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue " +
      s"FROM ${p}supplier JOIN revenue ON s_suppkey = supplier_no " +
      "WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue) " +
      "ORDER BY s_suppkey"

  /** Q17 small-quantity-order revenue: the correlated scalar-subquery
    * shape — per-part average quantity computed in a subquery correlated
    * on the outer part key (Catalyst de-correlates to an aggregate +
    * equi-join). Brand-only filter (fixture has no p_container).
    * AVG(l_quantity) is exact: quantities are small integers stored as
    * doubles, so the sum is order-independent.
    */
  private def tpchQ17Sql(p: String): String =
    s"SELECT CAST(CAST(SUM($price) AS DOUBLE) / 7.0 AS DOUBLE) AS avg_yearly " +
      s"FROM ${p}lineitem JOIN ${p}part ON p_partkey = l_partkey " +
      "WHERE p_brand = 'Brand#23' " +
      s"AND l_quantity < (SELECT 0.2 * AVG(l_quantity) FROM ${p}lineitem l2 " +
      s"WHERE l2.l_partkey = ${p}part.p_partkey)"

  /** Q18 large-volume customers: grouped-HAVING subquery feeding an IN
    * (left-semi) filter over a 3-way join, re-aggregated and top-k cut.
    * Threshold 300 ≈ 3× the fixture's mean per-order quantity (103).
    */
  private def tpchQ18Sql(p: String): String =
    "SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, " +
      s"CAST(SUM($qty) AS DOUBLE) AS sum_qty " +
      s"FROM ${p}customer JOIN ${p}orders ON c_custkey = o_custkey " +
      s"JOIN ${p}lineitem ON o_orderkey = l_orderkey " +
      s"WHERE o_orderkey IN (SELECT l_orderkey FROM ${p}lineitem " +
      s"GROUP BY l_orderkey HAVING SUM($qty) > 300) " +
      "GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice " +
      // orderkey tie-break makes the top-100 cut deterministic cross-engine
      "ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"

  /** Q19 discounted revenue: the disjunctive-predicate join — one
    * equi-join with an OR-of-conjunctions residual mixing columns from
    * both sides (Catalyst plans the equi-join and applies the
    * disjunction as a post-join filter). Bands widened to the fixture's
    * uniform p_size 1–50.
    */
  private def tpchQ19Sql(p: String): String =
    s"SELECT CAST(SUM($discPrice) AS DOUBLE) AS revenue " +
      s"FROM ${p}lineitem JOIN ${p}part ON p_partkey = l_partkey " +
      "WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 " +
      "AND l_quantity BETWEEN 1 AND 11) " +
      "OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20 " +
      "AND l_quantity BETWEEN 10 AND 20) " +
      "OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 25 " +
      "AND l_quantity BETWEEN 20 AND 30)"

  /** Q22 wealthy-inactive customers: scalar subquery + NOT EXISTS
    * anti-join. Adaptations: the above-average-balance test is stated as
    * the cross-multiplied exact form (bal × count > total — equivalent
    * since count > 0, but every operand is exact DECIMAL/BIGINT, so no
    * cross-engine float-mean drift can flip a boundary row); "no orders"
    * becomes "no orders since 1998" (every fixture customer has some
    * order); the phone-prefix grouping becomes c_nationkey (no c_phone).
    */
  private def tpchQ22Sql(p: String): String =
    "SELECT c_nationkey, COUNT(*) AS numcust, " +
      "CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal " +
      s"FROM ${p}customer " +
      "WHERE CAST(c_acctbal AS DECIMAL(18,2)) * " +
      s"(SELECT COUNT(*) FROM ${p}customer WHERE c_acctbal > 0.00) " +
      s"> (SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) FROM ${p}customer " +
      "WHERE c_acctbal > 0.00) " +
      s"AND NOT EXISTS (SELECT 1 FROM ${p}orders " +
      // 2000, not 1998: at sf0.001 every customer has some 1998-99
      // order, which made the anti-join (and the whole gate) vacuous
      // at the dev scale
      "WHERE o_custkey = c_custkey AND o_orderdate >= DATE '2000-01-01') " +
      "GROUP BY c_nationkey ORDER BY c_nationkey"

  // ── TPC-H Q2/Q8/Q9/Q11/Q12/Q16/Q20/Q21, completing the 22-query suite.
  // The fixture has no partsupp table, so the supplier-part relation is
  // DERIVED from lineitem (distinct pairs; cost = min observed unit
  // price; availqty = shipped quantity) — a real pattern at scale:
  // dimension tables distilled from the fact table. No l_commitdate /
  // l_receiptdate either, so "late" is shipped >60 days after the order
  // date — the same correlated-predicate plan shapes on fixture columns.

  /** Q8 national market share: the share-of-group division — an 8-way
    * join (nation aliased twice: customer region filter vs supplier
    * nationality) feeding a conditional-sum / total-sum ratio per year.
    * Numerator and denominator stay exact DECIMAL until ONE double
    * division — identical operands cross-engine, identical quotient.
    */
  private def tpchQ8Sql(p: String): String =
    "SELECT o_year, CAST(CAST(SUM(CASE WHEN nation = 'NATION_12' THEN volume " +
      "ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE) / " +
      "CAST(SUM(volume) AS DOUBLE) AS DOUBLE) AS mkt_share " +
      s"FROM (SELECT YEAR(o_orderdate) AS o_year, $discPrice AS volume, " +
      "n2.n_name AS nation " +
      s"FROM ${p}part JOIN ${p}lineitem ON p_partkey = l_partkey " +
      s"JOIN ${p}supplier ON s_suppkey = l_suppkey " +
      s"JOIN ${p}orders ON l_orderkey = o_orderkey " +
      s"JOIN ${p}customer ON o_custkey = c_custkey " +
      s"JOIN ${p}nation n1 ON c_nationkey = n1.n_nationkey " +
      s"JOIN ${p}region ON n1.n_regionkey = r_regionkey " +
      s"JOIN ${p}nation n2 ON s_nationkey = n2.n_nationkey " +
      "WHERE r_name = 'ASIA' " +
      "AND o_orderdate BETWEEN DATE '1995-01-01' AND DATE '1996-12-31' " +
      "AND p_type = 'ECONOMY') AS all_nations " +
      "GROUP BY o_year ORDER BY o_year"

  /** Q9 product-type profit: the widest-fact-join aggregate. Cost proxy:
    * p_retailprice × quantity (no ps_supplycost in the fixture); amount
    * stays exact DECIMAL(28,4) so the grouped sum is order-independent.
    */
  private def tpchQ9Sql(p: String): String =
    "SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit " +
      "FROM (SELECT n_name AS nation, YEAR(o_orderdate) AS o_year, " +
      s"CAST($discPrice - CAST(p_retailprice AS DECIMAL(18,2)) * $qty " +
      "AS DECIMAL(28,4)) AS amount " +
      s"FROM ${p}part JOIN ${p}lineitem ON p_partkey = l_partkey " +
      s"JOIN ${p}supplier ON s_suppkey = l_suppkey " +
      s"JOIN ${p}orders ON o_orderkey = l_orderkey " +
      s"JOIN ${p}nation ON s_nationkey = n_nationkey " +
      "WHERE p_name LIKE '%red%') AS profit " +
      "GROUP BY nation, o_year ORDER BY nation, o_year DESC"

  /** Q12 shipmode priority counts: conditional (pivot-style) aggregation
    * over a fact-fact join with a cross-table date predicate. Group key
    * is l_returnflag (no l_shipmode); "late" = shipped >60 days after
    * the order date (no l_commitdate/l_receiptdate).
    */
  private def tpchQ12Sql(p: String): String =
    // CAST ... AS BIGINT: DuckDB's SUM(int) yields HUGEINT, which the
    // hash compare canonicalizes as float — pin both engines to int64.
    "SELECT l_returnflag, " +
      "CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') " +
      "THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, " +
      "CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH') " +
      "THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count " +
      s"FROM ${p}orders JOIN ${p}lineitem ON o_orderkey = l_orderkey " +
      "WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY " +
      "AND l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01' " +
      "GROUP BY l_returnflag ORDER BY l_returnflag"

  /** Q21 suppliers who kept orders waiting: the double-correlated
    * EXISTS + NOT EXISTS self-join on the fact table — was the order
    * multi-supplier, and was THIS supplier the only late one? Both
    * subqueries correlate on the outer order (the NOT EXISTS carries a
    * non-equality correlated predicate on o_orderdate — Catalyst
    * decorrelates both into semi/anti joins).
    */
  private def tpchQ21Sql(p: String): String =
    "SELECT s_name, COUNT(*) AS numwait " +
      s"FROM ${p}supplier JOIN ${p}lineitem l1 ON s_suppkey = l1.l_suppkey " +
      s"JOIN ${p}orders ON o_orderkey = l1.l_orderkey " +
      s"JOIN ${p}nation ON s_nationkey = n_nationkey " +
      "WHERE o_orderstatus = 'F' AND n_name = 'NATION_3' " +
      "AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY " +
      s"AND EXISTS (SELECT 1 FROM ${p}lineitem l2 " +
      "WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey) " +
      s"AND NOT EXISTS (SELECT 1 FROM ${p}lineitem l3 " +
      "WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey " +
      "AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY) " +
      "GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100"

  /** Q2 minimum-cost supplier: a CTE consumed twice — once as the join
    * input and once inside a CORRELATED scalar MIN subquery (correlation
    * on the outer part key). Unit cost is one IEEE double division of
    * identical operands on both engines, so MIN and the equality test
    * are engine-identical.
    */
  private def tpchQ2Sql(p: String): String =
    // nullif: the fixture's supplycost SUBSTITUTE (price per unit —
    // not a TPC-H-defined formula, so the spec-fidelity argument that
    // keeps Q14/Q8 divisors untouched does not apply here) divides by
    // the raw quantity column; a zero-quantity line (cancelled /
    // free-of-charge order line — realistic degenerate) would throw
    // DIVIDE_BY_ZERO under the ANSI session default where DuckDB's
    // x/0 is NULL. nullif pins both engines to NULL, which the
    // NULL-skipping MIN then drops identically (r17 division sweep).
    "WITH ps AS (SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey, " +
      "MIN(l_extendedprice / nullif(l_quantity, 0)) AS ps_supplycost " +
      s"FROM ${p}lineitem GROUP BY 1, 2) " +
      "SELECT s_acctbal, s_name, n_name, p_partkey, p_name " +
      s"FROM ${p}part JOIN ps ON p_partkey = ps_partkey " +
      s"JOIN ${p}supplier ON s_suppkey = ps_suppkey " +
      s"JOIN ${p}nation ON s_nationkey = n_nationkey " +
      s"JOIN ${p}region ON n_regionkey = r_regionkey " +
      // size BAND, not point: p_size=15 ∧ LARGE matches nothing at
      // sf0.001 and would make the gate vacuous at the dev scale
      "WHERE p_size BETWEEN 10 AND 20 AND p_type = 'LARGE' AND r_name = 'EUROPE' " +
      "AND ps_supplycost = (SELECT MIN(ps2.ps_supplycost) FROM ps ps2 " +
      s"JOIN ${p}supplier s2 ON s2.s_suppkey = ps2.ps_suppkey " +
      s"JOIN ${p}nation n2 ON s2.s_nationkey = n2.n_nationkey " +
      s"JOIN ${p}region r2 ON n2.n_regionkey = r2.r_regionkey " +
      "WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'EUROPE') " +
      "ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100"

  /** Q11 important stock: grouped exact-decimal value per part with a
    * global scalar-subquery threshold. Two fixture adjustments keep the
    * gate NON-VACUOUS at every sf: region filter instead of one nation
    * (a single nation has no suppliers at sf0.001), and a scale-free
    * threshold — 2× the average per-part value, cross-multiplied as
    * value × n_parts > 2 × total so every operand stays exact (TPC-H's
    * fixed 0.0001 fraction empties out as the part count grows).
    */
  private def tpchQ11Sql(p: String): String =
    "WITH grp AS (" +
      s"SELECT l_partkey AS ps_partkey, SUM($price * $qty) AS value " +
      s"FROM ${p}lineitem JOIN ${p}supplier ON l_suppkey = s_suppkey " +
      s"JOIN ${p}nation ON s_nationkey = n_nationkey " +
      s"JOIN ${p}region ON n_regionkey = r_regionkey " +
      "WHERE r_name = 'EUROPE' GROUP BY l_partkey) " +
      "SELECT ps_partkey, CAST(value AS DOUBLE) AS value FROM grp " +
      "WHERE value * (SELECT COUNT(*) FROM grp) > 2 * (SELECT SUM(value) FROM grp) " +
      "ORDER BY value DESC, ps_partkey"

  /** Q16 parts-supplier relationship: COUNT(DISTINCT) over a derived
    * distinct-pair relation with a NOT IN exclusion subquery (negative
    * balance stands in for the reference's complaints filter; s_suppkey
    * is non-null so NOT IN is a plain anti-join).
    */
  private def tpchQ16Sql(p: String): String =
    "SELECT p_brand, p_type, p_size, COUNT(DISTINCT ps_suppkey) AS supplier_cnt " +
      "FROM (SELECT DISTINCT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey " +
      s"FROM ${p}lineitem) AS ps " +
      s"JOIN ${p}part ON p_partkey = ps_partkey " +
      "WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO' " +
      "AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35) " +
      s"AND ps_suppkey NOT IN (SELECT s_suppkey FROM ${p}supplier WHERE s_acctbal < 0) " +
      "GROUP BY p_brand, p_type, p_size " +
      "ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"

  /** Q20 potential part promotion: nested IN subqueries — suppliers who
    * shipped red parts mostly (>half, exact decimal, cross-multiplied)
    * inside the target year — plus a nested-scalar region-membership
    * filter (one NATION has no supplier at sf0.001; a region always
    * does, and the subquery nesting depth is the same).
    */
  private def tpchQ20Sql(p: String): String =
    s"SELECT s_suppkey, s_name FROM ${p}supplier " +
      "WHERE s_suppkey IN (" +
      s"SELECT l_suppkey FROM ${p}lineitem " +
      s"WHERE l_partkey IN (SELECT p_partkey FROM ${p}part WHERE p_name LIKE 'red%') " +
      "GROUP BY l_suppkey, l_partkey " +
      "HAVING SUM(CASE WHEN l_shipdate >= DATE '1996-01-01' " +
      s"AND l_shipdate < DATE '1997-01-01' THEN $qty " +
      s"ELSE CAST(0 AS DECIMAL(18,2)) END) * 2 > SUM($qty)) " +
      s"AND s_nationkey IN (SELECT n_nationkey FROM ${p}nation " +
      s"WHERE n_regionkey = (SELECT r_regionkey FROM ${p}region WHERE r_name = 'ASIA')) " +
      "ORDER BY s_suppkey"

  /** Morton (z-order) value of two 16-bit keys: interleaves the bits so
    * a range sort on the z-value clusters BOTH dimensions at once —
    * per-file parquet min/max stay tight on both columns, and a scan
    * filtered on either (or both) skips most files. The standard
    * bit-spread: each step doubles the gaps with shift+mask; all plain
    * bitwise column ops, fully codegen'd.
    */
  private[operators] def zorder16(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def spread(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val x0 = c.cast("long").bitwiseAND(lit(0xFFFFL))
      val x1 = x0.bitwiseOR(shiftleft(x0, 8)).bitwiseAND(lit(0x00FF00FFL))
      val x2 = x1.bitwiseOR(shiftleft(x1, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      val x3 = x2.bitwiseOR(shiftleft(x2, 2)).bitwiseAND(lit(0x33333333L))
      x3.bitwiseOR(shiftleft(x3, 1)).bitwiseAND(lit(0x55555555L))
    }
    spread(a).bitwiseOR(shiftleft(spread(b), 1))
  }

  /** Adds a `z` column interleaving two numeric columns, each MIN-MAX
    * NORMALIZED to the full 16-bit range first. The normalization is
    * what makes it a real z-order: raw interleaving degenerates to a
    * 1-D sort whenever the columns' bit widths differ (the wider key's
    * high bits dominate every z prefix). One tiny stats agg fetches the
    * four bounds — at warehouse scale that's a column-statistics
    * lookup, not a scan.
    */
  private[operators] def withZorder16(df: DataFrame, a: String, b: String): DataFrame = {
    val r = df.agg(min(a), max(a), min(b), max(b)).collect().head
    // empty/all-null input: no rows to cluster — any constant z works
    if (r.isNullAt(0) || r.isNullAt(2)) return df.withColumn("z", lit(0L))
    def bound(i: Int): Double = r.get(i) match {
      case n: java.lang.Number => n.doubleValue()
      case v => v.toString.toDouble
    }
    def norm(c: String, lo: Double, hi: Double): org.apache.spark.sql.Column =
      if (hi <= lo) lit(0L)
      else ((col(c).cast("double") - lit(lo)) / lit(hi - lo) * lit(65535.0)).cast("long")
    df.withColumn("z",
      zorder16(norm(a, bound(0), bound(1)), norm(b, bound(2), bound(3))))
  }

  /** Registers the prefixed temp views a shared-SQL query needs and runs
    * it; the oracle is the same text with no prefix.
    */
  private def sharedSql(s: SparkSession, dir: String, tables: Seq[String],
      sql: String => String): DataFrame = {
    tables.foreach(n => t(s, dir, n).createOrReplaceTempView(s"graft_$n"))
    s.sql(sql("graft_"))
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec(
      "q01_scan_project",
      (s, dir) => t(s, dir, "lineitem").select("l_orderkey", "l_quantity"),
      Some("SELECT l_orderkey, l_quantity FROM lineitem"),
    ),
    QuerySpec(
      "q02_filter",
      (s, dir) =>
        t(s, dir, "lineitem")
          .filter(col("l_discount") > 0.05 && col("l_returnflag") === "R")
          .select("l_orderkey", "l_linenumber", "l_extendedprice", "l_discount", "l_returnflag"),
      Some(
        "SELECT l_orderkey, l_linenumber, l_extendedprice, l_discount, l_returnflag " +
          "FROM lineitem WHERE l_discount > 0.05 AND l_returnflag = 'R'"),
    ),
    QuerySpec(
      "q03_csv_roundtrip",
      (s, dir) => {
        // Reference S1/S2 semantics: TSV scan with explicit schema,
        // comment skip, malformed-row drop. Round-trip `nation` through
        // TSV and return it — must equal the parquet original.
        // per-process fixed path + overwrite: repeated runs in one JVM
        // reuse a single directory (no per-invocation leak), the pid
        // suffix keeps concurrent processes (test suite vs bench) from
        // racing each other's overwrite, and the shutdown hook removes
        // the per-process dir so launches don't accumulate orphans
        val tmp = Relational.scoped(Relational.csvRoundtripDir, dir)
        t(s, dir, "nation").coalesce(1).write.mode("overwrite")
          .option("sep", "\t").option("header", "true").csv(tmp)
        s.read
          .option("sep", "\t").option("header", "true")
          .option("comment", "#").option("mode", "DROPMALFORMED")
          .schema("n_nationkey INT, n_name STRING, n_regionkey INT")
          .csv(tmp)
      },
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation"),
    ),
    QuerySpec(
      "q03b_orc_roundtrip",
      (s, dir) => {
        // Columnar-sink coverage beyond parquet: round-trip `supplier`
        // through ORC (predicate-pushdown-capable, splittable — a
        // first-class 100 TB format in Spark) and return it; must equal
        // the parquet original. Same per-process scratch-dir discipline
        // as q03.
        val tmp = Relational.scoped(Relational.orcRoundtripDir, dir)
        t(s, dir, "supplier").write.mode("overwrite").orc(tmp)
        s.read.orc(tmp)
      },
      Some("SELECT * FROM supplier"),
    ),
    QuerySpec(
      "q03c_json_roundtrip",
      (s, dir) => {
        // Row-oriented-sink coverage: round-trip `part` through
        // JSON-lines (the interchange format for heterogenous
        // pipelines) and read back with the ORIGINAL schema — no
        // inference, so types survive exactly.
        val src = t(s, dir, "part")
        val tmp = Relational.scoped(Relational.jsonRoundtripDir, dir)
        src.write.mode("overwrite").json(tmp)
        s.read.schema(src.schema).json(tmp)
      },
      Some("SELECT * FROM part"),
    ),
    QuerySpec(
      "q03d_text_roundtrip",
      (s, dir) => {
        // Raw line-oriented sink/source (`spark.read.text` — the format
        // log shippers and legacy feeds arrive in): write tab-joined
        // lines, read back as untyped lines, re-parse with explicit
        // casts. Only newline-free columns ride the line format (text
        // payloads stay in columnar formats); parallel multi-part write,
        // splittable read.
        val tmp = Relational.scoped(Relational.textRoundtripDir, dir)
        // concat (not concat_ws): concat_ws DROPS null fields, shifting
        // every later column one slot left on read-back. NULL is encoded
        // as the empty field and decoded with nullif, so the round trip
        // is null-faithful, not just null-free-fixture-lucky.
        def nf(c: String) = coalesce(col(c).cast("string"), lit(""))
        t(s, dir, "documents")
          .select(concat(nf("doc_id"), lit("\t"), nf("source"), lit("\t"), nf("n_chars"))
            .as("value"))
          .write.mode("overwrite").text(tmp)
        s.read.text(tmp)
          .select(split(col("value"), "\t", -1).as("f"))
          .select(
            nullif(element_at(col("f"), 1), lit("")).cast("bigint").as("doc_id"),
            nullif(element_at(col("f"), 2), lit("")).as("source"),
            nullif(element_at(col("f"), 3), lit("")).cast("bigint").as("n_chars"))
      },
      Some("SELECT doc_id, source, n_chars FROM documents"),
    ),
    QuerySpec(
      // PERMISSIVE corrupt-record handling — real feeds are dirty, and
      // an engine that FAILFASTs on row 3 billion of a 100 TB ingest
      // is useless: 1-in-7 lines of a derived JSON feed are
      // deterministically mangled (truncated / wrong-typed / junk),
      // the read runs PERMISSIVE with a _corrupt_record column, and
      // the gate pins the exact salvage split — rows parsed, rows
      // quarantined, and the parsed aggregate computed ONLY from the
      // survivors. The quarantine column is the dead-letter queue.
      "q03e_corrupt_records",
      (s, dir) => {
        val tmp = Relational.scoped(Relational.corruptJsonDir, dir)
        t(s, dir, "supplier")
          .select(when(col("s_suppkey") % 7 === 0,
              // three deterministic corruption modes, cycling
              when(col("s_suppkey") % 3 === 0, lit("{\"s_suppkey\": \"not_a_number\"}"))
                .when(col("s_suppkey") % 3 === 1, concat(lit("{\"s_suppkey\": "),
                  col("s_suppkey").cast("string")))
                .otherwise(lit("%% not json at all %%")))
            .otherwise(to_json(struct(col("s_suppkey"), col("s_nationkey"))))
            .as("value"))
          .write.mode("overwrite").text(tmp)
        val parsed = s.read
          .schema("s_suppkey BIGINT, s_nationkey BIGINT, _corrupt_record STRING")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .json(tmp)
          .cache() // single-pass contract: corrupt-record queries must not re-parse
        parsed.agg(
          count(lit(1)).as("n_lines"),
          sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L)).as("n_parsed"),
          sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L)).as("n_quarantined"),
          sum(when(col("_corrupt_record").isNull, col("s_suppkey"))).as("sum_parsed_keys"))
      },
      Some(
        // the corruption rule is pure key arithmetic, so the salvage
        // split is restated exactly: mode 1 (truncated JSON) and mode
        // 2 (junk) quarantine; mode 0 ("not_a_number") parses the
        // RECORD but nulls the field — Spark PERMISSIVE flags the
        // row in _corrupt_record, so it counts as quarantined too
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_lines, " +
          "CAST(SUM(CASE WHEN s_suppkey % 7 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_parsed, " +
          "CAST(SUM(CASE WHEN s_suppkey % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined, " +
          "CAST(SUM(CASE WHEN s_suppkey % 7 = 0 THEN NULL ELSE s_suppkey END) AS BIGINT) " +
          "AS sum_parsed_keys FROM supplier"),
    ),
    QuerySpec(
      // Gzip-compressed text ingestion — the format external feeds
      // actually arrive in. Gzip is NOT splittable: one .gz file = one
      // task no matter its size, so at 100 TB the layout rule is many
      // medium .gz files (the 4-part write here), never one giant one
      // — GzipSourceSpec pins partitions == files for the read. The
      // round trip re-parses with explicit casts, null-faithful via
      // the q03d empty-field encoding.
      "q03g_gzip_roundtrip",
      (s, dir) => {
        val tmp = Relational.scoped(Relational.gzipRoundtripDir, dir)
        def nf(c: String) = coalesce(col(c).cast("string"), lit(""))
        t(s, dir, "documents")
          .select(concat(nf("doc_id"), lit("\t"), nf("source"), lit("\t"), nf("n_chars"))
            .as("value"))
          .repartition(4)
          .write.mode("overwrite").option("compression", "gzip").text(tmp)
        s.read.text(tmp)
          .select(split(col("value"), "\t").as("f"))
          .select(
            nullif(element_at(col("f"), 1), lit("")).cast("bigint").as("doc_id"),
            nullif(element_at(col("f"), 2), lit("")).as("source"),
            nullif(element_at(col("f"), 3), lit("")).cast("bigint").as("n_chars"))
      },
      Some("SELECT doc_id, source, n_chars FROM documents"),
    ),
    QuerySpec(
      // Schema evolution via mergeSchema — the long-lived-table read
      // problem: month 1 wrote (o_orderkey, o_totalprice), month 2
      // added o_orderpriority; a mergeSchema read must union the
      // schemas, null-fill the missing column on old files, and keep
      // every row. Gated on the full merged frame so the null-fill is
      // value-checked, not just schema-checked.
      "q03f_schema_evolution",
      (s, dir) => {
        val tmp = Relational.scoped(Relational.evolutionDir, dir)
        val o = t(s, dir, "orders")
        o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.mode("overwrite").parquet(s"$tmp/m=1")
        o.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
          .write.mode("overwrite").parquet(s"$tmp/m=2")
        s.read.option("mergeSchema", "true").parquet(s"$tmp/m=1", s"$tmp/m=2")
      },
      Some(
        "SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority " +
          "FROM orders WHERE o_orderkey % 2 = 0 " +
          "UNION ALL SELECT o_orderkey, o_totalprice, o_orderpriority " +
          "FROM orders WHERE o_orderkey % 2 = 1"),
    ),
    QuerySpec(
      "q04_join_inner",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        o.join(c, o("o_custkey") === c("c_custkey"))
          .select("o_orderkey", "c_name", "c_mktsegment", "o_totalprice")
      },
      Some(
        "SELECT o_orderkey, c_name, c_mktsegment, o_totalprice " +
          "FROM orders JOIN customer ON o_custkey = c_custkey"),
    ),
    QuerySpec(
      "q05_join_multiway",
      (s, dir) => {
        // Star join: fact lineitem ⋈ orders shuffles on the key; the
        // dimension chain customer→nation→region is broadcast (no
        // shuffle). At 100 TB only the fact-fact join shuffles.
        val li = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
        val c = t(s, dir, "customer")
        val n = t(s, dir, "nation")
        val r = t(s, dir, "region")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(
            expr(s"CAST(SUM($price * (1 - $disc)) AS DOUBLE)").as("revenue"),
            count(lit(1)).as("n_items"))
      },
      Some(
        "SELECT r_name, n_name, " +
          s"CAST(SUM($price * (1 - $disc)) AS DOUBLE) AS revenue, COUNT(*) AS n_items " +
          "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
          "JOIN customer ON o_custkey = c_custkey " +
          "JOIN nation ON c_nationkey = n_nationkey " +
          "JOIN region ON n_regionkey = r_regionkey " +
          "GROUP BY r_name, n_name"),
    ),
    QuerySpec(
      "q06_join_left",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        c.join(o, c("c_custkey") === o("o_custkey"), "left")
          .select("c_custkey", "c_name", "o_orderkey", "o_totalprice")
      },
      Some(
        "SELECT c_custkey, c_name, o_orderkey, o_totalprice " +
          "FROM customer LEFT JOIN orders ON c_custkey = o_custkey"),
    ),
    QuerySpec(
      "q07_join_semi",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
        c.join(o, Seq("c_custkey"), "left_semi")
          .select("c_custkey", "c_name", "c_acctbal")
      },
      Some(
        "SELECT c_custkey, c_name, c_acctbal FROM customer " +
          "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"),
    ),
    QuerySpec(
      "q08_join_anti",
      (s, dir) => {
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
          .select(col("o_custkey").as("c_custkey"))
        c.join(o, Seq("c_custkey"), "left_anti")
          .select("c_custkey", "c_name", "c_acctbal")
      },
      Some(
        "SELECT c_custkey, c_name, c_acctbal FROM customer " +
          "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 400000)"),
    ),
    QuerySpec(
      "q09_join_cross",
      (s, dir) =>
        t(s, dir, "region").crossJoin(t(s, dir, "nation"))
          .select("r_regionkey", "r_name", "n_nationkey", "n_name"),
      Some(
        "SELECT r_regionkey, r_name, n_nationkey, n_name FROM region CROSS JOIN nation"),
    ),
    QuerySpec(
      "q10_join_theta",
      (s, dir) => {
        // Theta self-join: equi part (same REGION — at sf0.001 the ten
        // suppliers land in ten distinct nations, so a nation-keyed
        // self-join is empty and the gate vacuous at the dev scale)
        // hash-partitions; the `>` rides as a post-join predicate, so
        // this stays a hash join rather than a cartesian product at
        // scale. nation is a broadcast dim lookup on each side.
        val n = t(s, dir, "nation")
          .select(col("n_nationkey"), col("n_regionkey"))
        def side(k: String, r: String): DataFrame =
          t(s, dir, "supplier")
            .select(col("s_suppkey").as(k), col("s_nationkey"))
            .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
            .select(col(k), col("n_regionkey").as(r))
        val s1 = side("k1", "region")
        val s2 = side("k2", "region2")
        s1.join(s2, s1("region") === s2("region2") && s1("k1") > s2("k2"))
          .select("k1", "k2", "region")
      },
      Some(
        "SELECT s1.s_suppkey AS k1, s2.s_suppkey AS k2, n1.n_regionkey AS region " +
          "FROM supplier s1 JOIN nation n1 ON s1.s_nationkey = n1.n_nationkey " +
          "JOIN supplier s2 ON s1.s_suppkey > s2.s_suppkey " +
          "JOIN nation n2 ON s2.s_nationkey = n2.n_nationkey " +
          "AND n1.n_regionkey = n2.n_regionkey"),
    ),
    QuerySpec(
      "q11_agg_hash",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            dsum(qty).as("sum_qty"),
            dsum(price).as("sum_base_price"),
            expr(s"CAST(SUM($price * (1 - $disc)) AS DOUBLE)").as("sum_disc_price"),
            expr(s"CAST(SUM($price * (1 - $disc) * (1 + $tax)) AS DOUBLE)").as("sum_charge"),
            expr(s"CAST(SUM($qty) AS DOUBLE) / COUNT(*)").as("avg_qty"),
            expr(s"CAST(SUM($price) AS DOUBLE) / COUNT(*)").as("avg_price"),
            count(lit(1)).as("count_order")),
      Some(
        "SELECT l_returnflag, l_linestatus, " +
          s"CAST(SUM($qty) AS DOUBLE) AS sum_qty, " +
          s"CAST(SUM($price) AS DOUBLE) AS sum_base_price, " +
          s"CAST(SUM($price * (1 - $disc)) AS DOUBLE) AS sum_disc_price, " +
          s"CAST(SUM($price * (1 - $disc) * (1 + $tax)) AS DOUBLE) AS sum_charge, " +
          s"CAST(SUM($qty) AS DOUBLE) / COUNT(*) AS avg_qty, " +
          s"CAST(SUM($price) AS DOUBLE) / COUNT(*) AS avg_price, " +
          "COUNT(*) AS count_order " +
          "FROM lineitem GROUP BY l_returnflag, l_linestatus"),
    ),
    QuerySpec(
      "q12_count_distinct",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(countDistinct(col("l_partkey")).as("n_parts"), count(lit(1)).as("n_rows")),
      Some(
        "SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS n_parts, COUNT(*) AS n_rows " +
          "FROM lineitem GROUP BY l_returnflag"),
    ),
    QuerySpec(
      // HLL++ sketch. The raw estimate is engine-specific, so the
      // hash-checkable contract is the tolerance verdict itself: the
      // estimate must sit within 3× the requested rsd (0.02) of the
      // exact count. A broken sketch flips within_tol to false and the
      // oracle (which asserts `true` per group) catches it.
      // Plan shape (r10 re-adjudication, measured in BASELINE.md's
      // round-10 q12b record): countDistinct + another aggregate in ONE
      // aggregation forces an Expand that doubles the shuffled rows
      // (1.28 s at sf0.1 vs the 0.56 s baseline-era sketch-only form).
      // Instead: distinct (flag, key) pairs first — map-side combinable
      // partial dedup, the right 100 TB shape — then exact = count and
      // sketch = HLL of the already-distinct keys, which is REGISTER-
      // IDENTICAL to HLL of the raw multiset (HLL is duplicate-
      // insensitive). One scan, one shuffle, no Expand: 0.53 s, 0.94×
      // of the recorded baseline.
      "q12b_approx_distinct",
      (s, dir) =>
        t(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_partkey")).distinct()
          .groupBy("l_returnflag")
          .agg(
            approx_count_distinct(col("l_partkey"), 0.02).as("approx"),
            // count(l_partkey), not count(*): both countDistinct and the
            // HLL sketch EXCLUDE nulls, so the exact arm must too or a
            // nullable key would shift the tolerance gate by the
            // distinct (flag, NULL) rows
            count(col("l_partkey")).as("exact"))
          .select(
            col("l_returnflag"),
            expr("abs(CAST(approx AS DOUBLE) - exact) <= 3 * 0.02D * exact")
              .as("within_tol")),
      Some(
        "SELECT l_returnflag, true AS within_tol FROM lineitem GROUP BY l_returnflag"),
    ),
    QuerySpec(
      "q13_rollup",
      (s, dir) =>
        t(s, dir, "lineitem")
          .rollup("l_returnflag", "l_linestatus")
          .agg(dsum(qty).as("sum_qty"), count(lit(1)).as("n")),
      Some(
        s"SELECT l_returnflag, l_linestatus, CAST(SUM($qty) AS DOUBLE) AS sum_qty, COUNT(*) AS n " +
          "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"),
    ),
    QuerySpec(
      "q13d_cube",
      (s, dir) =>
        t(s, dir, "lineitem")
          .cube("l_returnflag", "l_linestatus")
          .agg(dsum(qty).as("sum_qty"), count(lit(1)).as("n")),
      Some(
        s"SELECT l_returnflag, l_linestatus, CAST(SUM($qty) AS DOUBLE) AS sum_qty, COUNT(*) AS n " +
          "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)"),
    ),
    QuerySpec(
      "q13b_grouping_sets",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        li.createOrReplaceTempView("graft_li")
        s.sql(
          "SELECT l_returnflag, l_linestatus, " +
            s"CAST(SUM($qty) AS DOUBLE) AS sum_qty, COUNT(*) AS n, " +
            "CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid " +
            "FROM graft_li " +
            "GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())")
      },
      Some(
        "SELECT l_returnflag, l_linestatus, " +
          s"CAST(SUM($qty) AS DOUBLE) AS sum_qty, COUNT(*) AS n, " +
          "CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid " +
          "FROM lineitem " +
          "GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())"),
    ),
    QuerySpec(
      // exact percentiles (interpolated) — Spark `percentile` and
      // DuckDB `quantile_cont` implement the same linear interpolation
      "q13c_percentiles",
      (s, dir) =>
        // one array-percentile per column: percentile sorts its input
        // per aggregate call, so asking for 0.5 and 0.9 together halves
        // the sort work vs two separate aggregates
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            expr("percentile(l_extendedprice, array(0.5D, 0.9D))").as("pp"),
            expr("round(percentile(l_quantity, 0.25), 6)").as("q25_qty"))
          .select(
            col("l_returnflag"),
            round(element_at(col("pp"), 1), 6).as("p50"),
            round(element_at(col("pp"), 2), 6).as("p90"),
            col("q25_qty")),
      Some(
        "SELECT l_returnflag, " +
          "round(quantile_cont(l_extendedprice, 0.5), 6) AS p50, " +
          "round(quantile_cont(l_extendedprice, 0.9), 6) AS p90, " +
          "round(quantile_cont(l_quantity, 0.25), 6) AS q25_qty " +
          "FROM lineitem GROUP BY l_returnflag"),
    ),
    QuerySpec(
      // Sketch percentiles with a self-checking gate (q12b's pattern):
      // approx_percentile at accuracy 1000 must land within the value
      // range spanned by the exact p45–p55 / p85–p95 percentiles — a
      // rank-error bound the sketch guarantees (±1/accuracy ≪ 0.05).
      // At 100 TB the sketch is ONE mergeable pass, no full sort.
      "q13e_approx_percentiles",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            expr("approx_percentile(l_extendedprice, array(0.5D, 0.9D), 1000)").as("ap"),
            expr("percentile(l_extendedprice, array(0.45D, 0.55D, 0.85D, 0.95D))").as("ep"))
          .select(
            col("l_returnflag"),
            expr("element_at(ap, 1) BETWEEN element_at(ep, 1) AND element_at(ep, 2)")
              .as("p50_within_rank_tol"),
            expr("element_at(ap, 2) BETWEEN element_at(ep, 3) AND element_at(ep, 4)")
              .as("p90_within_rank_tol")),
      Some(
        "SELECT l_returnflag, true AS p50_within_rank_tol, true AS p90_within_rank_tol " +
          "FROM lineitem GROUP BY l_returnflag"),
    ),
    QuerySpec(
      "q14_topk",
      (s, dir) =>
        t(s, dir, "orders")
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .limit(10)
          .select("o_orderkey", "o_custkey", "o_totalprice"),
      Some(
        "SELECT o_orderkey, o_custkey, o_totalprice FROM orders " +
          "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"),
    ),
    QuerySpec(
      "q15_setops",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val hi = o.filter(col("o_totalprice") > 250000.0).select("o_orderkey")
        val fs = o.filter(col("o_orderstatus") === "F").select("o_orderkey")
        hi.union(fs).distinct().except(hi.intersect(fs))
      },
      Some(
        "(SELECT o_orderkey FROM orders WHERE o_totalprice > 250000 " +
          "UNION SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F') " +
          "EXCEPT " +
          "(SELECT o_orderkey FROM orders WHERE o_totalprice > 250000 " +
          "INTERSECT SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')"),
    ),
    QuerySpec(
      "q16_window",
      (s, dir) => {
        val w1 = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
        val w2 = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"))
        t(s, dir, "orders").select(
          col("o_custkey"),
          col("o_orderkey"),
          row_number().over(w1).cast("bigint").as("rn"),
          rank().over(w2).cast("bigint").as("rnk"),
          lag(col("o_totalprice"), 1).over(w1).as("prev_price"),
          expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (" +
            "PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
            "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)").as("run_sum"))
      },
      Some(
        "SELECT o_custkey, o_orderkey, " +
          "CAST(row_number() OVER w1 AS BIGINT) AS rn, " +
          "CAST(rank() OVER w2 AS BIGINT) AS rnk, " +
          "lag(o_totalprice, 1) OVER w1 AS prev_price, " +
          "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (" +
          "PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
          "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_sum " +
          "FROM orders WINDOW " +
          "w1 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), " +
          "w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate)"),
    ),
    QuerySpec(
      // The rest of the ANSI window-function family beyond q16:
      // lead, dense_rank, percent_rank, cume_dist, ntile, first/last
      // value over an explicit full frame, and a RANGE (peer-inclusive)
      // running sum to contrast with q16's ROWS frame. One shuffle on
      // the partition key, same as any windowed query.
      "q16b_window_funcs",
      (s, dir) => {
        val w1 = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
        val w2 = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"))
        val wFull = w1.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        t(s, dir, "orders").select(
          col("o_custkey"),
          col("o_orderkey"),
          lead(col("o_totalprice"), 1).over(w1).as("next_price"),
          dense_rank().over(w2).cast("bigint").as("drnk"),
          percent_rank().over(w2).as("prnk"),
          cume_dist().over(w2).as("cdist"),
          ntile(4).over(w1).cast("bigint").as("quartile"),
          first(col("o_orderkey")).over(w1).cast("bigint").as("first_key"),
          last(col("o_orderkey")).over(wFull).cast("bigint").as("last_key"),
          expr("CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (" +
            "PARTITION BY o_custkey ORDER BY o_orderdate " +
            "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)").as("range_sum"))
      },
      Some(
        "SELECT o_custkey, o_orderkey, " +
          "lead(o_totalprice, 1) OVER w1 AS next_price, " +
          "CAST(dense_rank() OVER w2 AS BIGINT) AS drnk, " +
          "percent_rank() OVER w2 AS prnk, " +
          "cume_dist() OVER w2 AS cdist, " +
          "CAST(ntile(4) OVER w1 AS BIGINT) AS quartile, " +
          "CAST(first_value(o_orderkey) OVER w1 AS BIGINT) AS first_key, " +
          "CAST(last_value(o_orderkey) OVER (PARTITION BY o_custkey " +
          "ORDER BY o_orderdate, o_orderkey " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS BIGINT) AS last_key, " +
          "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (" +
          "PARTITION BY o_custkey ORDER BY o_orderdate " +
          "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS range_sum " +
          "FROM orders WINDOW " +
          "w1 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), " +
          "w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate)"),
    ),
    QuerySpec(
      "q17_scalars",
      (s, dir) =>
        t(s, dir, "orders").select(
          col("o_orderkey"),
          concat(lower(substring(col("o_orderpriority"), 1, 3)), lit("_"), col("o_orderstatus")).as("tag"),
          year(col("o_orderdate")).cast("bigint").as("yr"),
          date_format(trunc(to_date(col("o_orderdate")), "month"), "yyyy-MM-dd").as("month_start"),
          sqrt(col("o_totalprice")).as("sq"),
          abs(col("o_totalprice") - 250000.0).as("ab"),
          floor(col("o_totalprice")).cast("bigint").as("fl"),
          ceil(col("o_totalprice")).cast("bigint").as("ce")),
      Some(
        "SELECT o_orderkey, " +
          "lower(substr(o_orderpriority, 1, 3)) || '_' || o_orderstatus AS tag, " +
          "CAST(year(o_orderdate) AS BIGINT) AS yr, " +
          "strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start, " +
          "sqrt(o_totalprice) AS sq, " +
          "abs(o_totalprice - 250000.0) AS ab, " +
          "CAST(floor(o_totalprice) AS BIGINT) AS fl, " +
          "CAST(ceil(o_totalprice) AS BIGINT) AS ce " +
          "FROM orders"),
    ),
    QuerySpec(
      // Date/time arithmetic family beyond q17: interval add with
      // end-of-month clamping, day diffs against an epoch, calendar
      // field extraction, last-day-of-month. Derived dates surface as
      // formatted strings so the cross-engine compare is exact.
      "q17b_datetime",
      (s, dir) => {
        val d = to_date(col("o_orderdate"))
        t(s, dir, "orders").select(
          col("o_orderkey"),
          date_format(date_add(d, 30), "yyyy-MM-dd").as("plus_30d"),
          date_format(add_months(d, 3), "yyyy-MM-dd").as("plus_3mo"),
          datediff(d, lit("1995-01-01")).cast("bigint").as("days_since_epoch95"),
          quarter(d).cast("bigint").as("qtr"),
          dayofyear(d).cast("bigint").as("doy"),
          weekday(d).cast("bigint").as("dow_mon0"),
          date_format(last_day(d), "yyyy-MM-dd").as("month_end"))
      },
      Some(
        "SELECT o_orderkey, " +
          "strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS plus_30d, " +
          "strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus_3mo, " +
          "CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS days_since_epoch95, " +
          "CAST(quarter(o_orderdate) AS BIGINT) AS qtr, " +
          "CAST(dayofyear(o_orderdate) AS BIGINT) AS doy, " +
          "CAST(isodow(o_orderdate) - 1 AS BIGINT) AS dow_mon0, " +
          "strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d') AS month_end " +
          "FROM orders"),
    ),
    QuerySpec(
      "q18_json",
      (s, dir) =>
        Tables.events(s, dir).select(
          col("event_id"),
          get_json_object(col("props"), "$.k").as("k_str"),
          // try_cast: the oracle side always declared null-on-failure
          // (TRY_CAST below), but under the session's ANSI default a
          // plain CAST of a NON-NUMERIC props.k THROWS — heterogeneous
          // JSON payloads are the normal case, not the degenerate
          // (r17 ANSI access/cast sweep). try_cast pins both engines
          // to the NULL the oracle already had.
          expr("try_cast(get_json_object(props, '$.k') AS BIGINT)").as("k")),
      Some(
        // TRY_CAST: null-on-failure on both engines — a non-numeric
        // props.k must not abort either side
        "SELECT event_id, json_extract_string(props, '$.k') AS k_str, " +
          "TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k FROM events"),
    ),
    QuerySpec(
      "q18c_map_ops",
      (s, dir) =>
        Tables.events(s, dir).select(
          col("event_id"),
          expr("array_join(array_sort(map_keys(from_json(props, 'map<string,string>'))), ',')")
            .as("keys"),
          expr("CAST(size(from_json(props, 'map<string,string>')) AS BIGINT)").as("n_keys"),
          // MAP element_at on a missing key is NULL even under the
          // ANSI session default (verified empirically r17: only
          // ARRAY index access throws; AnsiDivisionSpec pins the map
          // behavior) — matching the oracle's json_extract_string
          // NULL, so no try_ wrapper is needed here
          expr("element_at(from_json(props, 'map<string,string>'), 'k')").as("k_val")),
      Some(
        "SELECT event_id, " +
          "array_to_string(list_sort(json_keys(props)), ',') AS keys, " +
          "CAST(len(json_keys(props)) AS BIGINT) AS n_keys, " +
          "json_extract_string(props, '$.k') AS k_val FROM events"),
    ),
    QuerySpec(
      "q18b_explode",
      (s, dir) =>
        t(s, dir, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("token")),
      Some(
        "SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents"),
    ),
    QuerySpec(
      // Higher-order array functions as a first-class query surface
      // (they're used internally throughout — q47/q53 — but a user
      // needs them callable): filter, exists, transform, aggregate
      // (fold), zip_with-free slicing. All per-row, scan speed.
      "q18d_higher_order",
      (s, dir) =>
        t(s, dir, "documents")
          .withColumn("w", split(col("text"), " "))
          .select(
            col("doc_id"),
            expr("CAST(size(filter(w, x -> length(x) >= 5)) AS BIGINT)").as("n_long_words"),
            expr("exists(w, x -> x = 'spark')").as("has_spark"),
            expr("array_join(transform(slice(w, 1, 3), x -> upper(x)), ',')").as("head3_upper"),
            expr("aggregate(w, CAST(0 AS BIGINT), (acc, x) -> acc + length(x))").as("total_chars")),
      Some(
        "SELECT doc_id, " +
          "CAST(len(list_filter(string_split(text, ' '), x -> length(x) >= 5)) AS BIGINT) AS n_long_words, " +
          "len(list_filter(string_split(text, ' '), x -> x = 'spark')) > 0 AS has_spark, " +
          "array_to_string(list_transform(string_split(text, ' ')[1:3], x -> upper(x)), ',') AS head3_upper, " +
          "CAST(list_sum(list_transform(string_split(text, ' '), x -> length(x))) AS BIGINT) AS total_chars " +
          "FROM documents"),
    ),
    QuerySpec(
      // ANSI null semantics, exercised with real NULLs manufactured by
      // NULLIF: coalesce chains, null-safe equality (<=> ↔ IS NOT
      // DISTINCT FROM), null-aware conditionals, and aggregate null
      // skipping vs counting.
      "q17c_nulls",
      (s, dir) =>
        t(s, dir, "orders")
          .withColumn("st_null", expr("NULLIF(o_orderstatus, 'F')"))
          .select(
            col("o_orderkey"),
            coalesce(col("st_null"), lit("fell_back")).as("st_or_default"),
            expr("st_null <=> 'O'").as("nullsafe_eq_o"),
            expr("st_null IS NULL").as("is_f"),
            expr("CASE WHEN st_null IS NULL THEN -1 ELSE length(st_null) END")
              .cast("bigint").as("len_or_neg1")),
      Some(
        "WITH t AS (SELECT o_orderkey, NULLIF(o_orderstatus, 'F') AS st_null FROM orders) " +
          "SELECT o_orderkey, " +
          "COALESCE(st_null, 'fell_back') AS st_or_default, " +
          "st_null IS NOT DISTINCT FROM 'O' AS nullsafe_eq_o, " +
          "st_null IS NULL AS is_f, " +
          "CAST(CASE WHEN st_null IS NULL THEN -1 ELSE length(st_null) END AS BIGINT) AS len_or_neg1 " +
          "FROM t"),
    ),
    QuerySpec(
      "q19_corr",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_returnflag")
          .agg(
            round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("r_qty_price"),
            round(corr(col("l_discount"), col("l_tax")), 6).as("r_disc_tax")),
      Some(
        "SELECT l_returnflag, " +
          "round(corr(l_quantity, l_extendedprice), 6) AS r_qty_price, " +
          "round(corr(l_discount, l_tax), 6) AS r_disc_tax " +
          "FROM lineitem GROUP BY l_returnflag"),
    ),
    QuerySpec(
      "q20_dedup",
      (s, dir) =>
        Tables.events(s, dir)
          .groupBy("user_id", "ts")
          .agg(min(col("event_id")).as("event_id"), count(lit(1)).as("n_dups")),
      Some(
        // DuckDB reads parquet TIMESTAMP(NANOS) at nanosecond precision;
        // Spark groups at micros (nanosAsLong → ts div 1000). Truncate in
        // the oracle too so group cardinality matches even if the fixture
        // ever contains rows distinct only below microsecond resolution.
        "SELECT user_id, date_trunc('microseconds', ts) AS ts, " +
          "MIN(event_id) AS event_id, COUNT(*) AS n_dups " +
          "FROM events GROUP BY user_id, date_trunc('microseconds', ts)"),
    ),
    QuerySpec(
      // TPC-H Q1 pricing summary, submitted as PURE SQL through
      // spark.sql over temp views — the engine's SQL front door, same
      // Catalyst plan as the DataFrame API. Money math runs in exact
      // DECIMAL (products need ≤6 decimal places, so every
      // intermediate is exactly representable on both engines) and
      // surfaces as DOUBLE. One map-side-combinable aggregation over
      // a pushed-down date filter.
      "q55_tpch_q1",
      (s, dir) => sharedSql(s, dir, Seq("lineitem"), tpchQ1Sql),
      Some(tpchQ1Sql("")),
    ),
    QuerySpec(
      // TPC-H Q3 shipping-priority top-10, pure SQL: the flagship
      // join-agg-topk shape. customer is the small side (broadcast);
      // revenue stays exact DECIMAL until the final cast so the
      // ORDER BY ... LIMIT cut is deterministic cross-engine.
      "q56_tpch_q3",
      (s, dir) => sharedSql(s, dir, Seq("customer", "orders", "lineitem"), tpchQ3Sql),
      Some(tpchQ3Sql("")),
    ),
    QuerySpec(
      // TPC-H Q5 local-supplier revenue: the join-heavy star shape —
      // 6-way join where Catalyst broadcasts the three tiny dims
      // (nation/region/supplier at this ratio) and AQE picks the
      // build sides at runtime; one map-side-combinable aggregate on
      // the 5-row n_name key.
      "q57_tpch_q5",
      (s, dir) => sharedSql(s, dir,
        Seq("customer", "orders", "lineitem", "supplier", "nation", "region"), tpchQ5Sql),
      Some(tpchQ5Sql("")),
    ),
    QuerySpec(
      // TPC-H Q10 returned-item top-20: join-agg over a high-cardinality
      // group key (per-customer) with a deterministic LIMIT cut —
      // the top-k-over-join-agg shape. (The reference Q10 projection
      // also carries c_address/c_phone/c_comment; the fixture customer
      // table doesn't have those columns — same grouping cardinality,
      // nothing else changes.)
      "q58_tpch_q10",
      (s, dir) => sharedSql(s, dir,
        Seq("customer", "orders", "lineitem", "nation"), tpchQ10Sql),
      Some(tpchQ10Sql("")),
    ),
    QuerySpec(
      // Hive-partitioned layout round-trip: write `orders` partitioned
      // by year, read it back through a partition predicate. The filter
      // must prune DIRECTORIES at planning time (PartitionFilters on
      // the scan — asserted in PartitionPruningSpec over this very
      // query), which is the 100 TB layout pattern: one year queried =
      // one year read, not the table.
      "q60_partition_pruned",
      (s, dir) => {
        // scratch path keyed by the input dataset (like q206's): two
        // interleaved runs over different sf dirs must not overwrite
        // each other between write and read
        val tmp = Relational.scoped(Relational.partitionedDir, dir)
        t(s, dir, "orders")
          .withColumn("o_year", year(col("o_orderdate")))
          .write.mode("overwrite").partitionBy("o_year").parquet(tmp)
        s.read.parquet(tmp)
          .filter(col("o_year") === 1996)
          .select(
            col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
            col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"),
            col("o_year").cast("int").as("o_year"))
      },
      Some(
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, " +
          "o_orderdate, o_orderpriority, CAST(year(o_orderdate) AS INTEGER) AS o_year " +
          "FROM orders WHERE year(o_orderdate) = 1996"),
    ),
    QuerySpec(
      // DYNAMIC partition pruning — q60 proves the STATIC case (a
      // literal predicate on the partition column prunes directories
      // at planning time); this is the scale case where the pruning
      // values are only known at RUNTIME: the fact table is
      // partitioned by o_year and joined to a FILTERED dim frame keyed
      // by year (leap years derived from lineitem's ship calendar —
      // the date-dim star-join shape), so Catalyst injects a
      // `dynamicpruning` subquery into the fact scan's
      // PartitionFilters (asserted in PartitionPruningSpec over this
      // query) and only the dim-selected year directories are read.
      // At 100 TB this is the fact-scan survival pattern for star
      // joins whose date filter lives on the dim: without DPP the
      // whole fact table is scanned, with it the scan reads 2 of 7
      // years. Broadcast dim → DPP reuses the broadcast (the
      // zero-extra-cost reuseBroadcastOnly mode, Spark's default).
      "q205_dynamic_partition_pruning",
      (s, dir) => {
        // per-dataset scratch path — same rationale as q60 above
        val tmp = Relational.scoped(Relational.dppDir, dir)
        t(s, dir, "orders")
          .withColumn("o_year", year(col("o_orderdate")))
          .write.mode("overwrite").partitionBy("o_year").parquet(tmp)
        val facts = s.read.parquet(tmp)
        val dimYears = t(s, dir, "lineitem")
          .select(year(col("l_shipdate")).as("y")).distinct()
          .filter(pmod(col("y"), lit(4)) === 0)
        facts.join(broadcast(dimYears), facts("o_year") === dimYears("y"))
          .groupBy(col("o_year").cast("int").as("o_year"))
          .agg(
            count(lit(1)).as("n_orders"),
            // DECIMAL-exact money fold, cast for the cross-engine gate
            sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
              .as("revenue"))
      },
      Some(
        "WITH dim AS (SELECT DISTINCT year(l_shipdate) AS y FROM lineitem " +
          "WHERE year(l_shipdate) % 4 = 0) " +
          "SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, " +
          "CAST(COUNT(*) AS BIGINT) AS n_orders, " +
          "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue " +
          "FROM orders JOIN dim ON year(o_orderdate) = dim.y GROUP BY 1"),
    ),
    QuerySpec(
      // Pure scan-aggregate: all three predicates push to the parquet
      // scan, no join, one global map-side-combinable sum.
      "q61_tpch_q6",
      (s, dir) => sharedSql(s, dir, Seq("lineitem"), tpchQ6Sql),
      Some(tpchQ6Sql("")),
    ),
    QuerySpec(
      // Conditional aggregation over a broadcast fact-dim join.
      "q62_tpch_q14",
      (s, dir) => sharedSql(s, dir, Seq("lineitem", "part"), tpchQ14Sql),
      Some(tpchQ14Sql("")),
    ),
    QuerySpec(
      // HAVING-subquery semi-join feeding a 3-way join + top-k.
      "q63_tpch_q18",
      (s, dir) => sharedSql(s, dir, Seq("customer", "orders", "lineitem"), tpchQ18Sql),
      Some(tpchQ18Sql("")),
    ),
    QuerySpec(
      // LEFT OUTER with join-side filter, double aggregation (histogram
      // of per-customer order counts).
      "q64_tpch_q13",
      (s, dir) => sharedSql(s, dir, Seq("customer", "orders"), tpchQ13Sql),
      Some(tpchQ13Sql("")),
    ),
    QuerySpec(
      // Equi-join with a disjunctive mixed-side residual predicate.
      "q65_tpch_q19",
      (s, dir) => sharedSql(s, dir, Seq("lineitem", "part"), tpchQ19Sql),
      Some(tpchQ19Sql("")),
    ),
    QuerySpec(
      // Scalar subqueries + NOT EXISTS anti-join + grouped agg.
      "q66_tpch_q22",
      (s, dir) => sharedSql(s, dir, Seq("customer", "orders"), tpchQ22Sql),
      Some(tpchQ22Sql("")),
    ),
    QuerySpec(
      // Correlated scalar subquery (per-part AVG), de-correlated by
      // Catalyst into an aggregate + equi-join.
      "q67_tpch_q17",
      (s, dir) => sharedSql(s, dir, Seq("lineitem", "part"), tpchQ17Sql),
      Some(tpchQ17Sql("")),
    ),
    QuerySpec(
      // Correlated EXISTS → left-semi join with mixed condition.
      "q68_tpch_q4",
      (s, dir) => sharedSql(s, dir, Seq("orders", "lineitem"), tpchQ4Sql),
      Some(tpchQ4Sql("")),
    ),
    QuerySpec(
      // CTE consumed twice (join input + scalar MAX subquery).
      "q69_tpch_q15",
      (s, dir) => sharedSql(s, dir, Seq("lineitem", "supplier"), tpchQ15Sql),
      Some(tpchQ15Sql("")),
    ),
    QuerySpec(
      // Dimension self-join: nation aliased twice with a symmetric
      // disjunctive pair filter, 3-key grouped sum.
      "q70_tpch_q7",
      (s, dir) => sharedSql(s, dir,
        Seq("supplier", "lineitem", "orders", "customer", "nation"), tpchQ7Sql),
      Some(tpchQ7Sql("")),
    ),
    QuerySpec(
      // Globally-sorted export: repartitionByRange gives each output
      // file a DISJOINT key range (sampled range boundaries — one
      // shuffle, never a single-task global sort), sortWithinPartitions
      // orders rows inside each file. The layout is what makes parquet
      // min/max zone-maps effective: a date-predicate scan over the
      // export skips whole files. File-range disjointness is asserted in
      // SortedExportSpec; content equality is gated here.
      "q73_sorted_export",
      (s, dir) => {
        val tmp = Relational.scoped(Relational.sortedExportDir, dir)
        t(s, dir, "orders")
          .repartitionByRange(8, col("o_orderdate"), col("o_orderkey"))
          .sortWithinPartitions("o_orderdate", "o_orderkey")
          .write.mode("overwrite").parquet(tmp)
        s.read.parquet(tmp)
      },
      Some("SELECT * FROM orders"),
    ),
    QuerySpec(
      // Schema evolution across partitions: a long-lived 100 TB table's
      // old partitions carry the old schema (era 1, no priority column)
      // and new partitions the widened one (era 2). mergeSchema
      // reconciles them at read time — era-1 rows surface NULL for the
      // added column; the era partition key itself is directory-derived.
      "q74_schema_evolution",
      (s, dir) => {
        val tmp = Relational.scoped(Relational.schemaEvoDir, dir)
        val o = t(s, dir, "orders")
        val cut = to_date(lit("1998-01-01"))
        o.filter(col("o_orderdate") < cut)
          .select("o_orderkey", "o_custkey", "o_totalprice")
          .write.mode("overwrite").parquet(s"$tmp/era=1")
        o.filter(col("o_orderdate") >= cut)
          .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
          .write.mode("overwrite").parquet(s"$tmp/era=2")
        s.read.option("mergeSchema", "true").parquet(tmp)
          .select(
            col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderpriority"), col("era").cast("int").as("era"))
      },
      Some(
        "SELECT o_orderkey, o_custkey, o_totalprice, " +
          "CAST(NULL AS VARCHAR) AS o_orderpriority, 1 AS era " +
          "FROM orders WHERE o_orderdate < DATE '1998-01-01' " +
          "UNION ALL " +
          "SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority, 2 AS era " +
          "FROM orders WHERE o_orderdate >= DATE '1998-01-01'"),
    ),
    QuerySpec(
      // Nest-building (the inverse of explode): collect each order's
      // lines into a sorted array of structs — the document/denormalized
      // export shape — then flatten back, proving the round trip. The
      // nested build is ONE shuffle on the group key; sort_array makes
      // the array order deterministic (collect_list order is not).
      "q75_nest_build",
      (s, dir) =>
        t(s, dir, "lineitem")
          .groupBy("l_orderkey")
          .agg(sort_array(collect_list(struct(col("l_linenumber"), col("l_quantity"))))
            .as("items"))
          .select(
            col("l_orderkey"),
            size(col("items")).as("n_items"),
            explode(col("items")).as("it"))
          .select(
            col("l_orderkey"), col("n_items"),
            col("it.l_linenumber"), col("it.l_quantity")),
      Some(
        "SELECT l_orderkey, CAST(cnt AS INT) AS n_items, l_linenumber, l_quantity " +
          "FROM (SELECT l_orderkey, l_linenumber, l_quantity, " +
          "COUNT(*) OVER (PARTITION BY l_orderkey) AS cnt FROM lineitem) t"),
    ),
    QuerySpec(
      // Share-of-group division over an 8-way join (nation twice).
      "q79_tpch_q8",
      (s, dir) => sharedSql(s, dir,
        Seq("part", "lineitem", "supplier", "orders", "customer", "nation", "region"),
        tpchQ8Sql),
      Some(tpchQ8Sql("")),
    ),
    QuerySpec(
      // Widest fact join; exact-decimal profit amount per line.
      "q80_tpch_q9",
      (s, dir) => sharedSql(s, dir,
        Seq("part", "lineitem", "supplier", "orders", "nation"), tpchQ9Sql),
      Some(tpchQ9Sql("")),
    ),
    QuerySpec(
      // Conditional pivot-counts with a cross-table date predicate.
      "q81_tpch_q12",
      (s, dir) => sharedSql(s, dir, Seq("orders", "lineitem"), tpchQ12Sql),
      Some(tpchQ12Sql("")),
    ),
    QuerySpec(
      // EXISTS + NOT EXISTS double self-join correlation on the fact.
      "q82_tpch_q21",
      (s, dir) => sharedSql(s, dir,
        Seq("supplier", "lineitem", "orders", "nation"), tpchQ21Sql),
      Some(tpchQ21Sql("")),
    ),
    QuerySpec(
      // CTE reused in a correlated scalar MIN subquery.
      "q83_tpch_q2",
      (s, dir) => sharedSql(s, dir,
        Seq("part", "lineitem", "supplier", "nation", "region"), tpchQ2Sql),
      Some(tpchQ2Sql("")),
    ),
    QuerySpec(
      // Grouped value vs global scalar threshold, cross-multiplied exact.
      "q84_tpch_q11",
      (s, dir) => sharedSql(s, dir,
        Seq("lineitem", "supplier", "nation", "region"), tpchQ11Sql),
      Some(tpchQ11Sql("")),
    ),
    QuerySpec(
      // COUNT(DISTINCT) over a derived pair relation + NOT IN exclusion.
      "q85_tpch_q16",
      (s, dir) => sharedSql(s, dir,
        Seq("lineitem", "part", "supplier"), tpchQ16Sql),
      Some(tpchQ16Sql("")),
    ),
    QuerySpec(
      // Nested IN subqueries + scalar-subquery equality filter.
      "q86_tpch_q20",
      (s, dir) => sharedSql(s, dir,
        Seq("supplier", "lineitem", "part", "nation", "region"), tpchQ20Sql),
      Some(tpchQ20Sql("")),
    ),
    QuerySpec(
      // CDC merge (upsert): apply a change set to a base snapshot —
      // updated rows replace, new rows insert. Stated as anti-join +
      // union rather than a full-outer join: when the change set is
      // small (the usual CDC case) the planner broadcasts the
      // anti-join key set on its own — the changes are read back from
      // parquet, so size stats are real — and the base table is never
      // shuffled; a full-outer merge would shuffle all 100 TB on the
      // key. No forced broadcast hint: this fixture's change set is
      // fact-proportional (~40% of orders), and a hint is honored
      // unconditionally, so hinting here would pin a fact-sized frame
      // into executor memory at scale (the q192/q208 defect class).
      // AQE picks BHJ at runtime exactly when the set is small.
      // Base = pre-1999 snapshot;
      // change set = 1999+ rows (new keys) plus re-priced rows for
      // every key divisible by 10 (updates that must replace).
      "q87_merge_upsert",
      (s, dir) => {
        // DECIMAL(18,4) throughout: a 2-dp price × 1.05 needs exactly 4
        // decimals, so the re-price is EXACT — no tie-rounding for the
        // engines to disagree on.
        val o = t(s, dir, "orders").select(
          col("o_orderkey"), col("o_custkey"),
          expr("CAST(o_totalprice AS DECIMAL(18,4))").as("o_totalprice"),
          col("o_orderdate"))
        val cut = to_date(lit("1999-01-01"))
        val base = o.filter(col("o_orderdate") < cut)
        // In real CDC the change set ARRIVES materialized; derive it
        // once to scratch parquet so neither the anti-join key set nor
        // the union re-runs the derivation (an unpersisted DF here
        // would scan the base snapshot twice).
        o.filter(col("o_orderdate") >= cut)
          .unionAll(
            base.filter(col("o_orderkey") % 10 === 0)
              .withColumn("o_totalprice",
                expr("CAST(o_totalprice * 1.05 AS DECIMAL(18,4))")))
          .write.mode("overwrite").parquet(Relational.scoped(Relational.changeSetDir, dir))
        val changes = s.read.parquet(Relational.scoped(Relational.changeSetDir, dir))
        base
          .join(changes.select("o_orderkey"), Seq("o_orderkey"), "left_anti")
          .unionAll(changes)
          .select(
            col("o_orderkey"), col("o_custkey"),
            expr("CAST(o_totalprice AS DOUBLE)").as("o_totalprice"),
            col("o_orderdate"))
      },
      Some(
        "WITH o AS (SELECT o_orderkey, o_custkey, " +
          "CAST(o_totalprice AS DECIMAL(18,4)) AS o_totalprice, o_orderdate FROM orders), " +
          "base AS (SELECT * FROM o WHERE o_orderdate < DATE '1999-01-01'), " +
          "changes AS (SELECT * FROM o WHERE o_orderdate >= DATE '1999-01-01' " +
          "UNION ALL SELECT o_orderkey, o_custkey, " +
          "CAST(o_totalprice * 1.05 AS DECIMAL(18,4)), o_orderdate " +
          "FROM base WHERE o_orderkey % 10 = 0) " +
          "SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice, " +
          "o_orderdate FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM changes) " +
          "UNION ALL SELECT o_orderkey, o_custkey, CAST(o_totalprice AS DOUBLE), " +
          "o_orderdate FROM changes"),
    ),
    QuerySpec(
      // Z-order (Morton) layout: range-partition lineitem by the
      // interleaved (l_partkey, l_suppkey) z-value so per-file min/max
      // are tight on BOTH columns, then read back through a
      // two-dimensional predicate — at 100 TB the scan skips every
      // file whose zone maps exclude either dimension (file-range
      // tightness asserted in SortedExportSpec). Content equality is
      // gated here against a plain filter.
      "q88_zorder_layout",
      (s, dir) => {
        val tmp = Relational.scoped(Relational.zorderDir, dir)
        val li = t(s, dir, "lineitem")
        withZorder16(li, "l_partkey", "l_suppkey")
          .repartitionByRange(8, col("z"))
          .sortWithinPartitions("z")
          .write.mode("overwrite").parquet(tmp)
        s.read.parquet(tmp)
          // bounds chosen non-empty at every fixture sf (key ranges grow
          // 10x per sf step; 20-120 x 2-8 intersects all of them)
          .filter(col("l_partkey").between(20, 120) && col("l_suppkey").between(2, 8))
          .drop("z")
      },
      Some(
        "SELECT * FROM lineitem WHERE l_partkey BETWEEN 20 AND 120 " +
          "AND l_suppkey BETWEEN 2 AND 8"),
    ),
    QuerySpec(
      // Small-file compaction — the standing maintenance op of any
      // long-lived table (streaming sinks and partitioned writes leave
      // thousands of KB-sized files; each costs a task + open + footer
      // read). Target file count is COMPUTED from actual bytes /
      // target size, and the rewrite uses coalesce (merge-only, no
      // shuffle) — repartition would shuffle the whole table to fix a
      // layout problem. File-count contract asserted in
      // SortedExportSpec; content equality gated here.
      "q90_compact_files",
      (s, dir) => {
        val (frag, compact) = (Relational.scoped(Relational.fragmentedDir, dir), Relational.scoped(Relational.compactedDir, dir))
        t(s, dir, "orders").repartition(64).write.mode("overwrite").parquet(frag)
        val fs = org.apache.hadoop.fs.FileSystem.getLocal(
          s.sparkContext.hadoopConfiguration)
        val bytes = fs.listStatus(new org.apache.hadoop.fs.Path(frag))
          .filter(_.getPath.getName.endsWith(".parquet")).map(_.getLen).sum
        val targetBytes = 32L << 20
        val nFiles = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
        s.read.parquet(frag).coalesce(nFiles)
          .write.mode("overwrite").parquet(compact)
        s.read.parquet(compact)
      },
      Some("SELECT * FROM orders"),
    ),
    QuerySpec(
      // Declarative data-contract validation (Deequ/dbt-test shape):
      // a battery of expectations evaluated as ONE report frame —
      // range checks, null checks, primary-key uniqueness, referential
      // integrity — each row naming the expectation, its violation
      // count, and the verdict. Execution shape: all lineitem COLUMN
      // checks fold into a single scan (conditional aggregates are
      // combinable); uniqueness is one distinct-aggregate; the FK
      // check is a broadcast-eligible anti-join; the report is a union
      // of six 1-row frames. At 100 TB this is the pre-ingest gate
      // that runs BEFORE any expensive pass touches the corpus — and
      // it costs ~1.5 scans total regardless of how many column
      // expectations are declared.
      "q154_expectations",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val o = t(s, dir, "orders")
        def report(name: String, viol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
          struct(lit(name).as("expectation"), viol.cast("long").as("n_violations"))
        val colChecks = li
          .agg(
            sum(when(!col("l_quantity").between(1.0, 50.0), 1L).otherwise(0L)).as("qty"),
            sum(when(!col("l_discount").between(0.0, 0.1), 1L).otherwise(0L)).as("disc"),
            sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("shipnull"),
            (count(lit(1)) - countDistinct(col("l_orderkey"), col("l_linenumber"))).as("pk"))
          .select(explode(array(
            report("l_quantity_in_[1,50]", col("qty")),
            report("l_discount_in_[0,0.1]", col("disc")),
            report("l_shipdate_not_null", col("shipnull")),
            report("lineitem_pk_unique", col("pk")))).as("r"))
          .select(col("r.expectation"), col("r.n_violations"))
        val fk = li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti")
          .agg(count(lit(1)).as("n_violations"))
          .select(lit("l_orderkey_fk_orders").as("expectation"), col("n_violations"))
        val priceNull = o
          .agg(sum(when(col("o_totalprice").isNull, 1L).otherwise(0L)).cast("long")
            .as("n_violations"))
          .select(lit("o_totalprice_not_null").as("expectation"), col("n_violations"))
        colChecks.unionByName(fk).unionByName(priceNull)
          .withColumn("pass", col("n_violations") === 0L)
      },
      Some(
        "SELECT 'l_quantity_in_[1,50]' AS expectation, CAST(SUM(CASE WHEN " +
          "l_quantity NOT BETWEEN 1.0 AND 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations, " +
          "SUM(CASE WHEN l_quantity NOT BETWEEN 1.0 AND 50.0 THEN 1 ELSE 0 END) = 0 AS pass " +
          "FROM lineitem " +
          "UNION ALL SELECT 'l_discount_in_[0,0.1]', CAST(SUM(CASE WHEN " +
          "l_discount NOT BETWEEN 0.0 AND 0.1 THEN 1 ELSE 0 END) AS BIGINT), " +
          "SUM(CASE WHEN l_discount NOT BETWEEN 0.0 AND 0.1 THEN 1 ELSE 0 END) = 0 " +
          "FROM lineitem " +
          "UNION ALL SELECT 'l_shipdate_not_null', CAST(SUM(CASE WHEN " +
          "l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT), " +
          "SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) = 0 FROM lineitem " +
          "UNION ALL SELECT 'lineitem_pk_unique', " +
          "CAST(COUNT(*) - (SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber " +
          "FROM lineitem)) AS BIGINT), " +
          "COUNT(*) = (SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber " +
          "FROM lineitem)) FROM lineitem " +
          "UNION ALL SELECT 'l_orderkey_fk_orders', CAST(COUNT(*) AS BIGINT), COUNT(*) = 0 " +
          "FROM lineitem ANTI JOIN orders ON l_orderkey = o_orderkey " +
          "UNION ALL SELECT 'o_totalprice_not_null', CAST(SUM(CASE WHEN " +
          "o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT), " +
          "SUM(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END) = 0 FROM orders"),
    ),
    QuerySpec(
      // Skyline (Pareto-frontier) operator — docs non-dominated in
      // (length, vocabulary size), the multi-objective "best" set no
      // single ORDER BY can express. Distributive two-phase plan:
      // phase 1 prunes per hash-bucket with two partitioned range
      // windows (max y over strictly-greater x, and vice versa —
      // integer dims make RANGE … 1 PRECEDING mean "strictly
      // greater"), which is exact within the bucket and keeps every
      // global-skyline point (local non-domination is necessary for
      // global); phase 2 re-runs the same dominance test
      // partition-less on the few survivors. The corpus is never
      // globally sorted — the unpartitioned window touches only the
      // frontier-sized survivor frame (the q124-adjudicated shape).
      // The oracle is the quadratic NOT EXISTS dominance definition.
      "q166_skyline",
      (s, dir) => {
        val pts = Tables(s, dir, "documents").select(
          col("doc_id"),
          col("n_chars").as("x"),
          // lexical diversity (scaled type-token ratio) — anti-
          // correlated with length, so the frontier is a real tradeoff
          // curve rather than the single longest doc
          expr("CAST(floor(100000.0 * size(array_distinct(split(text, ' '))) " +
            "/ size(split(text, ' '))) AS BIGINT)").as("y"))
        def survivors(df: DataFrame, part: Seq[String]): DataFrame = {
          def w(order: String) = {
            val base = if (part.isEmpty) Window.partitionBy()
              else Window.partitionBy(part.map(col): _*)
            base.orderBy(col(order).desc)
              .rangeBetween(Window.unboundedPreceding, -1)
          }
          df.withColumn("max_y_gt_x", max(col("y")).over(w("x")))
            .withColumn("max_x_gt_y", max(col("x")).over(w("y")))
            .filter(
              (col("max_y_gt_x").isNull || col("max_y_gt_x") < col("y")) &&
                (col("max_x_gt_y").isNull || col("max_x_gt_y") < col("x")))
            .drop("max_y_gt_x", "max_x_gt_y")
        }
        val local = survivors(
          pts.withColumn("b", pmod(col("doc_id"), lit(16))), Seq("b")).drop("b")
        survivors(local, Nil)
      },
      Some(
        // MATERIALIZED: DuckDB inlines plain CTEs, which would re-split
        // the text per PAIR inside the quadratic NOT EXISTS
        "WITH pts AS MATERIALIZED (SELECT doc_id, n_chars AS x, " +
          "CAST(floor(100000.0 * len(list_distinct(string_split(text, ' '))) " +
          "/ len(string_split(text, ' '))) AS BIGINT) AS y " +
          "FROM documents) " +
          "SELECT p.doc_id, p.x, p.y FROM pts p WHERE NOT EXISTS " +
          "(SELECT 1 FROM pts q WHERE (q.x > p.x AND q.y >= p.y) " +
          "OR (q.x >= p.x AND q.y > p.y))"),
    ),
    QuerySpec(
      // Benford first-digit forensics — the fraud/data-quality screen
      // for "does this amount column look organic". First significant
      // digit extracted EXACTLY (string head of the floored integer
      // part — no log10 whose cross-engine rounding could flip a
      // power-of-ten boundary), one combinable 9-key count, then
      // share vs the Benford expectation log10(1+1/d) and the χ²
      // contribution, all row-local on the 9-row frame (the share
      // window runs on those 9 rows only). One scan at any scale.
      "q171_benford",
      (s, dir) => {
        val digits = Tables(s, dir, "orders")
          .filter(col("o_totalprice") >= 1.0)
          .select(substring(
            floor(col("o_totalprice")).cast("long").cast("string"), 1, 1)
            .cast("int").as("digit"))
          .groupBy("digit").agg(count(lit(1)).as("n"))
        val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
        digits
          .withColumn("share", col("n") / sum(col("n")).over(wAll).cast("double"))
          .withColumn("expected", log(10.0, lit(1.0) + lit(1.0) / col("digit")))
          .select(
            col("digit"), col("n"),
            round(col("share"), 6).as("share"),
            round(col("expected"), 6).as("expected"),
            round(pow(col("share") - col("expected"), 2) / col("expected"), 6)
              .as("chi2_contrib"))
      },
      Some(
        "WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) " +
          "AS VARCHAR), 1, 1) AS INT) AS digit FROM orders WHERE o_totalprice >= 1.0), " +
          "c AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1) " +
          "SELECT digit, n, round(n / CAST(SUM(n) OVER () AS DOUBLE), 6) AS share, " +
          "round(log10(1.0 + 1.0 / digit), 6) AS expected, " +
          "round(pow(n / CAST(SUM(n) OVER () AS DOUBLE) - log10(1.0 + 1.0 / digit), 2) " +
          "/ log10(1.0 + 1.0 / digit), 6) AS chi2_contrib FROM c"),
    ),
    QuerySpec(
      // χ² test of independence (market segment × region) — the
      // categorical-association screen. Observed counts are one
      // combinable groupBy over the broadcast-joined dims; marginals
      // and the expectation n_row·n_col/N come from windows over the
      // segments×regions contingency frame (≤ 25 rows) — the corpus
      // is touched once, everything after is cell-local arithmetic.
      "q172_chi2_independence",
      (s, dir) => {
        val obs = Tables(s, dir, "customer")
          .join(broadcast(Tables(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables(s, dir, "region")),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("c_mktsegment"), col("r_name"))
          .agg(count(lit(1)).as("n"))
        val W = org.apache.spark.sql.expressions.Window
        obs
          .withColumn("n_seg", sum(col("n")).over(W.partitionBy("c_mktsegment")))
          .withColumn("n_reg", sum(col("n")).over(W.partitionBy("r_name")))
          .withColumn("n_tot", sum(col("n")).over(W.partitionBy()))
          .withColumn("expected",
            col("n_seg") * col("n_reg") / col("n_tot").cast("double"))
          .select(
            col("c_mktsegment"), col("r_name"), col("n"),
            round(col("expected"), 6).as("expected"),
            round(pow(col("n") - col("expected"), 2) / col("expected"), 6)
              .as("chi2_contrib"))
      },
      Some(
        "WITH o AS (SELECT c_mktsegment, r_name, CAST(COUNT(*) AS BIGINT) AS n " +
          "FROM customer JOIN nation ON c_nationkey = n_nationkey " +
          "JOIN region ON n_regionkey = r_regionkey GROUP BY 1, 2), " +
          "m AS (SELECT c_mktsegment, r_name, n, " +
          "SUM(n) OVER (PARTITION BY c_mktsegment) AS n_seg, " +
          "SUM(n) OVER (PARTITION BY r_name) AS n_reg, " +
          "SUM(n) OVER () AS n_tot FROM o) " +
          "SELECT c_mktsegment, r_name, n, " +
          "round(n_seg * n_reg / CAST(n_tot AS DOUBLE), 6) AS expected, " +
          "round(pow(n - n_seg * n_reg / CAST(n_tot AS DOUBLE), 2) " +
          "/ (n_seg * n_reg / CAST(n_tot AS DOUBLE)), 6) AS chi2_contrib FROM m"),
    ),
    QuerySpec(
      // UNPIVOT / melt — wide-to-long reshape, the inverse of q36b's
      // pivot. Spark's native `Dataset.unpivot` is a zero-shuffle
      // narrow transform (each input row emits its 4 measure rows in
      // place; no exchange appears in the plan), which is exactly how
      // a reshape must behave at 100 TB — melting must never cost a
      // shuffle. Sampled to 1-in-10 orders by key arithmetic (pushed
      // to the scan) to keep the verify frame bounded.
      "q181_unpivot",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
          .filter(col("l_orderkey") % 10 === 0)
        li.unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
          "metric",
          "val")
      },
      Some(
        "SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS val " +
          "FROM lineitem WHERE l_orderkey % 10 = 0 " +
          "UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice " +
          "FROM lineitem WHERE l_orderkey % 10 = 0 " +
          "UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount " +
          "FROM lineitem WHERE l_orderkey % 10 = 0 " +
          "UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax " +
          "FROM lineitem WHERE l_orderkey % 10 = 0"),
    ),
    QuerySpec(
      // Referential-integrity audit — the FK health check a warehouse
      // runs before trusting joins: for every FK edge of the star
      // schema, total rows vs orphans (child keys with no parent).
      // Each edge is one LEFT join against the parent's key column
      // only (pruned scan) + a count. SCALE SCOPE: broadcast is FORCED
      // only for DIM-SIZED parents (part, supplier, customer, nation —
      // the facts stream once per edge and never shuffle). The
      // lineitem.orderkey edge has a FACT-SIZED parent whose distinct
      // keys do NOT broadcast at 100 TB, so that edge carries no hint:
      // the planner broadcasts while orders fits the threshold (the
      // fixture plan PlanShapeSpec pins) and falls back to a shuffled
      // left join at scale. A clean audit (0 orphans everywhere) is the
      // contract the fixtures must satisfy; the gate pins the exact
      // row totals so a short scan can't fake it.
      "q192_ri_audit",
      (s, dir) => {
        def edge(name: String, child: DataFrame, childKey: String,
            parent: DataFrame, parentKey: String,
            parentIsDim: Boolean = true): DataFrame =
          // one pass: left join against the parent's DISTINCT keys
          // (robust even if a parent key duplicated), then rows and
          // orphans fold in the same aggregation. The broadcast hint is
          // only FORCED for dim-sized parents; a fact-sized parent
          // (orders) is left to the planner, which broadcasts while it
          // fits and falls back to a shuffled join at scale.
          child.select(col(childKey))
            .join({
              val keys = parent.select(col(parentKey)).distinct()
              if (parentIsDim) broadcast(keys) else keys
            }, col(childKey) === col(parentKey), "left")
            .agg(
              count(lit(1)).as("n_rows"),
              sum(when(col(parentKey).isNull, 1L).otherwise(0L)).as("n_orphans"))
            .select(lit(name).as("fk_edge"), col("n_rows"), col("n_orphans"),
              (col("n_orphans") === 0).as("ok"))
        val li = t(s, dir, "lineitem")
        val ord = t(s, dir, "orders")
        val cust = t(s, dir, "customer")
        edge("lineitem.orderkey", li, "l_orderkey", ord, "o_orderkey", parentIsDim = false)
          .unionByName(edge("lineitem.partkey", li, "l_partkey", t(s, dir, "part"), "p_partkey"))
          .unionByName(edge("lineitem.suppkey", li, "l_suppkey", t(s, dir, "supplier"), "s_suppkey"))
          .unionByName(edge("orders.custkey", ord, "o_custkey", cust, "c_custkey"))
          .unionByName(edge("customer.nationkey", cust, "c_nationkey", t(s, dir, "nation"), "n_nationkey"))
      },
      Some {
        def edge(name: String, child: String, ck: String, parent: String, pk: String) =
          s"SELECT '$name' AS fk_edge, " +
            s"(SELECT CAST(COUNT(*) AS BIGINT) FROM $child) AS n_rows, " +
            s"(SELECT CAST(COUNT(*) AS BIGINT) FROM $child WHERE $ck NOT IN " +
            s"(SELECT $pk FROM $parent)) AS n_orphans, " +
            s"(SELECT COUNT(*) FROM $child WHERE $ck NOT IN (SELECT $pk FROM $parent)) = 0 AS ok"
        Seq(
          edge("lineitem.orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
          edge("lineitem.partkey", "lineitem", "l_partkey", "part", "p_partkey"),
          edge("lineitem.suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
          edge("orders.custkey", "orders", "o_custkey", "customer", "c_custkey"),
          edge("customer.nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
        ).mkString(" UNION ALL ")
      },
    ),
    QuerySpec(
      // Exact global median by TWO-PASS SELECTION — the engine answer
      // when "exact" and "no global sort" must both hold: pass 1 bins
      // the column (combinable 100-wide histogram) and walks the
      // bins-sized cumulative frame to find the bin holding the target
      // rank; pass 2 re-scans ONLY that bin's rows (predicate pushed
      // to the scan) and takes the within-bin offset via
      // TakeOrderedAndProject — bounded by the bin population, never
      // the corpus. The two driver-read scalars (bin id + offset) are
      // the same bounded-measurement pattern as q122's topKeyShare.
      // The selected value is an actual data element, so the gate is
      // exact equality, no float tolerance.
      "q196_exact_median_2pass",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val price = col("l_extendedprice")
        val li = t(s, dir, "lineitem").select(price)
        val bins = li.groupBy(floor(price / 100).cast("long").as("bin"))
          .agg(count(lit(1)).as("cnt"))
        val wb = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val cum = bins.withColumn("cum", sum(col("cnt")).over(wb))
          .withColumn("n", sum(col("cnt")).over(Window.partitionBy()))
          .withColumn("r", expr("(n + 1) div 2"))
          .filter(col("cum") >= col("r"))
          .orderBy("bin").limit(1)
          .select(col("bin"), (col("r") - (col("cum") - col("cnt"))).as("offset"), col("n"))
          .head()
        val (bin, offset, n) = (cum.getLong(0), cum.getLong(1), cum.getLong(2))
        // the within-bin limit is Int-typed AND plans a driver-sized
        // TakeOrderedAndProject — the bin population is the real bound
        // on pass 2's memory. A silently-wrapping Long would select the
        // wrong row; fail loudly and direct to a narrower bin width.
        require(offset <= Int.MaxValue,
          s"q196: within-bin rank $offset exceeds Int.MaxValue — narrow the bin width " +
            "(pass-2 TakeOrderedAndProject is driver-bounded by the bin population)")
        li.filter(floor(price / 100).cast("long") === bin)
          .orderBy(price).limit(offset.toInt)
          .agg(max(price).as("median_price"))
          .select(lit(n).as("n_rows"), col("median_price"))
      },
      Some(
        "SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_rows, " +
          "(SELECT l_extendedprice FROM lineitem ORDER BY l_extendedprice " +
          "LIMIT 1 OFFSET ((SELECT COUNT(*) FROM lineitem) + 1) // 2 - 1) AS median_price"),
    ),
  )
}
