"""Driver-registry queries that run THROUGH the sqlpp frontend+engine
(parse → analyze → compile → DataFrame), each with a DuckDB oracle.
These prove the dialect pipeline end-to-end under the driver's
correctness gate, alongside the direct-DataFrame suite in
relational.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sqlpp_spark.queries import register
from sqlpp_spark.session import session_state

_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
           "lineitem", "documents")


def _engine(spark: SparkSession, sf_dir: str):
    """The registry's engine over ``sf_dir``, one per session."""
    from sqlpp_spark.engine import SqlppEngine

    engines = session_state(spark).engines
    eng = engines.get(sf_dir)
    if eng is None:
        eng = SqlppEngine(spark)
        for t in _TABLES:
            eng.register_parquet(t, f"{sf_dir}/{t}.parquet")
        # events.ts is parquet TIMESTAMP(NANOS): route through the
        # normalizing reader (plain spark.read.parquet errors)
        from sqlpp_spark.sources.tables import read_table

        eng.register_df("events", read_table(spark, sf_dir, "events"))
        eng.add_decls(
            "create query big_orders as "
            "select o_custkey as ck, count(1) as n_big from orders "
            "where o_totalprice > 200000 group by o_custkey;"
        )
        eng.add_decls(
            "create fieldset nat_fields(from nation as n) as "
            "select n.n_nationkey as nationkey, n.n_name as nation_name;"
        )
        # r17: recursive VIEW (CREATE QUERY with a WITH RECURSIVE
        # body) — a power-of-two bucket spine
        eng.add_decls(
            "create query pow2 as with recursive p (b) as "
            "(select 1 as b union all select b * 2 as b from p "
            "where b < 300000) select b from p;"
        )
        engines[sf_dir] = eng
    return eng


# (name -> (sqlpp source, bound params)) — consumed by
# tests/test_sqlgen.py to cross-check the ANSI printer against every
# hand-written oracle in this file
SQLPP_SOURCES: dict = {}


def _sqlpp(name: str, src: str, oracle: str, headline: bool = False):
    SQLPP_SOURCES[name] = (src, {})

    @register(name, oracle=oracle, headline=headline)
    def run(spark: SparkSession, sf_dir: str, _src=src) -> DataFrame:
        return _engine(spark, sf_dir).query(_src)

    run.__name__ = name
    return run


_sqlpp(
    "sqlpp_filter_project",
    "select n_nationkey as nationkey, n_name as nation_name from nation "
    "where n_regionkey = 2",
    "SELECT n_nationkey AS nationkey, n_name AS nation_name FROM nation "
    "WHERE n_regionkey = 2",
)

_sqlpp(
    "sqlpp_join_group",
    "select n.n_name as nation_name, count(1) as n_customers "
    "from customer as c join nation as n on c.c_nationkey = n.n_nationkey "
    "group by n.n_name",
    "SELECT n_name AS nation_name, COUNT(*) AS n_customers FROM customer "
    "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name",
)

_sqlpp(
    "sqlpp_left_join_nullable",
    "select c.c_custkey as custkey, o.o_orderkey as orderkey "
    "from customer as c left join orders as o on c.c_custkey = o.o_custkey "
    "where c.c_custkey < 100",
    "SELECT c_custkey AS custkey, o_orderkey AS orderkey FROM customer "
    "LEFT JOIN orders ON c_custkey = o_custkey WHERE c_custkey < 100",
)

_sqlpp(
    "sqlpp_semi_in",
    "select p_partkey, p_name from part where p_partkey in "
    "(select l.l_partkey from lineitem as l where l.l_quantity >= 49)",
    "SELECT p_partkey, p_name FROM part WHERE p_partkey IN "
    "(SELECT l_partkey FROM lineitem WHERE l_quantity >= 49)",
)

_sqlpp(
    "sqlpp_open_select_nav",
    "select x.(c_acctbal + c_acctbal) as double_bal, x.c_custkey as custkey "
    "from (select c_custkey, c_acctbal, ... from customer) as x "
    "where x.c_custkey < 200",
    "SELECT c_acctbal + c_acctbal AS double_bal, c_custkey AS custkey "
    "FROM customer WHERE c_custkey < 200",
)

_sqlpp(
    "sqlpp_named_query_compose",
    "select c.c_name as cname, q.n_big as n_big from customer as c "
    "join big_orders as q on c.c_custkey = q.ck",
    "SELECT c_name AS cname, n_big FROM customer JOIN "
    "(SELECT o_custkey AS ck, COUNT(*) AS n_big FROM orders "
    "WHERE o_totalprice > 200000 GROUP BY o_custkey) q ON c_custkey = ck",
)

_sqlpp(
    "sqlpp_fieldset_splice",
    "select ...nat_fields(nation), r.r_name as region_name "
    "from nation join region as r on nation.n_regionkey = r.r_regionkey",
    "SELECT n_nationkey AS nationkey, n_name AS nation_name, r_name AS region_name "
    "FROM nation JOIN region ON n_regionkey = r_regionkey",
)

_sqlpp(
    "sqlpp_group_having_order",
    "select l_returnflag, count(1) as n, max(l_quantity) as max_qty "
    "from lineitem group by l_returnflag having count(1) > 10 "
    "order by l_returnflag",
    "SELECT l_returnflag, COUNT(*) AS n, MAX(l_quantity) AS max_qty "
    "FROM lineitem GROUP BY l_returnflag HAVING COUNT(*) > 10 "
    "ORDER BY l_returnflag",
)

_sqlpp(
    "sqlpp_scalar_fns",
    "select upper(n_name) as uname, length(n_name) as namelen, "
    "coalesce(nullif(n_name, 'FRANCE'), 'REPLACED') as repl, "
    "toString(n_nationkey) as keystr from nation",
    "SELECT UPPER(n_name) AS uname, LENGTH(n_name) AS namelen, "
    "COALESCE(NULLIF(n_name, 'FRANCE'), 'REPLACED') AS repl, "
    "CAST(n_nationkey AS VARCHAR) AS keystr FROM nation",
)

_sqlpp(
    "sqlpp_with_lazy_fields",
    "select with c_acctbal + c_acctbal as double_bal, "
    "c_custkey as custkey, double_bal as bal2 "
    "from customer where c_custkey < 500",
    "SELECT c_custkey AS custkey, c_acctbal + c_acctbal AS bal2 "
    "FROM customer WHERE c_custkey < 500",
)


# parameterized query: bound at registration time (the driver calls with
# no params, so we bind representative values here). ONE source
# constant feeds both the registered builder and the sqlgen
# cross-check — duplicating it would let the two drift apart.
_PARAMS_SRC = (
    "select c_custkey as custkey, c_acctbal as bal from customer "
    "where c_acctbal > ?minbal:float not null and c_nationkey = ?nat:int not null"
)
_PARAMS_BINDS = {"minbal": 5000.0, "nat": 3}
SQLPP_SOURCES["sqlpp_params_bound"] = (_PARAMS_SRC, _PARAMS_BINDS)


@register(
    "sqlpp_params_bound",
    oracle="SELECT c_custkey AS custkey, c_acctbal AS bal FROM customer "
    "WHERE c_acctbal > 5000.0 AND c_nationkey = 3",
)
def sqlpp_params_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).query(_PARAMS_SRC, **_PARAMS_BINDS)


@register(
    "sqlpp_variant_param",
    oracle="SELECT c_custkey AS custkey FROM customer WHERE c_nationkey = 7",
)
def sqlpp_variant_param(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _engine(spark, sf_dir).query(_VARIANT_SRC, **_VARIANT_BINDS)


_VARIANT_SRC = (
    "select c_custkey as custkey from customer where "
    "match ?f with | ByNation ?n -> c_nationkey = ?n | All -> true end"
)
_VARIANT_BINDS = {"f": ("ByNation", {"n": 7})}
SQLPP_SOURCES["sqlpp_variant_param"] = (_VARIANT_SRC, _VARIANT_BINDS)


# -- scalar subqueries (beyond-reference extension, r11) ---------------------
# A scalar-position (select agg(..) .. group by ()) — uncorrelated
# compiles to a broadcast one-row cross join; equality-correlated
# forms decorrelate to a grouped left join (frontend/analyze.py
# _infer_scalar_sub, compiler/compile.py _attach_one_scalar_sub).

_sqlpp(
    "sqlpp_scalar_subquery",
    "select n_name as nation_name, "
    "(select max(s.s_acctbal) from supplier as s group by ()) as max_bal "
    "from nation where n_regionkey = 1",
    "SELECT n_name AS nation_name, "
    "(SELECT MAX(s_acctbal) FROM supplier) AS max_bal "
    "FROM nation WHERE n_regionkey = 1",
)

_sqlpp(
    # r12: CORRELATED EXISTS/IN (the reference's Expr_in/Expr_exists
    # are uncorrelated, analyze.ml:430-445) — the correlation lift
    # shared with scalar subqueries folds the conjuncts into
    # semi/anti-join conditions (compile.py _corr_sub_frame)
    "sqlpp_exists_corr",
    "select n.n_nationkey as nationkey, n.n_name as nation_name "
    "from nation as n "
    "where exists (select 1 as one from supplier as s "
    "where s.s_nationkey = n.n_nationkey and s.s_acctbal > 5000)",
    "SELECT n_nationkey AS nationkey, n_name AS nation_name "
    "FROM nation n "
    "WHERE EXISTS (SELECT 1 FROM supplier s "
    "WHERE s.s_nationkey = n.n_nationkey AND s.s_acctbal > 5000)",
)

_sqlpp(
    "sqlpp_not_in_corr_theta",
    # customers whose OWN key never placed an order cheaper than 30x
    # their balance — a theta-correlated NOT IN whose subquery set is
    # small (most orders cost more), so the entry returns a
    # substantial row set rather than a degenerate empty one
    "select c.c_custkey as custkey from customer as c "
    "where not c.c_custkey in (select o.o_custkey from orders as o "
    "where o.o_totalprice < c.c_acctbal * 30) "
    "and c.c_custkey < 500",
    "SELECT c_custkey AS custkey FROM customer c "
    "WHERE c_custkey NOT IN (SELECT o_custkey FROM orders o "
    "WHERE o.o_totalprice < c.c_acctbal * 30) "
    "AND c_custkey < 500",
)

_sqlpp(
    # r12: THETA correlation (any < <= > >= != conjunct) decorrelates
    # through distinct outer keys (compile.py _attach_one_scalar_sub);
    # one pure-theta sub (broadcast distinct-key pairing) and one
    # mixed equality+theta sub (hash join with residual condition) in
    # the same select
    "sqlpp_scalar_subquery_theta",
    "select n.n_nationkey as nationkey, "
    "(select count(1) from supplier as s "
    "where s.s_nationkey < n.n_nationkey group by ()) as n_below, "
    "(select max(s.s_acctbal) from supplier as s "
    "where s.s_nationkey = n.n_nationkey "
    "and s.s_suppkey > n.n_regionkey group by ()) as max_bal "
    "from nation as n",
    "SELECT n_nationkey AS nationkey, "
    "(SELECT COUNT(*) FROM supplier s "
    "WHERE s.s_nationkey < n.n_nationkey) AS n_below, "
    "(SELECT MAX(s_acctbal) FROM supplier s "
    "WHERE s.s_nationkey = n.n_nationkey "
    "AND s.s_suppkey > n.n_regionkey) AS max_bal "
    "FROM nation n",
)

_sqlpp(
    "sqlpp_scalar_subquery_corr",
    "select n.n_nationkey as nationkey, n.n_name as nation_name, "
    "(select count(1) from supplier as s "
    "where s.s_nationkey = n.n_nationkey group by ()) as n_suppliers, "
    "(select max(s.s_acctbal) from supplier as s "
    "where s.s_nationkey = n.n_nationkey group by ()) as max_bal "
    "from nation as n",
    "SELECT n_nationkey AS nationkey, n_name AS nation_name, "
    "(SELECT COUNT(*) FROM supplier s "
    "WHERE s.s_nationkey = n.n_nationkey) AS n_suppliers, "
    "(SELECT MAX(s_acctbal) FROM supplier s "
    "WHERE s.s_nationkey = n.n_nationkey) AS max_bal "
    "FROM nation n",
)

_sqlpp(
    # r12: scalar subqueries in GROUPED selects — attached to the
    # post-aggregation frame; correlation on the group key
    "sqlpp_scalar_subquery_grouped",
    "select n.n_regionkey as regionkey, count(1) as n_nations, "
    "(select count(1) from supplier as s "
    "where s.s_nationkey < n.n_regionkey group by ()) as n_below "
    "from nation as n group by n.n_regionkey",
    "SELECT n_regionkey AS regionkey, "
    "CAST(COUNT(*) AS BIGINT) AS n_nations, "
    "(SELECT COUNT(*) FROM supplier s "
    "WHERE s.s_nationkey < n.n_regionkey) AS n_below "
    "FROM nation n GROUP BY n_regionkey",
)

_sqlpp(
    # r13: correlated EXISTS under OR — the quantifier distributes over
    # the union (analyze.py _try_quantified_or_split), each DNF branch
    # compiling through the per-outer-row match flag
    # (compile.py _attach_corr_flag)
    "sqlpp_exists_or_split",
    "select n.n_nationkey as nationkey from nation as n "
    "where exists (select 1 as one from supplier as s "
    "where s.s_nationkey = n.n_nationkey or s.s_acctbal > 9900)",
    "SELECT n_nationkey AS nationkey FROM nation n "
    "WHERE EXISTS (SELECT 1 FROM supplier s "
    "WHERE s.s_nationkey = n.n_nationkey OR s.s_acctbal > 9900)",
)

_sqlpp(
    # r13: equality-correlated IN in PROJECTION position (match-flag
    # path) combined with a correlated-OR membership set — both flag
    # joins are key-distinct, so the outer row count is preserved
    "sqlpp_in_flag_projection",
    "select c.c_custkey as custkey, "
    "(c.c_custkey in (select o.o_custkey from orders as o "
    "where o.o_custkey = c.c_custkey or o.o_totalprice > 400000)) "
    "as has_order from customer as c where c.c_custkey < 200",
    "SELECT c_custkey AS custkey, "
    "(c_custkey IN (SELECT o_custkey FROM orders o "
    "WHERE o.o_custkey = c.c_custkey OR o.o_totalprice > 400000)) "
    "AS has_order FROM customer c WHERE c_custkey < 200",
)

_sqlpp(
    # r13: correlation under NOT — the NNF push (_push_not) flips the
    # comparison through De Morgan so the lift sees plain correlated
    # conjuncts: NOT(eq OR theta) = flipped-neq AND flipped-theta
    "sqlpp_not_corr_pushdown",
    "select n.n_nationkey as nationkey from nation as n "
    "where exists (select 1 as one from supplier as s "
    "where not (s.s_nationkey != n.n_nationkey or s.s_acctbal < 0))",
    "SELECT n_nationkey AS nationkey FROM nation n "
    "WHERE EXISTS (SELECT 1 FROM supplier s "
    "WHERE NOT (s.s_nationkey != n.n_nationkey OR s.s_acctbal < 0))",
)

_sqlpp(
    # r13 second wave: THETA correlation in flag (projection) position —
    # compiled via the distinct-probe aggregate (compile.py
    # _attach_corr_flag_theta): |distinct probes| theta-joins the
    # subquery once, aggregates per probe, null-safe equi-joins back
    "sqlpp_theta_flag_projection",
    "select c.c_custkey as custkey, "
    "(exists (select 1 as one from orders as o "
    "where o.o_totalprice > c.c_acctbal)) as outspent "
    "from customer as c where c.c_custkey < 300",
    "SELECT c_custkey AS custkey, "
    "(EXISTS (SELECT 1 FROM orders o WHERE o.o_totalprice > c.c_acctbal)) "
    "AS outspent FROM customer c WHERE c_custkey < 300",
)

_sqlpp(
    # r13: window functions in the dialect — ranking + running sum +
    # offset in one projection; the running sum is over an INT column
    # (BIGINT window sums are exact in every engine — float running
    # sums differ in the last ulp between Spark's retractable window
    # aggregate and DuckDB's prefix accumulation)
    "sqlpp_window_functions",
    "select c.c_custkey as custkey, "
    "row_number() over (partition by c.c_nationkey "
    "order by c.c_acctbal desc, c.c_custkey) as rn, "
    "sum(c.c_custkey) over (partition by c.c_nationkey "
    "order by c.c_custkey) as running_keys, "
    "lag(c.c_acctbal) over (partition by c.c_nationkey "
    "order by c.c_custkey) as prev_bal "
    "from customer as c where c.c_custkey < 400",
    "SELECT c_custkey AS custkey, "
    "row_number() OVER (PARTITION BY c_nationkey "
    "ORDER BY c_acctbal DESC, c_custkey) AS rn, "
    "CAST(sum(c_custkey) OVER (PARTITION BY c_nationkey "
    "ORDER BY c_custkey) AS BIGINT) AS running_keys, "
    "lag(c_acctbal) OVER (PARTITION BY c_nationkey "
    "ORDER BY c_custkey) AS prev_bal "
    "FROM customer WHERE c_custkey < 400",
)

_sqlpp(
    # r14: set operations in the dialect (beyond reference —
    # parser.mly has no compound selects; keywords were reserved,
    # lexer.py). One entry exercises all three operators plus the
    # INTERSECT-binds-tighter precedence and a compound-level ORDER
    # BY/LIMIT. Scale shape: UNION ALL is exchange-free; the
    # distinct/intersect/except steps each cost one hash exchange
    # over the output columns (compile.py compile_setop).
    "sqlpp_set_ops",
    "select c.c_nationkey as k from customer as c where c.c_acctbal > 9000 "
    "union select s.s_nationkey as k from supplier as s "
    "where s.s_acctbal > 9000 "
    "union all select n.n_nationkey as k from nation as n "
    "intersect select c2.c_nationkey as k from customer as c2 "
    "except select n2.n_nationkey as k from nation as n2 "
    "where n2.n_regionkey = 0 "
    "order by k limit 20",
    "SELECT k FROM ("
    "SELECT k FROM ("
    "SELECT c_nationkey AS k FROM customer WHERE c_acctbal > 9000 "
    "UNION SELECT s_nationkey AS k FROM supplier WHERE s_acctbal > 9000"
    ") UNION ALL "
    "SELECT k FROM ("
    "SELECT n_nationkey AS k FROM nation "
    "INTERSECT SELECT c_nationkey AS k FROM customer"
    ")) EXCEPT "
    "SELECT n_nationkey AS k FROM nation WHERE n_regionkey = 0 "
    "ORDER BY k LIMIT 20",
)

_sqlpp(
    # r14: explicit window frames + the r14 window fns. Integer
    # rolling sum keeps cross-engine exactness; avg divides exact int
    # sums (IEEE-identical); the count frame can be EMPTY near
    # partition ends (count → 0, not NULL). percent_rank is
    # (rank-1)/(n-1) — exact dyadic rationals for small partitions.
    "sqlpp_window_frames",
    "select c.c_custkey as custkey, "
    "sum(c.c_custkey) over (partition by c.c_nationkey "
    "order by c.c_custkey rows between 2 preceding and current row) "
    "as roll_keys, "
    "avg(c.c_custkey) over (partition by c.c_nationkey "
    "order by c.c_custkey rows between 1 preceding and 1 following) "
    "as avg_keys, "
    "count(c.c_custkey) over (partition by c.c_nationkey "
    "order by c.c_custkey rows between 2 following and 3 following) "
    "as ahead_n, "
    "percent_rank() over (partition by c.c_nationkey "
    "order by c.c_custkey) as pr, "
    "nth_value(c.c_custkey, 2) over (partition by c.c_nationkey "
    "order by c.c_custkey rows between unbounded preceding "
    "and unbounded following) as second_key "
    "from customer as c where c.c_custkey < 500",
    "SELECT c_custkey AS custkey, "
    "CAST(sum(c_custkey) OVER (PARTITION BY c_nationkey ORDER BY c_custkey "
    "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll_keys, "
    "avg(c_custkey) OVER (PARTITION BY c_nationkey ORDER BY c_custkey "
    "ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS avg_keys, "
    "count(c_custkey) OVER (PARTITION BY c_nationkey ORDER BY c_custkey "
    "ROWS BETWEEN 2 FOLLOWING AND 3 FOLLOWING) AS ahead_n, "
    "percent_rank() OVER (PARTITION BY c_nationkey ORDER BY c_custkey) "
    "AS pr, "
    "nth_value(c_custkey, 2) OVER (PARTITION BY c_nationkey "
    "ORDER BY c_custkey ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED "
    "FOLLOWING) AS second_key "
    "FROM customer WHERE c_custkey < 500",
)

_sqlpp(
    # r14: searched CASE + infix LIKE + BETWEEN on real TPC-H data —
    # conditional-aggregate shape (the classic CASE-inside-sum),
    # pattern filter, inclusive-range predicate. All scan-stage
    # expressions (zero extra shuffles beyond the groupBy).
    "sqlpp_case_like_between",
    "select n.n_name as nation_name, "
    "count(1) as n_all, "
    "sum(case when c.c_acctbal between 0 and 5000 then 1 else 0 end) "
    "as n_mid, "
    "sum(case when c.c_name like '%9%' then 1 else 0 end) "
    "as n_nine "
    "from customer as c join nation as n on c.c_nationkey = n.n_nationkey "
    "where c.c_mktsegment not like 'AUTO%' "
    "group by n.n_name",
    "SELECT n_name AS nation_name, COUNT(*) AS n_all, "
    "CAST(SUM(CASE WHEN c_acctbal BETWEEN 0 AND 5000 THEN 1 ELSE 0 END) "
    "AS BIGINT) AS n_mid, "
    "CAST(SUM(CASE WHEN c_name LIKE '%9%' THEN 1 ELSE 0 END) "
    "AS BIGINT) AS n_nine "
    "FROM customer JOIN nation ON c_nationkey = n_nationkey "
    "WHERE c_mktsegment NOT LIKE 'AUTO%' "
    "GROUP BY n_name",
)

_sqlpp(
    # r14: QUALIFY — richest-customer-per-nation via the top-1-per-key
    # window idiom. ONE shuffle (the window's partition exchange); the
    # filter runs on the windowed frame before projection, never a
    # self-join. The oracle uses the wrapped-subselect form; DuckDB's
    # native QUALIFY cross-checks in tests/test_qualify.py.
    "sqlpp_qualify_topk",
    "select c.c_nationkey as nationkey, c.c_custkey as custkey, "
    "c.c_acctbal as acctbal from customer as c "
    "qualify row_number() over (partition by c.c_nationkey "
    "order by c.c_acctbal desc, c.c_custkey) <= 3",
    "SELECT nationkey, custkey, acctbal FROM ("
    "SELECT c_nationkey AS nationkey, c_custkey AS custkey, "
    "c_acctbal AS acctbal, row_number() OVER (PARTITION BY c_nationkey "
    "ORDER BY c_acctbal DESC, c_custkey) AS rn FROM customer"
    ") WHERE rn <= 3",
)

_sqlpp(
    # r14: dialect ROLLUP + grouping() — order sums by priority with
    # per-priority subtotals and a grand total, subtotal rows marked.
    # Spark lowers rollup to ONE Expand+hash-aggregate pass (partial
    # aggregation intact) — not a union of per-level scans.
    "sqlpp_rollup_grouping",
    "select o.o_orderpriority as priority, "
    "grouping(o.o_orderpriority) as is_total, "
    "count(o.o_orderkey) as n_orders, "
    "sum(o.o_orderkey) as key_sum "
    "from orders as o where o.o_orderkey < 20000 "
    "group by rollup (o.o_orderpriority)",
    "SELECT o_orderpriority AS priority, "
    "CAST(grouping(o_orderpriority) AS BIGINT) AS is_total, "
    "count(o_orderkey) AS n_orders, "
    "CAST(sum(o_orderkey) AS BIGINT) AS key_sum "
    "FROM orders WHERE o_orderkey < 20000 "
    "GROUP BY ROLLUP (o_orderpriority)",
)

_sqlpp(
    # r14: FULL OUTER JOIN of two aggregated derived tables — nations
    # that only have high-balance customers, only have suppliers, or
    # both. Scale shape: both sides pre-aggregate BEFORE the join
    # (partial aggregation map-side), so the outer join runs on ~25
    # rows per side regardless of fact-table size; Spark plans a
    # single SortMergeJoin FullOuter on the group keys.
    "sqlpp_full_outer_join",
    "select coalesce(a.nk, b.nk) as nationkey, "
    "coalesce(a.n_cust, 0) as n_cust, coalesce(b.n_supp, 0) as n_supp "
    "from (select c.c_nationkey as nk, count(1) as n_cust "
    "from customer as c where c.c_acctbal > 9900 "
    "group by c.c_nationkey) as a "
    "full outer join (select s.s_nationkey as nk, count(1) as n_supp "
    "from supplier as s where s.s_acctbal > 1000 "
    "group by s.s_nationkey) as b on a.nk = b.nk "
    "order by nationkey",
    "SELECT COALESCE(a.nk, b.nk) AS nationkey, "
    "COALESCE(a.n_cust, 0) AS n_cust, COALESCE(b.n_supp, 0) AS n_supp "
    "FROM (SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer "
    "WHERE c_acctbal > 9900 GROUP BY c_nationkey) AS a "
    "FULL OUTER JOIN (SELECT s_nationkey AS nk, COUNT(*) AS n_supp "
    "FROM supplier WHERE s_acctbal > 1000 GROUP BY s_nationkey) AS b "
    "ON a.nk = b.nk ORDER BY nationkey",
)

_sqlpp(
    # r14: RIGHT JOIN (preserved side on the right — region rows drop
    # unless matched, every nation survives with NULL region fields
    # when the extra r_name filter excludes its region) UNION ALL a
    # filtered CROSS JOIN (region x nation is 5x25 — Catalyst plans
    # BroadcastNestedLoopJoin; the dialect compiles crossJoin with no
    # ON). Both beyond the reference grammar (LEFT/INNER only).
    "sqlpp_right_cross_join",
    "select r.r_name as region_name, n.n_name as nation_name "
    "from region as r right join nation as n "
    "on r.r_regionkey = n.n_regionkey and r.r_name != 'ASIA' "
    "union all "
    "select r2.r_name as region_name, n2.n_name as nation_name "
    "from region as r2 cross join nation as n2 "
    "where n2.n_regionkey = r2.r_regionkey + 3 "
    "order by nation_name, region_name",
    "SELECT region_name, nation_name FROM ("
    "SELECT r_name AS region_name, n_name AS nation_name "
    "FROM region RIGHT JOIN nation "
    "ON r_regionkey = n_regionkey AND r_name != 'ASIA' "
    "UNION ALL "
    "SELECT r_name AS region_name, n_name AS nation_name "
    "FROM region CROSS JOIN nation WHERE n_regionkey = r_regionkey + 3"
    ") ORDER BY nation_name, region_name",
)

_sqlpp(
    # r14: statistical aggregates via the tolerance-boolean pattern
    # (as ann_hll_distinct_labels / multimodal_audio_features): the
    # hashed output is exact integers + booleans asserting the
    # dialect's stddev/variance/stddev_pop/var_pop agree with the
    # closed form computed from exact integer sums (n*Sxx - Sx^2 over
    # the exact-int denominators; every intermediate < 2^53) — the
    # engine-specific float estimate itself stays out of the hash, so
    # Welford-vs-naive ULP drift between Spark and DuckDB cannot flap
    # the gate while a real formula bug still trips the booleans.
    "sqlpp_stats_aggs",
    "select c.c_nationkey as nationkey, count(1) as n, "
    "sum(c.c_custkey) as sum_k, "
    "abs(variance(c.c_custkey) - "
    "(count(1) * sum(c.c_custkey * c.c_custkey) "
    "- sum(c.c_custkey) * sum(c.c_custkey)) "
    "/ (count(1) * (count(1) - 1) * 1.0)) < 0.000001 as ok_var, "
    "abs(stddev(c.c_custkey) - "
    "sqrt((count(1) * sum(c.c_custkey * c.c_custkey) "
    "- sum(c.c_custkey) * sum(c.c_custkey)) "
    "/ (count(1) * (count(1) - 1) * 1.0))) < 0.000001 as ok_sd, "
    "abs(var_pop(c.c_custkey) - "
    "(count(1) * sum(c.c_custkey * c.c_custkey) "
    "- sum(c.c_custkey) * sum(c.c_custkey)) "
    "/ (count(1) * count(1) * 1.0)) < 0.000001 as ok_vp, "
    "abs(stddev_pop(c.c_custkey) - "
    "sqrt((count(1) * sum(c.c_custkey * c.c_custkey) "
    "- sum(c.c_custkey) * sum(c.c_custkey)) "
    "/ (count(1) * count(1) * 1.0))) < 0.000001 as ok_sp "
    "from customer as c where c.c_custkey <= 1500 "
    "group by c.c_nationkey order by nationkey",
    "SELECT c_nationkey AS nationkey, count(*) AS n, "
    "CAST(sum(c_custkey) AS BIGINT) AS sum_k, "
    "abs(var_samp(c_custkey) - "
    "(count(*) * sum(c_custkey * c_custkey) "
    "- sum(c_custkey) * sum(c_custkey)) "
    "/ (count(*) * (count(*) - 1) * 1.0)) < 0.000001 AS ok_var, "
    "abs(stddev_samp(c_custkey) - "
    "sqrt((count(*) * sum(c_custkey * c_custkey) "
    "- sum(c_custkey) * sum(c_custkey)) "
    "/ (count(*) * (count(*) - 1) * 1.0))) < 0.000001 AS ok_sd, "
    "abs(var_pop(c_custkey) - "
    "(count(*) * sum(c_custkey * c_custkey) "
    "- sum(c_custkey) * sum(c_custkey)) "
    "/ (count(*) * count(*) * 1.0)) < 0.000001 AS ok_vp, "
    "abs(stddev_pop(c_custkey) - "
    "sqrt((count(*) * sum(c_custkey * c_custkey) "
    "- sum(c_custkey) * sum(c_custkey)) "
    "/ (count(*) * count(*) * 1.0))) < 0.000001 AS ok_sp "
    "FROM customer WHERE c_custkey <= 1500 "
    "GROUP BY c_nationkey ORDER BY nationkey",
)

_sqlpp(
    # r14: collection/boolean aggregates with EXACT hashed output.
    # The dialect's string_agg is ascending-by-value by definition
    # (deterministic across engines AND partitionings — Spark's
    # array_sort(collect_list) vs the oracle's ORDER BY form), so the
    # concatenated string is bit-stable; bool_and/bool_or are
    # three-valued (NULL over empty groups).
    "sqlpp_string_bool_aggs",
    "select r.r_name as region_name, "
    "string_agg(n.n_name, ',') as nations, "
    "count_distinct(n.n_nationkey) as n_nations, "
    "bool_and(n.n_nationkey > 2) as all_gt2, "
    "bool_or(n.n_name = 'CHINA') as has_china "
    "from nation as n join region as r "
    "on n.n_regionkey = r.r_regionkey "
    "group by r.r_name order by region_name",
    "SELECT r_name AS region_name, "
    "string_agg(n_name, ',' ORDER BY n_name) AS nations, "
    "count(DISTINCT n_nationkey) AS n_nations, "
    "bool_and(n_nationkey > 2) AS all_gt2, "
    "bool_or(n_name = 'CHINA') AS has_china "
    "FROM nation JOIN region ON n_regionkey = r_regionkey "
    "GROUP BY r_name ORDER BY region_name",
)

_sqlpp(
    # r14: IN value lists (the reference's Expr_in takes only a
    # subquery). Compiles to ONE Catalyst In predicate — reaches the
    # parquet scan as PushedFilters: [In(...)] (plan-pinned in
    # tests/test_in_list.py), which an OR-chain desugar would not.
    "sqlpp_in_list",
    "select o.o_orderpriority as priority, count(1) as n, "
    "sum(o.o_orderkey) as key_sum "
    "from orders as o "
    "where o.o_orderstatus in ('F', 'P') "
    "and o.o_orderkey not in (1, 2, 3, 4, 5, 6, 7) "
    "and o.o_orderkey < 20000 "
    "group by o.o_orderpriority order by priority",
    "SELECT o_orderpriority AS priority, count(*) AS n, "
    "CAST(sum(o_orderkey) AS BIGINT) AS key_sum "
    "FROM orders WHERE o_orderstatus IN ('F', 'P') "
    "AND o_orderkey NOT IN (1, 2, 3, 4, 5, 6, 7) "
    "AND o_orderkey < 20000 "
    "GROUP BY o_orderpriority ORDER BY priority",
)

_sqlpp(
    # late r14: pinned ORDER BY NULL placement under LIMIT. The
    # dialect pins NULLS LAST for both directions (DuckDB's rule);
    # Spark's implicit ASC default is NULLS FIRST, so without the
    # engine's explicit asc_nulls_last the NULL rows would win the
    # LIMIT race and this entry would hash-mismatch. nullif()
    # manufactures NULLs (URGENT orders) from the NOT NULL column.
    "sqlpp_order_nulls_limit",
    "select o.o_orderkey as k, "
    "nullif(o.o_orderpriority, '1-URGENT') as pr "
    "from orders as o where o.o_orderkey < 1000 "
    "order by pr, k limit 50",
    "SELECT o_orderkey AS k, "
    "nullif(o_orderpriority, '1-URGENT') AS pr "
    "FROM orders WHERE o_orderkey < 1000 "
    "ORDER BY pr, k LIMIT 50",
)

_sqlpp(
    # late r14: GROUP BY ordinal + output alias (DuckDB/PG/Spark-SQL
    # convention; resolved against raw projection items pre-inference)
    "sqlpp_group_by_ordinal",
    "select o.o_orderpriority as pr, o.o_orderstatus as st, "
    "count(1) as n from orders as o where o.o_orderkey < 30000 "
    "group by 1, st order by pr, st",
    "SELECT o_orderpriority AS pr, o_orderstatus AS st, count(*) AS n "
    "FROM orders WHERE o_orderkey < 30000 "
    "GROUP BY 1, 2 ORDER BY pr, st",
)

_sqlpp(
    # late r14: pinned edge semantics in one entry — substring pos 0,
    # left/right with DYNAMIC (possibly negative) lengths, and
    # sqrt NULL-on-negative (DuckDB would raise Out of Range without
    # the printed CASE guard; Spark would return NaN). sqrt is
    # IEEE-correctly-rounded — bit-identical on both engines for the
    # same exact-int input.
    "sqlpp_string_edges",
    "select p.p_partkey as k, substring(p.p_type, 0, 8) as a, "
    "left(p.p_name, p.p_size - 10) as b, "
    "right(p.p_name, 3 - p.p_size) as c, "
    "sqrt((5 - p.p_size) * 1.0) as sq "
    "from part as p where p.p_partkey < 200 order by k",
    "SELECT p_partkey AS k, "
    "substring(p_type, CASE WHEN 0 = 0 THEN 1 ELSE 0 END, 8) AS a, "
    "(CASE WHEN p_size - 10 < 0 THEN '' "
    "ELSE left(p_name, p_size - 10) END) AS b, "
    "(CASE WHEN 3 - p_size < 0 THEN '' "
    "ELSE right(p_name, 3 - p_size) END) AS c, "
    "(CASE WHEN (5 - p_size) * 1.0 >= 0 "
    "THEN sqrt((5 - p_size) * 1.0) END) AS sq "
    "FROM part WHERE p_partkey < 200 ORDER BY k",
)

_sqlpp(
    # late r14: pinned LIKE escape — backslash escapes %/_ in the
    # dialect (Spark's implicit default), printed with an explicit
    # ESCAPE '\' because DuckDB/SQLite have NO default escape and
    # would match different rows on the same pattern.
    "sqlpp_like_escape",
    "select p.p_partkey as k, "
    "replace(p.p_type, ' ', '_') as t "
    "from part as p where p.p_partkey < 500 "
    "and replace(p.p_type, ' ', '_') like '%\\_STEEL' "
    "order by k",
    "SELECT p_partkey AS k, replace(p_type, ' ', '_') AS t "
    "FROM part WHERE p_partkey < 500 "
    "AND replace(p_type, ' ', '_') LIKE '%\\_STEEL' ESCAPE '\\' "
    "ORDER BY k",
)

_sqlpp(
    # r15: sketch-backed approximate aggregates reachable FROM THE
    # DIALECT — the 100 TB distinct-count/quantile path (bounded
    # state, map-side combinable). Tolerance-boolean oracle: the hash
    # covers exact values + booleans; the engine-specific sketch
    # estimates stay out of the hash. Bounds are distribution-FREE:
    # |mean - median| <= stddev for ANY distribution, GK rank error
    # moves the estimate at most one unit-spaced l_quantity value
    # (accuracy 10000 >> n/group), and HLL++ rsd 0.05 (default) /
    # 0.01 (explicit) stay far inside the 10%+2 band. UNION ALL
    # covers the grouped AND global agg forms in one entry.
    "sqlpp_approx_aggs",
    "select l.l_returnflag as grp, "
    "count_distinct(l.l_suppkey) as nd_exact, "
    "approx_count_distinct(l.l_suppkey) "
    "between count_distinct(l.l_suppkey) * 0.9 - 2.0 "
    "and count_distinct(l.l_suppkey) * 1.1 + 2.0 as acd_ok, "
    "approx_count_distinct(l.l_suppkey, 0.01) "
    "between count_distinct(l.l_suppkey) * 0.9 - 2.0 "
    "and count_distinct(l.l_suppkey) * 1.1 + 2.0 as acd_rsd_ok, "
    "approx_percentile(l.l_quantity, 0.5) "
    "between avg(l.l_quantity) - (stddev(l.l_quantity) + 1.0) "
    "and avg(l.l_quantity) + (stddev(l.l_quantity) + 1.0) as p50_ok "
    "from lineitem as l group by l.l_returnflag "
    "union all "
    "select 'ALL' as grp, count_distinct(l.l_suppkey) as nd_exact, "
    "approx_count_distinct(l.l_suppkey) "
    "between count_distinct(l.l_suppkey) * 0.9 - 2.0 "
    "and count_distinct(l.l_suppkey) * 1.1 + 2.0 as acd_ok, "
    "approx_count_distinct(l.l_suppkey, 0.01) "
    "between count_distinct(l.l_suppkey) * 0.9 - 2.0 "
    "and count_distinct(l.l_suppkey) * 1.1 + 2.0 as acd_rsd_ok, "
    "approx_percentile(l.l_quantity, 0.5) "
    "between avg(l.l_quantity) - (stddev(l.l_quantity) + 1.0) "
    "and avg(l.l_quantity) + (stddev(l.l_quantity) + 1.0) as p50_ok "
    "from lineitem as l group by () "
    "order by grp",
    "SELECT l_returnflag AS grp, "
    "count(DISTINCT l_suppkey) AS nd_exact, "
    "TRUE AS acd_ok, TRUE AS acd_rsd_ok, TRUE AS p50_ok "
    "FROM lineitem GROUP BY l_returnflag "
    "UNION ALL "
    "SELECT 'ALL' AS grp, count(DISTINCT l_suppkey) AS nd_exact, "
    "TRUE AS acd_ok, TRUE AS acd_rsd_ok, TRUE AS p50_ok "
    "FROM lineitem "
    "ORDER BY grp",
)

_sqlpp(
    # r15: the QUALIFY-fix shape under the driver gate — projection
    # and ORDER BY windows NOT implied by the QUALIFY predicate must
    # evaluate over the PRE-filter rows (the r14 shape silently
    # re-numbered them post-filter; ADVICE r14 high). Oracle is
    # DuckDB-native QUALIFY semantics hand-written as the wrapped
    # subselect.
    "sqlpp_qualify_windows",
    "select o.o_custkey as ck, "
    "row_number() over (order by o.o_totalprice asc, o.o_orderkey) "
    "as cheap_rank, "
    "count(1) over (partition by o.o_orderpriority) as pri_n "
    "from orders as o where o.o_orderkey < 2000 "
    "qualify row_number() over (order by o.o_totalprice desc, "
    "o.o_orderkey) <= 10 "
    "order by cheap_rank",
    "SELECT ck, cheap_rank, pri_n FROM ("
    "SELECT o_custkey AS ck, "
    "row_number() OVER (ORDER BY o_totalprice ASC, o_orderkey) "
    "AS cheap_rank, "
    "count(*) OVER (PARTITION BY o_orderpriority) AS pri_n, "
    "row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) "
    "AS qr FROM orders WHERE o_orderkey < 2000) "
    "WHERE qr <= 10 ORDER BY cheap_rank",
)

_sqlpp(
    # r15: compound subquery bodies in IN/EXISTS (ADVICE r14 low) —
    # semi join against a UNION, anti join against a UNION ALL chain
    "sqlpp_in_compound",
    "select c.c_custkey as ck, c.c_acctbal as bal from customer as c "
    "where c.c_custkey in "
    "(select o.o_custkey from orders as o where o.o_totalprice > 400000 "
    "union select s.s_suppkey from supplier as s where s.s_acctbal > 9900) "
    "order by ck",
    "SELECT c_custkey AS ck, c_acctbal AS bal FROM customer "
    "WHERE c_custkey IN "
    "(SELECT o_custkey FROM orders WHERE o_totalprice > 400000 "
    "UNION SELECT s_suppkey FROM supplier WHERE s_acctbal > 9900) "
    "ORDER BY ck",
)

_sqlpp(
    # r15: converting CAST + ORDER BY ordinals + count(*) spelling in
    # one driver-gated entry. float->int CAST is pinned to TRUNCATION
    # (engine/Spark-ANSI behavior) — the oracle spells trunc() because
    # DuckDB's own CAST rounds (documented divergence).
    "sqlpp_cast_ordinal",
    "select cast(o.o_orderstatus as string) as st, "
    "count(*) as n, "
    "cast(avg(o.o_totalprice) as int) as avg_price_int, "
    "cast(count(distinct o.o_custkey) as float) as nd_cust "
    "from orders as o where o.o_orderkey < 20000 "
    "group by o.o_orderstatus "
    "order by 2 desc, 1",
    "SELECT CAST(o_orderstatus AS VARCHAR) AS st, count(*) AS n, "
    "CAST(trunc(avg(o_totalprice)) AS BIGINT) AS avg_price_int, "
    "CAST(count(DISTINCT o_custkey) AS DOUBLE) AS nd_cust "
    "FROM orders WHERE o_orderkey < 20000 "
    "GROUP BY o_orderstatus ORDER BY 2 DESC, 1",
)

_sqlpp(
    # r15: date arithmetic + ILIKE + ||/% operator spellings under
    # the driver gate. The oracle hand-writes DuckDB's native
    # spellings (date_diff arg order differs from the dialect's).
    "sqlpp_date_ops",
    "select o.o_orderkey as k, "
    "cast(date_add(cast(o.o_orderdate as date), 30) as datetime) "
    "as due, "
    "date_diff(cast(o.o_orderdate as date), date('1995-01-01')) "
    "as age_days, "
    "date_trunc('month', o.o_orderdate) as mth, "
    "o.o_orderpriority || '/' || o.o_orderstatus as tag, "
    "o.o_orderkey % 7 as bucket "
    "from orders as o "
    "where o.o_orderkey < 4000 and o.o_orderpriority ilike '%urgent' "
    "order by k",
    "SELECT o_orderkey AS k, "
    "CAST(CAST(o_orderdate AS DATE) + CAST(30 AS INTEGER) "
    "AS TIMESTAMP) AS due, "
    "CAST(date_diff('day', DATE '1995-01-01', "
    "CAST(o_orderdate AS DATE)) AS BIGINT) "
    "AS age_days, "
    "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mth, "
    "o_orderpriority || '/' || o_orderstatus AS tag, "
    "o_orderkey % 7 AS bucket "
    "FROM orders "
    "WHERE o_orderkey < 4000 AND o_orderpriority ILIKE '%urgent' "
    "ORDER BY k",
)

_sqlpp(
    # r15: the dialect over the PIPELINE tables, not just TPC-H —
    # a corpus-quality filter query written in sqlpp (length ratios,
    # ILIKE, approx_count_distinct per language, ordinals).
    "sqlpp_docs_quality",
    "select d.lang as lang, count(*) as n_docs, "
    "approx_count_distinct(d.source) between "
    "count_distinct(d.source) * 0.9 - 2.0 and "
    "count_distinct(d.source) * 1.1 + 2.0 as acd_ok, "
    "sum(case when d.n_chars between 200 and 8000 then 1 else 0 end) "
    "as n_goldilocks, "
    "count(*) filter (where d.text ilike '%the%') as n_the "
    "from documents as d "
    "group by d.lang order by 2 desc, 1",
    "SELECT lang, count(*) AS n_docs, TRUE AS acd_ok, "
    "CAST(sum(CASE WHEN n_chars BETWEEN 200 AND 8000 THEN 1 ELSE 0 END) "
    "AS BIGINT) AS n_goldilocks, "
    "count(*) FILTER (WHERE text ILIKE '%the%') AS n_the "
    "FROM documents GROUP BY lang ORDER BY 2 DESC, 1",
    # r15 third wave: one dialect-path query in the bench headline —
    # the full parse->analyze->compile frontend plus an ILIKE scan
    # and HLL sketch over documents
    headline=True,
)

_sqlpp(
    # r15: CTEs + EXTRACT + greatest/least + simple CASE under the
    # driver gate — one chained-CTE query (second CTE reads the
    # first; the inliner substitutes both as derived tables).
    "sqlpp_cte_extract",
    "with recent as ("
    "select o.o_custkey as ck, o.o_totalprice as price, "
    "extract(year from o.o_orderdate) as yr "
    "from orders as o where o.o_orderkey < 30000), "
    "per_cust as ("
    "select r.ck as ck, count(*) as n, "
    "greatest(max(r.price), 100000.0) as top_or_floor, "
    "least(min(r.yr), 1995) as first_yr "
    "from recent as r group by r.ck) "
    "select p.ck as ck, p.n as n, p.top_or_floor as top_or_floor, "
    "case p.first_yr when 1995 then 'capped' else 'early' end as tag "
    "from per_cust as p where p.n >= 3 order by p.ck",
    "WITH recent AS ("
    "SELECT o_custkey AS ck, o_totalprice AS price, "
    "CAST(extract(year FROM o_orderdate) AS BIGINT) AS yr "
    "FROM orders WHERE o_orderkey < 30000), "
    "per_cust AS ("
    "SELECT ck, count(*) AS n, "
    "greatest(max(price), 100000.0) AS top_or_floor, "
    "least(min(yr), 1995) AS first_yr "
    "FROM recent GROUP BY ck) "
    "SELECT ck, n, top_or_floor, "
    "CASE first_yr WHEN 1995 THEN 'capped' ELSE 'early' END AS tag "
    "FROM per_cust WHERE n >= 3 ORDER BY ck",
)

_sqlpp(
    # r15 third wave: IS [NOT] DISTINCT FROM under the driver gate —
    # null-safe comparison against the NULL-extended side of a LEFT
    # JOIN (plain `= null` would be UNKNOWN everywhere).
    "sqlpp_distinct_from_join",
    "select c.c_custkey as ck, count(1) as n_rows, "
    "cast(sum(case when o.o_orderkey is not distinct from null:int "
    "then 1 else 0 end) as int) as n_unmatched "
    "from customer as c left join orders as o on c.c_custkey = o.o_custkey "
    "where c.c_custkey < 500 "
    "group by c.c_custkey order by c.c_custkey",
    "SELECT c_custkey AS ck, count(*) AS n_rows, "
    "CAST(sum(CASE WHEN o_orderkey IS NOT DISTINCT FROM NULL "
    "THEN 1 ELSE 0 END) AS BIGINT) AS n_unmatched "
    "FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
    "WHERE c_custkey < 500 GROUP BY c_custkey ORDER BY c_custkey",
)

_sqlpp(
    # r15 third wave: VALUES inline dimension + POSITION sugar — the
    # decode-table join every pipeline writes; the inline side
    # broadcasts (plan-pinned in tests/test_values_source.py).
    "sqlpp_values_decode",
    "select d.label as band, count(1) as n_parts "
    "from part as p join (values ('SMALL', 'compact'), "
    "('LARGE', 'bulky'), ('PROMO', 'promoted')) as d(code, label) "
    "on position(d.code in p.p_type) > 0 "
    "group by d.label order by d.label",
    "SELECT label AS band, count(*) AS n_parts FROM part "
    "JOIN (VALUES ('SMALL', 'compact'), ('LARGE', 'bulky'), "
    "('PROMO', 'promoted')) d(code, label) "
    "ON position(code IN p_type) > 0 "
    "GROUP BY label ORDER BY label",
)

_sqlpp(
    # r16: TRY_CAST string->temporal under the driver gate, over a
    # VALUES battery covering both engines' leniencies (single-digit
    # components, partial date/time forms, fractional seconds, zone
    # offsets, trailing garbage, invalid dates). The oracle hand-
    # spells the expected literals — NOT derived from the printer
    # emulation under test (tests/test_cast.py battery covers the
    # printer; this entry pins the ENGINE's acceptance set).
    "sqlpp_try_cast_temporal",
    "select v.i as i, try_cast(v.s as date) as d, "
    "try_cast(v.s as datetime) as ts "
    "from (values (1, '2021-03-04'), (2, '2021-3-4'), "
    "(3, '2021-03-04 05:06:07.5'), (4, '2021-03-04T05:06'), "
    "(5, '2021'), (6, '2021-03-04zz'), (7, '2021-02-30'), "
    "(8, '2021-03-04 05:06:07+02:00'), (9, 'garbage'), "
    "(10, '2021-03-04 garbage')) as v(i, s) order by v.i",
    "SELECT * FROM (VALUES "
    "(CAST(1 AS BIGINT), DATE '2021-03-04', "
    "TIMESTAMP '2021-03-04 00:00:00'), "
    "(2, DATE '2021-03-04', TIMESTAMP '2021-03-04 00:00:00'), "
    "(3, DATE '2021-03-04', TIMESTAMP '2021-03-04 05:06:07.5'), "
    "(4, DATE '2021-03-04', TIMESTAMP '2021-03-04 05:06:00'), "
    "(5, DATE '2021-01-01', TIMESTAMP '2021-01-01 00:00:00'), "
    "(6, CAST(NULL AS DATE), CAST(NULL AS TIMESTAMP)), "
    "(7, CAST(NULL AS DATE), CAST(NULL AS TIMESTAMP)), "
    "(8, DATE '2021-03-04', TIMESTAMP '2021-03-04 03:06:07'), "
    "(9, CAST(NULL AS DATE), CAST(NULL AS TIMESTAMP)), "
    "(10, DATE '2021-03-04', CAST(NULL AS TIMESTAMP))"
    ") t(i, d, ts) ORDER BY i",
)

_sqlpp(
    # r16: RANGE frames with integer offsets (the analyzer requires
    # one int ORDER BY key; Spark rangeBetween takes long offsets) —
    # value-based peers, not row counts, so duplicate keys share a
    # frame. Sum oracle CAST to BIGINT (DuckDB HUGEINT widening).
    "sqlpp_range_frames",
    "select c.c_custkey as ck, "
    "sum(c.c_custkey) over (order by c.c_custkey "
    "range between 50 preceding and current row) as win_sum, "
    "count(c.c_custkey) over (order by c.c_custkey "
    "range between 20 preceding and 20 following) as win_n, "
    "max(c.c_nationkey) over (order by c.c_custkey "
    "range between current row and 100 following) as win_max "
    "from customer as c where c.c_custkey < 500 "
    "order by c.c_custkey",
    "SELECT c_custkey AS ck, "
    "CAST(sum(c_custkey) OVER (ORDER BY c_custkey "
    "RANGE BETWEEN 50 PRECEDING AND CURRENT ROW) AS BIGINT) "
    "AS win_sum, "
    "count(c_custkey) OVER (ORDER BY c_custkey "
    "RANGE BETWEEN 20 PRECEDING AND 20 FOLLOWING) AS win_n, "
    "max(c_nationkey) OVER (ORDER BY c_custkey "
    "RANGE BETWEEN CURRENT ROW AND 100 FOLLOWING) AS win_max "
    "FROM customer WHERE c_custkey < 500 ORDER BY c_custkey",
)

_sqlpp(
    # r16 scalar wave under the driver gate: regexp_extract (doc-text
    # token extraction — the pipeline shape), translate, sign, trunc,
    # log10, ascii. All scan-stage codegen expressions, zero extra
    # shuffles; ulp-exact printing pinned by the differential battery
    # (tests/test_case_like_between.py).
    "sqlpp_scalar_wave",
    "select d.doc_id as doc_id, "
    "regexp_extract(d.text, '([A-Za-z]+)', 1) as first_word, "
    "translate(d.lang, 'en', 'EN') as lang_t, "
    "ascii(d.lang) as lang_cp, "
    "sign(cast(d.n_chars as float) - 1000.0) as size_sign, "
    "trunc(d.n_chars / 7.0) as sevenths, "
    "abs(log10(cast(d.n_chars as float)) "
    "- ln(cast(d.n_chars as float)) / ln(10.0)) "
    "< 0.000000000001 as l10_ok "
    "from documents as d where d.doc_id < 400 order by d.doc_id",
    "SELECT doc_id, "
    "regexp_extract(text, '([A-Za-z]+)', 1) AS first_word, "
    "translate(lang, 'en', 'EN') AS lang_t, "
    "CAST(ascii(lang) AS BIGINT) AS lang_cp, "
    "CAST(sign(CAST(n_chars AS DOUBLE) - 1000.0) AS DOUBLE) "
    "AS size_sign, "
    "CAST(trunc(n_chars / 7.0) AS DOUBLE) AS sevenths, "
    "(abs(log10(CAST(n_chars AS DOUBLE)) "
    "- ln(CAST(n_chars AS DOUBLE)) / ln(10.0)) "
    "< 0.000000000001) AS l10_ok "
    "FROM documents WHERE doc_id < 400 ORDER BY doc_id",
)

_sqlpp(
    # r16: bitwise aggregates + count_if — exact integer folds, one
    # ordinary partial-aggregable shuffle (map-side combine like
    # sum/min/max).
    "sqlpp_bit_aggs",
    "select l.l_returnflag as flag, "
    "bit_and(l.l_linenumber) as ba, bit_or(l.l_linenumber) as bo, "
    "bit_xor(l.l_orderkey) as bx, "
    "count_if(l.l_quantity > 25.0) as n_big "
    "from lineitem as l group by l.l_returnflag "
    "order by l.l_returnflag",
    "SELECT l_returnflag AS flag, "
    "CAST(bit_and(l_linenumber) AS BIGINT) AS ba, "
    "CAST(bit_or(l_linenumber) AS BIGINT) AS bo, "
    "CAST(bit_xor(l_orderkey) AS BIGINT) AS bx, "
    "CAST(count_if(l_quantity > 25.0) AS BIGINT) AS n_big "
    "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
)

_sqlpp(
    # r16 temporal wave under the driver gate: calendar fields
    # (dayofweek pinned Sunday=1 — the oracle offsets its Sunday=0),
    # last_day, make_date composition, ISO week/quarter/doy. All
    # scan-stage codegen, zero extra shuffles.
    "sqlpp_temporal_wave",
    "select o.o_orderkey as okey, "
    "dayofweek(o.o_orderdate) as dw, week(o.o_orderdate) as wk, "
    "quarter(o.o_orderdate) as qtr, dayofyear(o.o_orderdate) as doy, "
    "last_day(o.o_orderdate) as eom, "
    "make_date(year(o.o_orderdate), month(o.o_orderdate), 1) "
    "as month_start "
    "from orders as o where o.o_orderkey < 2000 "
    "order by o.o_orderkey",
    "SELECT o_orderkey AS okey, "
    "CAST(dayofweek(o_orderdate) + 1 AS BIGINT) AS dw, "
    "CAST(week(o_orderdate) AS BIGINT) AS wk, "
    "CAST(quarter(o_orderdate) AS BIGINT) AS qtr, "
    "CAST(dayofyear(o_orderdate) AS BIGINT) AS doy, "
    "last_day(o_orderdate) AS eom, "
    "make_date(CAST(year(o_orderdate) AS INT), "
    "CAST(month(o_orderdate) AS INT), 1) AS month_start "
    "FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey",
)

_sqlpp(
    # r16: INTERVAL literals over the events stream — sub-day shifts
    # are exact micro arithmetic, the month shift exercises calendar
    # clamping (timestampadd vs DuckDB native interval, probed
    # bit-identical). Scan-stage expressions, zero shuffles beyond
    # the ORDER BY.
    "sqlpp_interval_shift",
    "select e.event_id as eid, "
    "e.ts + interval 3 hour as ts3h, "
    "e.ts - interval 45 minute as tsm45, "
    "e.ts + interval 1 month as ts1mo, "
    "e.ts + interval 2 weeks as ts2w "
    "from events as e where e.event_id < 500 order by e.event_id",
    "SELECT event_id AS eid, "
    "CAST(CAST(ts AS TIMESTAMP) + INTERVAL 3 HOUR AS TIMESTAMP) "
    "AS ts3h, "
    "CAST(CAST(ts AS TIMESTAMP) - INTERVAL 45 MINUTE AS TIMESTAMP) "
    "AS tsm45, "
    "CAST(CAST(ts AS TIMESTAMP) + INTERVAL 1 MONTH AS TIMESTAMP) "
    "AS ts1mo, "
    "CAST(CAST(ts AS TIMESTAMP) + INTERVAL 2 WEEK AS TIMESTAMP) "
    "AS ts2w "
    "FROM events WHERE event_id < 500 ORDER BY event_id",
)

_sqlpp(
    # r16: DISTINCT ON (PG/DuckDB) — richest customer per nation,
    # custkey tie-break. Compiles to row_number + rn=1 with Spark's
    # map-side WindowGroupLimit pushdown (top-1 prunes BEFORE the
    # shuffle — plan-pinned in tests/test_distinct_on.py); both
    # oracle engines run the syntax natively.
    "sqlpp_distinct_on",
    "select distinct on (c.c_nationkey) "
    "c.c_nationkey as nk, c.c_custkey as ck, c.c_acctbal as bal "
    "from customer as c "
    "order by c.c_nationkey, c.c_acctbal desc, c.c_custkey",
    "SELECT DISTINCT ON (c_nationkey) "
    "c_nationkey AS nk, c_custkey AS ck, c_acctbal AS bal "
    "FROM customer "
    "ORDER BY c_nationkey, c_acctbal DESC, c_custkey",
)

_sqlpp(
    # r16: named windows (WINDOW clause) — one spec shared by three
    # functions; the analyzer inlines the spec per reference, so this
    # still compiles to ONE window exchange (same partition/order).
    "sqlpp_named_windows",
    "select c.c_custkey as ck, "
    "row_number() over w as rn, "
    "sum(c.c_custkey) over w as run_keys, "
    "lag(c.c_acctbal) over w as prev_bal "
    "from customer as c where c.c_custkey < 400 "
    "window w as (partition by c.c_nationkey order by c.c_custkey) "
    "order by c.c_custkey",
    "SELECT c_custkey AS ck, row_number() OVER w AS rn, "
    "CAST(sum(c_custkey) OVER w AS BIGINT) AS run_keys, "
    "lag(c_acctbal) OVER w AS prev_bal "
    "FROM customer WHERE c_custkey < 400 "
    "WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_custkey) "
    "ORDER BY c_custkey",
)

_sqlpp(
    # r15 third wave: ordered ALL quantifier + md5 fingerprint — the
    # subquery reduces to one broadcast min/max row, never a shuffle.
    "sqlpp_quantified_top",
    "select o.o_orderkey as okey, o.o_totalprice as price, "
    "md5(o.o_orderpriority) as prio_hash from orders as o "
    "where o.o_totalprice >= all (select o2.o_totalprice from orders as o2 "
    "where o2.o_orderpriority = '1-URGENT') "
    "order by o.o_orderkey",
    "SELECT o_orderkey AS okey, o_totalprice AS price, "
    "md5(o_orderpriority) AS prio_hash FROM orders "
    "WHERE o_totalprice >= ALL (SELECT o_totalprice FROM orders "
    "WHERE o_orderpriority = '1-URGENT') "
    "ORDER BY o_orderkey",
)

_sqlpp(
    # r16: THETA-correlated ordered quantifier (the r15 boundary
    # error, now compiled): the per-outer-row set varies with an
    # inequality correlation, reduced over the DISTINCT outer probe
    # tuples (25 nation keys here) — theta join is |probes| x
    # |customer|, marker re-joins null-safe on the tuple
    # (compile._attach_quant r16 branch). Both quantifiers + a flag
    # position in one entry; DuckDB runs the correlated form natively.
    "sqlpp_quantified_theta_corr",
    "select s.s_suppkey as skey, s.s_nationkey as nk, "
    "s.s_acctbal as bal, "
    "(s.s_acctbal >= all (select c.c_acctbal from customer as c "
    "where c.c_nationkey < s.s_nationkey)) as top_flag "
    "from supplier as s "
    "where s.s_acctbal > any (select c2.c_acctbal from customer as c2 "
    "where c2.c_nationkey < s.s_nationkey) "
    "order by s.s_suppkey",
    "SELECT s_suppkey AS skey, s_nationkey AS nk, s_acctbal AS bal, "
    "(s_acctbal >= ALL (SELECT c_acctbal FROM customer "
    "WHERE c_nationkey < s_nationkey)) AS top_flag "
    "FROM supplier s "
    "WHERE s_acctbal > ANY (SELECT c_acctbal FROM customer "
    "WHERE c_nationkey < s_nationkey) "
    "ORDER BY s_suppkey",
)

_sqlpp(
    # r16: IGNORE NULLS window modifier (DuckDB in-parens placement)
    # under the driver gate — lag lowers to nth_value over a reversed
    # one-sided ROWS frame, first_value uses Spark's native
    # ignoreNulls. NULLs synthesized via CASE (TPC-H columns are all
    # non-null); acctbal converts decimal->double identically in both
    # engines (correctly-rounded division). ONE window exchange.
    "sqlpp_ignore_nulls_window",
    "select d.ck as ck, d.nk as nk, "
    "lag(d.bal ignore nulls) over (partition by d.nk order by d.ck) "
    "as prev_bal, "
    "lead(d.bal, 2 ignore nulls) over (partition by d.nk "
    "order by d.ck) as next2_bal, "
    "first_value(d.bal ignore nulls) over (partition by d.nk "
    "order by d.ck) as first_bal "
    "from (select c.c_custkey as ck, c.c_nationkey as nk, "
    "case when c.c_custkey % 3 = 0 then null : float "
    "else cast(c.c_acctbal as float) end as bal "
    "from customer as c where c.c_custkey < 600) as d "
    "order by d.ck",
    "SELECT ck, nk, "
    "lag(bal IGNORE NULLS) OVER (PARTITION BY nk ORDER BY ck) "
    "AS prev_bal, "
    "lead(bal, 2 IGNORE NULLS) OVER (PARTITION BY nk ORDER BY ck) "
    "AS next2_bal, "
    "first_value(bal IGNORE NULLS) OVER (PARTITION BY nk ORDER BY ck) "
    "AS first_bal "
    "FROM (SELECT c_custkey AS ck, c_nationkey AS nk, "
    "CASE WHEN c_custkey % 3 = 0 THEN NULL "
    "ELSE CAST(c_acctbal AS DOUBLE) END AS bal "
    "FROM customer WHERE c_custkey < 600) "
    "ORDER BY ck",
)

_sqlpp(
    # r15 third wave: median + bivariate statistics under the driver
    # gate. median is bit-exact (integer-valued doubles; both engines
    # interpolate the even midpoint); corr/covar_pop validate via the
    # tolerance-boolean pattern against closed forms over EXACT
    # integer-valued sums (the sqlpp_stats_aggs approach — Spark and
    # DuckDB one-pass formulations differ in the last ulp).
    "sqlpp_stat_median_corr",
    "select l.l_returnflag as flag, count(1) as n, "
    "median(l.l_quantity) as med_qty, "
    "abs(covar_pop(l.l_quantity, l.l_linenumber) - "
    "(count(1) * sum(l.l_quantity * l.l_linenumber) "
    "- sum(l.l_quantity) * sum(l.l_linenumber)) "
    "/ (count(1) * count(1) * 1.0)) < 0.000000001 as ok_cp, "
    "abs(corr(l.l_quantity, l.l_linenumber) - "
    "(count(1) * sum(l.l_quantity * l.l_linenumber) "
    "- sum(l.l_quantity) * sum(l.l_linenumber)) "
    "/ sqrt((count(1) * sum(l.l_quantity * l.l_quantity) "
    "- sum(l.l_quantity) * sum(l.l_quantity)) "
    "* (count(1) * sum(l.l_linenumber * l.l_linenumber) "
    "- sum(l.l_linenumber) * sum(l.l_linenumber)))) "
    "< 0.000000001 as ok_corr "
    "from lineitem as l group by l.l_returnflag order by flag",
    "SELECT l_returnflag AS flag, count(*) AS n, "
    "CAST(median(l_quantity) AS DOUBLE) AS med_qty, "
    "abs(covar_pop(l_quantity, l_linenumber) - "
    "(count(*) * sum(l_quantity * l_linenumber) "
    "- sum(l_quantity) * sum(l_linenumber)) "
    "/ (count(*) * count(*) * 1.0)) < 0.000000001 AS ok_cp, "
    "abs(corr(l_quantity, l_linenumber) - "
    "(count(*) * sum(l_quantity * l_linenumber) "
    "- sum(l_quantity) * sum(l_linenumber)) "
    "/ sqrt((count(*) * sum(l_quantity * l_quantity) "
    "- sum(l_quantity) * sum(l_quantity)) "
    "* (count(*) * sum(l_linenumber * l_linenumber) "
    "- sum(l_linenumber) * sum(l_linenumber)))) "
    "< 0.000000001 AS ok_corr "
    "FROM lineitem GROUP BY l_returnflag ORDER BY flag",
)

_sqlpp(
    # r15 third wave: GROUP BY ALL + ORDER BY ALL + median under the
    # driver gate — the grouped-report idiom with zero repeated
    # expressions and a fully pinned output order.
    "sqlpp_group_order_all",
    "select n.n_regionkey as rk, count(1) as n_nations, "
    "median(n.n_nationkey) as med_key "
    "from nation as n group by all order by all",
    "SELECT n_regionkey AS rk, count(*) AS n_nations, "
    "CAST(median(n_nationkey) AS DOUBLE) AS med_key "
    "FROM nation GROUP BY ALL ORDER BY ALL",
)

_sqlpp(
    # r15 third wave: generate_series spine under the driver gate —
    # the dense-range LEFT JOIN that reveals gaps (here: region keys
    # 0..6 vs the 5 real regions). Spark side is a Range node (no
    # scan, no shuffle to produce the spine).
    "sqlpp_series_spine",
    "select g.k as k, count(n.n_nationkey) as n_nations "
    "from generate_series(0, 6) as g(k) "
    "left join nation as n on g.k = n.n_regionkey "
    "group by g.k order by g.k",
    "SELECT k, count(n_nationkey) AS n_nations "
    "FROM generate_series(0, 6) t(k) "
    "LEFT JOIN nation ON k = n_regionkey "
    "GROUP BY k ORDER BY k",
)

_sqlpp(
    # r15 third wave: arg_min/arg_max under the driver gate — keys
    # are the UNIQUE o_orderkey, so the pick is deterministic (ties
    # are engine-unspecified in both engines, same as any unordered
    # first()-style aggregate).
    "sqlpp_arg_min_max",
    "select o.o_orderstatus as st, count(1) as n, "
    "arg_max(o.o_totalprice, o.o_orderkey) as last_price, "
    "arg_min(o.o_totalprice, o.o_orderkey) as first_price "
    "from orders as o group by o.o_orderstatus order by st",
    "SELECT o_orderstatus AS st, count(*) AS n, "
    "arg_max(o_totalprice, o_orderkey) AS last_price, "
    "arg_min(o_totalprice, o_orderkey) AS first_price "
    "FROM orders GROUP BY o_orderstatus ORDER BY st",
)

_sqlpp(
    # r15 third wave: DISTINCT aggregate args — dedup-then-aggregate
    # for the classic five (avg_distinct composes two distinct
    # partials on Spark: one shuffle, exact).
    "sqlpp_distinct_aggs",
    "select l.l_returnflag as flag, "
    "count(distinct l.l_suppkey) as nd_supp, "
    "sum(distinct l.l_linenumber) as sd_line, "
    "avg(distinct l.l_linenumber) as ad_line "
    "from lineitem as l group by l.l_returnflag order by flag",
    "SELECT l_returnflag AS flag, "
    "count(DISTINCT l_suppkey) AS nd_supp, "
    "CAST(sum(DISTINCT l_linenumber) AS BIGINT) AS sd_line, "
    "CAST(avg(DISTINCT l_linenumber) AS DOUBLE) AS ad_line "
    "FROM lineitem GROUP BY l_returnflag ORDER BY flag",
)

_sqlpp(
    # r15 third wave: EXACT interpolated percentile beside the GK
    # sketch — Spark F.percentile and DuckDB quantile_cont share the
    # interpolation formula bit-for-bit (integer-valued doubles), so
    # the hash is EXACT, not tolerance.
    "sqlpp_percentile_cont",
    "select l.l_returnflag as flag, "
    "percentile_cont(l.l_quantity, 0.25) as q25, "
    "percentile_cont(l.l_quantity, 0.5) as q50, "
    "percentile_cont(l.l_quantity, 0.95) as q95 "
    "from lineitem as l group by l.l_returnflag order by flag",
    "SELECT l_returnflag AS flag, "
    "CAST(quantile_cont(l_quantity, 0.25) AS DOUBLE) AS q25, "
    "CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE) AS q50, "
    "CAST(quantile_cont(l_quantity, 0.95) AS DOUBLE) AS q95 "
    "FROM lineitem GROUP BY l_returnflag ORDER BY flag",
)

_sqlpp(
    # r15 third wave: mode() — unique by construction here (every
    # order has linenumber 1, and linenumber frequency strictly
    # decreases, so the mode can never tie).
    "sqlpp_mode_agg",
    "select l.l_returnflag as flag, "
    "cast(mode(l.l_linenumber) as int) as mode_line, count(1) as n "
    "from lineitem as l group by l.l_returnflag order by flag",
    "SELECT l_returnflag AS flag, "
    "CAST(mode(l_linenumber) AS BIGINT) AS mode_line, count(*) AS n "
    "FROM lineitem GROUP BY l_returnflag ORDER BY flag",
)

_sqlpp(
    # r17: WITH RECURSIVE — data-driven linear recursion. Walks each
    # order's lineitems by linenumber (depth <= 7 supersteps at any
    # SF: TPC-H linenumbers are 1..7 contiguous), accumulating the
    # running quantity along the chain; one bounded equi-join per
    # superstep, working table shrinks monotonically. DuckDB runs
    # WITH RECURSIVE natively — full independent oracle.
    "sqlpp_recursive_chain",
    "with recursive chain (okey, ln, run_qty) as ("
    "select l_orderkey as okey, l_linenumber as ln, "
    "cast(l_quantity as int) as run_qty "
    "from lineitem where l_linenumber = 1 "
    "union all "
    "select l.l_orderkey as okey, l.l_linenumber as ln, "
    "c.run_qty + cast(l.l_quantity as int) as run_qty "
    "from chain as c join lineitem as l "
    "on l.l_orderkey = c.okey and l.l_linenumber = c.ln + 1) "
    "select ln as depth, count(1) as n_chains, "
    "cast(sum(run_qty) as int) as total_qty "
    "from chain group by ln order by depth",
    "WITH RECURSIVE chain (okey, ln, run_qty) AS ("
    "SELECT l_orderkey, l_linenumber, CAST(l_quantity AS INTEGER) "
    "FROM lineitem WHERE l_linenumber = 1 "
    "UNION ALL "
    "SELECT l.l_orderkey, l.l_linenumber, "
    "c.run_qty + CAST(l.l_quantity AS INTEGER) "
    "FROM chain c JOIN lineitem l "
    "ON l.l_orderkey = c.okey AND l.l_linenumber = c.ln + 1) "
    "SELECT ln AS depth, count(*) AS n_chains, "
    "CAST(sum(run_qty) AS BIGINT) AS total_qty "
    "FROM chain GROUP BY ln ORDER BY depth",
)

_sqlpp(
    # r17: WITH RECURSIVE as a generator — a 12-row month spine built
    # by arithmetic recursion, left-joined against orders (classic
    # reporting spine: months with zero orders still appear). The
    # UNION-distinct variant is exercised by the fixpoint tests; this
    # registry entry pins the generator + outer-join composition.
    "sqlpp_recursive_spine",
    "with recursive months (m) as (select 1 as m union all "
    "select m + 1 as m from months where m < 12) "
    "select mo.m as month_no, count(o.o_orderkey) as n_orders "
    "from months as mo left join orders as o "
    "on month(o.o_orderdate) = mo.m and o.o_totalprice > 300000 "
    "group by mo.m order by month_no",
    "WITH RECURSIVE months (m) AS (SELECT 1 UNION ALL "
    "SELECT m + 1 FROM months WHERE m < 12) "
    "SELECT CAST(m AS INTEGER) AS month_no, count(o_orderkey) AS n_orders "
    "FROM months LEFT JOIN orders "
    "ON month(o_orderdate) = m AND o_totalprice > 300000 "
    "GROUP BY m ORDER BY month_no",
    headline=True,
)

_sqlpp(
    # r17: JOIN LATERAL — top-2 suppliers per nation by account
    # balance. The engine decorrelates to ONE row_number window per
    # equality key + ONE equi-join (plan-pinned in test_lateral.py:
    # WindowGroupLimit, no nested loop); DuckDB runs the same LATERAL
    # source natively. LEFT ... ON TRUE keeps supplier-less nations.
    "sqlpp_lateral_topk",
    "select n.n_name as nation_name, x.sname as sname, x.bal as bal "
    "from nation as n left join lateral ("
    "select s.s_name as sname, s.s_acctbal as bal from supplier as s "
    "where s.s_nationkey = n.n_nationkey "
    "order by s.s_acctbal desc, s.s_name limit 2) as x on true "
    "order by nation_name, sname",
    "SELECT n_name AS nation_name, x.sname AS sname, x.bal AS bal "
    "FROM nation n LEFT JOIN LATERAL ("
    "SELECT s_name AS sname, s_acctbal AS bal FROM supplier s "
    "WHERE s.s_nationkey = n.n_nationkey "
    "ORDER BY s_acctbal DESC, s_name LIMIT 2) x ON TRUE "
    "ORDER BY nation_name, sname",
    headline=True,
)

_sqlpp(
    # r17: theta LATERAL — per-order lineitems strictly cheaper than
    # the order's half price (a genuine per-row inequality set;
    # equality on the orderkey keys the hash join, the price theta
    # stays residual).
    "sqlpp_lateral_theta",
    "select o.o_orderkey as okey, count(x.ln) as n_cheap "
    "from orders as o cross join lateral ("
    "select l.l_linenumber as ln from lineitem as l "
    "where l.l_orderkey = o.o_orderkey "
    "and l.l_extendedprice < o.o_totalprice / 2) as x "
    "where o.o_orderkey < 2000 group by o.o_orderkey order by okey",
    "SELECT o_orderkey AS okey, count(x.ln) AS n_cheap "
    "FROM orders o CROSS JOIN LATERAL ("
    "SELECT l_linenumber AS ln FROM lineitem l "
    "WHERE l.l_orderkey = o.o_orderkey "
    "AND l.l_extendedprice < o.o_totalprice / 2) x "
    "WHERE o_orderkey < 2000 GROUP BY o_orderkey ORDER BY okey",
)

_sqlpp(
    # r19 (r18 verdict task 2): THETA-correlated LATERAL top-k — the
    # last LATERAL shape the engine rejected. Per customer: the two
    # most expensive orders (any customer's) still strictly below
    # that customer's account balance — a pure ordered-theta
    # correlation (no equality key). The compiler evaluates per
    # DISTINCT probe value; above spark.sqlpp.lateral.bandedThreshold
    # it switches to the banded per-bucket-top-k + prefix-completion
    # plan (all hash equi-joins, plan-pinned in test_plans.py).
    # DuckDB runs the same correlated LATERAL natively as oracle.
    "sqlpp_lateral_theta_topk",
    "select c.ck as custkey, x.okey as okey, x.price as price "
    "from (select c_custkey as ck, c_acctbal as bal from customer "
    "where c_custkey <= 200) as c cross join lateral ("
    "select o.o_orderkey as okey, o.o_totalprice as price "
    "from orders as o where o.o_totalprice < c.bal "
    "order by o.o_totalprice desc, o.o_orderkey asc limit 2) as x "
    "order by custkey, okey",
    "SELECT c.ck AS custkey, x.okey AS okey, x.price AS price "
    "FROM (SELECT c_custkey AS ck, c_acctbal AS bal FROM customer "
    "WHERE c_custkey <= 200) c CROSS JOIN LATERAL ("
    "SELECT o_orderkey AS okey, o_totalprice AS price "
    "FROM orders o WHERE o.o_totalprice < c.bal "
    "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) x "
    "ORDER BY custkey, okey",
    headline=True,
)

_sqlpp(
    # r19: the AS-OF JOIN shape — per order, the LATEST lineitem (any
    # order's) shipped strictly before that order's date. DATE theta
    # keys band through a monotone epoch view (bucketing needs only a
    # monotone numeric view; the residual theta compares the original
    # dates). LEFT keeps orders predating every shipment.
    "sqlpp_lateral_asof",
    "select o.okey as okey, x.eid as ship_okey, x.sd as ship_date "
    "from (select o_orderkey as okey, o_orderdate as od from orders "
    "where o_orderkey < 400) as o left join lateral ("
    "select l.l_orderkey as eid, l.l_shipdate as sd from lineitem as l "
    "where l.l_shipdate < o.od "
    "order by l.l_shipdate desc, l.l_orderkey asc, "
    "l.l_linenumber asc limit 1) as x on true order by okey",
    "SELECT o.okey AS okey, x.eid AS ship_okey, x.sd AS ship_date "
    "FROM (SELECT o_orderkey AS okey, o_orderdate AS od FROM orders "
    "WHERE o_orderkey < 400) o LEFT JOIN LATERAL ("
    "SELECT l_orderkey AS eid, l_shipdate AS sd FROM lineitem l "
    "WHERE l.l_shipdate < o.od "
    "ORDER BY l_shipdate DESC, l_orderkey ASC, "
    "l_linenumber ASC LIMIT 1) x ON TRUE ORDER BY okey",
)

_sqlpp(
    # r19: MIXED equality + theta LATERAL top-k — the per-entity
    # as-of shape ("top-k of THIS customer's orders strictly below
    # that customer's balance"). The equality key hash-partitions the
    # decorrelated join (the same shape the non-LIMIT eq+theta
    # lateral runs), so the per-probe-tuple window costs D_g x S_g
    # per customer, never a global quadratic. LEFT keeps customers
    # with no qualifying order.
    "sqlpp_lateral_asof_keyed",
    "select c.ck as custkey, x.okey as okey from "
    "(select c_custkey as ck, c_acctbal as bal from customer "
    "where c_custkey <= 500) as c left join lateral ("
    "select o.o_orderkey as okey from orders as o "
    "where o.o_custkey = c.ck and o.o_totalprice < c.bal "
    "order by o.o_totalprice desc, o.o_orderkey asc limit 2) as x "
    "on true order by custkey, okey",
    "SELECT c.ck AS custkey, x.okey AS okey FROM "
    "(SELECT c_custkey AS ck, c_acctbal AS bal FROM customer "
    "WHERE c_custkey <= 500) c LEFT JOIN LATERAL ("
    "SELECT o_orderkey AS okey FROM orders o "
    "WHERE o.o_custkey = c.ck AND o.o_totalprice < c.bal "
    "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 2) x "
    "ON TRUE ORDER BY custkey, okey",
)

_sqlpp(
    # r17: theta EXISTS min/max reduction — suppliers out-balanced by
    # a same-nation customer. Single non-equality conjunct, so
    # existence reduces exactly to max(c_acctbal) per nation
    # (compile._exists_theta_marker): 25-row marker + hash join, not
    # an outer x customer nested loop. NOT EXISTS leg pins the anti
    # side of the same marker.
    "sqlpp_exists_theta_reduced",
    "select s.s_suppkey as skey, s.s_acctbal as bal from supplier as s "
    "where exists (select 1 as one from customer as c "
    "where c.c_nationkey = s.s_nationkey "
    "and c.c_acctbal > s.s_acctbal) "
    "and not exists (select 1 as one from customer as c2 "
    "where c2.c_nationkey = s.s_nationkey "
    "and c2.c_acctbal > s.s_acctbal + 9000) "
    "order by skey",
    "SELECT s_suppkey AS skey, s_acctbal AS bal FROM supplier s "
    "WHERE EXISTS (SELECT 1 FROM customer c "
    "WHERE c.c_nationkey = s.s_nationkey "
    "AND c.c_acctbal > s.s_acctbal) "
    "AND NOT EXISTS (SELECT 1 FROM customer c2 "
    "WHERE c2.c_nationkey = s.s_nationkey "
    "AND c2.c_acctbal > s.s_acctbal + 9000) "
    "ORDER BY s_suppkey",
)

_sqlpp(
    # r17: recursive VIEW use — a log-scale histogram of order totals
    # against the pow2 spine view (19 buckets; the view compiles
    # through the same bounded-superstep loop at every use site, then
    # broadcasts into the range join). DuckDB runs the inline
    # WITH RECURSIVE form the printer emits.
    "sqlpp_recursive_view",
    "select p.b as bucket_lo, count(o.o_orderkey) as n_orders "
    "from pow2 as p left join orders as o "
    "on o.o_totalprice >= p.b and o.o_totalprice < p.b * 2 "
    "group by p.b order by bucket_lo",
    "WITH RECURSIVE p (b) AS (SELECT 1 UNION ALL "
    "SELECT b * 2 FROM p WHERE b < 300000) "
    "SELECT b AS bucket_lo, count(o_orderkey) AS n_orders "
    "FROM p LEFT JOIN orders o "
    "ON o.o_totalprice >= p.b AND o.o_totalprice < p.b * 2 "
    "GROUP BY b ORDER BY bucket_lo",
)

_sqlpp(
    # r18: aggregated LATERAL body (r17 verdict task 3) — the classic
    # per-outer-row statistics shape. Lowered to ONE hash aggregate
    # grouped by the correlation key + a null-safe equi-join with
    # SQL's one-row completion for empty groups (count -> 0, max ->
    # NULL), never a per-customer rescan (plan-pinned in
    # test_lateral.py). The body projects a count, which is also
    # DuckDB's own empty-group completion trigger (probed divergence,
    # sqlgen lateral printing), so DuckDB oracles the SAME lateral SQL
    # natively.
    "sqlpp_lateral_agg",
    "select c.c_custkey as custkey, x.n_orders as n_orders, "
    "x.max_price as max_price "
    "from customer as c cross join lateral ("
    "select count(1) as n_orders, max(o.o_totalprice) as max_price "
    "from orders as o where o.o_custkey = c.c_custkey group by ()) as x "
    "where c.c_custkey <= 500 order by custkey",
    "SELECT c_custkey AS custkey, x.n_orders AS n_orders, "
    "x.max_price AS max_price "
    "FROM customer c CROSS JOIN LATERAL ("
    "SELECT count(*) AS n_orders, max(o.o_totalprice) AS max_price "
    "FROM orders o WHERE o.o_custkey = c.c_custkey GROUP BY ()) x "
    "WHERE c_custkey <= 500 ORDER BY custkey",
    headline=True,
)

_sqlpp(
    # r18: KEYED aggregated LATERAL with HAVING — per-region nation
    # supplier counts, keeping only nations with >= 3 suppliers;
    # empty groups legitimately vanish (CROSS drops, LEFT keeps with
    # NULLs — this entry pins the CROSS side).
    "sqlpp_lateral_agg_keyed",
    "select r.r_name as region_name, x.nname as nname, x.n_sup as n_sup "
    "from region as r cross join lateral ("
    "select n.n_name as nname, count(1) as n_sup "
    "from nation as n join supplier as s on s.s_nationkey = n.n_nationkey "
    "where n.n_regionkey = r.r_regionkey "
    "group by n.n_name having count(1) >= 3) as x "
    "order by region_name, nname",
    "SELECT r_name AS region_name, x.nname AS nname, x.n_sup AS n_sup "
    "FROM region r CROSS JOIN LATERAL ("
    "SELECT n_name AS nname, count(*) AS n_sup "
    "FROM nation n JOIN supplier s ON s.s_nationkey = n.n_nationkey "
    "WHERE n.n_regionkey = r.r_regionkey "
    "GROUP BY n_name HAVING count(*) >= 3) x "
    "ORDER BY region_name, nname",
)

_sqlpp(
    # r18: MUTUAL recursion (r17 verdict task 4) — odd/even-positioned
    # lineitems per order via a two-member cycle (odd's step walks
    # even, even's step walks odd; linenumbers are 1..7 contiguous
    # per TPC-H order). UNION-distinct members: the engine's tandem
    # semi-naive loop and DuckDB's accumulated re-evaluation reach
    # the same closure for monotone steps (probed; mutual UNION ALL
    # is parser-rejected because DuckDB's bag semantics do not
    # terminate). even's base is the ln=2 seed (ln=1 always exists),
    # so it references the cycle only in its step.
    "sqlpp_recursive_mutual",
    "with recursive odd_ln (okey, ln) as ("
    "select l_orderkey as okey, l_linenumber as ln from lineitem "
    "where l_linenumber = 1 "
    "union "
    "select l.l_orderkey as okey, l.l_linenumber as ln "
    "from even_ln as e join lineitem as l "
    "on l.l_orderkey = e.okey and l.l_linenumber = e.ln + 1), "
    "even_ln (okey, ln) as ("
    "select l_orderkey as okey, l_linenumber as ln from lineitem "
    "where l_linenumber = 2 "
    "union "
    "select l.l_orderkey as okey, l.l_linenumber as ln "
    "from odd_ln as o join lineitem as l "
    "on l.l_orderkey = o.okey and l.l_linenumber = o.ln + 1) "
    "select 1 as parity, ln, count(1) as n_items from odd_ln group by ln "
    "union all "
    "select 0 as parity, ln, count(1) as n_items from even_ln group by ln "
    "order by parity, ln",
    "WITH RECURSIVE odd_ln (okey, ln) AS ("
    "SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_linenumber = 1 "
    "UNION "
    "SELECT l.l_orderkey, l.l_linenumber FROM even_ln e JOIN lineitem l "
    "ON l.l_orderkey = e.okey AND l.l_linenumber = e.ln + 1), "
    "even_ln (okey, ln) AS ("
    "SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_linenumber = 2 "
    "UNION "
    "SELECT l.l_orderkey, l.l_linenumber FROM odd_ln o JOIN lineitem l "
    "ON l.l_orderkey = o.okey AND l.l_linenumber = o.ln + 1) "
    "SELECT 1 AS parity, ln, count(*) AS n_items FROM odd_ln GROUP BY ln "
    "UNION ALL "
    "SELECT 0 AS parity, ln, count(*) AS n_items FROM even_ln GROUP BY ln "
    "ORDER BY parity, ln",
)

_sqlpp(
    # r18: MULTIPLE recursive members, stratified — the second
    # member's BASE references the completed first member (months
    # spine -> half-year tagging), the DuckDB/PG stratified
    # semantics: strata evaluate in declaration order, later bases
    # and steps see earlier fixpoints as ordinary tables.
    "sqlpp_recursive_multi",
    "with recursive months (m) as (select 1 as m union all "
    "select m + 1 as m from months where m < 12), "
    "halves (m, h) as (select m as m, 1 as h from months where m <= 6 "
    "union all select m + 6 as m, 2 as h from halves where h = 1) "
    "select hv.h as half_no, cast(sum(hv.m) as int) as m_sum, "
    "count(1) as n_months from halves as hv group by hv.h "
    "order by half_no",
    "WITH RECURSIVE months (m) AS (SELECT 1 UNION ALL "
    "SELECT m + 1 FROM months WHERE m < 12), "
    "halves (m, h) AS (SELECT m, 1 FROM months WHERE m <= 6 "
    "UNION ALL SELECT m + 6, 2 FROM halves WHERE h = 1) "
    "SELECT h AS half_no, CAST(sum(m) AS INTEGER) AS m_sum, "
    "count(*) AS n_months FROM halves GROUP BY h ORDER BY half_no",
)

_sqlpp(
    # r19: NON-LINEAR mutual recursion (ADVICE r18 medium) — steps
    # referencing TWO cycle tables (odd's step: even JOIN odd) or a
    # partner twice (even's step: odd JOIN odd). The compiler detects
    # non-linear steps (parser._count_refs) and re-evaluates them
    # over the ACCUMULATED results instead of delta-binding, because
    # delta x delta misses new x old row combinations (tandem
    # semi-naive is only closure-complete for linear steps). Odd/even
    # path lengths over the 9-node nationkey chain: the closure is
    # 20 odd + 16 even pairs; the pre-fix tandem loop loses the
    # len>=5 odd and len>=4 even paths (14 + 10). DuckDB runs the
    # same mutual recursion natively as oracle — probed to compute
    # the same closure ON THIS multi-derivable chain shape (its
    # general non-linear evaluation is operationally different;
    # tests/test_recursive_cte.py pins the engine's closure semantics
    # against an independent Python fixpoint).
    "sqlpp_recursive_nonlinear",
    "with recursive odd (s, d) as ("
    "select n.n_nationkey as s, n.n_nationkey + 1 as d from nation as n "
    "where n.n_nationkey < 8 "
    "union "
    "select ev.s as s, o.d as d from even as ev join odd as o "
    "on ev.d = o.s), "
    "even (s, d) as ("
    "select x.n_nationkey as s, x.n_nationkey + 2 as d from nation as x "
    "where x.n_nationkey < 7 "
    "union "
    "select o1.s as s, o2.d as d from odd as o1 join odd as o2 "
    "on o1.d = o2.s) "
    "select 1 as parity, s, d from odd "
    "union all select 0 as parity, s, d from even "
    "order by parity, s, d",
    "WITH RECURSIVE odd (s, d) AS ("
    "SELECT n_nationkey, n_nationkey + 1 FROM nation WHERE n_nationkey < 8 "
    "UNION "
    "SELECT ev.s, o.d FROM even ev JOIN odd o ON ev.d = o.s), "
    "even (s, d) AS ("
    "SELECT n_nationkey, n_nationkey + 2 FROM nation WHERE n_nationkey < 7 "
    "UNION "
    "SELECT o1.s, o2.d FROM odd o1 JOIN odd o2 ON o1.d = o2.s) "
    "SELECT 1 AS parity, s, d FROM odd "
    "UNION ALL SELECT 0 AS parity, s, d FROM even "
    "ORDER BY parity, s, d",
)

_sqlpp(
    # r18: PIVOT (beyond reference and beyond r17) — order counts per
    # nation spread across order-status columns. The engine desugars
    # to grouped conditional aggregation (ONE hash aggregate over ONE
    # scan, plan-pinned in tests/test_pivot.py); DuckDB executes the
    # same standard PIVOT form NATIVELY — an independent
    # implementation of the same surface as oracle.
    "sqlpp_pivot",
    "select p.nation_name as nation_name, p.n_open as n_open, "
    "p.n_done as n_done, p.n_partial as n_partial from "
    "(select n.n_name as nation_name, o.o_orderstatus as st, "
    "o.o_totalprice as price from orders as o "
    "join customer as c on c.c_custkey = o.o_custkey "
    "join nation as n on n.n_nationkey = c.c_nationkey) as src "
    "pivot (count(price) for st in "
    "('O' as n_open, 'F' as n_done, 'P' as n_partial)) as p "
    "order by nation_name",
    "SELECT p.nation_name AS nation_name, p.n_open AS n_open, "
    "p.n_done AS n_done, p.n_partial AS n_partial FROM "
    "(SELECT n.n_name AS nation_name, o.o_orderstatus AS st, "
    "o.o_totalprice AS price FROM orders o "
    "JOIN customer c ON c.c_custkey = o.o_custkey "
    "JOIN nation n ON n.n_nationkey = c.c_nationkey) src "
    "PIVOT (count(price) FOR st IN "
    "('O' AS n_open, 'F' AS n_done, 'P' AS n_partial)) p "
    "ORDER BY nation_name",
)

_sqlpp(
    # r18: UNPIVOT (melt) — per-region nation stats melted to
    # (metric, value) rows. The engine desugars to ONE source scan
    # cross-joined with a constant generate_series spine + CASE
    # dispatch (plan-pinned: single scan, never scan-per-column);
    # DuckDB executes the same standard UNPIVOT form natively.
    "sqlpp_unpivot",
    "select u.rk as rk, u.metric as metric, u.v as v from "
    "(select n_regionkey as rk, count(1) as n_nations, "
    "cast(sum(n_nationkey) as int) as key_sum from nation "
    "group by n_regionkey) as s "
    "unpivot (v for metric in (n_nations, key_sum)) as u "
    "order by rk, metric",
    "SELECT u.rk AS rk, u.metric AS metric, u.v AS v FROM "
    "(SELECT n_regionkey AS rk, count(*) AS n_nations, "
    "CAST(CAST(sum(n_nationkey) AS INTEGER) AS BIGINT) AS key_sum "
    "FROM nation GROUP BY n_regionkey) s "
    "UNPIVOT (v FOR metric IN (n_nations, key_sum)) u "
    "ORDER BY rk, metric",
)

_sqlpp(
    # r19 (r18 verdict task 3): MULTI-AGGREGATE PIVOT — several
    # AS-named aggregates per value; output columns follow the
    # {value}_{aggname} convention (probed equal in Spark and
    # DuckDB). Still ONE hash aggregate over ONE scan. DuckDB runs
    # the identical multi-aggregate standard form natively as oracle.
    "sqlpp_pivot_multi_agg",
    "select p.nation_name as nation_name, "
    "p.open_o_c as open_c, cast(p.open_o_s as float) as open_s, "
    "p.done_f_c as done_c, cast(p.done_f_s as float) as done_s from "
    "(select n.n_name as nation_name, o.o_orderstatus as st, "
    "o.o_totalprice as price from orders as o "
    "join customer as c on c.c_custkey = o.o_custkey "
    "join nation as n on n.n_nationkey = c.c_nationkey) as src "
    "pivot (count(price) as c, sum(price) as s for st in "
    "('O' as open_o, 'F' as done_f)) as p order by nation_name",
    "SELECT nation_name, \"open_o_c\" AS open_c, "
    "CAST(\"open_o_s\" AS DOUBLE) AS open_s, "
    "\"done_f_c\" AS done_c, CAST(\"done_f_s\" AS DOUBLE) AS done_s "
    "FROM (SELECT n_name AS nation_name, o_orderstatus AS st, "
    "o_totalprice AS price FROM orders "
    "JOIN customer ON c_custkey = o_custkey "
    "JOIN nation ON n_nationkey = c_nationkey) src "
    "PIVOT (count(price) AS c, sum(price) AS s FOR st IN "
    "('O' AS open_o, 'F' AS done_f)) p ORDER BY nation_name",
)

_sqlpp(
    # r19: MULTI-COLUMN UNPIVOT groups — (count, sum) pairs melt
    # together under one key column; EXCLUDE NULLS (default) drops a
    # row when ANY value column is NULL (DuckDB's probed rule,
    # pinned — the engine desugars, so the pin holds on both legs).
    "sqlpp_unpivot_multi",
    "select u.rk as rk, u.status as status, u.cnt as cnt, "
    "cast(u.amt as float) as amt from "
    "(select n.n_regionkey as rk, "
    "count_if(o.o_orderstatus = 'O') as open_n, "
    "sum(case when o.o_orderstatus = 'O' then o.o_totalprice end) "
    "as open_amt, "
    "count_if(o.o_orderstatus = 'F') as done_n, "
    "sum(case when o.o_orderstatus = 'F' then o.o_totalprice end) "
    "as done_amt from orders as o "
    "join customer as c on c.c_custkey = o.o_custkey "
    "join nation as n on n.n_nationkey = c.c_nationkey "
    "group by n.n_regionkey) as s "
    "unpivot ((cnt, amt) for status in "
    "((open_n, open_amt) as 'open', (done_n, done_amt) as 'done')) "
    "as u order by rk, status",
    "SELECT u.rk AS rk, u.status AS status, u.cnt AS cnt, "
    "CAST(u.amt AS DOUBLE) AS amt FROM "
    "(SELECT n_regionkey AS rk, "
    "count(*) FILTER (o_orderstatus = 'O') AS open_n, "
    "sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END) "
    "AS open_amt, "
    "count(*) FILTER (o_orderstatus = 'F') AS done_n, "
    "sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END) "
    "AS done_amt FROM orders "
    "JOIN customer ON c_custkey = o_custkey "
    "JOIN nation ON n_nationkey = c_nationkey "
    "GROUP BY n_regionkey) s "
    "UNPIVOT ((cnt, amt) FOR status IN "
    "((open_n, open_amt) AS 'open', (done_n, done_amt) AS 'done')) "
    "u ORDER BY rk, status",
)

_sqlpp(
    # r19: DYNAMIC PIVOT — no IN list; the engine discovers the
    # distinct pivot values with ONE bounded plan-time DISTINCT job
    # (capped by spark.sqlpp.pivot.maxValues, default 1000; a
    # 10k-column pivot is an outage, not a query — same documented
    # eager-plan-job precedent as the banded quantifier chooser).
    # Oracle: DuckDB's genuinely dynamic PIVOT-ON-USING statement as
    # a subquery — an independent implementation of the discovery.
    "sqlpp_pivot_dynamic",
    "select p.nation_name as nation_name, "
    "cast(p.F as float) as f_total, cast(p.O as float) as o_total, "
    "cast(p.P as float) as p_total from "
    "(select n.n_name as nation_name, o.o_orderstatus as st, "
    "o.o_totalprice as price from orders as o "
    "join customer as c on c.c_custkey = o.o_custkey "
    "join nation as n on n.n_nationkey = c.c_nationkey) as src "
    "pivot (sum(price) for st) as p order by nation_name",
    "SELECT nation_name, CAST(\"F\" AS DOUBLE) AS f_total, "
    "CAST(\"O\" AS DOUBLE) AS o_total, "
    "CAST(\"P\" AS DOUBLE) AS p_total FROM "
    "(PIVOT (SELECT n_name AS nation_name, o_orderstatus AS st, "
    "o_totalprice AS price FROM orders "
    "JOIN customer ON c_custkey = o_custkey "
    "JOIN nation ON n_nationkey = c_nationkey) "
    "ON st USING sum(price)) ORDER BY nation_name",
)
