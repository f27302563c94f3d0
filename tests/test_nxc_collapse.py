"""<>-correlated EXISTS (the TPC-H q21 shape):

    EXISTS (SELECT 1 FROM t WHERE t.k = outer.k
            AND t.s <> outer.s [AND pure-inner filters])

takes one of two plans. The pinned group collapse fires when a NEGATED
member's inner-local predicates are implied by the outer fact-local
filters: every qualifying fact row of a correlation group then shares
one <>-column value, so the fact collapses to ONE row per key (key,
pinned s, qualifying-row count) via a single hash aggregate — no window
sort, no fact join-back — and COUNT(*) becomes SUM(weight). Every other
query takes the stock semi/anti join.

Gate: automatic at ≥ 1M footer rows; SPARK_GRAFT_NEQ_EXISTS_COLLAPSE
forces (=1) / disables (=0). Every test compares against the stock
semi/anti plan (ground truth), a hand-computed standard-SQL expectation
or DuckDB, with the collapse forced on and off.
"""

from __future__ import annotations

import pandas as pd
import pytest

from sql_to_ibis_spark.errors import AmbiguousColumnException
from tests.conftest import compare_frames

GATE = "SPARK_GRAFT_NEQ_EXISTS_COLLAPSE"

Q21 = """
    SELECT s_name, count(*) AS numwait
    FROM supplier s
    JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    WHERE o.o_orderstatus = 'F' AND l1.l_returnflag = 'R'
    AND EXISTS (SELECT 1 FROM lineitem l2
                WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
    AND NOT EXISTS (SELECT 1 FROM lineitem l3
                    WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
    GROUP BY s_name ORDER BY numwait DESC, s_name
"""


def _opt(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _phys(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _on_off(monkeypatch):
    """Yield once with the collapse forced on, once with it off."""
    for mode in ("1", "0"):
        monkeypatch.setenv(GATE, mode)
        yield mode


def test_q21_collapse_matches_stock_and_oracle(engine, ddb, monkeypatch):
    monkeypatch.setenv(GATE, "0")
    stock = engine.query(Q21).toPandas()
    monkeypatch.setenv(GATE, "1")
    df = engine.query(Q21)
    plan = _opt(df)
    assert "__nxc_" in plan, plan
    assert "LeftSemi" not in plan and "LeftAnti" not in plan, plan
    compare_frames(df.toPandas(), stock, ordered=True)
    compare_frames(df.toPandas(), ddb.execute(Q21).fetchdf(), ordered=True)


def test_q21_collapse_single_fact_scan_no_window(engine, monkeypatch):
    monkeypatch.setenv(GATE, "1")
    phys = _phys(engine.query(Q21))
    assert phys.count("lineitem.parquet") == 1, phys
    assert "Window" not in phys, phys


def test_collapse_gate_closed_at_test_scale(engine, monkeypatch):
    # below 1M footer rows q21 keeps the stock semi + anti join
    monkeypatch.delenv(GATE, raising=False)
    plan = _opt(engine.query(Q21))
    assert "__nxc_" not in plan, plan
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan


def test_q21_collapse_on_key_bucketed_layout(spark, monkeypatch):
    # a lineitem snapshot bucketed (and sorted) on the correlation key
    # reports HashPartitioning(l_orderkey) at the scan: the collapse
    # groups on the buckets without its own repartition
    from sql_to_ibis_spark import SqlEngine
    from tests.conftest import SF_DIR

    eng = SqlEngine(spark)
    eng.register_dir(SF_DIR)
    eng.snapshot_bucketed("lineitem", ["l_orderkey"], num_buckets=4,
                          sort_cols=["l_orderkey"])
    monkeypatch.setenv(GATE, "0")
    stock = eng.query(Q21).toPandas()
    monkeypatch.setenv(GATE, "1")
    df = eng.query(Q21)
    assert "__nxc_" in _opt(df)
    compare_frames(df.toPandas(), stock, ordered=True)


# q21 written differently from the benchmark text: a filtered dimension
# joined to the kept side plus a LIMIT (as in TPC-H q21 proper) and a
# non-returnflag pinned local; and the members written NOT EXISTS first,
# each with its correlation sides reversed
Q21_VARIANTS = {
    "nation-join": """
        SELECT s_name, count(*) AS numwait
        FROM supplier s
        JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        WHERE o.o_orderstatus = 'F' AND l1.l_linestatus = 'F'
        AND n.n_regionkey < 3
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_linestatus = 'F')
        GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100
    """,
    "members-reordered": """
        SELECT s_name, count(*) AS numwait
        FROM supplier s
        JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        JOIN orders o ON o.o_orderkey = l1.l_orderkey
        WHERE l1.l_returnflag = 'R'
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l1.l_orderkey = l3.l_orderkey
                        AND l3.l_returnflag = 'R'
                        AND l1.l_suppkey <> l3.l_suppkey)
        AND o.o_orderstatus = 'F'
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l1.l_orderkey = l2.l_orderkey
                    AND l1.l_suppkey <> l2.l_suppkey)
        GROUP BY s_name ORDER BY numwait DESC, s_name
    """,
}
_variants = pytest.mark.parametrize(
    "sql", list(Q21_VARIANTS.values()), ids=list(Q21_VARIANTS))


@_variants
def test_q21_variant_forced_matches_stock_and_oracle(engine, ddb,
                                                     monkeypatch, sql):
    monkeypatch.setenv(GATE, "0")
    stock = engine.query(sql).toPandas()
    monkeypatch.setenv(GATE, "1")
    df = engine.query(sql)
    plan = _opt(df)
    assert "__nxc_" in plan, plan
    assert "LeftSemi" not in plan and "LeftAnti" not in plan, plan
    compare_frames(df.toPandas(), stock, ordered=True)
    compare_frames(df.toPandas(), ddb.execute(sql).fetchdf(), ordered=True)


@_variants
def test_q21_variant_single_fact_scan(engine, monkeypatch, sql):
    monkeypatch.setenv(GATE, "1")
    phys = _phys(engine.query(sql))
    assert phys.count("lineitem.parquet") == 1, phys
    assert "Window" not in phys, phys


@_variants
def test_q21_variant_gate_closed_at_test_scale(engine, monkeypatch, sql):
    monkeypatch.delenv(GATE, raising=False)
    plan = _opt(engine.query(sql))
    assert "__nxc_" not in plan, plan
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan


@pytest.fixture()
def synth(spark):
    """Synthetic fact + dims with NULL keys, NULL s, weight > 1 groups.

    fact groups (k): 1 → R rows by s=10 (×2: weight 2) + non-R by 20
                         → qualifies, numwait(d10) += 2
                     2 → R by 10 AND R by 20 (two R suppliers) → out
                     3 → R by 10, no other supplier → out (no EXISTS)
                     4 → R by NULL-s + R by 40, non-R by 10:
                         NULL-s rows die at the dim join everywhere;
                         s=40 is the only surviving R supplier → in (w 1)
                     5 → non-R only → out (weight 0)
                     NULL → R by 7 + R by 8: EXISTS fails on NULL key
                         in the original; the collapse drops the rows
    """
    from sql_to_ibis_spark import SqlEngine

    fact = pd.DataFrame({
        "k": [1, 1, 1, 2, 2, 3, 4, 4, 4, 5, 5, None, None],
        "s": [10, 10, 20, 10, 20, 10, None, 40, 10, 10, 20, 7, 8],
        "flag": ["R", "R", "N", "R", "R", "R", "R", "R", "N",
                 "N", "N", "R", "R"],
    }).astype({"k": "Int64", "s": "Int64"})
    dim = pd.DataFrame({
        "ds": [10, 20, 40, 7, 8],
        "dname": ["d10", "d20", "d40", "d7", "d8"],
    }).astype({"ds": "Int64"})
    eng = SqlEngine(spark)
    eng.register_temp_table(spark.createDataFrame(fact), "nxc_fact")
    eng.register_temp_table(spark.createDataFrame(dim), "nxc_dim")
    return eng


SYNTH_SQL = """
    SELECT d.dname, count(*) AS n
    FROM nxc_dim d JOIN nxc_fact f ON d.ds = f.s
    WHERE f.flag = 'R'
    AND EXISTS (SELECT 1 FROM nxc_fact f2
                WHERE f2.k = f.k AND f2.s <> f.s)
    AND NOT EXISTS (SELECT 1 FROM nxc_fact f3
                    WHERE f3.k = f.k AND f3.s <> f.s AND f3.flag = 'R')
    GROUP BY d.dname ORDER BY dname
"""


def test_collapse_null_and_weight_semantics(synth, monkeypatch):
    want = {("d10", 2), ("d40", 1)}
    monkeypatch.setenv(GATE, "1")
    df = synth.query(SYNTH_SQL)
    assert "__nxc_" in _opt(df)
    got = {(r.dname, r.n) for r in df.collect()}
    assert got == want, got
    monkeypatch.setenv(GATE, "0")
    stock = {(r.dname, r.n) for r in synth.query(SYNTH_SQL).collect()}
    assert stock == want, stock


def test_collapse_having_and_count_in_order_by(synth, monkeypatch):
    sql = SYNTH_SQL.replace("GROUP BY d.dname ORDER BY dname",
                            "GROUP BY d.dname HAVING count(*) > 1 "
                            "ORDER BY count(*) DESC, dname")
    monkeypatch.setenv(GATE, "1")
    df = synth.query(sql)
    assert "__nxc_" in _opt(df)
    got = [(r.dname, r.n) for r in df.collect()]
    assert got == [("d10", 2)], got


def test_collapse_kept_key_filter(synth, monkeypatch):
    # a fact filter on the key/s columns stays ON the collapsed frame
    sql = SYNTH_SQL.replace("WHERE f.flag = 'R'",
                            "WHERE f.flag = 'R' AND f.k < 4")
    monkeypatch.setenv(GATE, "1")
    df = synth.query(sql)
    assert "__nxc_" in _opt(df)
    got = {(r.dname, r.n) for r in df.collect()}
    assert got == {("d10", 2)}, got
    monkeypatch.setenv(GATE, "0")
    stock = {(r.dname, r.n)
             for r in synth.query(sql).collect()}
    assert stock == got, stock


def test_collapse_bails_on_scalar_subquery_conjunct(synth, monkeypatch):
    # a fact-local-looking conjunct holding a scalar subquery correlated
    # to ANOTHER outer relation (d) cannot be recompiled against the
    # bare fact scope: the collapse must decline, not fail the compile
    sql = SYNTH_SQL.replace(
        "WHERE f.flag = 'R'",
        "WHERE f.flag = 'R' AND f.flag <> "
        "(SELECT min(x.dname) FROM nxc_dim x WHERE x.ds = d.ds)")
    got = {}
    for mode in _on_off(monkeypatch):
        df = synth.query(sql)
        assert "__nxc_" not in _opt(df)
        got[mode] = {(r.dname, r.n) for r in df.collect()}
    assert got["1"] == got["0"] == {("d10", 2), ("d40", 1)}, got


def test_collapse_keeps_ambiguous_column_error(synth, monkeypatch):
    # unqualified `flag` is ambiguous between the fact f and its second
    # instance g; collapsing f would leave only g.flag and turn the
    # error into a result
    sql = (SYNTH_SQL
           .replace("SELECT d.dname, count(*) AS n",
                    "SELECT flag, count(*) AS n")
           .replace("JOIN nxc_fact f ON d.ds = f.s",
                    "JOIN nxc_fact f ON d.ds = f.s "
                    "JOIN nxc_fact g ON g.k = f.k")
           .replace("GROUP BY d.dname ORDER BY dname", "GROUP BY flag"))
    for _mode in _on_off(monkeypatch):
        with pytest.raises(AmbiguousColumnException, match="flag"):
            synth.query(sql)


@pytest.mark.parametrize("mutate, reason", [
    (lambda s: s.replace("count(*) AS n", "count(*) AS n, sum(f.s) AS t"),
     "non-count aggregate"),
    (lambda s: s.replace("SELECT d.dname, count(*) AS n",
                         "SELECT d.dname, f.flag, count(*) AS n")
               .replace("GROUP BY d.dname", "GROUP BY d.dname, f.flag"),
     "fact column beyond key/s referenced outside EXISTS"),
    (lambda s: s.replace("AND EXISTS (SELECT 1 FROM nxc_fact f2\n"
                         "                WHERE f2.k = f.k AND f2.s <> f.s)",
                         ""),
     "no positive member"),
    (lambda s: s.replace("WHERE f.flag = 'R'", "WHERE 1=1"),
     "outer filters do not imply the negated member's local"),
    (lambda s: s.replace("count(*) AS n", "count(*)"),
     "unaliased COUNT(*) would change the output column name"),
])
def test_collapse_non_candidates_fall_through(synth, monkeypatch,
                                              mutate, reason):
    sql = mutate(SYNTH_SQL)
    monkeypatch.setenv(GATE, "1")
    df = synth.query(sql)
    assert "__nxc_" not in _opt(df), (reason, _opt(df))
    forced = df.toPandas()
    monkeypatch.setenv(GATE, "0")
    compare_frames(synth.query(sql).toPandas(), forced)


# ------------------------------------------------ stock-path result pins
#
# Single-member and single-relation shapes: the collapse never fires,
# so each case pins the stock semi/anti join result with the gate forced
# on and off.

@pytest.mark.parametrize("sql", [
    # two <>-conjuncts
    """SELECT count(*) AS n FROM lineitem l1 WHERE EXISTS
       (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey
        AND l2.l_suppkey <> l1.l_suppkey
        AND l2.l_partkey <> l1.l_partkey)""",
    # no equality correlation
    """SELECT count(*) AS n FROM lineitem l1 WHERE EXISTS
       (SELECT 1 FROM lineitem l2
        WHERE l2.l_suppkey <> l1.l_suppkey AND l2.l_orderkey < 10)""",
    # correlated range conjunct alongside
    """SELECT count(*) AS n FROM lineitem l1 WHERE EXISTS
       (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = l1.l_orderkey
        AND l2.l_suppkey <> l1.l_suppkey
        AND l2.l_quantity > l1.l_quantity)""",
    # correlation key names differ (l_partkey vs l_orderkey)
    """SELECT count(*) AS n FROM lineitem l1 WHERE EXISTS
       (SELECT 1 FROM lineitem l2 WHERE l2.l_partkey = l1.l_orderkey
        AND l2.l_suppkey <> l1.l_suppkey)""",
    # inner table differs from every outer table
    """SELECT count(*) AS n FROM orders o1 WHERE EXISTS
       (SELECT 1 FROM lineitem l2 WHERE l2.l_orderkey = o1.o_orderkey
        AND l2.l_suppkey <> o1.o_custkey)""",
], ids=["two-neq", "no-equi-key", "correlated-range", "key-name-differs",
        "inner-table-differs"])
def test_non_candidates_fall_through_unchanged(engine, monkeypatch, sql):
    got = {}
    for mode in _on_off(monkeypatch):
        df = engine.query(sql)
        assert "__nxc_" not in _opt(df)
        got[mode] = df.toPandas()
    compare_frames(got["1"], got["0"])


def test_null_semantics_standard(spark, monkeypatch):
    # NULL s on both sides, empty groups, all-NULL groups — <> is
    # NULL-rejecting, so a NULL outer.s or an all-NULL group means
    # EXISTS is FALSE (standard three-valued logic). NOTE: DuckDB
    # 1.0.0's unnested correlated EXISTS diverges here — it returns TRUE
    # for `i.s <> o.s` when o.s IS NULL, contradicting its own row-level
    # `WHERE i.s <> NULL` (zero rows) — so the expectation below is
    # hand-computed standard SQL.
    from sql_to_ibis_spark import SqlEngine

    outer = pd.DataFrame({
        "k": [1, 1, 2, 3, 4, 5],
        "s": [10, 20, 10, None, 10, 10],
    }).astype({"k": "int64", "s": "Int64"})
    inner = pd.DataFrame({
        "k": [1, 1, 2, 3, 3, 5],
        "s": [10, 30, 10, None, 40, None],
    }).astype({"k": "int64", "s": "Int64"})
    # groups: k=1 {10,30}, k=2 {10}, k=3 {NULL,40}, k=5 {NULL}; k=4 absent
    # exists(o) = o.s NOT NULL and group has a non-null value != o.s
    exists_rows = {(1, 10), (1, 20)}        # k=3 o.s NULL -> false
    all_rows = {(1, 10), (1, 20), (2, 10), (3, None), (4, 10), (5, 10)}
    eng = SqlEngine(spark)
    eng.register_temp_table(spark.createDataFrame(outer), "t_out")
    eng.register_temp_table(spark.createDataFrame(inner), "t_in")
    for neg, want in (("", exists_rows), ("NOT ", all_rows - exists_rows)):
        sql = (f"SELECT o.k, o.s FROM t_out o WHERE {neg}EXISTS "
               f"(SELECT 1 FROM t_in i WHERE i.k = o.k AND i.s <> o.s)")
        for mode in _on_off(monkeypatch):
            got = {(r.k, r.s) for r in eng.query(sql).collect()}
            assert got == want, (neg, mode, got, want)


def test_null_semantics_self_table(spark, monkeypatch):
    # self-table shape with NULL keys: `i.k = o.k` is never satisfied
    # for a NULL o.k, so NULL-key rows never see each other's s values.
    # NULL s and all-NULL groups follow the same three-valued logic as
    # above. Expectation is hand-computed standard SQL.
    from sql_to_ibis_spark import SqlEngine

    t = pd.DataFrame({
        "k": [1, 1, 2, 3, 3, 5, None, None],
        "s": [10, 30, 10, None, 40, None, 7, 8],
    }).astype({"k": "Int64", "s": "Int64"})
    # groups: k=1 {10,30}, k=2 {10}, k=3 {NULL,40}, k=5 {NULL}
    # exists(o) = o.k NOT NULL, o.s NOT NULL, group has non-null != o.s
    exists_rows = {(1, 10), (1, 30)}
    all_rows = {(1, 10), (1, 30), (2, 10), (3, None), (3, 40),
                (5, None), (None, 7), (None, 8)}
    eng = SqlEngine(spark)
    eng.register_temp_table(spark.createDataFrame(t), "t_self")
    for neg, want in (("", exists_rows), ("NOT ", all_rows - exists_rows)):
        sql = (f"SELECT o.k, o.s FROM t_self o WHERE {neg}EXISTS "
               f"(SELECT 1 FROM t_self i WHERE i.k = o.k AND i.s <> o.s)")
        for mode in _on_off(monkeypatch):
            got = {(r.k, r.s) for r in eng.query(sql).collect()}
            assert got == want, (neg, mode, got, want)


def test_local_filter_and_reversed_sides(engine, ddb, monkeypatch):
    # inner filter + the <> written outer-first
    sql = """
        SELECT count(*) AS n FROM lineitem l1
        WHERE l1.l_returnflag = 'R'
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l1.l_orderkey = l2.l_orderkey
                    AND l1.l_suppkey <> l2.l_suppkey
                    AND l2.l_quantity > 25)
    """
    want = ddb.execute(sql).fetchdf()
    for _mode in _on_off(monkeypatch):
        compare_frames(engine.query(sql).toPandas(), want)


def test_neq_exists_under_left_join_null_extension(engine, ddb,
                                                   monkeypatch):
    # the correlated relation sits on the null-extended side of a LEFT
    # JOIN: null-extended rows have a NULL correlation key → EXISTS
    # false, NOT EXISTS true
    sql = """
        SELECT o.o_orderkey, count(*) AS n
        FROM orders o LEFT JOIN lineitem l1
          ON o.o_orderkey = l1.l_orderkey AND l1.l_quantity > 49
        WHERE NOT EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                          AND l2.l_suppkey <> l1.l_suppkey)
        GROUP BY o.o_orderkey ORDER BY o.o_orderkey LIMIT 20
    """
    want = ddb.execute(sql).fetchdf()
    for _mode in _on_off(monkeypatch):
        compare_frames(engine.query(sql).toPandas(), want, ordered=True)


def test_neq_exists_local_filter_and_outer_expr(engine, ddb, monkeypatch):
    # inner local filter, and the <> outer side referencing ANOTHER
    # relation (s.s_suppkey) than the equi-key's (l1)
    sql = """
        SELECT count(*) AS n
        FROM supplier s JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
        WHERE EXISTS (SELECT 1 FROM lineitem l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> s.s_suppkey
                      AND l2.l_quantity > 25)
    """
    want = ddb.execute(sql).fetchdf()
    for _mode in _on_off(monkeypatch):
        compare_frames(engine.query(sql).toPandas(), want)
