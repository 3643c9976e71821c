"""Tests of the benchmark's own code: input generators, statistics,
span arithmetic and answer checks. No Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys
import types

import pyarrow as pa
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import gen  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402


# ------------------------------------------------------------ generators

def test_statements_follow_the_seed():
    assert gen.statements(1, 2, 40) == gen.statements(1, 2, 40)
    assert gen.statements(1, 2, 40) != gen.statements(2, 2, 40)


def test_statements_never_repeat_and_mix_templates_evenly():
    per_client = gen.statements(5, 2, 400)
    stmts = [sql for client in per_client for _, sql in client]
    assert len(set(stmts)) == len(stmts) == 800
    for client in per_client:
        names = [t for t, _ in client]
        assert {names.count(t) for t, _, _ in gen.TEMPLATES} == {100}


def test_corpus_split_follows_the_seed():
    ids = list(range(500))
    corpus, held = gen.corpus_split(3, ids)
    assert (corpus, held) == gen.corpus_split(3, ids)
    assert held != gen.corpus_split(4, ids)[1]
    assert sorted(corpus + held) == ids
    assert len(held) == 100


def test_ingest_batches_follow_the_seed():
    held = [f"held {i}" for i in range(100)]
    corpus = [f"corpus {i}" for i in range(400)]
    a = gen.ingest_batch(3, 0, 100, held, corpus)
    assert a == gen.ingest_batch(3, 0, 100, held, corpus)
    assert a != gen.ingest_batch(4, 0, 100, held, corpus)
    assert a != gen.ingest_batch(3, 1, 100, held, corpus)
    rows, planted = a
    assert [r["doc_id"] for r in rows] == list(range(100, 100 + len(rows)))
    assert 8 <= len(planted) <= 20
    assert all(r["text"] in corpus for r in rows if r["doc_id"] in planted)
    fresh = [r["text"] for r in rows if r["doc_id"] not in planted]
    assert sorted(fresh) == sorted(held[:gen.FRESH_DOCS])


def test_statements_select_rows_of_the_tables():
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    for template, sql in gen.statements(9, 1, 8)[0]:
        n = con.sql(check.duckdb_sql(sql, gen.DATA_DIR)).arrow().num_rows
        assert n > 0, template


# ------------------------------------------------------------ statistics

def test_percentile_refuses_a_thin_tail():
    with pytest.raises(ValueError):
        stats.percentile(list(range(91)), 0.9)  # rank 81: 9 samples above
    assert stats.percentile(list(range(92)), 0.9) == pytest.approx(81.9)
    with pytest.raises(ValueError):
        stats.percentile(list(range(19)), 0.5)
    assert stats.percentile(list(range(20)), 0.5) == pytest.approx(9.5)


def test_percentile_interpolates_between_ranks():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 0.5, min_tail=1) == 3.0
    assert stats.percentile(xs, 0.25, min_tail=1) == 2.0
    assert stats.percentile([1.0, 2.0], 0.5, min_tail=1) == 1.5
    with pytest.raises(ValueError):
        stats.percentile(xs, 1.0, min_tail=0)


def test_balanced_median_ignores_the_template_mix():
    sql_serve = pytest.importorskip("sql_serve")
    fast = [("q6", 0.7 + i / 1000) for i in range(8)]
    slow = [("q3", 1.4 + i / 1000) for i in range(8)]
    even = sql_serve.balanced_median(fast + slow)
    assert even == pytest.approx((0.7035 + 1.4035) / 2)
    # one query more of the fast template moves the plain median from
    # between the clusters into the fast one, and this one barely
    shifted = sql_serve.balanced_median(fast + [("q6", 0.708)] + slow)
    assert shifted == pytest.approx(even, abs=0.001)


# ------------------------------------------------------------ spans

def _span(sid, start, end, parent=None):
    return spans.Span(sid, f"s{sid}", "x", "t", parent, start, end)


def test_self_time_subtracts_children_once():
    tree = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 3.0, 0),
        _span(2, 2.0, 5.0, 0),  # overlaps span 1: union [1, 5]
        _span(3, 8.0, 12.0, 0),  # clipped to the parent: [8, 10]
        _span(4, 2.5, 3.0, 2),
    ]
    st = spans.self_times(tree)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0 - 0.5)
    assert st[3] == pytest.approx(4.0)
    assert st[4] == pytest.approx(0.5)
    # concurrent siblings each keep their own self time: span 1 runs
    # beside span 2 and its child over [2, 3], so the total exceeds
    # the tree's 12 s of wall by that one second
    assert sum(st.values()) == pytest.approx(12.0 + 1.0)


def test_tracer_nests_per_thread_and_checks_order():
    tr = spans.Tracer()
    outer = tr.begin("outer", "a", trace="q1")
    inner = tr.begin("inner", "b")
    tr.end(inner)
    tr.end(outer)
    assert inner.parent == outer.sid and inner.trace == "q1"
    assert outer.parent is None
    a = tr.begin("a", "x")
    tr.begin("b", "x")
    with pytest.raises(RuntimeError):
        tr.end(a)


def test_wrap_module_functions_rebinds_aliases():
    pkg = types.ModuleType("fakepkg")
    ops = types.ModuleType("fakepkg.ops")
    user = types.ModuleType("fakepkg.user")

    def solve(x):
        return x + 1

    ops.solve = solve
    user.solve = solve  # `from fakepkg.ops import solve`
    sys.modules.update({"fakepkg": pkg, "fakepkg.ops": ops, "fakepkg.user": user})
    try:
        tr = spans.Tracer()
        n = spans.wrap_module_functions(tr, ops, "cluster", ["solve"], "fakepkg")
        assert n == 2
        assert user.solve(1) == 2 and ops.solve(2) == 3
        assert [s.name for s in tr.spans] == ["solve", "solve"]
        assert tr.overhead_s > 0
    finally:
        for m in ("fakepkg", "fakepkg.ops", "fakepkg.user"):
            sys.modules.pop(m)


# ------------------------------------------------------------ checks

def test_rows_match_tolerates_float_noise_not_wrong_values():
    a = [(1, 0.1 + 0.2), (2, 5.0)]
    b = [(2, 5.0), (1, 0.3)]
    assert check.rows_match(a, b, ordered=False) is None
    assert check.rows_match(a, b, ordered=True) is not None
    assert check.rows_match(a, [(1, 0.3), (2, 5.1)], ordered=False) is not None
    assert check.rows_match(a, a[:1], ordered=False) is not None


def test_digest_ignores_row_and_column_order():
    t1 = pa.table({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    t2 = pa.table({"b": ["z", "x", "y"], "a": [3, 1, 2]})
    t3 = pa.table({"a": [1, 2, 4], "b": ["x", "y", "z"]})
    assert check.digest(t1) == check.digest(t2)
    assert check.digest(t1) != check.digest(t3)


def test_duckdb_sql_reads_the_same_files():
    sql = gen.statements(1, 1, 4)[0][3][1]  # the three-table join
    out = check.duckdb_sql(sql, "/data")
    assert "read_files" not in out
    assert out.count("read_parquet('/data/") == 3
