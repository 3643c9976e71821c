"""Seeded inputs of the benchmark.

The tables are fixed: `data/` holds copies of the repository's sf0.01
test tables (TESTDATA.md: customer 1.5k, orders 15k, lineitem 60k rows,
500 documents, 500 x 64 embeddings). The seed draws everything the
program is fed from them: the SQL statements of `sql_serve`, and the
split of the documents into the ingest corpus and the held-out docs
that the micro-batches of `pipeline_ingest` offer. The same seed always
gives the same inputs.
"""

from __future__ import annotations

import datetime as dt
import os
import random

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")

# value ranges of the sf0.01 tables the statement constants are drawn in
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_EPOCH = dt.datetime(1995, 1, 1)
_DAYS = 2499  # l_shipdate 1995-01-02 .. 2001-11-04
_MAX_PARTKEY = 1999

# ------------------------------------------------------------- statements

def _day(rng: random.Random, lo: int = 0, hi: int = _DAYS - 1) -> str:
    return (_EPOCH + dt.timedelta(days=rng.randint(lo, hi))).strftime("%Y-%m-%d")


def _scan(rng: random.Random) -> str:
    # ~6k of 60k lines: quantity window of 5 out of 50
    lo = rng.randint(1, 46)
    return (
        "SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, "
        "l_extendedprice, l_discount, l_returnflag, l_shipdate "
        "FROM read_files('lineitem.parquet', connection => 'bench') "
        f"WHERE l_quantity BETWEEN {lo} AND {lo + 4} "
        f"AND l_discount >= {rng.choice([0.0, 0.01, 0.02])} "
        f"AND l_partkey > {rng.randint(0, _MAX_PARTKEY // 10)} "
        "ORDER BY l_orderkey, l_linenumber"
    )


def _q1(rng: random.Random) -> str:
    return (
        "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
        "sum(l_extendedprice) AS sum_base_price, "
        "sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price, "
        "avg(l_discount) AS avg_disc, count(*) AS count_order "
        "FROM read_files('lineitem.parquet', connection => 'bench') "
        f"WHERE l_shipdate <= TIMESTAMP '{_day(rng, 1800)}' "
        f"AND l_quantity <= {rng.randint(30, 50)} "
        "GROUP BY l_returnflag, l_linestatus "
        "ORDER BY l_returnflag, l_linestatus"
    )


def _q6(rng: random.Random) -> str:
    start = _day(rng, 0, _DAYS - 400)
    d = rng.choice([0.02, 0.03, 0.04, 0.05, 0.06, 0.07])
    return (
        "SELECT sum(l_extendedprice * l_discount) AS revenue, count(*) AS n "
        "FROM read_files('lineitem.parquet', connection => 'bench') "
        f"WHERE l_shipdate >= TIMESTAMP '{start}' "
        f"AND l_shipdate < TIMESTAMP '{start}' + INTERVAL 365 DAYS "
        f"AND l_discount BETWEEN {d - 0.01:.2f} AND {d + 0.01:.2f} "
        f"AND l_quantity < {rng.randint(20, 30)}"
    )


def _q3(rng: random.Random) -> str:
    day = _day(rng, 400, _DAYS - 400)
    return (
        "SELECT l.l_orderkey, "
        "sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue, "
        "o.o_orderdate "
        "FROM read_files('customer.parquet', connection => 'bench') c "
        "JOIN read_files('orders.parquet', connection => 'bench') o "
        "ON c.c_custkey = o.o_custkey "
        "JOIN read_files('lineitem.parquet', connection => 'bench') l "
        "ON l.l_orderkey = o.o_orderkey "
        f"WHERE c.c_mktsegment = '{rng.choice(_SEGMENTS)}' "
        f"AND o.o_orderdate < TIMESTAMP '{day}' "
        f"AND l.l_shipdate > TIMESTAMP '{day}' "
        "GROUP BY l.l_orderkey, o.o_orderdate "
        "ORDER BY revenue DESC, l.l_orderkey LIMIT 20"
    )


# (template name, SQL maker, positions of the ORDER BY columns in the
# select list, or None when unordered), in the fixed rotation order.
# The scan's key (l_orderkey, l_linenumber) has ties in this lineitem,
# so only the key columns of its first page have a fixed order.
TEMPLATES = (
    ("scan", _scan, (0, 1)),
    ("q1", _q1, (0, 1)),
    ("q6", _q6, None),
    ("q3", _q3, (1, 0)),
)


def statements(seed: int, clients: int, n: int) -> list[list[tuple[str, str]]]:
    """The first `n` (template, sql) pairs of each client's closed loop.
    Client c walks the template rotation from offset c, so every window
    mixes the templates in the same proportions. Constants are drawn
    from the seed and a statement is redrawn if it was drawn before, so
    no statement repeats within or across clients."""
    rng = random.Random(f"{seed}/sql")
    seen: set[str] = set()
    out: list[list[tuple[str, str]]] = [[] for _ in range(clients)]
    for i in range(n):
        for c in range(clients):
            name, build, _ = TEMPLATES[(c + i) % len(TEMPLATES)]
            sql = build(rng)
            while sql in seen:
                sql = build(rng)
            seen.add(sql)
            out[c].append((name, sql))
    return out


def order_columns(template: str) -> tuple[int, ...] | None:
    return dict((t, o) for t, _, o in TEMPLATES)[template]


# ----------------------------------------------------------------- ingest

HELD_OUT = 0.2  # share of the documents kept out of the seeded corpus
FRESH_DOCS = 64  # held-out docs offered per micro-batch


def corpus_split(seed: int, doc_ids: list[int]) -> tuple[list[int], list[int]]:
    """(corpus ids, held-out ids): a seed-drawn HELD_OUT share of the
    documents is kept out of the corpus `init_ingest` seeds, in the
    seed-drawn order the micro-batches offer it."""
    ids = sorted(doc_ids)
    random.Random(f"{seed}/corpus").shuffle(ids)
    n = round(len(ids) * HELD_OUT)
    return sorted(ids[n:]), ids[:n]


def ingest_batch(
    seed: int, k: int, first_id: int, held_out: list[str], corpus: list[str]
) -> tuple[list[dict], set[int]]:
    """Micro-batch `k` of a seeded ingest run, with ids from
    `first_id`: the next FRESH_DOCS texts of `held_out` (from its start
    again once all were offered) and a seed-drawn 8-20 exact copies of
    `corpus` texts, shuffled together. Returns the rows and the ids of
    the planted copies, which admission must reject."""
    rng = random.Random(f"{seed}/ingest/{k}")
    fresh = [held_out[(k * FRESH_DOCS + i) % len(held_out)]
             for i in range(FRESH_DOCS)]
    planted_texts = [rng.choice(corpus) for _ in range(rng.randint(8, 20))]
    texts = [(t, False) for t in fresh] + [(t, True) for t in planted_texts]
    rng.shuffle(texts)
    rows = [{"doc_id": first_id + i, "text": t} for i, (t, _) in enumerate(texts)]
    planted = {first_id + i for i, (_, p) in enumerate(texts) if p}
    return rows, planted


def warmup_statement(seed: int) -> str:
    """The set-up query (a Q1 aggregate)."""
    return _q1(random.Random(f"{seed}/warmup"))
