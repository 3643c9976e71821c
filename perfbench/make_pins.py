"""Regenerate pins.json: the expected (rows, digest) of each pipeline
of `pipeline_ingest` on the fixed tables in data/.

    python3 perfbench/make_pins.py

Each pin comes from the pipeline's DuckDB oracle (the program's
ORACLES registry) run over those parquet files; the script also runs
the pipeline in Spark and refuses to write a pin the program does not
reproduce exactly. Run it only when the tables or the pipelines change.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import duckdb

    import batch
    import check
    import gen
    from harness import Harness

    h = Harness(os.path.join(ROOT, ".perfbench", f"pins-{os.getpid()}"))
    try:
        data = gen.DATA_DIR
        from chapterhousedb_spark.workload import ORACLES, QUERIES

        spark = h.build_session()
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
        pins, bad = {}, []
        for name in batch.PIPELINES:
            want = con.sql(ORACLES[name]).arrow()
            if hasattr(want, "read_all"):
                want = want.read_all()
            got = QUERIES[name](spark, data).toArrow()
            diff = check.rows_match(check.rows_of(got), check.rows_of(want), False)
            if diff is not None or want.num_rows == 0:
                bad.append(f"{name}: {diff or 'oracle returns no rows'}")
                continue
            pins[name] = {"rows": want.num_rows, "digest": check.digest(want)}
            if check.digest(got) != pins[name]["digest"]:
                bad.append(f"{name}: digest differs from the oracle's")
            print(name, pins[name], flush=True)
        con.close()
    finally:
        h.close()
        try:
            os.rmdir(os.path.dirname(h.tmp))
        except OSError:  # a benchmark run's temp root is still there
            pass
    if bad:
        print("\n".join(bad), file=sys.stderr)
        return 1
    doc = {
        "how": (
            "DuckDB oracle (chapterhousedb_spark.workload.ORACLES) over "
            "data/documents.parquet and data/embeddings.parquet (the sf0.01 "
            "test tables: 500 documents, 500 x 64 embeddings); digest = "
            "check.digest (columns by name, rows sorted, floats at 9 "
            "significant digits); the Spark output matched the oracle row "
            "for row when pinned"
        ),
        "made": dt.date.today().isoformat(),
        "duckdb": duckdb.__version__,
        "pins": pins,
    }
    with open(os.path.join(HERE, "pins.json"), "w") as fh:
        json.dump(doc, fh, indent=2)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
