"""Regenerate ``digests.json``: the expected result digest of every
stream job, taken from the job's DuckDB oracle twin over the lake files
in ``perfbench/lake``.

    python3 perfbench/make_digests.py

Run from the repository root; the DuckDB twins come from
``queries.all_oracles()``.
"""

from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import duckdb  # noqa: E402

from core import digest  # noqa: E402
from workloads import STREAM_JOBS  # noqa: E402


def main() -> None:
    from currency_etl_pipeline_spark.queries import all_oracles

    oracles = all_oracles()
    con = duckdb.connect()
    for name in sorted(f[: -len(".parquet")] for f in os.listdir(os.path.join(HERE, "lake"))):
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{os.path.join(HERE, 'lake', name)}.parquet'")
    out = {}
    for job in STREAM_JOBS:
        t0 = time.perf_counter()
        rel = con.execute(oracles[job])
        cols = [d[0] for d in rel.description]
        rows = rel.fetchall()
        out[job] = {
            "digest": digest(cols, rows),
            "rows": len(rows),
            "source": "duckdb oracle twin (queries.all_oracles) over perfbench/lake",
        }
        print(f"{job}: {len(rows)} rows in {time.perf_counter() - t0:.1f} s")
    with open(os.path.join(HERE, "digests.json"), "w") as f:
        json.dump({"lake": "TESTDATA sf0.1 (seed 42)", "digests": out}, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
