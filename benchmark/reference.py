"""Measure the traffic properties of a reference test-data set.

    python3 benchmark/reference.py DIR > shares.json

``DIR`` holds the ten-table test-data parquet files (for example the sf0.1
set). The result is what ``design.json`` records under ``reference``; the
generator centres each seed's property ranges on it. Runs of the benchmark
never read ``DIR``: they read only the recorded numbers.

Run from the root of a checkout (the log fixture's DuckDB SQL renders the
log lines, so the line-level shares are those of the engine's own input).
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

import duckdb
import numpy as np


def zipf_exponent(counts: np.ndarray) -> float:
    """Least-squares slope of log(count) on log(rank), negated: the exponent
    ``s`` of the generator's ``rank ** -s`` popularity model."""
    c = np.sort(counts)[::-1].astype(np.float64)
    r = np.arange(1, len(c) + 1, dtype=np.float64)
    slope = np.polyfit(np.log(r), np.log(c), 1)[0]
    return float(-slope)


def near_dup_share(texts: list[str]) -> float:
    """Share of documents that equal another document except for exactly
    one word (same word count), exact copies excluded."""
    groups: dict[tuple, set] = defaultdict(set)
    for i, t in enumerate(texts):
        toks = t.split(" ")
        for j in range(len(toks)):
            groups[(len(toks), j, hash(tuple(toks[:j] + toks[j + 1 :])))].add(i)
    near = set()
    for ids in groups.values():
        if len(ids) > 1 and len({texts[i] for i in ids}) > 1:
            near.update(ids)
    # a document near another only through an exact copy of itself still counts
    return len(near) / len(texts)


def measure(d: str) -> dict:
    sys.path.insert(0, os.getcwd())
    from collector_spark.fixtures.defs import oracle_query

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in ("events", "documents"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
    n_ev, views, secret, multi, users, late = con.execute(
        """SELECT count(*),
                  count(*) FILTER (WHERE event_type = 'view'),
                  count(*) FILTER (WHERE event_type IN ('error', 'purchase')),
                  count(*) FILTER (WHERE event_type = 'view' AND user_id % 5 = 0),
                  count(DISTINCT user_id),
                  (SELECT count(*) FROM (SELECT ts < lag(ts) OVER (ORDER BY event_id) AS o
                                         FROM events) WHERE o)
           FROM events"""
    ).fetchone()
    user_counts = con.execute("SELECT count(*) FROM events GROUP BY user_id").fetchnumpy()
    pid_counts = con.execute(
        "SELECT count(*) FROM events GROUP BY 1000 + user_id % 200"
    ).fetchnumpy()
    n_lines, cont, secret_lines = con.execute(
        oracle_query(
            """SELECT count(*),
                 count(*) FILTER (WHERE raw_line NOT LIKE '____-__-__ %'),
                 count(*) FILTER (WHERE raw_line LIKE '%STATEMENT:%'
                                  OR raw_line LIKE '%DETAIL:  parameters%')
               FROM log_raw""",
            ["log_raw"],
        )
    ).fetchone()
    texts = [r[0] for r in con.execute("SELECT text FROM documents").fetchall()]
    con.close()
    pc = next(iter(pid_counts.values()))
    return {
        "events": int(n_ev),
        "view_share": round(views / n_ev, 4),
        "secret_event_share": round(secret / n_ev, 4),
        "multiline_event_share": round(multi / n_ev, 4),
        "users_per_event": round(users / n_ev, 5),
        "user_zipf_exponent": round(zipf_exponent(next(iter(user_counts.values()))), 4),
        "top_pid_share": round(float(pc.max() / pc.sum()), 4),
        "out_of_order_event_share": round(late / n_ev, 4),
        "log_lines": int(n_lines),
        "lines_per_event": round(n_lines / n_ev, 4),
        "continuation_line_share": round(cont / n_lines, 4),
        "secret_line_share": round(secret_lines / n_lines, 4),
        "documents": len(texts),
        "exact_dup_share": round(1.0 - len(set(texts)) / len(texts), 4),
        "near_dup_share": round(near_dup_share(texts), 4),
    }


def main(argv: list[str]) -> int:
    if len(argv) != 1 or not os.path.isdir(argv[0]):
        print(__doc__, file=sys.stderr)
        return 2
    print(json.dumps(measure(argv[0]), indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
