"""Seeded input generator for the repo benchmark.

Runs as its own process, apart from the engine under test. Three modes:

``tables``  writes one input set per index in the ten-table test-data
            schema (region nation customer supplier part orders lineitem
            events documents embeddings), one parquet file each, plus
            ``props.json`` with the measured share of every traffic
            property the engine's behaviour depends on.

``stream``  writes one ``log_stream`` input: scheduled events, their
            rendered log lines with each line's due time, and the shares.

``replay``  the ``log_stream`` load, single-threaded: appends the rendered
            lines to a parquet source directory on a wall-clock schedule
            (open loop; a slow engine never slows the schedule). Each line
            carries its scheduled creation time as ``collected_at``; the
            replayer records how late each write ran.

Every value comes from ``--seed`` and the set index, so the same arguments
always give the same bytes. The traffic properties themselves (pid skew,
multi-line share, secret share, out-of-order share, exact and near
duplicate shares) are drawn from the seed, so different seeds exercise
different mixes, within ranges centred on the shares ``reference.py``
measured on the reference test-data set (``design.json``, ``reference``).

    python3 benchmark/gen.py tables --seed 7 --out DIR --sets 0:6 --scale 0.01
    python3 benchmark/gen.py stream --seed 7 --out DIR --rate 400 --seconds 20
    python3 benchmark/gen.py replay --lines DIR/lines.parquet --out SRC \
        --start EPOCH_S --report REPORT.json
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "signup", "error", "view", "purchase")
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch spark"
    " line sort window data column join small customer query order filter"
    " stream big group vector"
).split()
LANGS = ("en", "fr", "zh", "de", "es")
LANG_P = (0.44, 0.13, 0.15, 0.14, 0.14)
N_SOURCES = 20
PART_ADJ = ("blue", "hot", "small", "old", "red", "new", "cold")
PART_NOUN = ("bolt", "gear", "anvil", "widget", "rod", "plate", "ring")
PART_TYPES = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
SEGMENTS = ("MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "FURNITURE", "BUILDING")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
EPOCH_2024_US = 1_704_067_200_000_000
# warm-up inputs: first-call costs with little data
WARMUP_SCALE = 0.001
# the replayer writes one file per tick: a log shipper's flush interval
TICK_S = 1.0
REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def reference() -> dict:
    """The traffic shares measured on the reference test-data set
    (``reference.py``), as recorded in ``design.json``."""
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "design.json")) as f:
        return json.load(f)["reference"]["shares"]


def traffic_profile(seed: int) -> dict:
    """The per-seed mix of the properties behaviour depends on, each drawn
    from a range centred on the reference share."""
    ref = reference()
    rng = np.random.default_rng([seed, 0xBE7C])

    def around(centre: float, spread: float) -> float:
        return round(float(rng.uniform(centre * (1 - spread), centre * (1 + spread))), 4)

    return {
        # exponent s of user (hence pid) popularity rank ** -s: stitch state skew
        "pid_skew": around(ref["user_zipf_exponent"], 1.0),
        # share of 'view' events: the ones that carry an unprefixed
        # continuation line (multi-line groups, stitch state)
        "view_share": around(ref["view_share"], 0.25),
        # share of 'error' + 'purchase' events: STATEMENT/DETAIL lines that
        # carry tokens and bind parameters (redaction)
        "secret_event_share": around(ref["secret_event_share"], 0.25),
        # share of stream lines delivered late, always inside the 3 s
        # readiness window (log_stream.READINESS_MS); the reference set is
        # in event order and carries no arrival order, so this range is
        # stated, not measured (design.json)
        "out_of_order_share": round(float(rng.uniform(0.02, 0.15)), 4),
        # documents that copy another document exactly / with one word
        # changed; the reference has no near copies, so near copies take the
        # exact-copy range (design.json)
        "exact_dup_share": around(ref["exact_dup_share"], 1.0),
        "near_dup_share": around(ref["exact_dup_share"], 1.0),
        "users_per_event": ref["users_per_event"],
    }


def lines_per_event(profile: dict) -> float:
    """Expected rendered log lines per event: the primary line, a STATEMENT
    or DETAIL line per secret-bearing event, a continuation line for a fifth
    of the view events, and about 0.03 rule-specific detail lines."""
    return 1.03 + profile["secret_event_share"] + 0.2 * profile["view_share"]


def _table(cols: dict) -> pa.Table:
    return pa.table(cols)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days_us(rng, start_day: str, n_days: int, n: int) -> np.ndarray:
    base = np.datetime64(start_day, "D").astype("datetime64[us]").astype(np.int64)
    return base + rng.integers(0, n_days, n) * 86_400_000_000


def make_tables(seed: int, index: int, scale: float, profile: dict) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, index])
    n_cust = max(50, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(50, int(200_000 * scale))
    n_ord = max(200, int(1_500_000 * scale))
    # about 1.45 log lines per event on average; the event count follows the
    # seed's mix so that every input carries about the same number of lines
    n_ev = max(500, int(1_450_000 * scale / lines_per_event(profile)))
    n_doc = max(100, int(50_000 * scale))
    n_vec = max(100, int(50_000 * scale))
    out: dict[str, pa.Table] = {}

    out["region"] = _table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": list(REGIONS)}
    )
    out["nation"] = _table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = _table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = _table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    adj = np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), n_part)]
    noun = np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), n_part)]
    out["part"] = _table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": np.char.add(np.char.add(adj, " "), noun),
            "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
            "p_type": np.array(PART_TYPES)[rng.integers(0, len(PART_TYPES), n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    o_date = _days_us(rng, "1995-01-01", 2404, n_ord)
    out["orders"] = _table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(("F", "O", "P"))[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": pa.array(o_date.astype("datetime64[us]"), pa.timestamp("us")),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    n_li = n_ord * 4
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = _table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(("F", "O"))[rng.integers(0, 2, n_li)],
            "l_shipdate": pa.array(
                _days_us(rng, "1995-01-02", 2498, n_li).astype("datetime64[us]"),
                pa.timestamp("us"),
            ),
        }
    )
    # events: ts spread over 30 days, monotone in event_id like the
    # reference capture; user popularity follows the seed's pid skew
    ts = EPOCH_2024_US + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    out["events"] = make_events(rng, np.arange(n_ev), ts, profile)
    out["documents"] = make_documents(rng, n_doc, profile)
    emb = rng.normal(0.0, 0.15, (n_vec, 64)).astype(np.float32)
    out["embeddings"] = _table(
        {
            "vec_id": pa.array(np.arange(n_vec), pa.int64()),
            "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
        }
    )
    return out


def make_events(rng, event_ids: np.ndarray, ts_us: np.ndarray, profile: dict) -> pa.Table:
    n = len(event_ids)
    # the user_id domain grows with the event count, as in the reference;
    # the log fixture maps it to pid = 1000 + user_id % 200
    n_users = max(20, int(round(n * profile["users_per_event"])))
    ranks = np.arange(1, n_users + 1, dtype=np.float64)
    weights = ranks ** -profile["pid_skew"]
    users = rng.permutation(n_users)[rng.choice(n_users, n, p=weights / weights.sum())]
    view = profile["view_share"]
    secret = profile["secret_event_share"]
    rest = (1.0 - view - secret) / 2.0
    p = (rest, rest, secret / 2.0, view, secret / 2.0)  # EVENT_TYPES order
    etype = np.array(EVENT_TYPES)[rng.choice(5, n, p=p)]
    return _table(
        {
            "event_id": pa.array(event_ids, pa.int64()),
            "ts": pa.array(ts_us.astype("datetime64[us]"), pa.timestamp("us")),
            "user_id": pa.array(users, pa.int64()),
            "event_type": etype,
            "value": np.round(rng.exponential(45.0, n) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
        }
    )


def make_documents(rng, n: int, profile: dict) -> pa.Table:
    words = np.array(WORDS)
    lens = rng.integers(20, 90, n)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    n_exact = int(round(n * profile["exact_dup_share"]))
    n_near = int(round(n * profile["near_dup_share"]))
    picks = rng.permutation(n)
    # copies come from the originals in the first half, so a copy is never
    # itself the original of another copy
    origin_pool = picks[: n // 2]
    for j, i in enumerate(picks[n // 2 : n // 2 + n_exact]):
        texts[i] = texts[origin_pool[j % len(origin_pool)]]
    for j, i in enumerate(picks[n // 2 + n_exact : n // 2 + n_exact + n_near]):
        toks = texts[origin_pool[-1 - j % len(origin_pool)]].split(" ")
        toks[int(rng.integers(0, len(toks)))] = "dup"
        texts[i] = " ".join(toks)
    return _table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": np.char.add("src", rng.integers(0, N_SOURCES, n).astype(str)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def measured_shares(tabs: dict[str, pa.Table]) -> dict:
    """Shares of each traffic property as actually written."""
    ev = tabs["events"]
    et = np.asarray(ev["event_type"].to_numpy(zero_copy_only=False))
    users = ev["user_id"].to_numpy()
    pids = 1000 + users % 200
    _, counts = np.unique(pids, return_counts=True)
    texts = tabs["documents"]["text"].to_pylist()
    n_doc = len(texts)
    return {
        "events": int(len(et)),
        "documents": n_doc,
        "lineitem": tabs["lineitem"].num_rows,
        "top_pid_share": round(float(counts.max() / counts.sum()), 4),
        "multiline_event_share": round(
            float(np.mean((et == "view") & (users % 5 == 0))), 4
        ),
        "secret_event_share": round(float(np.mean((et == "error") | (et == "purchase"))), 4),
        "exact_dup_share": round(1.0 - len(set(texts)) / n_doc, 4),
        "near_dup_share": round(float(np.mean([" dup" in t or t.startswith("dup") for t in texts])), 4),
    }


def log_line_shares(events: pa.Table) -> dict:
    """Render the log fixture over ``events`` with its own DuckDB SQL and
    measure the line-level shares the log pipeline depends on."""
    import duckdb

    sys.path.insert(0, REPO_ROOT)
    from collector_spark.fixtures.defs import oracle_query

    sql = oracle_query(
        """SELECT count(*),
             count(*) FILTER (WHERE raw_line NOT LIKE '____-__-__ %'),
             count(*) FILTER (WHERE raw_line LIKE '%STATEMENT:%'
                              OR raw_line LIKE '%DETAIL:  parameters%')
           FROM log_raw""",
        ["log_raw"],
    )
    con = duckdb.connect()
    try:
        con.register("events", events)
        n, cont, secret = con.execute(sql).fetchone()
    finally:
        con.close()
    return {
        "log_lines": int(n),
        "continuation_line_share": round(cont / n, 4),
        "secret_line_share": round(secret / n, 4),
    }


def write_set(out_dir: str, tabs: dict[str, pa.Table]) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tab in tabs.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))


def cmd_tables(args) -> int:
    lo, hi = (int(x) for x in args.sets.split(":"))
    profile = traffic_profile(args.seed)
    record = {"seed": args.seed, "scale": args.scale, "profile": profile, "sets": []}
    for i in range(lo, hi):
        t0 = time.perf_counter()
        scale = WARMUP_SCALE if i < args.warmup_sets else args.scale
        tabs = make_tables(args.seed, i, scale, profile)
        d = os.path.join(args.out, f"set{i:03d}")
        write_set(d, tabs)
        record["sets"].append(
            {
                "index": i,
                "input_id": f"s{args.seed}-i{i}",
                "dir": d,
                "gen_s": time.perf_counter() - t0,
                "shares": {**measured_shares(tabs), **log_line_shares(tabs["events"])},
            }
        )
    with open(os.path.join(args.out, "props.json"), "w") as f:
        json.dump(record, f, indent=1)
    return 0


def cmd_stream(args) -> int:
    """One ``log_stream`` input: events on a Poisson schedule at about
    ``--rate`` log lines per second for ``--seconds`` seconds, rendered to
    lines by the log fixture's own DuckDB SQL, plus one far-future flush
    line per pid (the same closing sentinel ``log_stream`` uses) due right
    after the last line."""
    import duckdb

    sys.path.insert(0, REPO_ROOT)
    from collector_spark.fixtures.defs import oracle_query
    from collector_spark.streaming.log_stream import SENTINEL_SEQ_OFFSET

    profile = traffic_profile(args.seed)
    rng = np.random.default_rng([args.seed, 0x57EA])
    ev_rate = args.rate / lines_per_event(profile)
    n_ev = int(ev_rate * args.seconds)
    offsets = np.cumsum(rng.exponential(1e6 / ev_rate, n_ev)).astype(np.int64)
    events = make_events(rng, np.arange(n_ev), EPOCH_2024_US + offsets, profile)
    os.makedirs(args.out, exist_ok=True)
    pq.write_table(events, os.path.join(args.out, "events.parquet"))

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.register("events", events)
    lines = con.execute(
        oracle_query(
            "SELECT collected_at, pid, seq, raw_line FROM log_raw ORDER BY collected_at, pid, seq",
            ["log_raw"],
        )
    ).arrow()
    con.close()
    ct = lines["collected_at"].cast(pa.int64()).to_numpy()
    late = rng.random(len(ct)) < profile["out_of_order_share"]
    delay_us = np.where(late, rng.integers(200_000, 1_500_000, len(ct)), 0)
    due = ct - EPOCH_2024_US + delay_us

    pids = lines["pid"].to_numpy()
    seqs = lines["seq"].to_numpy()
    upids = np.unique(pids)
    flush_at = int(ct.max()) + 600_000_000  # +10 min, like log_stream's sentinel
    flush_ts = pa.array(np.full(len(upids), flush_at), pa.int64()).cast(pa.timestamp("us"))
    stamp = np.datetime_as_string(np.datetime64(flush_at, "us"), unit="s").replace("T", " ")
    sentinels = pa.table(
        {
            "collected_at": flush_ts,
            "pid": pa.array(upids, pa.int32()),
            "seq": pa.array(
                [int(seqs[pids == p].max()) + SENTINEL_SEQ_OFFSET for p in upids], pa.int64()
            ),
            "raw_line": [f"{stamp} UTC [{p}] [user=s,db=s,app=s] LOG:  sentinel flush" for p in upids],
            "due_us": pa.array(np.full(len(upids), int(due.max()) + 200_000), pa.int64()),
        }
    )
    body = lines.append_column("due_us", pa.array(due, pa.int64()))
    out = pa.concat_tables([body.cast(sentinels.schema), sentinels])
    utc = pa.timestamp("us", tz="UTC")
    out = out.set_column(0, "collected_at", out["collected_at"].cast(utc))
    out = out.sort_by([("due_us", "ascending")])  # stable: ties keep line order
    pq.write_table(out, os.path.join(args.out, "lines.parquet"))

    _, counts = np.unique(pids, return_counts=True)
    span_s = float((ct.max() - ct.min()) / 1e6)
    record = {
        "seed": args.seed,
        "profile": profile,
        "events": n_ev,
        "span_s": span_s,
        "offered_lines_per_s": len(ct) / span_s,
        "shares": {
            **log_line_shares(events),
            "top_pid_share": round(float(counts.max() / counts.sum()), 4),
            "out_of_order_share": round(float(late.mean()), 4),
        },
    }
    with open(os.path.join(args.out, "props.json"), "w") as f:
        json.dump(record, f, indent=1)
    return 0


def cmd_replay(args) -> int:
    """Open-loop replay of a ``stream`` input: file k is written at wall
    clock ``--start + k * TICK_S`` and holds the lines due in the tick
    before it, renamed into place so the engine never reads a partial file.
    Only lines due in ``[--from-s, --until-s)`` are replayed. A late line
    (a non-zero delay inside ``due_us``) keeps its scheduled
    ``collected_at``. The report records how late each file was written
    against its scheduled time."""
    tab = pq.read_table(args.lines)
    due = tab["due_us"].to_numpy()
    keep = (due >= args.from_s * 1e6) & (due < args.until_s * 1e6)
    tab = tab.filter(pa.array(keep))
    due = tab["due_us"].to_numpy()
    payload = tab.drop(["due_us"])
    os.makedirs(args.out, exist_ok=True)
    lags_ms: list[float] = []
    pos, n = 0, len(due)
    k = max(0, int(np.ceil((time.time() - args.start) / TICK_S)))
    while pos < n:
        at = args.start + k * TICK_S
        time.sleep(max(0.0, at - time.time()))
        end = int(np.searchsorted(due, k * TICK_S * 1e6, side="right"))
        if end > pos:
            name = f"part-{args.prefix}{k:06d}.parquet"
            tmp = os.path.join(args.out, "." + name)
            pq.write_table(payload.slice(pos, end - pos), tmp)
            os.rename(tmp, os.path.join(args.out, name))
            lags_ms.append((time.time() - at) * 1000.0)
            pos = end
        k += 1
    with open(args.report, "w") as f:
        json.dump({"lines_offered": n, "files": len(lags_ms), "lag_ms": lags_ms}, f)
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="mode", required=True)
    t = sub.add_parser("tables")
    t.add_argument("--seed", type=int, required=True)
    t.add_argument("--out", required=True)
    t.add_argument("--sets", required=True, help="half-open index range lo:hi")
    t.add_argument("--scale", type=float, default=0.01)
    t.add_argument("--warmup-sets", type=int, default=0, help="sets 0..n-1 are warm-up inputs")
    s = sub.add_parser("stream")
    s.add_argument("--seed", type=int, required=True)
    s.add_argument("--out", required=True)
    s.add_argument("--rate", type=float, required=True, help="log lines per second")
    s.add_argument("--seconds", type=float, required=True)
    r = sub.add_parser("replay")
    r.add_argument("--lines", required=True)
    r.add_argument("--out", required=True)
    r.add_argument("--start", type=float, required=True, help="wall-clock epoch seconds")
    r.add_argument("--from-s", type=float, default=0.0, help="replay lines due from here on")
    r.add_argument("--until-s", type=float, default=float("inf"))
    r.add_argument("--prefix", default="", help="file name prefix")
    r.add_argument("--report", required=True)
    args = ap.parse_args(argv)
    return {"tables": cmd_tables, "stream": cmd_stream, "replay": cmd_replay}[args.mode](args)


if __name__ == "__main__":
    sys.exit(main())
