"""Turn one run's timings, spans and counters into the benchmark's metrics.

End-to-end metrics (tracing off) are medians over the run's samples, and
``latency_tail_s`` is the highest percentile that has at least ten samples
beyond it, or the slowest sample where there are too few for any (a
``log_batch`` run times one to three cycles). The run record keeps each
timing's sample count and which percentile the tail is. Per-layer metrics
(tracing on) are medians over the timed cycles of span durations and
counters; a rider's metrics come from its one pass.
"""

from __future__ import annotations

import datetime as dt
import statistics

import numpy as np

from workloads import TAIL_GUARD_S, WARMUP_S, LogStream, stream_latencies


def _tail(values) -> dict:
    n = len(values)
    q = 100.0  # the slowest sample, when no percentile has ten beyond it
    for cand in (99.9, 99.0, 90.0):
        if n * (1 - cand / 100.0) >= 10:
            q = cand
            break
    return {
        "n": n,
        "median": float(np.median(values)) if n else None,
        "tail_q": q,
        "tail": float(np.percentile(values, q)) if n else None,
    }


def _med(values) -> float:
    return float(statistics.median(values)) if values else 0.0


# -- end to end -------------------------------------------------------------


def end_to_end_closed(result: dict) -> tuple[dict, dict]:
    good = [c for c in result["cycles"] if "error" not in c]
    walls = [c["prepare_s"] + c["cycle_s"] for c in good]
    items = [c["items"] for c in good]
    metrics = {
        "latency_p50_s": _med(walls),
        "latency_tail_s": _tail(walls)["tail"] or 0.0,
        "items_per_s": sum(items) / sum(walls) if walls else 0.0,
    }
    detail = {
        "cycle_wall_s": _tail(walls),
        "prepare_s": _tail([c["prepare_s"] for c in good]),
        "cycle_s": _tail([c["cycle_s"] for c in good]),
    }
    return metrics, detail


def end_to_end_stream(result: dict, seconds: float) -> tuple[dict, dict]:
    lat, lines = stream_latencies(result, seconds)
    window = max(1e-9, seconds - TAIL_GUARD_S)
    metrics = {
        "latency_p50_s": float(np.median(lat)) if len(lat) else 0.0,
        "latency_tail_s": _tail(lat)["tail"] or 0.0,
        "items_per_s": lines / window,
    }
    return metrics, {"group_latency_s": _tail(lat), "window_s": window, "lines": lines}


# -- per layer --------------------------------------------------------------


def _cycle_tables(spans, cycle_ids) -> list[dict]:
    """Per timed cycle: span name -> summed seconds and counters, counting a
    span only where no ancestor has the same name (no double counting)."""
    tables = []
    by_id = {s["id"]: s for s in spans}
    for cid in cycle_ids:
        tab: dict[str, dict] = {}
        for s in spans:
            if s["cycle"] != cid:
                continue
            p, nested = s["parent"], False
            while p is not None:
                if by_id[p]["name"] == s["name"]:
                    nested = True
                    break
                p = by_id[p]["parent"]
            if nested:
                continue
            row = tab.setdefault(s["name"], {"seconds": 0.0})
            row["seconds"] += s["end"] - s["start"]
            for k, v in s.get("counts", {}).items():
                row[k] = row.get(k, 0) + v
        tables.append(tab)
    return tables


def _span_metric(tab: dict, metric: str, workload_spans: tuple[str, ...]):
    """Value of one per-layer metric in one cycle's span table, or None if
    the metric is not a span-derived one."""
    def get(span, key):
        return tab.get(span, {}).get(key, 0)

    if metric.startswith("workload."):
        key = metric.split(".", 1)[1]
        src = {"task_busy_s": "task_busy_ms", "spill_bytes": None}.get(key, key)
        total = 0.0
        for sp in workload_spans:
            if key == "spill_bytes":
                total += get(sp, "memory_spill_bytes") + get(sp, "disk_spill_bytes")
            else:
                total += get(sp, src)
        return total / 1000.0 if key == "task_busy_s" else total
    if metric == "core.dims.eager_jobs":
        return get("core.dims", "jobs")
    layer, _, leaf = metric.rpartition(".")
    if leaf.endswith("_s"):
        return get(f"{layer}.{leaf[:-2]}", "seconds")
    if leaf.endswith("_jobs"):
        return get(f"{layer}.{leaf[:-5]}", "jobs")
    if leaf == "py4j_calls":
        return get(f"{layer}.build", "py4j_calls")
    if leaf in ("tasks", "shuffle_write_bytes"):
        return get(f"{layer}.exec", leaf)
    return None


def _progress_time(p: dict) -> float:
    return dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


def stream_layers(result: dict, seconds: float) -> dict:
    t0 = result["start"] + WARMUP_S
    prog = [p for p in result["progress"] if t0 <= _progress_time(p) < t0 + seconds]
    dur = [p["durationMs"].get("triggerExecution", 0) for p in prog]
    starts = [_progress_time(p) * 1000 for p in prog]
    waits = [b - a - d for a, b, d in zip(starts, starts[1:], dur)]
    ops = [p["stateOperators"][0] for p in prog if p.get("stateOperators")]
    lags = result["replay"]["lag_ms"]
    return {
        "streaming.log_stream.batches": len(prog),
        "streaming.log_stream.batch_p50_ms": _med(dur),
        "streaming.log_stream.batch_tail_ms": max(dur) if dur else 0.0,
        "streaming.log_stream.add_batch_ms_p50": _med([p["durationMs"].get("addBatch", 0) for p in prog]),
        "streaming.log_stream.query_planning_ms_p50": _med(
            [p["durationMs"].get("queryPlanning", 0) for p in prog]
        ),
        "streaming.log_stream.wal_commit_ms_p50": _med([p["durationMs"].get("walCommit", 0) for p in prog]),
        "streaming.log_stream.trigger_wait_ms_p50": _med(waits),
        "streaming.log_stream.state_rows": ops[-1]["numRowsTotal"] if ops else 0,
        "streaming.log_stream.state_memory_bytes": max((o["memoryUsedBytes"] for o in ops), default=0),
        "streaming.log_stream.state_commit_ms_p50": _med([o["commitTimeMs"] for o in ops]),
        "streaming.log_stream.rows_dropped_by_watermark": sum(
            o.get("numRowsDroppedByWatermark", 0)
            for p in result["progress"]
            for o in p.get("stateOperators", [])
        ),
        "bench.generator.lag_p99_ms": float(np.percentile(lags, 99)) if lags else 0.0,
        "bench.generator.lines_offered": result["replay"]["lines_offered"],
        "bench.sink.emit_ms_p50": _med([e[3] * 1000 for e in result["emitted"]]),
    }


def rider_layers(spec, loop, row: dict, tracer) -> dict:
    """Per-layer metrics of a rider's one pass: every metric of
    ``spec["per_layer"]`` whose layer is one of ``loop.layers``. The
    rider's own ``<name>.prepare_s``, ``.cycle_s`` and ``.tasks`` come from
    its pass, ``<name>.eager_jobs`` from the ``core.dims`` spans in it."""
    tab = _cycle_tables(tracer.records(), [row["input_id"]])[0]
    own = {f"{loop.name}.{k}": row.get(k, 0.0) for k in ("prepare_s", "cycle_s", "tasks")}
    own[f"{loop.name}.eager_jobs"] = tab.get("core.dims", {}).get("jobs", 0)
    counters = {}
    for c, n, v in tracer.counters:
        if c == row["input_id"]:
            counters[n] = counters.get(n, 0) + v
    out = {}
    for m in spec["per_layer"]:
        name = m["name"]
        if name.rpartition(".")[0] not in loop.layers:
            continue
        if name in own:
            out[name] = own[name]
        elif name in counters:
            out[name] = counters[name]
        else:
            v = _span_metric(tab, name, ())
            out[name] = 0.0 if v is None else v
    return out


# -- the run ----------------------------------------------------------------


def summarize(spec, wl, ctx, gen, result, gate, *, setup_s, gen_s, peak_rss) -> dict:
    stream = isinstance(wl, LogStream)
    if stream:
        e2e, detail = end_to_end_stream(result, ctx.seconds)
        attempted = int(ctx.record["expected_lines"])
        failed = gate["lines_never_emitted"] + gate["duplicated_groups"]
        failed += gate["fact"].get("mismatched_rows", 0)
        if result["error"]:
            failed = max(failed, 1)
        cycles = [{"input_id": gen["input_id"], "seed": ctx.seed}]
    else:
        e2e, detail = end_to_end_closed(result)
        attempted = len(result["cycles"])
        failed = sum("error" in c for c in result["cycles"]) + gate["mismatches"]
        cycles = [{k: v for k, v in c.items() if k != "out_dir"} for c in result["cycles"]]
    e2e["setup_s"] = setup_s
    rider = result.get("rider")
    if rider is not None:
        attempted += 1
        failed += max(int("error" in rider), rider["gate"]["mismatches"])
    correct = failed == 0 and gate["checked"] > 0 and (rider is None or rider["gate"]["checked"] > 0)

    layers: dict[str, float] = {"bench.warmup_s": result.get("warmup_s", 0.0)}
    if rider is not None:
        layers.update(rider_layers(spec, wl.rider, rider, ctx.tracer))
    cycle_ids = [c["input_id"] for c in cycles]
    tables = _cycle_tables(ctx.tracer.records(), cycle_ids)
    body = (wl.layer, "registry.prepare") if not stream else (
        "streaming.log_stream.start", "streaming.log_stream.run")
    for m in spec["per_layer"]:
        vals = [_span_metric(t, m["name"], body) for t in tables]
        if m["name"] not in layers and vals and vals[0] is not None:
            layers[m["name"]] = _med(vals)
    for name in {n for c, n, _ in ctx.tracer.counters if c in cycle_ids}:
        layers[name] = _med(
            [sum(v for c, n, v in ctx.tracer.counters if c == cid and n == name) for cid in cycle_ids]
        )
    if stream:
        layers.update(stream_layers(result, ctx.seconds))
    layers["bench.failed_share"] = failed / max(1, attempted)
    layers["bench.items_per_s"] = e2e.pop("items_per_s")
    layers["bench.peak_rss_mb"] = peak_rss

    wanted = spec["end_to_end"] if not ctx.traced else spec["per_layer"]
    source = e2e if not ctx.traced else layers
    out_metrics = {
        m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]} for m in wanted
    }
    return {
        "result": {"correct": bool(correct), "attempted": int(attempted),
                   "failed": int(failed), "metrics": out_metrics},
        "end_to_end": e2e,
        "end_to_end_detail": detail,
        "per_layer": layers,
        "self_seconds": {cid: ctx.tracer.self_seconds(cid) for cid in cycle_ids},
        "rider": rider,
        "rider_self_seconds": ctx.tracer.self_seconds(rider["input_id"]) if rider else {},
        "generator": {"gen_s": gen_s, **gen},
        "cycles": cycles,
        "gate": gate,
        "stream_progress": result.get("progress", []),
    }
