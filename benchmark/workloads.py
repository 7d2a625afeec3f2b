"""The benchmark's workloads.

Closed loop (one caller; the next cycle starts when the last one ends):

- ``log_batch``   the per-tick log snapshot: ``log_pipeline_full``. Each
  timed cycle first runs ``registry.prepare`` on an input set no earlier
  cycle in the process has read, then writes its output through
  ``registry.sink_queries()`` (the surface production sinks write). One
  warm-up cycle on its own small input runs first.

Open loop (fixed offered rate):

- ``log_stream``  ``log_stream.pipeline_stream`` on a processing-time
  trigger into a ``foreachBatch`` sink, fed by the replayer process.

With tracing on, ``log_batch`` runs its timed stages one by one on inputs
the benchmark materializes itself, so each stage's build and execution are
timed apart. A traced run also carries a rider: after the workload's own
timed part, one pass of another step set on a fresh input of its own,
spanned per layer and gated like a cycle. ``log_batch`` carries the
curation export (``CurationExport``), ``log_stream`` the snapshot steps
(``SnapshotCycle``). A rider's pass is the first call of its queries in
the process, so its timings include first-call costs, and the export
rider's oracle runs beside ``log_batch``'s traced cycle; its job, task,
py4j and file counts depend on neither.
"""

from __future__ import annotations

import inspect
import json
import os
import subprocess
import sys
import time
from dataclasses import dataclass, field

import numpy as np

from gate import compare, in_background, oracle_frame, read_parquet_dir
from gen import EPOCH_2024_US

GEN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "gen.py")


@dataclass
class Ctx:
    spark: object
    tracer: object
    work: str
    seed: int
    seconds: float
    traced: bool
    record: dict = field(default_factory=dict)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _wrap_public(tracer, module, fn_name: str, span_name: str) -> None:
    """Route every reference to ``module.fn_name`` held by the engine's
    loaded modules through a span (tracing only). The engine's source is
    untouched; only the names it imported are rebound in this process."""
    orig = getattr(module, fn_name)

    def wrapped(*args, **kwargs):
        with tracer.span(span_name):
            return orig(*args, **kwargs)

    for name, mod in list(sys.modules.items()):
        if name.startswith("collector_spark") and getattr(mod, fn_name, None) is orig:
            setattr(mod, fn_name, wrapped)


def instrument_dims(tracer) -> None:
    from collector_spark.core import dims

    _wrap_public(tracer, dims, "dense_index", "core.dims")
    _wrap_public(tracer, dims, "ranked_rows", "core.dims")


# ---------------------------------------------------------------------------
# closed loops
# ---------------------------------------------------------------------------


def generate_tables(ctx: Ctx, lo: int, hi: int, scale: float, warmup_sets: int = 0) -> dict:
    """Input sets ``lo``..``hi - 1`` of this seed, from the generator process."""
    gen_dir = os.path.join(ctx.work, f"inputs-{lo}")
    subprocess.run(
        [sys.executable, GEN, "tables", "--seed", str(ctx.seed), "--out", gen_dir,
         "--sets", f"{lo}:{hi}", "--scale", str(scale), "--warmup-sets", str(warmup_sets)],
        check=True,
    )
    with open(os.path.join(gen_dir, "props.json")) as f:
        return json.load(f)


class ClosedLoop:
    name = ""
    scale = 0.01
    # Warm-up: a process's first cycle pays 2-3x for first-call costs
    # (JIT, codegen, planning caches); from the second cycle on the times
    # level off, so one cycle on a small input runs before timing
    warmup_cycles = 1
    max_cycles = 3  # input sets generated for timing; the loop stops at --seconds
    layer = ""  # span name of the timed cycle body
    rider: ClosedLoop | None = None  # run once after timing, traced runs only

    def generate(self, ctx: Ctx) -> dict:
        n = self.warmup_cycles + self.max_cycles
        gen = generate_tables(ctx, 0, n, self.scale, self.warmup_cycles)
        if ctx.traced and self.rider is not None:
            gen["rider_set"] = generate_tables(ctx, n, n + 1, self.rider.scale)["sets"][0]
        return gen

    def start_oracles(self, inp: dict):
        """The registry oracles of this loop's queries on ``inp``, computed
        on a background thread."""
        from collector_spark import registry

        oracle = registry.driver_oracle_sql()
        return in_background(
            lambda: {
                name: oracle_frame(self.oracle_sql(oracle, name), inp["dir"])
                for name in self.queries
            }
        )

    def before_timing(self, ctx: Ctx, gen: dict) -> None:
        """Start the oracles for the first timed input (and the rider's);
        they run beside the warm-up, and timing waits for them."""
        ctx.record["oracle"] = self.start_oracles(gen["sets"][self.warmup_cycles])
        start_rider_oracles(self, ctx, gen)

    def prepare(self, ctx: Ctx, inp: dict) -> None:
        """``registry.prepare`` on a fresh input. It fills the eager pins
        (the rendered log corpus, the query samples) itself; lazily pinned
        relations fill on first use, inside the cycle that reads them."""
        from collector_spark import registry

        registry.prepare(ctx.spark, inp["dir"])

    def run(self, ctx: Ctx, gen: dict) -> dict:
        tr = ctx.tracer
        warm = gen["sets"][: self.warmup_cycles]
        timed = gen["sets"][self.warmup_cycles :]
        t0 = time.perf_counter()
        for inp in warm:
            tr.set_cycle(inp["input_id"])
            with tr.span("bench.warmup"):
                self.prepare(ctx, inp)
                self.cycle(ctx, inp, os.path.join(ctx.work, "out", inp["input_id"]), warmup=True)
        warmup_s = time.perf_counter() - t0
        ctx.record["expected"] = ctx.record.pop("oracle").result()
        cycles = []
        t_end = time.perf_counter() + ctx.seconds
        for inp in timed:
            tr.set_cycle(inp["input_id"])
            out_dir = os.path.join(ctx.work, "out", inp["input_id"])
            row = {"input_id": inp["input_id"], "seed": ctx.seed, "index": inp["index"]}
            try:
                with tr.span("registry.prepare") as sp:
                    self.prepare(ctx, inp)
                row["prepare_s"] = sp.seconds
                with tr.span(self.layer) as sp:
                    row["items"] = self.cycle(ctx, inp, out_dir)
                row["cycle_s"] = sp.seconds
                row["out_dir"] = out_dir
            except Exception as e:  # a failed call counts, the loop goes on
                row["error"] = repr(e)[:500]
            cycles.append(row)
            if time.perf_counter() >= t_end:
                break
        tr.set_cycle(None)
        return {"warmup_s": warmup_s, "cycles": cycles, "rider": run_rider(self, ctx, gen)}

    def gate(self, ctx: Ctx, result: dict) -> dict:
        """Compare the written outputs of the first timed cycle with the
        registry oracle on the same input."""
        c = result["cycles"][0]
        report = {"input_id": c["input_id"]}
        report.update(self.check(ctx, c.get("out_dir"), ctx.record["expected"]))
        return report

    def check(self, ctx: Ctx, out_dir: str | None, expected: dict) -> dict:
        """Gate report for one cycle's outputs; ``out_dir`` None means the
        cycle failed and nothing was checked."""
        outputs = {}
        if out_dir is not None:
            for name, frame in expected.items():
                outputs[name] = compare(self.read_output(ctx, out_dir, name), frame)
        return {
            "outputs": outputs,
            "checked": len(outputs),
            "mismatches": sum(not r["ok"] for r in outputs.values()),
        }

    def ride(self, ctx: Ctx, inp: dict, expected: dict) -> dict:
        """One pass as a rider: prepare ``inp``, run the cycle body, gate
        its outputs. Spans carry the rider input's id as their cycle."""
        tr = ctx.tracer
        tr.set_cycle(inp["input_id"])
        out_dir = os.path.join(ctx.work, "out", inp["input_id"])
        row = {"rider": self.name, "input_id": inp["input_id"], "seed": ctx.seed,
               "index": inp["index"]}
        try:
            with tr.span("registry.prepare") as sp:
                self.prepare(ctx, inp)
            row["prepare_s"] = sp.seconds
            with tr.span(self.layer) as sp:
                self.cycle(ctx, inp, out_dir)
            row["cycle_s"] = sp.seconds
            row["tasks"] = sp.counts.get("tasks", 0)
        except Exception as e:  # counted as a failed call by the run
            row["error"] = repr(e)[:500]
        tr.set_cycle(None)
        row["gate"] = self.check(ctx, None if "error" in row else out_dir, expected)
        return row

    def oracle_sql(self, oracle: dict, name: str) -> str:
        return oracle[name]

    def read_output(self, ctx: Ctx, out_dir: str, name: str):
        return read_parquet_dir(os.path.join(out_dir, name))

    def write_query(self, ctx: Ctx, name: str, in_dir: str, out_dir: str, layer: str) -> None:
        from collector_spark import registry

        tr = ctx.tracer
        with tr.span(f"{layer}.build"):
            df = registry.sink_queries()[name](ctx.spark, in_dir)
        with tr.span(f"{layer}.exec"):
            df.write.mode("overwrite").parquet(os.path.join(out_dir, name))


class LogBatch(ClosedLoop):
    name = "log_batch"
    layer = "operators.snapshot_logs.cycle"
    queries = ("log_pipeline_full",)

    def cycle(self, ctx: Ctx, inp: dict, out_dir: str, warmup: bool = False) -> int:
        """A traced run times its cycles stage by stage; its warm-up runs
        the plain cycle, as an untraced run does."""
        if ctx.traced and not warmup:
            self._staged(ctx, out_dir)
        else:
            self.write_query(ctx, "log_pipeline_full", inp["dir"], out_dir, "operators.snapshot_logs")
        return inp["shares"]["log_lines"]

    def _staged(self, ctx: Ctx, out_dir: str) -> None:
        """The same composition as ``log_pipeline_full``, one stage at a
        time: each stage's input is materialized by the benchmark first, so
        ``<stage>.build`` and ``<stage>.exec`` cover that stage alone."""
        from pyspark.sql import functions as F

        from collector_spark.logs.classify import PRIMARY_LEVELS, classify_wide
        from collector_spark.logs.parse import parse_df
        from collector_spark.logs.stitch import stitch_df
        from collector_spark.operators.snapshot_logs import (
            log_pipeline_fact,
            redact_content_expr,
        )
        from collector_spark.registry import drop_trailing_sort

        tr, spark = ctx.tracer, ctx.spark
        held = []

        def materialize(df):
            with tr.span("bench.materialize"):
                df = df.persist()
                n = df.count()
            held.append(df)
            return df, n

        raw = spark.table("log_raw")
        with tr.span("logs.parse.build"):
            parsed = parse_df(raw)
        with tr.span("logs.parse.exec"):
            _noop(parsed)
        parsed, n_parsed = materialize(parsed)
        with tr.span("bench.count"):
            unmatched = parsed.filter(F.col("log_level") == "UNKNOWN").count()
        tr.add("logs.parse.rows_out", n_parsed)
        tr.add("logs.parse.unmatched_share", unmatched / max(1, n_parsed))

        with tr.span("logs.stitch.build"):
            stitched = stitch_df(parsed)
            lines = stitched.join(parsed.select("pid", "seq", "collected_at"), ["pid", "seq"])
        with tr.span("logs.stitch.exec"):
            _noop(lines)
        lines, n_groups = materialize(lines)
        with tr.span("bench.count"):
            kept = lines.agg(F.sum("line_count")).first()[0] or 0
        tr.add("logs.stitch.dropped_lines", n_parsed - kept)

        with tr.span("logs.classify.build"):
            wide = classify_wide(lines)
        with tr.span("logs.classify.exec"):
            _noop(wide)
        wide, _ = materialize(wide)
        with tr.span("bench.count"):
            prim = wide.filter(F.col("log_level").isin(*PRIMARY_LEVELS))
            n_prim = prim.count()
            n_uncl = prim.filter(F.col("classification") == "UNCLASSIFIED").count()
        tr.add("logs.classify.unclassified_share", n_uncl / max(1, n_prim))

        with tr.span("logs.redact.build"):
            red = wide.withColumn("content", redact_content_expr())
        with tr.span("logs.redact.exec"):
            _noop(red)
        red, _ = materialize(red)
        with tr.span("bench.count"):
            changed = (
                red.select("pid", "seq", F.col("content").alias("r"))
                .join(wide.select("pid", "seq", "content"), ["pid", "seq"])
                .filter(F.col("r") != F.col("content"))
                .count()
            )
        tr.add("logs.redact.redacted_share", changed / max(1, n_groups))

        with tr.span("operators.snapshot_logs.build"):
            fact = drop_trailing_sort(log_pipeline_fact(red))
        with tr.span("operators.snapshot_logs.exec"):
            fact.write.mode("overwrite").parquet(os.path.join(out_dir, "log_pipeline_full"))
        for df in held:
            df.unpersist()


class SnapshotCycle(ClosedLoop):
    """The 10-min full snapshot plus the activity sample (rider)."""

    name = "snapshot_cycle"
    layer = "snapshot_cycle"
    layers = ("snapshot_cycle", "operators.snapshot", "operators.activity",
              "operators.relation_scan", "operators.historic")
    queries = {
        "snapshot_statement_fact": "operators.snapshot",
        "s10_relation_scan": "operators.relation_scan",
        "a12_bucket_accumulation": "operators.historic",
        "activity_snapshot": "operators.activity",
    }

    def cycle(self, ctx: Ctx, inp: dict, out_dir: str) -> int:
        for q, layer in self.queries.items():
            self.write_query(ctx, q, inp["dir"], out_dir, layer)
        return inp["shares"]["lineitem"] + inp["shares"]["events"]


class CurationExport(ClosedLoop):
    """``ml.export.export_corpus``: dedup and quality keep-lists, a real
    parquet write and its read-back audit (rider)."""

    name = "curation_export"
    layer = "curation_export"
    layers = ("curation_export", "ml.dedup", "ml.curation", "ml.export")
    queries = ("ml_export_manifest",)

    def cycle(self, ctx: Ctx, inp: dict, out_dir: str) -> int:
        from collector_spark.ml import curation, dedup
        from collector_spark.ml.export import export_corpus

        tr = ctx.tracer
        n_docs = inp["shares"]["documents"]
        for layer, keep_list in (("ml.dedup", dedup.dedup_keep_list),
                                 ("ml.curation", curation.quality_keep_list)):
            # one pass computes the whole keep list (keep needs every
            # signal) and counts the kept documents
            with tr.span(f"{layer}.exec"):
                kept = dict(keep_list(ctx.spark).groupBy("keep").count().collect())
            tr.add(f"{layer}.kept_share", kept.get(True, 0) / max(1, n_docs))
        corpus = os.path.join(out_dir, "corpus")
        with tr.span("ml.export.write") as sp:
            audit = export_corpus(ctx.spark, corpus)
        tr.add("ml.export.build_jobs", sp.counts.get("jobs", 0))
        with tr.span("ml.export.audit"):
            audit.write.mode("overwrite").parquet(os.path.join(out_dir, "audit"))
        tr.add("ml.export.files_written", sum(
            f.endswith(".parquet") for _, _, files in os.walk(corpus) for f in files
        ))
        return inp["shares"]["documents"]

    def read_output(self, ctx: Ctx, out_dir: str, name: str):
        """The export's read-back audit, reduced to the manifest's per-source
        row totals (the file count is bounded, not exact, by design)."""
        import pyarrow.parquet as pq

        audit = read_parquet_dir(os.path.join(out_dir, "audit"))
        corpus = pq.read_table(os.path.join(out_dir, "corpus")).to_pandas()
        corpus["source"] = corpus["source"].astype(str)
        per = corpus.groupby("source").agg(n_docs=("doc_id", "size"), n_chars=("n_chars", "sum"))
        per = per.reset_index()
        per["n_docs_audit"] = per["source"].map(dict(zip(audit["source"], audit["n_docs"])))
        if not (per["n_docs_audit"] == per["n_docs"]).all():
            per["n_docs"] = -1  # audit disagrees with the files written
        return per[["source", "n_docs", "n_chars"]]

    def oracle_sql(self, oracle: dict, name: str) -> str:
        body = oracle[name].rsplit("ORDER BY", 1)[0]
        return f"SELECT source, n_docs, n_chars FROM ({body})"


# ---------------------------------------------------------------------------
# open loop
# ---------------------------------------------------------------------------

# Offered load, in log lines per second: about half the drain throughput
# measured for this pipeline on a 4-core x86 host at local[4] (design.json).
STREAM_RATE = 750.0
WARMUP_S = 5.0  # schedule seconds replayed at once before timing: warm-up lines
TRIGGER = "1 second"
TAIL_GUARD_S = 4.0  # groups this close to the end close by the final flush
WAIT_S = 60.0  # longest wait for the warm-up batch, and for the final flush


def state_partitions() -> int:
    """The stateful shuffle width ``log_stream._run_stream`` uses; the
    benchmark's runner matches it."""
    from collector_spark.streaming import log_stream

    return inspect.signature(log_stream._run_stream).parameters["state_partitions"].default


class LogStream:
    name = "log_stream"
    rider: ClosedLoop | None = None  # run once after the stream, traced runs only

    def generate(self, ctx: Ctx) -> dict:
        gen_dir = os.path.join(ctx.work, "inputs", "stream")
        subprocess.run(
            [sys.executable, GEN, "stream", "--seed", str(ctx.seed), "--out", gen_dir,
             "--rate", str(STREAM_RATE), "--seconds", str(WARMUP_S + ctx.seconds)],
            check=True,
        )
        with open(os.path.join(gen_dir, "props.json")) as f:
            rec = json.load(f)
        rec["dir"] = gen_dir
        rec["input_id"] = f"s{ctx.seed}-stream"
        if ctx.traced:
            rec["rider_set"] = generate_tables(ctx, 0, 1, self.rider.scale)["sets"][0]
        return rec

    def before_timing(self, ctx: Ctx, gen: dict) -> None:
        """Start the oracle; it runs beside the warm-up. Its line count is
        what the run waits for at the end."""
        from collector_spark import registry

        sql = registry.driver_oracle_sql()["log_pipeline_full"]
        ctx.record["oracle"] = in_background(oracle_frame, sql, gen["dir"])
        start_rider_oracles(self, ctx, gen)

    def _replay(self, ctx: Ctx, gen: dict, start: float, lo: float, hi: float, tag: str):
        return subprocess.Popen(
            [sys.executable, GEN, "replay", "--lines", os.path.join(gen["dir"], "lines.parquet"),
             "--out", os.path.join(ctx.work, "stream_src"), "--start", repr(start),
             "--from-s", str(lo), "--until-s", str(hi), "--prefix", tag,
             "--report", os.path.join(ctx.work, f"replay-{tag}.json")]
        )

    def run(self, ctx: Ctx, gen: dict) -> dict:
        """Warm-up: the first WARMUP_S seconds of the schedule arrive as one
        file and the first (cold) batch runs. Then the rest is replayed on
        the wall clock, ending with the flush lines, and the run waits
        until every expected line has left the sink."""
        from collector_spark.streaming import log_stream

        spark, tr = ctx.spark, ctx.tracer
        src = os.path.join(ctx.work, "stream_src")
        os.makedirs(src, exist_ok=True)
        progress: list[dict] = []
        listener = _progress_listener(progress) if ctx.traced else None
        if listener is not None:
            spark.streams.addListener(listener)
            _wrap_stream_layers(tr)

        emitted: list = []
        schema: list = []

        def sink(df, batch_id):
            t = time.perf_counter()
            pdf = df.toPandas()
            emitted.append((time.time(), batch_id, pdf, time.perf_counter() - t))
            schema.append(df.schema)

        tr.set_cycle(gen["input_id"])
        t_warm = time.perf_counter()
        # the warm-up lines are written while the query is built
        procs = [self._replay(ctx, gen, time.time() - WARMUP_S, 0.0, WARMUP_S, "w")]
        query = None
        try:
            prev = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions()))
            try:
                with tr.span("streaming.log_stream.start"):
                    raw = spark.readStream.schema(log_stream.RAW_SCHEMA).parquet(src)
                    query = (
                        log_stream.pipeline_stream(raw)
                        .writeStream.foreachBatch(sink)
                        .outputMode("append")
                        .option("checkpointLocation", os.path.join(ctx.work, "stream_ckpt"))
                        .trigger(processingTime=TRIGGER)
                        .start()
                    )
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", prev)
            procs[-1].wait(timeout=WAIT_S)
            _wait(lambda: emitted or query.exception() is not None, WAIT_S)
            expected = ctx.record["expected"] = ctx.record.pop("oracle").result()
            ctx.record["expected_lines"] = int(expected["line_count"].sum())
            warmup_s = time.perf_counter() - t_warm
            start = time.time() - WARMUP_S  # offset WARMUP_S is due now
            procs.append(self._replay(ctx, gen, start, WARMUP_S, float("inf"), "t"))
            with tr.span("streaming.log_stream.run"):
                procs[-1].wait(timeout=ctx.seconds + WAIT_S)
                n = ctx.record["expected_lines"]
                _wait(lambda: _emitted_lines(emitted) >= n or query.exception() is not None, WAIT_S)
        finally:
            for p in procs:
                if p.poll() is None:
                    p.kill()
                p.wait()
            if query is not None:
                query.stop()
            if listener is not None:
                spark.streams.removeListener(listener)
        error = query.exception()
        if ctx.traced:
            c = tr.group_counts(str(query.runId))
            tr.add("workload.tasks", c["tasks"])
            tr.add("workload.task_busy_s", c["task_busy_ms"] / 1000.0)
            tr.add("workload.shuffle_write_bytes", c["shuffle_write_bytes"])
            tr.add("workload.spill_bytes", c["memory_spill_bytes"] + c["disk_spill_bytes"])
            tr.add("workload.failed_tasks", c["failed_tasks"])
        tr.set_cycle(None)
        with open(os.path.join(ctx.work, "replay-t.json")) as f:
            rep = json.load(f)
        rider = run_rider(self, ctx, gen)
        return {
            "start": start,
            "warmup_s": warmup_s,
            "emitted": emitted,
            "schema": schema[0] if schema else None,
            "replay": rep,
            "progress": progress,
            "error": repr(error) if error else None,
            "rider": rider,
        }

    def gate(self, ctx: Ctx, result: dict) -> dict:
        """No line lost or duplicated, and the sink's rows, assembled by
        ``log_pipeline_fact``, equal ``oracle_log_pipeline_full``."""
        import pandas as pd
        from pyspark.sql import functions as F

        from collector_spark.operators.snapshot_logs import log_pipeline_fact
        from collector_spark.streaming.log_stream import SENTINEL_SEQ_OFFSET

        rows = _rows(result["emitted"])
        rows = rows[rows["seq"] < SENTINEL_SEQ_OFFSET]
        dup = int(rows.duplicated(["pid", "seq"]).sum())
        emitted_lines = rows.drop_duplicates(["pid", "seq"])["line_count"].sum()
        lost = int(ctx.record["expected_lines"] - emitted_lines)
        report = {"duplicated_groups": dup, "lines_never_emitted": max(0, lost)}
        if len(rows):
            sdf = ctx.spark.createDataFrame(rows.drop(columns=["_emit"]), result["schema"])
            sdf = sdf.withColumn("collected_at", F.col("collected_at").cast("timestamp_ntz"))
            actual = log_pipeline_fact(sdf).toPandas()
        else:
            actual = pd.DataFrame(columns=ctx.record["expected"].columns)
        report["fact"] = compare(actual, ctx.record["expected"])
        report["checked"] = 1
        report["mismatches"] = int(not report["fact"]["ok"])
        return report


def _wait(done, timeout: float) -> None:
    deadline = time.time() + timeout
    while not done() and time.time() < deadline:
        time.sleep(0.1)


def _progress_listener(sink: list):
    """A StreamingQueryListener that keeps every progress report."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


def _wrap_stream_layers(tracer) -> None:
    """Spans around the stage builders the stream query is made of; the
    query is built once, so these time the one-off build."""
    from collector_spark.logs import classify, parse
    from collector_spark.operators import snapshot_logs
    from collector_spark.streaming import log_stream

    _wrap_public(tracer, parse, "parse_df", "logs.parse.build")
    _wrap_public(tracer, log_stream, "stitch_stream", "logs.stitch.build")
    _wrap_public(tracer, classify, "classify_wide", "logs.classify.build")
    _wrap_public(tracer, snapshot_logs, "redact_content_expr", "logs.redact.build")


def _emitted_lines(emitted) -> int:
    from collector_spark.streaming.log_stream import SENTINEL_SEQ_OFFSET

    n = 0
    for _, _, pdf, _ in emitted:
        if len(pdf):
            n += int(pdf.loc[pdf["seq"] < SENTINEL_SEQ_OFFSET, "line_count"].sum())
    return n


def _rows(emitted):
    import pandas as pd

    frames = []
    for t, _, pdf, _ in emitted:
        if len(pdf):
            frames.append(pdf.assign(_emit=t))
    if not frames:
        return pd.DataFrame(columns=["pid", "seq", "line_count", "collected_at", "_emit"])
    return pd.concat(frames, ignore_index=True)


def stream_latencies(result: dict, seconds: float) -> tuple[np.ndarray, int]:
    """Latency of each group sampled in the timed window: emit time minus the
    wall-clock time its newest line was due (every line of a group shares
    the group's scheduled ``collected_at``). Also returns the lines the
    timed window emitted."""
    rows = _rows(result["emitted"])
    if not len(rows):
        return np.array([]), 0
    sched = (
        rows["collected_at"].astype("datetime64[us]").astype("int64").to_numpy() - EPOCH_2024_US
    ) / 1e6
    in_window = (sched >= WARMUP_S) & (sched < WARMUP_S + seconds - TAIL_GUARD_S)
    lat = rows["_emit"].to_numpy()[in_window] - (result["start"] + sched[in_window])
    lines = int(rows.loc[in_window, "line_count"].sum())
    return lat, lines


def start_rider_oracles(host, ctx: Ctx, gen: dict) -> None:
    if "rider_set" in gen:
        ctx.record["rider_oracle"] = host.rider.start_oracles(gen["rider_set"])


def run_rider(host, ctx: Ctx, gen: dict) -> dict | None:
    if "rider_set" not in gen:
        return None
    expected = ctx.record.pop("rider_oracle").result()
    return host.rider.ride(ctx, gen["rider_set"], expected)


# The export oracle takes about a minute in DuckDB, so the export rides on
# log_batch, whose warm-up and staged cycle hide it; the snapshot oracles
# take about a second.
LogBatch.rider = CurationExport()
LogStream.rider = SnapshotCycle()
WORKLOADS = {w.name: w for w in (LogBatch(), LogStream())}
