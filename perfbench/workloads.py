"""The benchmark's workloads. Each calls only the package's public entry
points — ``sources.rates_pipeline``, ``sources.warehouse`` and the
registry callables of ``queries.all_queries()`` — and times those calls
from outside.

A workload object is built around a live session, warms up with
``warm()``, measures with ``measure(seconds)`` and reports through
``end_to_end()``, ``per_layer()`` and ``report()``. Each operation is
checked; a check failure or an exception counts in ``failed``.
"""

from __future__ import annotations

import json
import os
import time
import traceback

from core import (
    WarehouseModel,
    digest,
    hours_before,
    iter_runs,
    median,
    seeded_order,
    tail,
    timed,
)
from instruments import (
    SparkCounters,
    Tracer,
    attribute_jobs,
    du,
    make_progress_listener,
    self_times,
    tree_cpu_s,
)

DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")

MB = 1024.0 * 1024.0

# Spark-side per-operation counters, summed over traced operations.
SPARK_KEYS = (
    "jobs", "stages", "tasks", "cpu_s", "run_s",
    "shuffle_write_mb", "shuffle_read_mb", "input_mb", "spill_mb",
)


class Workload:
    name = ""

    def __init__(self, spark, lake: str, work: str, seed: int, tracer: Tracer):
        self.spark = spark
        self.lake = lake
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.counters = SparkCounters(spark) if tracer.enabled else None
        self.attempted = 0
        self.failures: list[dict] = []
        self.spark_totals = dict.fromkeys(SPARK_KEYS, 0.0)
        self.traced_ops = 0
        # Interleaved within the traced run: op latency with spans on vs off.
        self.latency_traced: list[float] = []
        self.latency_untraced: list[float] = []
        self.jobs_by_span: dict[str, int] = {}
        self.layer_seconds: dict[str, float] = {}  # filled by per_layer()

    def _fail(self, what: str, detail: str) -> None:
        self.failures.append({"op": what, "detail": detail[-2000:]})

    def _add_counters(self, request: str, c: dict) -> None:
        for k in SPARK_KEYS:
            self.spark_totals[k] += c[k]
        spans = [s for s in self.tracer.spans if s["request"] == request]
        for k, v in attribute_jobs(spans, c["job_list"]).items():
            self.jobs_by_span[k] = self.jobs_by_span.get(k, 0) + v

    def spark_per_op(self) -> dict:
        ops = max(self.traced_ops, 1)
        units = {"jobs": "count", "stages": "count", "tasks": "count"}
        out = {}
        for k in SPARK_KEYS:
            unit = units.get(k, "s" if k.endswith("_s") else "MB")
            out[f"spark.{k}_per_op"] = (self.spark_totals[k] / ops, unit)
        return out

    def op_latencies(self) -> list[float]:
        raise NotImplementedError

    def op_cpu_samples(self):
        raise NotImplementedError

    def _timed_op(self, op, mark):
        """``timed(op)`` plus, outside the timed region, the process
        tree's CPU seconds for the op and the Spark counters since
        ``mark`` (None when untraced)."""
        cpu0 = tree_cpu_s(os.getpid())

        def after():
            cpu = tree_cpu_s(os.getpid()) - cpu0
            return cpu, (self.counters.since(mark) if mark is not None else None)

        seconds, result, (cpu, counters) = timed(op, after=after)
        return seconds, result, cpu, counters

    @staticmethod
    def _traced_slot(i: int) -> bool:
        """Spans on for ops 1 and 2 of every 4 (off, on, on, off), so a
        steady warm-up trend favours neither side of trace.overhead_s."""
        return i % 4 in (1, 2)

    def overhead_s(self) -> float:
        if self.latency_traced and self.latency_untraced:
            return median(self.latency_traced) - median(self.latency_untraced)
        return 0.0


# ------------------------------------------------------------------ EP1 ETL


class RatesEtl(Workload):
    """Closed loop of EP1 DAG runs, one at a time, on a fresh warehouse:
    payload → ``quotes_payload_to_rates`` → ``transform_rates`` →
    ``prepare_for_load`` → ``Warehouse.load_batch`` → summary reads."""

    name = "rates_etl"
    # Runs use more CPU until the JIT has compiled their hot paths; warm
    # runs take the steepest part of that curve out of the measured ones.
    WARM_RUNS = 5
    # A run measures a fixed number of DAG runs, sized from --seconds at
    # a calm host's pace (DAG run plus check), not however many fit: on
    # a stalled host fewer would fit, and their median would come from
    # earlier, less warmed-up positions.
    NOMINAL_RUN_S = 2.5
    MIN_RUNS = 4

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from currency_etl_pipeline_spark.sources.warehouse import KEYS, SnapshotStore, Warehouse

        self._Warehouse = Warehouse
        self._SnapshotStore = SnapshotStore
        self._keys = KEYS
        self.latencies: list[float] = []
        self.op_cpu: list[float] = []  # process-tree CPU seconds per measured run
        self.rows_loaded = 0
        self.payload_bytes = 0
        self.written_files = 0
        self.written_bytes = 0
        self.rewritten = 0
        self.changed = 0
        self.warehouse_dir = os.path.join(self.work, "warehouse")
        self.check_s = 0.0

    def _dag_run(self, wh, run, traced: bool):
        from pyspark.sql import functions as F

        from currency_etl_pipeline_spark.sources import rates_pipeline as rp

        tr = self.tracer if traced else Tracer(False)
        with tr.span("etl.run"):
            with tr.span("rates_pipeline.prepare"):
                raw = rp.quotes_payload_to_rates(self.spark, run.payload, run.fetched_at)
                clean = rp.transform_rates(raw, run.fetched_at)
                batch = rp.prepare_for_load(clean, run.fetched_at)
            if traced:
                # load_batch is exactly these two calls; calling them one
                # by one lets the traced run time each.
                with tr.span("warehouse.load_batch"):
                    with tr.span("warehouse.append_historical"):
                        wh.append_historical(batch)
                    with tr.span("warehouse.upsert_current"):
                        wh.upsert_current(batch)
            else:
                wh.load_batch(batch)
            with tr.span("warehouse.summary"):
                key = (F.col("base_currency") == run.base) & (
                    F.col("target_currency") == run.probe_code
                )
                cur = wh.current().filter(key).collect()
                cutoff = F.to_timestamp(F.lit(hours_before(run.fetched_at, 24)))
                hist = (
                    wh.historical()
                    .filter(key & (F.col("timestamp") <= cutoff))
                    .orderBy(F.desc("timestamp"), F.desc("rate"))
                    .limit(1)
                    .collect()
                )
        return cur, hist

    def _check(self, wh, model: WarehouseModel, run, cur, hist) -> str | None:
        key = (run.base, run.probe_code)
        want = model.current[key]
        if len(cur) != 1 or cur[0]["rate"] != want[0] or _fmt(cur[0]["timestamp"]) != want[1]:
            return f"summary current() for {key}: got {cur}, want {want}"
        want_h = model.history_as_of(key, hours_before(run.fetched_at, 24))
        got_h = (_fmt(hist[0]["timestamp"]), hist[0]["rate"]) if hist else None
        if got_h != want_h:
            return f"summary historical() for {key}: got {got_h}, want {want_h}"
        snap = wh.current().toPandas()
        got = {
            (b, t): (r, _fmt(ts), _fmt(ra))
            for b, t, r, ts, ra in zip(
                snap["base_currency"], snap["target_currency"], snap["rate"],
                snap["timestamp"], snap["retrieved_at"],
            )
        }
        if len(snap) != len(got) or got != model.current:
            wrong = [k for k in model.current if got.get(k) != model.current[k]]
            return (
                f"current() differs from newest-wins over all loads: {len(snap)} rows, "
                f"{len(model.current)} expected, {len(wrong)} keys wrong, e.g. "
                f"{[(k, got.get(k), model.current[k]) for k in wrong[:3]]}"
            )
        n_hist = wh.historical().count()
        if n_hist != model.history_rows:
            return f"history holds {n_hist} rows, {model.history_rows} loaded"
        return None

    def _loop(self, wh_dir: str, runs, model, count: int, measured: bool) -> None:
        wh = self._Warehouse(self.spark, wh_dir)
        store = self._SnapshotStore(self.spark, wh.current_path)
        for n in range(count):
            run = next(runs)
            # The traced run interleaves spans-on and spans-off runs, so
            # the gap between the two medians is the tracing overhead.
            traced = measured and self.tracer.enabled and self._traced_slot(n)
            self.tracer.request = f"etl-{run.index}"
            before = du(wh_dir) if traced else None
            mark = self.counters.mark() if traced else None
            old_version = store.version() if traced else None
            self.attempted += 1
            try:
                seconds, (cur, hist), cpu, c = self._timed_op(
                    lambda: self._dag_run(wh, run, traced), mark
                )
            except Exception:  # noqa: BLE001 — a failed run is counted, not fatal
                self._fail(f"etl-{run.index}", traceback.format_exc())
                continue
            t_check = time.perf_counter()
            changed = model.load(run)
            if measured:
                self.latencies.append(seconds)
                self.op_cpu.append(cpu)
                self.rows_loaded += len(run.valid)
                self.payload_bytes += run.payload_bytes()
                if self.tracer.enabled:
                    (self.latency_traced if traced else self.latency_untraced).append(seconds)
            if traced:
                self._add_counters(self.tracer.request, c)
                self.traced_ops += 1
                after = du(wh_dir)
                self.written_files += max(after[0] - before[0], 0)
                self.written_bytes += max(after[1] - before[1], 0)
                if old_version is not None:
                    diff = store.diff(old_version, store.version(), self._keys).count()
                    if diff != changed:
                        self._fail(f"etl-{run.index}", f"SnapshotStore.diff saw {diff} changed keys, model {changed}")
                    self.rewritten += store.read().count()
                    self.changed += changed
            problem = self._check(wh, model, run, cur, hist)
            if problem:
                self._fail(f"etl-{run.index}", problem)
            self.check_s += time.perf_counter() - t_check

    def warm(self) -> None:
        self._loop(
            os.path.join(self.work, "warm_warehouse"), iter_runs(f"{self.seed}-warm"),
            WarehouseModel(), self.WARM_RUNS, measured=False,
        )

    def measure(self, seconds: float) -> None:
        count = max(self.MIN_RUNS, round(seconds / self.NOMINAL_RUN_S))
        self._loop(self.warehouse_dir, iter_runs(self.seed), WarehouseModel(), count, measured=True)

    def op_latencies(self) -> list[float]:
        return self.latencies

    def op_cpu_samples(self) -> list[float]:
        return self.op_cpu

    def end_to_end(self) -> dict:
        _files, size = du(self.warehouse_dir)
        return {
            "op_cpu_s": (median(self.op_cpu), "s"),
            "space_amp": (size / self.payload_bytes, "ratio"),
        }

    def report(self, e2e: dict) -> dict:
        return {
            "etl_run_cpu_s": (e2e["op_cpu_s"][0], "s"),
            "etl_run_p50_s": (median(self.latencies), "s"),
            "etl_run_tail_s": _tail_entry(self.latencies),
            "etl_space_amp": (e2e["space_amp"][0], "ratio"),
            "etl_rows_per_s": (self.rows_loaded / sum(self.latencies), "1/s"),
            "etl_check_s": (self.check_s, "s"),
        }

    def per_layer(self) -> dict:
        spans = self.tracer.spans
        selfs = self_times(spans)
        total = sum(s["end"] - s["start"] for s in spans if s["name"] == "etl.run")
        ops = self.traced_ops

        def share(name):
            dur = sum(s["end"] - s["start"] for s in spans if s["name"] == name)
            return dur / total if total else 0.0

        files, _size = du(self.warehouse_dir)
        store = self._SnapshotStore(self.spark, os.path.join(self.warehouse_dir, "current_rates"))
        versions = [n for n in os.listdir(store.base) if n.startswith("v") and n[1:].isdigit()]
        out = {
            "rates_pipeline.prepare_share": (share("rates_pipeline.prepare"), "ratio"),
            "warehouse.append_historical_share": (share("warehouse.append_historical"), "ratio"),
            "warehouse.upsert_current_share": (share("warehouse.upsert_current"), "ratio"),
            "warehouse.summary_share": (share("warehouse.summary"), "ratio"),
            "warehouse.files_written_per_run": (self.written_files / max(ops, 1), "count"),
            "warehouse.bytes_written_mb_per_run": (self.written_bytes / MB / max(ops, 1), "MB"),
            "warehouse.files_on_disk": (files, "count"),
            "warehouse.snapshot_versions": (len(versions), "count"),
            "warehouse.snapshot_rows": (store.read().count(), "count"),
            "warehouse.rewritten_per_changed_row": (
                self.rewritten / self.changed if self.changed else 0.0, "ratio"
            ),
        }
        self.layer_seconds = {
            k: v / max(ops, 1) for k, v in selfs.items()
        }
        return out


def _tail_entry(values: list[float]) -> tuple:
    """(value, unit, percentile, n) — value None when n has no tail."""
    if len(values) <= 10:
        return (None, "s", None, len(values))
    t = tail(values)
    return (t["value"], "s", t["pct"], t["n"])


def _fmt(ts) -> str:
    return ts.strftime("%Y-%m-%d %H:%M:%S")


# ------------------------------------------------------------ streaming ingest

# Each stream job and the lake table whose bytes it ingests.
STREAM_JOBS = {
    "streaming_cdc_rollup": "events",
    "streaming_sliding_counts_append": "events",
}

# durationMs keys of a micro-batch, by the per-layer share they feed.
# State-store commit time (from stateOperators) is part of addBatch.
EPOCH_PARTS = {
    "add_batch": ("addBatch",),
    "query_planning": ("queryPlanning",),
    "wal_commit": ("walCommit",),
    "commit_offsets": ("commitOffsets",),
    "source": ("latestOffset", "getBatch"),
}


class StreamIngest(Workload):
    """Replay of landed feeds: each catalog stream job lands its feed and
    drives it to completion one file per epoch, then its result is
    fetched. One pass runs every job once in seeded order."""

    name = "stream_ingest"
    # A round runs one pass per rotation of the seeded job order, so
    # every round holds the same mix of orders (job order moves pass
    # time by ~20%); a round's op time is its mean pass time.
    # A fixed number of rounds, sized from --seconds at a calm host's
    # pace, as for rates_etl.
    NOMINAL_ROUND_S = 10.0
    MIN_ROUNDS = 2

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from currency_etl_pipeline_spark.queries import all_queries

        self.specs = all_queries()
        self.job_order = seeded_order(STREAM_JOBS, self.seed, "jobs")
        self.listener = make_progress_listener()
        self.spark.streams.addListener(self.listener)
        with open(DIGESTS) as f:
            self.digests = json.load(f)["digests"]
        self.drives: list[float] = []  # per measured pass
        self.rounds: list[float] = []  # mean pass time per measured round
        self.job_cpu: dict[str, list[float]] = {n: [] for n in self.job_order}
        self.epochs: list[float] = []
        self.progress: list[dict] = []  # measured, traced passes
        self.rows_in = 0
        self.space: list[float] = []
        self.build_s = 0.0
        self.action_s = 0.0
        self.fetch_rows = 0
        self.build_jobs = 0
        self.epoch_jobs = 0
        self.traced_passes = 0
        self.traced_drive = 0.0

    def _request(self, name: str, traced: bool):
        spec = self.specs[name]
        module = spec.spark.__module__.rsplit(".", 1)[-1]
        tr = self.tracer if traced else Tracer(False)
        with tr.span(f"queries.{module}.request"):
            with tr.span("queries.build"):
                t0 = time.perf_counter()
                df = spec.spark(self.spark, self.lake)
                t1 = time.perf_counter()
            with tr.span("queries.action"):
                rows = df.collect()
                t2 = time.perf_counter()
        return df.columns, rows, t1 - t0, t2 - t1

    def _pass(self, k: int, measured: bool, traced: bool) -> float:
        """Pass ``k`` runs the jobs in the seeded order rotated by ``k``;
        returns its drive seconds."""
        drive = 0.0
        pass_epochs: list[float] = []
        pass_rows = 0
        tmp = os.environ["TMPDIR"]
        disk_before = du(tmp)[1]
        lake_bytes = 0
        turn = k % len(self.job_order)
        for name in self.job_order[turn:] + self.job_order[:turn]:
            self.tracer.request = f"pass{k}-{name}"
            self.listener.drain()
            mark = self.counters.mark() if traced else None
            self.attempted += 1
            try:
                _s, (cols, rows, build_s, action_s), cpu, c = self._timed_op(
                    lambda: self._request(name, traced), mark
                )
            except Exception:  # noqa: BLE001 — a failed request is counted, not fatal
                self._fail(name, traceback.format_exc())
                continue
            progress = self.listener.drain()
            drive += build_s + action_s
            if measured:
                self.job_cpu[name].append(cpu)
            lake_bytes += os.path.getsize(os.path.join(self.lake, f"{STREAM_JOBS[name]}.parquet"))
            got = digest(cols, rows)
            want = self.digests[name]["digest"]
            if got != want:
                self._fail(name, f"result digest {got} != stored {want} ({len(rows)} rows)")
            pass_epochs += [p["duration_ms"].get("triggerExecution", 0) / 1e3 for p in progress]
            pass_rows += sum(p["rows"] for p in progress)
            if traced:
                self._add_counters(self.tracer.request, c)
                run_ids = {p["run_id"] for p in progress}
                self.epoch_jobs += sum(1 for j in c["job_list"] if j["group"] in run_ids)
                self.build_jobs += c["jobs"]
                self.build_s += build_s
                self.action_s += action_s
                self.fetch_rows += len(rows)
                self.progress += progress
        if measured:
            self.drives.append(drive)
            self.epochs += pass_epochs
            self.rows_in += pass_rows
            self.space.append((du(tmp)[1] - disk_before) / max(lake_bytes, 1))
        if traced:
            self.traced_passes += 1
            self.traced_drive += drive
            self.traced_ops += len(pass_epochs)
        return drive

    def _round(self, r: int, measured: bool, traced: bool) -> float:
        n = len(self.job_order)
        return sum(self._pass(r * n + i, measured, traced) for i in range(n)) / n

    def warm(self) -> None:
        # One round: most of what early rounds cost extra is JIT
        # compiling, which op_cpu_s leaves out.
        self._round(-1, measured=False, traced=False)

    def measure(self, seconds: float) -> None:
        rounds = max(self.MIN_ROUNDS, round(seconds / self.NOMINAL_ROUND_S))
        if self.tracer.enabled:
            # The traced run interleaves spans-off and spans-on rounds and
            # makes at least one full off-on-on-off cycle.
            rounds = max(rounds, 4)
        for r in range(rounds):
            traced = self.tracer.enabled and self._traced_slot(r)
            drive = self._round(r, measured=True, traced=traced)
            self.rounds.append(drive)
            if self.tracer.enabled:
                (self.latency_traced if traced else self.latency_untraced).append(drive)

    def op_latencies(self) -> list[float]:
        return self.rounds

    def op_cpu_samples(self) -> dict[str, list[float]]:
        return self.job_cpu

    def end_to_end(self) -> dict:
        # CPU of one pass: each job's median request CPU, summed.
        pass_cpu = sum(median(v) for v in self.job_cpu.values())
        return {
            "op_cpu_s": (pass_cpu, "s"),
            "space_amp": (median(self.space), "ratio"),
        }

    def report(self, e2e: dict) -> dict:
        return {
            "stream_pass_cpu_s": (e2e["op_cpu_s"][0], "s"),
            "stream_drive_s": (median(self.rounds), "s"),
            "stream_epoch_p50_s": (median(self.epochs), "s"),
            "stream_epoch_tail_s": _tail_entry(self.epochs),
            "stream_rows_per_s": (self.rows_in / sum(self.drives), "1/s"),
        }

    def per_layer(self) -> dict:
        prog = self.progress
        passes = max(self.traced_passes, 1)
        trigger_ms = sum(p["duration_ms"].get("triggerExecution", 0) for p in prog) or 1
        out = {
            "queries.build_share": (self.build_s / max(self.build_s + self.action_s, 1e-9), "ratio"),
            "queries.build_jobs": (self.build_jobs / passes, "count"),
            "queries.fetch_rows": (self.fetch_rows / passes, "count"),
            "streaming.epochs": (len(prog) / passes, "count"),
        }
        for part, keys in EPOCH_PARTS.items():
            ms = sum(p["duration_ms"].get(key, 0) for p in prog for key in keys)
            out[f"streaming.{part}_share"] = (ms / trigger_ms, "ratio")
        state_ms = sum(s["commit_ms"] for p in prog for s in p["state"])
        out["streaming.state_commit_share"] = (state_ms / trigger_ms, "ratio")
        out["streaming.jobs_per_epoch"] = (self.epoch_jobs / max(len(prog), 1), "count")
        out["streaming.input_rows_per_s"] = (
            sum(p["rows"] for p in prog) / (trigger_ms / 1e3), "1/s"
        )
        last: dict[str, dict] = {}
        for p in prog:
            last[p["id"]] = p
        out["streaming.state_rows"] = (
            sum(s["rows"] for p in last.values() for s in p["state"]) / passes, "count"
        )
        out["streaming.state_mb"] = (
            sum(s["bytes"] for p in last.values() for s in p["state"]) / MB / passes, "MB"
        )
        out["streaming.drive_overhead_share"] = (
            1.0 - (trigger_ms / 1e3) / max(self.traced_drive, 1e-9), "ratio"
        )
        self.layer_seconds = {
            "queries.build_s": self.build_s / passes,
            "queries.action_s": self.action_s / passes,
            "stream_drive_s": self.traced_drive / passes,
            "streaming.trigger_s": trigger_ms / 1e3 / passes,
        }
        for part, keys in EPOCH_PARTS.items():
            self.layer_seconds[f"streaming.{part}_s"] = (
                sum(p["duration_ms"].get(key, 0) for p in prog for key in keys) / 1e3 / passes
            )
        self.layer_seconds["streaming.state_commit_s"] = state_ms / 1e3 / passes
        return out


WORKLOADS = {w.name: w for w in (RatesEtl, StreamIngest)}
