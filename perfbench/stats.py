"""Metric math: end-to-end metrics from the runner's warm passes,
per-layer metrics from its traced passes. Pure functions over the
runner's side files (records.jsonl, sessions.jsonl, meta.json,
probe.json); unit-tested in tests/test_stats.py."""
import statistics

KERNELS = ("shingles", "minhash", "simhash", "intersect_count",
           "bytehist", "bytehist_arr", "pairs")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(n: int):
    """Highest of p99/p95/p90/p75 with at least ten samples beyond it."""
    for p in (99, 95, 90, 75):
        if n * (100 - p) / 100 >= 10:
            return p
    return None


def percentile(xs, p: int) -> float:
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def timing(xs) -> dict:
    """Median plus the highest percentile the sample count supports."""
    out = {"p50": median(xs), "samples": len(xs)}
    tail = tail_percentile(len(xs))
    if tail is not None:
        out[f"p{tail}"] = percentile(xs, tail)
    return out


def failures(records, checks) -> tuple:
    """(attempted, failed): every query execution is an attempt; it fails
    when it threw or when its query's result failed the oracle check."""
    bad = {q for q, ok in checks.items() if not ok}
    failed = sum(1 for r in records if not r["ok"] or r["query"] in bad)
    return len(records), failed


def per_query(records, field, keep=lambda r: True) -> dict:
    """{query: [field value per successful execution kept]}"""
    out = {}
    for r in records:
        if r["ok"] and keep(r):
            out.setdefault(r["query"], []).append(r[field])
    return out


def sum_of_medians(by_query) -> float:
    """One pass's worth: each query's median, summed over queries."""
    return sum(median(v) for v in by_query.values())


def warm(r) -> bool:
    """Pass 0 is the JVM's cold pass (its results are the checked ones);
    timings come from the passes after it."""
    return r["pass"] > 0


def end_to_end(records, sessions) -> dict:
    """{name: (value, unit, samples)} for every end-to-end metric."""
    walls = per_query(records, "wall_s", warm)
    all_walls = [w for v in walls.values() for w in v]
    setups = [s["setup_s"] for s in sessions if s["pass"] > 0]
    return {
        "total_s": (sum_of_medians(walls), "s", len(all_walls)),
        "query_p50_s": (median(all_walls), "s", len(all_walls)),
        "setup_s": (median(setups), "s", len(setups)),
    }


def per_layer(records, sessions, meta, probe) -> dict:
    """{name: (value, unit, samples)} from the traced passes of a run."""
    traced = [r for r in records if r["traced"] and r["ok"] and r["layer"]]
    n = len({r["pass"] for r in traced})

    def layer(key, scale=1.0):
        """Per-query median over traced passes of a layer count, summed."""
        get = key if callable(key) else (lambda l: l[key])
        by_q = {}
        for r in traced:
            by_q.setdefault(r["query"], []).append(get(r["layer"]) or 0)
        return sum_of_medians(by_q) * scale

    def phase(name):
        return layer(lambda l: l["batch_phase_ms"][name], 1e-3)

    def timed(field, keep):
        return sum_of_medians(per_query(records, field, keep))

    def split(field):
        """A traced session's set-up part (start or warm-up)."""
        return [x[field] for x in sessions if x[field] is not None]

    is_traced = lambda r: r["traced"]  # noqa: E731
    untraced_warm = lambda r: not r["traced"] and warm(r)  # noqa: E731
    wall = timed("wall_s", is_traced)
    untraced = timed("wall_s", untraced_warm)
    task_run_s = layer("task_run_ms", 1e-3)
    batches = layer(lambda l: len(l["batch_ms"]))
    data_batches = layer("data_batches")
    batch_ms = [b for r in traced for b in r["layer"]["batch_ms"]]
    pool = {}
    for r in traced:
        pool.setdefault(r["pass"], []).append((r["pool_mb"], r["pins"]))
    kernels = {k["name"]: k for k in probe["kernels"]}
    m = {
        "session.start_s": (median(split("start_s")), "s"),
        "session.warmup_s": (median(split("warmup_s")), "s"),
        "session.cold_s": (meta["cold_s"], "s"),
        "mem.peak_rss_mb": (meta["peak_rss_mb"], "MB"),
        "ops.run_s": (timed("run_s", is_traced), "s"),
        "planning.s": (timed("plan_s", is_traced), "s"),
        "planning.analysis_s": (layer("analysis_ms", 1e-3), "s"),
        "planning.optimization_s": (layer("optimization_ms", 1e-3), "s"),
        "planning.physical_s": (layer("planning_ms", 1e-3), "s"),
        "planning.exchanges": (layer("exchanges"), "count"),
        "planning.wscg_stages": (layer("wscg_stages"), "count"),
        "planning.fallback_exprs": (layer("fallback_exprs"), "count"),
        "exec.s": (timed("exec_s", is_traced), "s"),
        "exec.jobs": (layer("jobs"), "count"),
        "exec.stages": (layer("stages"), "count"),
        "exec.tasks": (layer("tasks"), "count"),
        "exec.failed_tasks": (layer("failed_tasks"), "count"),
        "exec.task_run_s": (task_run_s, "s"),
        "exec.task_cpu_s": (layer("task_cpu_ns", 1e-9), "s"),
        "exec.gc_s": (layer("gc_ms", 1e-3), "s"),
        "exec.core_busy_frac": (task_run_s / (wall * meta["cpus"]) if wall else 0.0, "frac"),
        "exec.shuffle_write_bytes": (layer("shuffle_write_bytes"), "B"),
        "exec.shuffle_read_bytes": (layer("shuffle_read_bytes"), "B"),
        "exec.spill_bytes": (layer("spill_bytes"), "B"),
        "exec.output_records": (layer("output_records"), "count"),
        "exec.output_bytes": (layer("output_bytes"), "B"),
        "tables.records_read": (layer("input_records"), "count"),
        "tables.bytes_read": (layer("input_bytes"), "B"),
        "streaming.batches": (batches, "count"),
        "streaming.data_batches": (data_batches, "count"),
        "streaming.data_batch_frac": (data_batches / batches if batches else 0.0, "frac"),
        "streaming.add_batch_s": (phase("addBatch"), "s"),
        "streaming.query_planning_s": (phase("queryPlanning"), "s"),
        "streaming.get_batch_s": (phase("getBatch"), "s"),
        "streaming.wal_commit_s": (phase("walCommit"), "s"),
        "streaming.trigger_s": (phase("triggerExecution"), "s"),
        "streaming.batch_p50_ms": (median(batch_ms), "ms"),
        "streaming.state_rows": (layer("state_rows"), "count"),
        "streaming.state_mem_bytes": (layer("state_mem_bytes"), "B"),
        **{f"functions.{k}_s": (median(kernels[k]["seconds"]), "s") for k in KERNELS},
        "functions.rows": (probe["rows"], "count"),
        "cache.pool_mb": (median([max(p for p, _ in v) for v in pool.values()]), "MB"),
        "cache.pins": (median([max(c for _, c in v) for v in pool.values()]), "count"),
        "trace.total_s": (wall, "s"),
        "trace.untraced_total_s": (untraced, "s"),
        "trace.overhead_pct": (100.0 * (wall / untraced - 1) if untraced else 0.0, "%"),
    }
    return {k: (v, unit, n) for k, (v, unit) in m.items()}


def shares(metrics) -> dict:
    """Where a traced run's query time goes: each phase's part of the
    traced query time, and the part of the cores' time that tasks ran."""
    total = metrics["trace.total_s"][0]
    part = lambda k: metrics[k][0] / total if total else 0.0  # noqa: E731
    return {"run": part("ops.run_s"), "plan": part("planning.s"), "exec": part("exec.s"),
            "core_busy": metrics["exec.core_busy_frac"][0]}


def probe_ok(probe) -> bool:
    """Every kernel's checksum repeated exactly."""
    return all(len(set(k["checksums"])) == 1 for k in probe["kernels"])
