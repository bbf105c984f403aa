"""Turn one run's samples, spans and counters into the report and the
result line."""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from perfbench.harness import median, tail
from perfbench.trace import span_cost_us, summarize

SERVED_OPS = ("write", "poll", "changes_page", "lookup", "traverse")
BATCH_OPS = ("commit", "job_run", "readback")
LEGS = ("pagerank", "js_transform")

# name -> (unit, better); the order is the order printed
END_TO_END = {
    "setup_s": ("s", "lower"),
    "peak_rss_mb": ("MB", "lower"),
    "ops_ok_frac": ("frac", "higher"),
    "write_p50_ms": ("ms", "lower"),
    "write_eps": ("1/s", "higher"),
    "read_p50_ms": ("ms", "lower"),
    "read_eps": ("1/s", "higher"),
    "readback_p50_ms": ("ms", "lower"),
}


def _per_layer() -> dict:
    out = {}
    for op in SERVED_OPS + BATCH_OPS + LEGS:
        out[f"spark.jobs_per_op.{op}"] = "count"
        out[f"spark.tasks_per_op.{op}"] = "count"
        out[f"spark.job_ms_per_op.{op}"] = "ms"
    out.update({
        "server.self_ms": "ms",
        "server.body_parse_ms": "ms",
        "server.response_bytes_per_entity": "B",
        "server.errors": "count",
        "server.self_ms_per_s": "ms/s",
        "store.store_entities_ms": "ms",
        "store.execute_transaction_ms": "ms",
        "store.meta_ms": "ms",
        "store.log_ms": "ms",
        "store.log_files": "count",
        "store.log_bytes": "B",
        "store.bytes_per_user_byte": "ratio",
        "store.versions_per_entity": "ratio",
        "store.wal_append_ms": "ms",
        "store.wal_flush_ms": "ms",
        "store.self_ms_per_s": "ms/s",
        "query.index_build_ms": "ms",
        "query.index_builds_per_query": "ratio",
        "query.index_refusals": "count",
        "query.self_ms_per_s": "ms/s",
        "jobs.run_ms": "ms",
        "jobs.watermark_ms": "ms",
        "jobs.sink_write_ms": "ms",
        "jobs.state_ms": "ms",
        "jobs.attempts": "count",
        "jobs.rows_read": "count",
        "jobs.rows_written": "count",
        "jobs.useful_ratio": "ratio",
        "jobs.self_ms_per_s": "ms/s",
        "script.compile_ms": "ms",
        "script.index_build_ms": "ms",
        "script.transform_eps": "1/s",
        "script.self_ms_per_s": "ms/s",
    })
    for leg in LEGS:
        out[f"queries.{leg}_s"] = "s"
    out.update({
        "queries.total_s": "s",
        "trace.spans": "count",
        "trace.span_cost_us": "us",
        "trace.overhead_est_frac": "frac",
    })
    return out


PER_LAYER = _per_layer()


@dataclass
class Result:
    setup_s: float
    load_s: float
    load_window: tuple            # (perf_counter start, end)
    write_ops: tuple
    read_ops: tuple
    readback_ops: tuple
    footprint: dict               # log_files, log_bytes, rows, keys, json_bytes
    facts: dict = field(default_factory=dict)
    peak_rss_mb: float = 0.0


def footprint(spark, roots: list[str]) -> dict:
    """On-disk size of the stores' logs against the UDA JSON size of the
    versions they hold (the user's bytes), and versions per entity."""
    from pyspark.sql import functions as F

    from datahub_spark.model import ENTITY_SCHEMA

    files = size = rows = keys = user = 0
    for root in roots:
        log_dir = os.path.join(root, "log")
        for dirpath, _dirs, names in os.walk(log_dir):
            for name in names:
                if name.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, name))
        df = spark.read.schema(ENTITY_SCHEMA).option("basePath", log_dir) \
            .parquet(log_dir)
        row = df.agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct("dataset", "id").alias("keys"),
            F.sum(F.length(F.to_json(F.struct(
                "id", "deleted", "props", "refs")))).alias("user")).first()
        rows += row["rows"]
        keys += row["keys"]
        user += row["user"] or 0
    return {"log_files": files, "log_bytes": size, "rows": rows,
            "keys": keys, "json_bytes": user}


def _lat(samples, ops) -> list[float]:
    return [x for op in ops for x in samples.lat.get(op, [])]


def _units(samples, ops) -> int:
    return sum(samples.units.get(op, 0) for op in ops)


def _eps(samples, ops):
    """Entities (or results) per second of the ops' own latency: the
    rate one closed-loop client doing only these ops would see."""
    busy = sum(_lat(samples, ops))
    return _units(samples, ops) / busy if busy else None


def end_to_end(res: Result, samples) -> dict:
    w, r = _lat(samples, res.write_ops), _lat(samples, res.read_ops)
    rb = _lat(samples, res.readback_ops)
    ok = samples.attempted - samples.failed - samples.refused
    return {
        "setup_s": res.setup_s,
        "peak_rss_mb": res.peak_rss_mb,
        "ops_ok_frac": ok / max(samples.attempted, 1),
        "write_p50_ms": 1000 * (median(w) or 0.0),
        "write_eps": _eps(samples, res.write_ops) or 0.0,
        "read_p50_ms": 1000 * (median(r) or 0.0),
        "read_eps": _eps(samples, res.read_ops) or 0.0,
        "readback_p50_ms": 1000 * (median(rb) or 0.0),
    }


def operation_metrics(res: Result, samples) -> list[tuple]:
    """The operation-level figures, printed for every workload: (name,
    value, unit, samples, percentile) — None where the workload does not
    run that operation."""
    lat = samples.lat

    def p50(op, scale=1000.0):
        v = median(lat.get(op, []))
        return None if v is None else v * scale, len(lat.get(op, [])), 50.0

    def tl(op):
        v, pct, n = tail(lat.get(op, []))
        return None if v is None else v * 1000, n, pct

    def rate(ops):
        return _eps(samples, ops), _units(samples, ops), None

    rows = [
        ("write_batch_p50_ms", *p50("write"), "ms"),
        ("write_batch_tail_ms", *tl("write"), "ms"),
        ("write_eps", *rate(("write",)), "1/s"),
        ("poll_after_write_p50_ms", *p50("poll"), "ms"),
        ("sync_eps", *rate(("changes_page",)), "1/s"),
        ("changes_page_p50_ms", *p50("changes_page"), "ms"),
        ("changes_page_tail_ms", *tl("changes_page"), "ms"),
        ("lookup_p50_ms", *p50("lookup"), "ms"),
        ("traverse_p50_ms", *p50("traverse"), "ms"),
        ("traverse_refused_p50_ms", *p50("traverse.refused"), "ms"),
        ("readback_p50_ms", *p50("readback"), "ms"),
        ("commit_p50_ms", *p50("commit"), "ms"),
        ("job_run_p50_s", *p50("job_run", 1.0), "s"),
        ("job_eps", *rate(("job_run",)), "1/s"),
        ("analytics_total_s", res.facts.get("analytics_total_s"),
         len(lat.get("pass", [])), None, "s"),
        ("ops_failed_frac", (samples.failed + samples.refused)
         / max(samples.attempted, 1), samples.attempted, None, "frac"),
    ]
    return [(n, v, u, k, p) for n, v, k, p, u in rows]


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(res: Result, samples, ctx) -> dict:
    t0, t1 = res.load_window
    spans = [s for s in ctx.tracer.spans if s[2] >= t0 and s[3] <= t1]
    summ = summarize(spans)
    names, layers = summ["names"], summ["layers"]

    def ms(name, per=None):
        agg = names.get(name)
        if not agg:
            return 0.0
        return agg["ms"] / (per if per is not None else agg["calls"])

    def calls(name):
        return names.get(name, {}).get("calls", 0)

    out: dict[str, float] = {}
    for op in SERVED_OPS + BATCH_OPS + LEGS:
        jobs, tasks, job_ms = ctx.counters.ratios(op)
        out[f"spark.jobs_per_op.{op}"] = jobs
        out[f"spark.tasks_per_op.{op}"] = tasks
        out[f"spark.job_ms_per_op.{op}"] = job_ms
    n_req = sum(calls(f"server.{v}") for v in ("get", "post"))
    page_ops = ("changes_page", "poll")
    n_tx = max(calls("store.execute_transaction"), 1)
    n_runs = max(calls("jobs.run"), 1)
    load_s = max(res.load_s, 1e-9)
    fp = res.footprint
    out.update({
        "server.self_ms": sum(names.get(f"server.{v}", {}).get("self_ms", 0)
                              for v in ("get", "post")) / max(n_req, 1),
        "server.body_parse_ms": ms("server.parse"),
        "server.response_bytes_per_entity":
            sum(samples.bytes.get(o, 0) for o in page_ops)
            / max(_units(samples, page_ops), 1),
        "server.errors": samples.http_errors,
        "store.store_entities_ms": ms("store.store_entities"),
        "store.execute_transaction_ms": ms("store.execute_transaction"),
        "store.meta_ms": (ms("store.next_recorded", n_tx)
                          + ms("store.create_dataset", n_tx)),
        "store.log_ms": ms("store.log"),
        "store.log_files": fp["log_files"],
        "store.log_bytes": fp["log_bytes"],
        "store.bytes_per_user_byte": fp["log_bytes"] / max(fp["json_bytes"], 1),
        "store.versions_per_entity": fp["rows"] / max(fp["keys"], 1),
        "store.wal_append_ms": ms("store.wal.append"),
        "store.wal_flush_ms": ms("store.wal.flush"),
        "query.index_build_ms": _mean([
            (s[3] - s[2]) * 1000 for s in spans if s[1] == "query.index"]),
        "query.index_builds_per_query": calls("query.index")
            / max(len(samples.lat.get("lookup", []))
                  + len(samples.lat.get("traverse", [])), 1),
        "query.index_refusals": samples.refused,
        "jobs.run_ms": ms("jobs.run"),
        "jobs.watermark_ms": (ms("jobs.source.current_watermark", n_runs)
                              + ms("jobs.source.watermark_of", n_runs)),
        "jobs.sink_write_ms": ms("jobs.sink.write"),
        "jobs.state_ms": sum(agg["ms"] for n, agg in names.items()
                             if n.startswith("jobs.state.")) / n_runs,
        "script.compile_ms": ms("script.compile"),
        "script.index_build_ms": ms("script.index"),
    })
    for layer in ("server", "store", "query", "jobs", "script"):
        out[f"{layer}.self_ms_per_s"] = layers.get(layer, 0.0) / load_s
    for key in ("jobs.attempts", "jobs.rows_read", "jobs.rows_written",
                "jobs.useful_ratio", "script.transform_eps"):
        out[key] = res.facts.get(key, 0.0)
    for leg in LEGS:
        out[f"queries.{leg}_s"] = res.facts.get(f"leg.{leg}", 0.0)
    out["queries.total_s"] = res.facts.get("analytics_total_s", 0.0)
    cost = span_cost_us()
    n_spans = len(spans)
    out["trace.spans"] = n_spans
    out["trace.span_cost_us"] = cost
    out["trace.overhead_est_frac"] = n_spans * cost / 1e6 / load_s
    return out


def _fmt(v) -> str:
    if v is None:
        return "n/a"
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def build(args, res: Result, samples, ctx) -> dict:
    e2e = end_to_end(res, samples)
    print(f"== perfbench {args.workload} seed={args.seed} "
          f"seconds={args.seconds:g} trace={args.trace}")
    for k, v in sorted(ctx.facts.items()):
        print(f"  env/fact {k} = {_fmt(v)}")
    for k, v in sorted(res.facts.items()):
        print(f"  fact {k} = {_fmt(v)}")
    for k, v in res.footprint.items():
        print(f"  footprint {k} = {v}")
    print("-- operations (name, value, unit, samples, percentile)")
    for name, v, unit, n, pct in operation_metrics(res, samples):
        print(f"  {name:28s} {_fmt(v):>12s} {unit:5s} n={n}"
              + (f" p{pct:.1f}" if pct is not None else ""))
    print("-- end-to-end")
    for name, v in e2e.items():
        print(f"  {name:28s} {_fmt(v):>12s} {END_TO_END[name][0]}")
    for note in samples.notes:
        print(f"  FAILED {note}")
    if args.trace:
        metrics = {k: {"value": v, "unit": PER_LAYER[k]}
                   for k, v in per_layer(res, samples, ctx).items()}
        print("-- per-layer")
        for k, m in metrics.items():
            print(f"  {k:44s} {_fmt(m['value']):>12s} {m['unit']}")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k][0]}
                   for k, v in e2e.items()}
    return {"correct": samples.failed == 0,
            "attempted": samples.attempted,
            "failed": samples.failed,
            "metrics": metrics}
