"""Closed-loop benchmark of the spark-graft engine.

    python3 perfbench/run.py --workload <name> --seed N --seconds S --trace 0|1
                             [--scale tiny|full]

Workloads: ``analytic_queries``, and ``etl_curation`` (the ETL transfer ops
followed by the LLM-curation ops in one run).

Run from the repository root. One client submits the next op only after the
previous one finished. Inputs are generated from ``--seed`` into
``.perfbench_scratch/`` (removed at exit); spans and a detail record go to
``.perfbench_out/``. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` -- end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``.

Ops run in a fixed order, so each op pays its own first-run code generation
and JIT cost in every run, as a job launched on its own does. A traced run
plays one unmeasured round, then alternates untraced and traced rounds:
per-layer figures come from the traced rounds, and the difference of the
two rounds' wall times is the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from collections import defaultdict

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

from common import PACKAGE, median  # noqa: E402

WORKLOADS = ("etl_curation", "analytic_queries")

END_TO_END = {"setup_s": "s", "rows_per_s": "rows/s", "op_s_p50": "s"}
# end-to-end metrics printed only in the detail line: too noisy between seeds
# for a regression bound, 0 on every passing run, or workload-specific
DETAIL_END_TO_END = {"op_s_tail": "s", "fail_ratio": "ratio", "peak_rss_mb": "MB",
                     "bytes_written_per_input_byte": "ratio", "dedup_recall": "ratio",
                     "ann_recall_at10": "ratio"}
LAYERS = ("session", "sources", "functions", "plans", "streaming", "queries", "operators")
PER_LAYER = {
    "session.get_spark_s": "s", "session.warmup_s": "s",
    "sources.plan_s": "s", "sources.table_cache_hit_ratio": "ratio",
    "sources.table_cache_lookups": "count", "sources.scan_rows": "rows",
    "sources.scan_bytes": "B", "sources.write_s": "s", "sources.bytes_written": "B",
    "sources.files_written": "count", "sources.jdbc_rows_per_s": "rows/s",
    "functions.prepare_s": "s", "plans.call_s": "s",
    "streaming.run_s": "s", "streaming.batches": "count", "streaming.state_bytes": "B",
    "queries.plan_s": "s", "queries.exec_s": "s", "queries.shuffle_bytes": "B",
    "queries.spill_bytes": "B",
    "operators.dedup_s": "s", "operators.dedup_candidates": "count",
    "operators.dedup_verified_ratio": "ratio", "operators.ann_build_s": "s",
    "operators.ann_probe_s": "s", "operators.udf_rows": "rows", "operators.shuffle_bytes": "B",
    **{f"{layer}.{k}": "count" for layer in LAYERS for k in ("calls", "failures")},
    "trace.overhead_s": "s", "trace.rounds": "count",
}

# span name -> per-layer time metric (outermost spans of the set are summed)
SPAN_GROUPS = {
    "sources.plan_s": {"sources.read_file", "sources.read_excel", "sources.read_jdbc",
                       "sources.load_table", "sources.read_version"},
    "sources.write_s": {"sources.write_file", "sources.write_jdbc", "sources.write_version",
                        "sources.merge_into"},
    "functions.prepare_s": {"functions.clean_columns", "functions.rename_columns",
                            "functions.schema_for_pandas"},
    "streaming.run_s": {"streaming.run_streaming_cdc_apply"},
    "queries.plan_s": {"queries.plan"},
    "queries.exec_s": {"queries.exec"},
    "operators.dedup_s": {"operators.exact_dedup", "operators.minhash_lsh_pairs",
                          "operators.ngram_jaccard_pairs_auto", "operators.dedup_action"},
    "operators.ann_build_s": {"operators.build_ivfpq_index"},
    "operators.ann_probe_s": {"operators.ivfpq_probe_batch", "operators.ann_probe_action"},
}
SELF_TIME_GROUPS = {"plans.call_s": {"plans.ingest_file", "plans.transfer", "plans.cdc_apply",
                                     "plans.upsert"}}


class Context:
    """What a workload sees: paths, seed, scale, the tracer and a per-op
    notebook for figures only the op itself can measure."""

    def __init__(self, scratch: str, seed: int, scale: str, tracer) -> None:
        self.scratch, self.seed, self.scale, self.tracer = scratch, seed, scale, tracer
        self.notes: dict[str, float] = defaultdict(float)

    def note(self, key: str, value: float) -> None:
        self.notes[key] += value


def _instrument(tracer, ctx):
    """Wrap the engine's public layer functions for the traced rounds."""
    import importlib

    from tracing import Instrumenter

    inst = Instrumenter(PACKAGE)
    targets = {
        "sources.readers": ("read_file", "read_excel", "read_jdbc"),
        "sources.writers": ("write_file", "write_jdbc"),
        "sources.versioned": ("write_version", "merge_into", "read_version"),
        "functions.naming": ("clean_columns", "rename_columns"),
        "functions.schema_mapping": ("schema_for_pandas",),
        "plans.pipelines": ("ingest_file", "transfer", "cdc_apply", "upsert"),
        "streaming.pipelines": ("run_streaming_cdc_apply",),
        "operators.dedup": ("exact_dedup", "minhash_lsh_pairs", "ngram_jaccard_pairs_auto"),
        "operators.similarity": ("build_ivfpq_index", "ivfpq_probe_batch"),
        "operators.text_analysis": ("quality_score", "language_id", "redact_pii"),
    }
    for mod_name, attrs in targets.items():
        mod = importlib.import_module(f"{PACKAGE}.{mod_name}")
        layer = mod_name.split(".")[0]
        for attr in attrs:
            inst.add(mod, attr, lambda fn, a=attr, lay=layer: tracer.wrap(fn, f"{lay}.{a}", lay))

    tables = importlib.import_module(f"{PACKAGE}.sources.tables")

    def load_table_factory(fn):
        def counted(*args, **kwargs):
            before = len(tables._TABLE_CACHE)
            with tracer.span("sources.load_table", "sources"):
                out = fn(*args, **kwargs)
            ctx.note("table_cache_lookups", 1)
            ctx.note("table_cache_hits", 1 if len(tables._TABLE_CACHE) == before else 0)
            return out

        return counted

    inst.add(tables, "load_table", load_table_factory)
    return inst


def _outermost_sum(spans, names: set[str], ops: set[int]) -> float:
    total = 0.0
    for s in spans:
        if s[0] not in names or s[5] not in ops:
            continue
        p = s[4]
        nested = False
        while p is not None:
            if spans[p][0] in names:
                nested = True
                break
            p = spans[p][4]
        if not nested:
            total += s[3] - s[2]
    return total


def per_layer_metrics(tracer, records, setup, overheads) -> dict[str, float]:
    traced = [r for r in records if r["traced"]]
    ops = {r["op_id"] for r in traced}
    rounds = max(len(overheads), 1)
    spans = tracer.spans
    out: dict[str, float] = {}
    for metric, names in SPAN_GROUPS.items():
        out[metric] = _outermost_sum(spans, names, ops) / rounds
    self_t = tracer.self_times()
    for metric, names in SELF_TIME_GROUPS.items():
        out[metric] = sum(t for s, t in zip(spans, self_t) if s[0] in names and s[5] in ops) / rounds

    def note_sum(key: str, layer: str | None = None) -> float:
        return sum(r["notes"].get(key, 0.0) for r in traced if layer is None or r["layer"] == layer)

    def plan_sum(key: str, layer: str | None = None) -> float:
        return sum(r["plan"].get(key, 0.0) for r in traced if layer is None or r["layer"] == layer)

    out["session.get_spark_s"] = setup["get_spark_s"]
    out["session.warmup_s"] = setup["warmup_s"]
    lookups = note_sum("table_cache_lookups")
    out["sources.table_cache_lookups"] = lookups / rounds
    out["sources.table_cache_hit_ratio"] = note_sum("table_cache_hits") / lookups if lookups else 0.0
    for key in ("scan_rows", "scan_bytes", "bytes_written", "files_written"):
        out[f"sources.{key}"] = plan_sum(key) / rounds
    jdbc_s = _outermost_sum(spans, {"sources.write_jdbc", "sources.jdbc_read"}, ops)
    out["sources.jdbc_rows_per_s"] = note_sum("jdbc_rows") / jdbc_s if jdbc_s else 0.0
    out["streaming.batches"] = note_sum("stream_batches") / rounds
    calls = note_sum("stream_calls")
    out["streaming.state_bytes"] = note_sum("stream_state_bytes") / calls if calls else 0.0
    out["queries.shuffle_bytes"] = plan_sum("shuffle_bytes", "queries") / rounds
    out["queries.spill_bytes"] = plan_sum("spill_bytes", "queries") / rounds
    cand = plan_sum("dedup_candidates", "operators")
    out["operators.dedup_candidates"] = cand / rounds
    out["operators.dedup_verified_ratio"] = note_sum("dedup_verified") / cand if cand else 0.0
    out["operators.udf_rows"] = plan_sum("udf_rows", "operators") / rounds
    out["operators.shuffle_bytes"] = plan_sum("shuffle_bytes", "operators") / rounds
    for layer in LAYERS:
        ls = [s for s in spans if s[1] == layer and (s[5] in ops or layer == "session")]
        out[f"{layer}.calls"] = len(ls) / (1 if layer == "session" else rounds)
        out[f"{layer}.failures"] = sum(1 for s in ls if s[6]) / (1 if layer == "session" else rounds)
    out["trace.overhead_s"] = sum(overheads) / rounds
    out["trace.rounds"] = float(len(overheads))
    return out


def run(args) -> int:
    try:
        import data_integration_and_processing_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable from {ROOT}: {exc}", file=sys.stderr)
        return 2

    import common
    import workloads
    from tracing import PlanMetrics, Tracer

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    scratch = os.path.join(ROOT, ".perfbench_scratch", run_id)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(scratch, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    env = common.pin_environment(scratch)
    tracer = Tracer()
    ctx = Context(scratch, args.seed, args.scale, tracer)
    wl = workloads.make(args.workload, ctx)

    t_gen = time.perf_counter()
    startup_s = t_gen - T_PROCESS
    wl.generate()
    gen_s = time.perf_counter() - t_gen

    from data_integration_and_processing_spark.session import get_spark

    conf = common.spark_conf(scratch)
    spark = None
    records = []

    def run_op(op, round_idx: int, traced: bool, measured: bool) -> float:
        """Run one op and its check; returns the check's duration."""
        op_id = len(records)
        tracer.op_id, tracer.active = op_id, traced
        ctx.notes = defaultdict(float)
        if traced:
            pm.harvest()
        err = None
        t0 = time.perf_counter()
        try:
            with tracer.span(f"op.{op.name}", "op"):
                check = op.run()
        except Exception as exc:  # noqa: BLE001 -- a raising op is a failed op
            check, err = None, f"{type(exc).__name__}: {str(exc)[:300]}"
        lat = time.perf_counter() - t0
        plan = dict(pm.harvest()) if traced else {}
        tracer.active = False
        c0 = time.perf_counter()
        ok = False
        if check is not None:
            try:
                ok = bool(check())
                if not ok:
                    err = "output check failed"
            except Exception as exc:  # noqa: BLE001
                err = f"check {type(exc).__name__}: {str(exc)[:300]}"
        records.append({"op_id": op_id, "op": op.name, "layer": op.layer, "rows": op.rows,
                        "latency_s": lat, "ok": ok, "error": err, "traced": traced,
                        "measured": measured, "round": round_idx, "notes": dict(ctx.notes),
                        "plan": plan})
        if err:
            print(f"perfbench: op {op.name} failed: {err}", file=sys.stderr)
        return time.perf_counter() - c0

    try:
        tracer.active = bool(args.trace)
        with tracer.span("session.setup", "session"):
            spark, setup = common.set_up_session(get_spark, conf)
        tracer.active = False
        jvm = common.jvm_pid(spark)
        env["java"] = common.java_version(spark)

        t_prep = time.perf_counter()
        wl.prepare(spark)
        prep_s = time.perf_counter() - t_prep
        ops = wl.ops()
        inst = _instrument(tracer, ctx) if args.trace else None
        pm = PlanMetrics(spark, getattr(wl, "VERIFY_MARKER", None)) if args.trace else None

        if args.trace:
            # traced rounds are compared with warm untraced ones, so the
            # first-run costs go to an unmeasured round
            for op in ops:
                run_op(op, -1, traced=False, measured=False)
        round_walls, overheads = [], []
        check_s = 0.0
        t_start = time.perf_counter()
        round_idx = 0
        while True:
            traced = bool(args.trace) and round_idx % 2 == 1  # (untraced, traced) pairs
            if inst is not None:
                (inst.install if traced else inst.uninstall)()
            r0 = time.perf_counter()
            round_check = sum(run_op(op, round_idx, traced, not traced) for op in ops)
            check_s += round_check
            wall = time.perf_counter() - r0 - round_check
            round_walls.append((wall, not traced))
            if traced:
                overheads.append(wall - round_walls[-2][0])
            round_idx += 1
            if time.perf_counter() - t_start >= args.seconds and (not args.trace or round_idx % 2 == 0):
                break
        if inst is not None:
            inst.uninstall()
        timed_wall = time.perf_counter() - t_start - check_s
        peak = common.vm_hwm_bytes(jvm) + common.vm_hwm_bytes()
    finally:
        t_down = time.perf_counter()
        if spark is not None:
            gateway = spark.sparkContext._gateway
            proc = gateway.proc
            spark.stop()
            gateway.shutdown()
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except (OSError, subprocess.TimeoutExpired):
                proc.kill()
                proc.wait()
        shutil.rmtree(scratch, ignore_errors=True)
        teardown_s = time.perf_counter() - t_down

    measured = [r for r in records if r["measured"]]
    lats = [r["latency_s"] for r in measured]
    tail_v, tail_pct, tail_above = common.tail(lats)
    n_failed = sum(1 for r in records if not r["ok"])
    summary = wl.summary(records)
    e2e = {
        "setup_s": setup["setup_s"],
        "rows_per_s": sum(r["rows"] for r in measured) / sum(w for w, m in round_walls if m),
        "op_s_p50": median(lats),
        "op_s_tail": tail_v,
        "fail_ratio": n_failed / len(records) if records else 1.0,
        "peak_rss_mb": peak / (1 << 20),
        **{k: summary.pop(k) for k in DETAIL_END_TO_END if k in summary},
    }
    e2e_units = {**END_TO_END, **DETAIL_END_TO_END}
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "scale": args.scale, "env": {**env, **common.versions(), "java": env.get("java")},
        "fail_ratio_base": len(records),
        "op_s_tail_percentile": tail_pct, "op_s_tail_samples_above": tail_above,
        "op_samples": len(lats), "rounds": round_idx, "timed_wall_s": timed_wall,
        "check_s": check_s, "generate_s": gen_s, "prepare_s": prep_s,
        "startup_s": startup_s, "teardown_s": teardown_s,
        "setup": setup,
        "end_to_end": {k: {"value": v, "unit": e2e_units[k]} for k, v in e2e.items()}, **summary,
        "per_op_p50": {name: median([r["latency_s"] for r in measured if r["op"] == name])
                       for name in sorted({r["op"] for r in measured})},
        "failures": [{"op": r["op"], "error": r["error"]} for r in records if not r["ok"]][:20],
    }
    if args.trace:
        detail["per_layer"] = per_layer_metrics(tracer, records, setup, overheads)
        tracer.dump(os.path.join(out_dir, f"{run_id}.spans.jsonl"))
    with open(os.path.join(out_dir, f"{run_id}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    print("# detail " + json.dumps(detail, default=str))

    units = PER_LAYER if args.trace else END_TO_END
    values = detail["per_layer"] if args.trace else e2e
    result = {
        "correct": n_failed == 0,
        "attempted": len(records),
        "failed": n_failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("tiny", "full"), default="full",
                    help="tiny = sf0.001-sized inputs for the self-check")
    return run(ap.parse_args(argv))


if __name__ == "__main__":
    raise SystemExit(main())
