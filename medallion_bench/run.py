"""Medallion benchmark: one workload, one seed, one process, one client.

    python3 medallion_bench/run.py --workload ingest_batches --seed 1 --seconds 8 --trace 0

Run from the repository root. The run generates its seeded inputs under
``.bench_work/`` (before any clock starts), launches a Spark session
sized to the host, warms up for a fixed number of rounds, then runs a
closed loop of timed operations sized to ``--seconds``, checking every
operation's output outside the clock.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics (from spans and the Spark event log) with
``--trace 1``. A full record of the run (host, load, every latency,
warm-up evidence, spans) goes to ``.bench_work/records/``.
See ``medallion_bench/LAYERS.md`` for what every metric means.
"""

from __future__ import annotations

import argparse
import glob
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# workload -> (constructor kwargs, full-size warm-up rounds, typical warm
# round time in seconds on a 4-core host).
#
# Warm-up is a fixed number of rounds. Latency still falls for about eight
# drains, which is more than a run can afford. A stop rule of "no longer
# falling" fired on noise after three or four rounds, and the varying
# warm-up count became most of the run-to-run spread. The run records
# whether the last warm round was still falling.
#
# The timed loop runs round(--seconds / typical) whole rounds, at least
# two. A loop that ran "until --seconds" would flip between N and N+1
# rounds as latency crossed --seconds / N, and that flip would set the
# spread.
SPEC = {
    "ingest_batches": ({"rows": 12_000, "first_rows": 2_000}, 1, 4.9),
    "stream_drains": ({"rows": 5_000}, 4, 2.7),
    "query_mix": ({"rows_scale": 0.25, "first_rows_scale": 0.05}, 1, 4.0),
}
WARM_FALLING = 0.95  # a round < 95 % of the best earlier one is still warming


def _parse() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(SPEC))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


# --- host facts --------------------------------------------------------------


def _meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _steal_share(before: list[int], after: list[int]) -> float:
    d = [a - b for a, b in zip(after, before)]
    total = sum(d[:8])
    return d[7] / total if total > 0 and len(d) > 7 else 0.0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids.setdefault(int(fields[1]), []).append(int(stat.split("/")[2]))
    return kids


def _tree(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _tree_hwm_mb(jvm_pid: int | None) -> float:
    """Sum of peak resident sizes: this Python process, the JVM and every
    process under it (the Python workers)."""
    pids = [os.getpid()] + (_tree(jvm_pid) if jvm_pid else [])
    return sum(_hwm_mb(p) for p in pids)


# --- session -----------------------------------------------------------------


def _configure_env(work: str, trace: bool) -> dict[str, str]:
    """Size Spark to the host and keep every scratch file inside ``work``."""
    cores = len(os.sched_getaffinity(0))
    heap_gb = max(1, min(2, _meminfo_kb("MemTotal") // (4 * 1024 * 1024)))
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": f"{heap_gb}g",
            "SPARK_LOCAL_DIRS": f"{work}/spark-local",
            "TMPDIR": f"{work}/tmp",
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
            "PYSPARK_PYTHON": sys.executable,
        }
    )
    tempfile.tempdir = None
    conf = {
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{work}/eventlog",
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def _stop_spark(spark, descendants: list[int]) -> None:
    """Stop the session, the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 20
    for pid in descendants:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except OSError:
                pass


# --- the run -----------------------------------------------------------------


def _geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def _kind_medians(ops: list[dict]) -> dict[str, float]:
    kinds: dict[str, list[float]] = {}
    for o in ops:
        if o["latency_s"] is not None:
            kinds.setdefault(o["kind"], []).append(o["latency_s"])
    return {k: statistics.median(v) for k, v in kinds.items()}


def main() -> int:
    t_main = time.perf_counter()
    args = _parse()
    sys.path.insert(1, ROOT)
    import spans as T
    import workloads as W
    from chicago_crash_data_pipeline_dashboard_spark.session import get_spark

    kwargs, n_warm, round_s = SPEC[args.workload]
    n_timed = max(2, round(args.seconds / round_s))
    wl = {"ingest_batches": W.IngestBatches, "stream_drains": W.StreamDrains, "query_mix": W.QueryMix}[
        args.workload
    ](rounds=1 + n_warm + n_timed, **kwargs)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    base = os.path.join(ROOT, ".bench_work")
    work = os.path.join(base, run_id)
    records = os.path.join(base, "records")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(records, exist_ok=True)
    conf = _configure_env(work, bool(args.trace))

    phase_s = {"imports": time.perf_counter() - t_main}
    t = time.perf_counter()
    sizes = wl.prepare(work, args.seed)
    phase_s["generate"] = time.perf_counter() - t
    cpu0, load0 = _cpu_times(), os.getloadavg()

    t_launch = time.perf_counter()
    spark = get_spark(app_name=f"medallion-bench-{run_id}", extra_conf=conf)
    session_start_s = time.perf_counter() - t_launch
    from pyspark import SparkContext

    jvm_proc = getattr(SparkContext._gateway, "proc", None)
    jvm_pid = jvm_proc.pid if jvm_proc else None
    cores = spark.sparkContext.defaultParallelism
    ops: list[dict] = []
    peak_rss = 0.0
    try:
        tracer = T.Tracer(bool(args.trace), run_id, spark.sparkContext)
        wl.start(spark, tracer)

        def run_round(phase: str) -> float:
            nonlocal peak_rss
            spent = 0.0
            for kind, fn in wl.run_round():
                idx = len(ops)
                tracer.op_index = idx
                rec = {"i": idx, "phase": phase, "kind": kind, "latency_s": None, "ok": False, "msg": ""}
                with tracer.span("op", kind=kind, phase=phase):
                    t0 = time.perf_counter()
                    try:
                        result = fn()
                        rec["latency_s"] = time.perf_counter() - t0
                    except Exception as exc:  # a failed operation is counted, the run goes on
                        rec["msg"] = f"{type(exc).__name__}: {exc}"[:500]
                tracer.op_index = None
                if rec["latency_s"] is not None:
                    spent += rec["latency_s"]
                    t_check = time.perf_counter()
                    try:
                        rec["ok"], rec["msg"] = wl.check(kind, result)
                    except Exception as exc:
                        rec["msg"] = f"check {type(exc).__name__}: {exc}"[:500]
                    rec["check_s"] = time.perf_counter() - t_check
                    if wl.facts:
                        wl.facts[-1]["phase"] = phase
                ops.append(rec)
                peak_rss = max(peak_rss, _tree_hwm_mb(jvm_pid))
            return spent

        # warm-up: the cold round (small inputs: it pays class loading and code
        # generation), then n_warm full-size rounds
        warm_rounds = [run_round("warm") for _ in range(1 + n_warm)]
        setup_s = session_start_s + sum(warm_rounds)
        load_warm = os.getloadavg()

        # timed closed loop: n_timed whole rounds
        cpu1 = _cpu_times()
        loop_s = sum(run_round("timed") for _ in range(n_timed))
        cpu2, load_end = _cpu_times(), os.getloadavg()
        timed = [o for o in ops if o["phase"] == "timed"]

        phase_s["checks"] = sum(o.get("check_s", 0.0) for o in ops)
        t = time.perf_counter()
        final_ok, final_msg, final_spans = wl.finish()
        phase_s["finish"] = time.perf_counter() - t
        peak_rss = max(peak_rss, _tree_hwm_mb(jvm_pid))
    finally:
        descendants = [p for p in _tree(jvm_pid) if p != jvm_pid] if jvm_pid else []
        t = time.perf_counter()
        _stop_spark(spark, descendants)
        phase_s["stop"] = time.perf_counter() - t

    completed = [o for o in timed if o["latency_s"] is not None]
    n_ok = sum(o["ok"] for o in timed)
    medians = _kind_medians(completed)
    e2e = {
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak_rss, "MB"),
        "ok_op_share": (n_ok / len(timed) if timed else 0.0, "share"),
        "op_geomean_s": (_geomean(list(medians.values())), "s"),
        "ops_per_s": (len(completed) / loop_s if loop_s > 0 else 0.0, "1/s"),
    }
    by_kind: dict[str, list[dict]] = {}
    for o in completed:
        by_kind.setdefault(o["kind"], []).append(o)
    first = _kind_medians([o for v in by_kind.values() for o in v[: max(len(v) // 2, 1)]])
    second = _kind_medians([o for v in by_kind.values() for o in v[len(v) // 2 :]])
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "seconds": args.seconds,
        "sizes": sizes,
        "host": {
            "cores": cores,
            "heap": os.environ["SPARK_GRAFT_DRIVER_MEM"],
            "mem_total_mb": _meminfo_kb("MemTotal") // 1024,
            "loadavg_start": load0,
            "loadavg_after_warmup": load_warm,
            "loadavg_end": load_end,
            "cpu_steal_share_setup": _steal_share(cpu0, cpu1),
            "cpu_steal_share_timed": _steal_share(cpu1, cpu2),
        },
        "session_start_s": session_start_s,
        "process_wall_s": None,
        "phase_s": phase_s,
        "warm_round_s": warm_rounds,
        "timed_loop_s": loop_s,
        "kind_median_s": medians,
        "warm_evidence": {
            "first_half_kind_median_s": first,
            "second_half_kind_median_s": second,
            "second_over_first_geomean": _geomean([second[k] / first[k] for k in first if first[k] > 0]),
            "completed_timed_ops": len(completed),
            "last_warm_round_still_falling": len(warm_rounds) > 2
            and warm_rounds[-1] < WARM_FALLING * min(warm_rounds[1:-1]),
        },
        "final_check": {"ok": final_ok, "msg": final_msg},
        "ops": ops,
        "end_to_end": {k: v for k, (v, _u) in e2e.items()},
    }

    if args.trace:
        metrics = _layer_metrics(T, wl, tracer, work, timed, cores, session_start_s, setup_s, final_spans)
        geo = e2e["op_geomean_s"][0]
        untraced = _read_json(os.path.join(records, f"latest_{args.workload}_trace0.json"))
        base_geo = untraced.get("op_geomean_s") if untraced else None
        metrics["bench.op_geomean_traced_s"] = (geo, "s")
        metrics["bench.trace_overhead_s"] = (geo - base_geo if base_geo else 0.0, "s")
        record["trace_overhead"] = {"traced_op_geomean_s": geo, "untraced_op_geomean_s": base_geo}
        tracer.dump(os.path.join(records, f"{run_id}_spans.json"))
        print(
            f"tracing overhead on {args.workload}: traced op_geomean_s {geo:.4f}"
            + (f" - untraced {base_geo:.4f} = {geo - base_geo:+.4f} s" if base_geo else " (no untraced run yet)"),
            file=sys.stderr,
        )
    else:
        metrics = e2e
        with open(os.path.join(records, f"latest_{args.workload}_trace0.json"), "w") as f:
            json.dump({k: v for k, (v, _u) in e2e.items()}, f)
    record["metrics"] = {k: v for k, (v, _u) in metrics.items()}
    record["process_wall_s"] = time.perf_counter() - t_main
    with open(os.path.join(records, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    failed = len(timed) - n_ok
    correct = bool(timed) and failed == 0 and final_ok and all(o["ok"] for o in ops)
    for o in ops:
        if not o["ok"]:
            print(f"FAILED op {o['i']} ({o['phase']} {o['kind']}): {o['msg']}", file=sys.stderr)
    if not final_ok:
        print(f"FAILED final check: {final_msg}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": len(timed),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def _read_json(path: str) -> dict | None:
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _layer_metrics(T, wl, tracer, work, timed, cores, session_start_s, setup_s, final_spans):
    """Every per-layer metric named in LAYERS.md; 0 for a module the
    workload does not call."""
    logs = [p for p in glob.glob(f"{work}/eventlog/*") if not p.endswith(".inprogress")]
    jobs = T.read_event_log(logs[0]) if logs else []
    timed_ops = [o["i"] for o in timed]
    spans = [s for s in tracer.spans if s["end"] is not None]
    per_span = T.span_counters(spans, jobs)
    out = {k: (v, _counter_unit(k)) for k, v in T.layer_counters(spans, per_span, timed_ops, cores).items()}

    in_timed = [s for s in spans if s["op"] in set(timed_ops)]

    def dur(name, **match):
        return _mean(
            s["end"] - s["start"]
            for s in in_timed
            if s["name"] == name and all(s.get(k) == v for k, v in match.items())
        )

    facts = [f for f in wl.facts if f.get("phase") == "timed"]

    def fsum(key):
        return sum(f.get(key, 0) for f in facts)

    def share(num, den):
        return num / den if den else 0.0

    def span_s(key):
        s = final_spans.get(key)
        return s["end"] - s["start"] if s and s.get("end") else 0.0

    gold_files = [f["gold_files"] for f in wl.facts if "gold_files" in f]
    gold_new = [b - a for a, b in zip([0] + gold_files, gold_files)]
    timed_gold_new = [n for n, f in zip(gold_new, [f for f in wl.facts if "gold_files" in f]) if f.get("phase") == "timed"]
    builds = [s for s in in_timed if s["name"] == "plans.build"]
    clean_in = fsum("rows_in") + fsum("clean_rows_in")
    clean_out = fsum("rows_out") + fsum("clean_rows_out")
    rows = {
        "session.start_s": (session_start_s, "s"),
        "session.warm_s": (setup_s - session_start_s, "s"),
        "sources.bronze.write_s": (dur("sources.bronze.write"), "s"),
        "sources.bronze.read_s": (dur("sources.bronze.read"), "s"),
        "sources.bronze.files_written": (_mean(f["bronze_files"] for f in facts if "bronze_files" in f), "count"),
        "sources.bronze.bytes_written": (_mean(f["bronze_bytes"] for f in facts if "bronze_bytes" in f), "bytes"),
        "operators.transform.build_s": (dur("operators.transform.build"), "s"),
        "sources.silver.write_s": (dur("sources.silver.write"), "s"),
        "sources.silver.read_s": (dur("sources.silver.read"), "s"),
        "sources.silver.bytes_written": (_mean(f["silver_bytes"] for f in facts if "silver_bytes" in f), "bytes"),
        "operators.clean.call_s": (dur("operators.clean.call"), "s"),
        "operators.clean.rows_out_share": (share(clean_out, clean_in), "share"),
        "operators.gold.upsert_s": (dur("operators.gold.upsert"), "s"),
        "operators.gold.insert_share": (share(fsum("inserted"), fsum("rows_out") - fsum("late_dropped")), "share"),
        "operators.gold.existing_rows": (_mean(f["existing_rows"] for f in facts if "existing_rows" in f), "rows"),
        "operators.gold.files_written": (_mean(timed_gold_new), "count"),
        "operators.gold.integrity_s": (span_s("integrity_span"), "s"),
        "streaming.ingest.drain_s": (dur("streaming.ingest.drain"), "s"),
        "streaming.ingest.micro_batches": (_mean(f["micro_batches"] for f in facts if "micro_batches" in f), "count"),
        "streaming.ingest.zero_drain_s": (span_s("zero_drain_span"), "s"),
        "streaming.ingest.late_drop_share": (
            share(fsum("late_dropped"), sum(f["rows_in"] for f in facts if "late_dropped" in f)),
            "share",
        ),
        "plans.build_s": (dur("plans.build"), "s"),
        "plans.build_jobs": (_mean(per_span[s["id"]]["jobs"] for s in builds), "count"),
        "plans.collect_s": (dur("plans.collect"), "s"),
        "plans.collect_rows": (_mean(f["rows"] for f in facts if "query" in f), "rows"),
        "plans.crash_ops.collect_s": (dur("plans.collect", module="crash_ops"), "s"),
        "plans.llm_ops.collect_s": (dur("plans.collect", module="llm_ops"), "s"),
        "plans.analytics.collect_s": (dur("plans.collect", module="analytics"), "s"),
    }
    out.update(rows)
    return out


def _counter_unit(name: str) -> str:
    c = name.rsplit(".", 1)[1]
    return {"jobs": "count", "tasks": "count", "slot_share": "share"}.get(
        c, "bytes" if c.endswith("_bytes") else "s"
    )


if __name__ == "__main__":
    sys.exit(main())
