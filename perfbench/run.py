"""The repo's benchmark: one closed-loop workload on a single-process
``local[<nproc>]`` Spark session, with every output checked against the
engine's oracles.

    python3 perfbench/run.py --workload spatial_queries --seed 1 --seconds 8 --trace 0

Run from the repository root. One run:

1. starts the engine (``session.get_spark`` with the program's own
   defaults apart from master and cores) and warms the Python workers --
   ``setup_s``;
2. builds the seeded inputs (inputs.py), cached under
   ``.perfbench_cache/`` by (seed, size) -- reported as ``inputs_s``,
   outside every metric;
3. runs every operation of the workload once in a fixed order
   (``cold_op_s``), then whole seed-permuted rounds of them until
   ``--seconds`` have passed and two rounds at least, one client, each
   operation under a timeout;
4. checks the last output of every operation against its oracle, outside
   the timed region, and stops the engine and every process it started.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. ``--trace 1`` runs in its own
session with Spark's event log on, alternates untraced and traced rounds
(spans.py), and writes every span to ``.perfbench_cache/trace/``. Details
(per-operation times, Spark conf, host) go to stderr and to
``.perfbench_cache/results/``. The exit code is non-zero when an output
differs from its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

import layers
import spans
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
OP_TIMEOUT_S = 120.0  # a slower op is cancelled and counted as failed
# the end-to-end metrics printed with --trace 0; peak_rss_mb moves with the
# JVM's lazy heap growth by ~25% between runs, so it is a per-layer metric
UNITS = {"items_per_s": "1/s", "op_p50_s": "s", "cold_op_s": "s", "setup_s": "s",
         "ok_ops_frac": "ratio"}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def confine_to_checkout() -> None:
    """Point every scratch location of Spark, the JVM and the Python
    workers into the cache, and let the workers import the engine."""
    tmp = os.path.join(CACHE, "tmp")
    local = os.path.join(CACHE, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    for p in (HERE, ROOT):
        if p not in sys.path:
            sys.path.insert(0, p)


class RssSampler:
    """Peak summed resident memory of this process and all its
    descendants (the JVM and its Python workers), sampled from /proc
    while ``active`` is set."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            if self.active.is_set():
                self.peak_bytes = max(self.peak_bytes, self._tree_rss())

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class Engine:
    """One Spark session on ``local[<cores>]`` and the JVM behind it."""

    def __init__(self, cores: int, event_log: str | None) -> None:
        self.cores = cores
        self.extra = {}
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            self.extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }

    def start(self):
        """Start the session and warm every Python worker; returns
        (session start seconds, setup seconds)."""
        from web_template_forensics_spark import session
        from web_template_forensics_spark.functions.text_udfs import token_count_udf

        t0 = time.perf_counter()
        self.spark = session.get_spark("perfbench", cores=self.cores, extra_conf=self.extra)
        start_s = time.perf_counter() - t0
        self.spark.range(0, self.cores * 10, 1, self.cores).selectExpr(
            "cast(id as string) s"
        ).select(token_count_udf("s")).count()
        return start_s, time.perf_counter() - t0

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits at EOF on its stdin
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def run_op(spark, wl, op: str, timeout_s: float) -> tuple[bool, float, object, int, str | None]:
    """Run one operation under a timeout that cancels its Spark jobs.
    Returns (ok, wall seconds, result, items, error)."""
    timer = threading.Timer(timeout_s, spark.sparkContext.cancelAllJobs)
    timer.start()
    t0 = time.perf_counter()
    try:
        result, items = wl.run(spark, op)
        return True, time.perf_counter() - t0, result, items, None
    except Exception as e:  # noqa: BLE001 -- a failed op is counted, the loop goes on
        wall = time.perf_counter() - t0
        kind = "timeout" if wall >= timeout_s else type(e).__name__
        return False, wall, None, 0, f"{kind}: {str(e)[:300]}"
    finally:
        timer.cancel()


def measure(spark, wl, tracer: spans.Tracer, rss: RssSampler, seed: int, seconds: float,
            traced_rounds: bool) -> tuple[list[dict], dict, int, float]:
    """The cold round, then whole warm rounds until ``seconds`` have
    passed. Returns (one record per attempted op, last successful result
    per op, warm rounds, window seconds)."""
    records: list[dict] = []
    last: dict[str, object] = {}

    def one(op: str, phase: str, traced: bool) -> None:
        tracer.enabled = traced
        wl.plan_s = None
        rss.active.set()
        if traced:
            with tracer.span(f"op.{op}", kind="op"):
                ok, wall, res, items, err = run_op(spark, wl, op, OP_TIMEOUT_S)
            tracer.release()
        else:
            ok, wall, res, items, err = run_op(spark, wl, op, OP_TIMEOUT_S)
        rss.active.clear()
        tracer.enabled = False
        records.append({"op": op, "phase": phase, "traced": traced, "ok": ok, "wall_s": wall,
                        "items": items, "error": err, "plan_s": wl.plan_s})
        if ok:
            last[op] = res
        else:
            log(f"{op} failed: {err}")

    # fixed order: the first op also pays the session's first-use costs
    for op in wl.op_names:
        one(op, "cold", False)
    t0 = time.perf_counter()
    round_no = 0
    # whole rounds, so every op runs equally often, and two at least, so a
    # run on a slowed host still takes as many samples as the others. A
    # traced run alternates untraced and traced rounds.
    while time.perf_counter() - t0 < seconds or round_no < 2:
        for op in workloads.permuted(wl.op_names, seed, round_no):
            one(op, "warm", traced_rounds and round_no % 2 == 1)
        round_no += 1
    return records, last, round_no, time.perf_counter() - t0


def check_outputs(wl, last: dict, records: list[dict]) -> dict[str, list[str]]:
    """Every op's last output against its oracle, plus every invariant
    the engine itself asserted during the loop; op -> problems."""
    problems: dict[str, list[str]] = {}
    for r in records:
        if (r["error"] or "").startswith("AssertionError"):
            problems.setdefault(r["op"], []).append(r["error"])
    for op in wl.op_names:
        if op not in last:
            problems.setdefault(op, []).append("no successful execution to check")
            continue
        try:
            found = wl.check(op, last[op])
        except Exception as e:  # noqa: BLE001 -- a broken check is a failed check
            found = [f"check raised {type(e).__name__}: {str(e)[:300]}"]
        if found:
            problems.setdefault(op, []).extend(found)
    return problems


def _median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def layer_metrics(tracer: spans.Tracer, event_log: str, records: list[dict], rounds: int,
                  wl, slots: int) -> tuple[dict[str, float], list[dict]]:
    """Per-layer metrics of a traced run, and its span table."""
    rows = spans.span_table(
        tracer.spans, spans.span_counters(spans.read_event_log(event_log), tracer.spans), slots
    )
    metrics = layers.layer_values(rows)
    warm = [r for r in records if r["phase"] == "warm" and r["ok"]]
    untraced = sum(_median(r["wall_s"] for r in warm if r["op"] == op and not r["traced"])
                   for op in wl.op_names)
    traced = sum(_median(r["wall_s"] for r in warm if r["op"] == op and r["traced"])
                 for op in wl.op_names)
    # layer self times partition the part of a traced op the layers cover
    layer_s = sum(r["self_s"] for r in rows if r["kind"] == "layer") / max(1, rounds // 2)
    metrics["trace.overhead_frac"] = traced / untraced - 1 if untraced else 0.0
    metrics["trace.layer_coverage_frac"] = layer_s / traced if traced else 0.0
    metrics["trace.untraced_gap_frac"] = 1 - layer_s / untraced if untraced else 0.0
    for q in layers.QUERY_NAMES:
        metrics[f"queries.{q}.plan_s"] = _median(
            r["plan_s"] for r in warm if r["op"] == q and not r["traced"] and r["plan_s"] is not None
        )
    return metrics, rows


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    confine_to_checkout()
    run_id = f"{args.workload}_s{args.seed}_t{args.trace}_{os.getpid()}"
    event_log = os.path.join(CACHE, "eventlog", run_id) if args.trace else None
    wl = workloads.make(args.workload, os.path.join(CACHE, "inputs"))
    cores = nproc()
    engine = Engine(cores, event_log)
    tracer = spans.Tracer()
    if args.trace:
        spans.instrument(tracer)

    with RssSampler() as rss:
        start_s, setup_s = engine.start()
        spark = tracer.spark = engine.spark
        log(f"{args.workload}: engine up in {setup_s:.2f}s on local[{cores}]")
        try:
            t0 = time.perf_counter()
            wl.prepare(spark, args.seed)
            inputs_s = time.perf_counter() - t0
            log(f"inputs ready in {inputs_s:.2f}s")
            records, last, rounds, window_s = measure(
                spark, wl, tracer, rss, args.seed, args.seconds, bool(args.trace)
            )
            t0 = time.perf_counter()
            problems = check_outputs(wl, last, records)
            checks_s = time.perf_counter() - t0
            conf = dict(spark.sparkContext.getConf().getAll())
            master = spark.sparkContext.master
        finally:
            t0 = time.perf_counter()
            wl.cleanup()
            engine.stop()
            stop_s = time.perf_counter() - t0

    warm = [r for r in records if r["phase"] == "warm" and r["ok"] and not r["traced"]]
    cold = {r["op"]: r["wall_s"] for r in records if r["phase"] == "cold" and r["ok"]}
    attempted = len(records)
    failed = sum(not r["ok"] for r in records)
    e2e = {
        "items_per_s": sum(r["items"] for r in warm) / max(1e-9, sum(r["wall_s"] for r in warm)),
        "op_p50_s": _median(r["wall_s"] for r in warm),
        "cold_op_s": _median(cold.values()),
        "setup_s": setup_s,
        "ok_ops_frac": (attempted - failed) / attempted,
        "peak_rss_mb": rss.peak_bytes / 2**20,
    }
    per_op = {}
    for op in wl.op_names:
        ws = sorted(r["wall_s"] for r in warm if r["op"] == op)
        per_op[op] = {"cold_s": cold.get(op), "warm_n": len(ws), "warm_median_s": _median(ws),
                      "warm_min_s": ws[0] if ws else None, "warm_max_s": ws[-1] if ws else None}
    details = {
        "workload": args.workload, "item": wl.item, "seed": args.seed,
        "sizes": wl.sizes, "seconds": args.seconds, "window_s": window_s, "rounds": rounds,
        "nproc": cores, "master": master, "spark_conf": conf, "session_start_s": start_s,
        "inputs_s": inputs_s, "checks_s": checks_s, "stop_s": stop_s,
        "warm_ops": len(warm), "per_op": per_op,
        "end_to_end": e2e, "problems": problems,
        "failures": [r for r in records if not r["ok"]],
    }

    if args.trace:
        metrics, rows = layer_metrics(tracer, event_log, records, rounds, wl, cores)
        shutil.rmtree(event_log)  # tens of MB; the span table keeps what it held
        metrics["session.start_s"] = start_s
        metrics["engine.peak_rss_mb"] = e2e["peak_rss_mb"]
        specs = layers.metric_specs()
        metrics = {s["name"]: metrics.get(s["name"], 0.0) for s in specs}
        units = {s["name"]: s["unit"] for s in specs}
        out_path = os.path.join(CACHE, "trace", f"{run_id}.json")
        os.makedirs(os.path.dirname(out_path), exist_ok=True)
        with open(out_path, "w") as fh:
            json.dump({"details": details, "layers": specs, "metrics": metrics, "spans": rows},
                      fh, indent=1, default=str)
        log(f"trace written to {out_path}")
    else:
        metrics = {k: e2e[k] for k in UNITS}
        units = UNITS

    res_path = os.path.join(CACHE, "results", f"{run_id}.json")
    os.makedirs(os.path.dirname(res_path), exist_ok=True)
    with open(res_path, "w") as fh:
        json.dump(details, fh, indent=1, default=str)
    log(json.dumps({k: v for k, v in details.items() if k != "spark_conf"}, default=str))
    correct = not problems
    if not correct:
        log(f"OUTPUT MISMATCH: {json.dumps(problems)[:2000]}")
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
