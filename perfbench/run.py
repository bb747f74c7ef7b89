"""Benchmark entry point: one closed-loop client drives the engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload all --seed N --seconds S

The client sends the next request only after the previous one has
completed and been checked, on ``local[nproc]`` with ``nproc`` shuffle
partitions. Set-up (session start, seeded input generation, untimed
warm-up requests) is timed as ``setup_s``; then whole rounds of requests,
at least two, run until their summed latency reaches ``--seconds``.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` instead
records spans around each layer call and prints the per-layer metrics.
The last stdout line is one JSON object: correct, attempted, failed,
metrics. A line before it (``{"detail": ...}``) stamps the seed, nproc,
load average, sample counts and the tail percentile used.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

JVM_HEAP = "2g"


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=3.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _isolate(work: str) -> None:
    """Point every temporary write of this process, the JVM and the Python
    workers at ``work`` (inside the checkout)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        SPARK_GRAFT_DRIVER_MEM=JVM_HEAP,
        SPARK_LAUNCHER_OPTS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=(
            # a fixed, pre-touched heap keeps peak RSS from tracking
            # when G1 happens to grow the heap
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            f" -Xms{JVM_HEAP} -XX:+AlwaysPreTouch'"
            " --conf spark.ui.showConsoleProgress=false"
            " pyspark-shell"
        ),
    )
    tempfile.tempdir = tmp


def _stop(spark) -> None:
    """Stop Spark, end the JVM and wait for every process below us."""
    from pyspark import SparkContext

    from perfbench.probes import descendants

    kids = [p for p in descendants(os.getpid()) if p != os.getpid()]
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    for pid in kids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def _reap() -> None:
    """Kill whatever still runs below this process (a run cut off while
    the JVM was starting leaves it behind) and wait until it has ended."""
    from perfbench.probes import descendants

    kids = [p for p in descendants(os.getpid()) if p != os.getpid()]
    for pid in kids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 30
    for pid in kids:
        try:
            os.waitpid(pid, 0)  # a child of ours
        except ChildProcessError:  # a grandchild: init reaps it
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)


def run(args, work: str, t_start: float) -> tuple[dict, dict]:
    from perfbench import probes, workloads
    from perfbench.probes import Tracer

    nproc = len(os.sched_getaffinity(0))
    tracer = Tracer(enabled=False)
    detail = {"workload": args.workload, "seed": args.seed, "nproc": nproc,
              "loadavg_1m_start": os.getloadavg()[0]}

    from metadata_extractors_api_spark import Engine
    from metadata_extractors_api_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(master=f"local[{nproc}]", shuffle_partitions=nproc)
    get_spark_s = time.perf_counter() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        ctx = workloads.Context(spark, Engine(spark), tracer,
                                probes.JobCounter(spark.sparkContext),
                                args.seed, work)
        tracer.enabled = bool(args.trace)  # spans of set-up fetch/load
        w = workloads.make(args.workload, ctx)
        tracer.enabled = False
        notes = w.warm_up()
        oracle_s = getattr(w, "oracle_s", 0.0)
        setup_s = time.perf_counter() - t_start - oracle_s
        detail["setup_excludes_oracle_s"] = oracle_s
        detail["setup_notes"] = notes

        tracer.enabled = bool(args.trace)
        lat, outcomes, counts = [], [], []
        rounds: list[list[float]] = []  # [items, seconds] per whole round
        busy = 0.0
        i = 0
        # whole rounds until --seconds is reached, and at least two, so
        # that a median over rounds is not one round's figure
        while busy < args.seconds or i % w.round_size or len(rounds) < 2:
            if i % w.round_size == 0:
                rounds.append([0, 0.0])
            req = w.next_request()
            rid = f"r{i}"
            tracer.request = rid
            t = time.perf_counter()
            try:
                with tracer.span("request"):
                    out = w.send(req, rid)
                dt = time.perf_counter() - t
                outcome = w.check(req, out)
            except Exception as e:  # a raising request counts as failed
                dt = time.perf_counter() - t
                outcome = workloads.Outcome(False, 0, {"error": repr(e)[:300]})
            if tracer.enabled:
                with tracer.span(workloads.COUNTS):
                    counts.append(ctx.jobs.counts(rid))
            busy += dt
            rounds[-1][0] += outcome.items
            rounds[-1][1] += dt
            lat.append(dt)
            outcomes.append(outcome)
            i += 1
        rss = probes.peak_rss_mb()
    finally:
        _stop(spark)

    failed = sum(not o.ok for o in outcomes)
    items = sum(o.items for o in outcomes)
    tail, tail_at = probes.tail_latency(lat)
    detail.update(
        loadavg_1m_end=os.getloadavg()[0], samples=len(lat), rounds=len(rounds),
        latencies_s=[round(x, 3) for x in lat],
        req_tail_percentile=tail_at,
        failed_frac=failed / len(lat),
        errors=[o.stats["error"] for o in outcomes if "error" in o.stats][:3],
    )
    detail["queries_per_s" if args.workload == "query_mix" else "files_per_s"] = items / busy
    if not args.trace:
        metrics = {
            "setup_s": (setup_s, "s"),
            "items_per_s": (statistics.median(n / t for n, t in rounds), "1/s"),
            "req_p50_s": (statistics.median(lat), "s"),
            "req_tail_s": (tail, "s"),
            "success_frac": (1 - failed / len(lat), "frac"),
            "peak_rss_mb": (rss, "MB"),
        }
    else:
        metrics = _layer_metrics(w, tracer, outcomes, counts, get_spark_s, w.first_req_s)
        os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
        with open(os.path.join(HERE, ".out", f"spans-{args.workload}-{args.seed}.json"), "w") as f:
            json.dump(tracer.dump(), f)
    result = {
        "correct": failed == 0 and not notes,
        "attempted": len(lat),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, detail


def _median(xs) -> float:
    """Median, or 0.0 for a layer the workload never reaches."""
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _layer_metrics(w, tracer, outcomes, counts, get_spark_s, warm_s) -> dict:
    from perfbench import workloads as W

    med = tracer.median
    stats = [o.stats for o in outcomes if o.ok and "rows" in o.stats]

    def med_stat(f):
        return _median(f(s) for s in stats)

    # traced-only work (and reading the counts) over the rest of the
    # traced requests' time
    extra = sum(tracer.total(n) for n in W.TRACE_ONLY)
    base = tracer.total("request") + tracer.total(W.COUNTS) - extra
    m = {
        "session.get_spark_s": (get_spark_s, "s"),
        "warmup.first_req_s": (warm_s, "s"),
        W.FETCH: (med(W.FETCH), "s"),
        "sources.registry_fetch.snapshot_bytes": (getattr(w, "snapshot_bytes", 0), "bytes"),
        W.LOAD: (med(W.LOAD), "s"),
        W.RESOLVE_BUILD: (med(W.RESOLVE_BUILD), "s"),
        W.RESOLVE_RUN: (med(W.RESOLVE_RUN), "s"),
        "plans.extract_batch.dispatch_ratio": (
            med_stat(lambda s: s["dispatched"] / s["submitted"]), "frac"),
        W.EXECUTE_BUILD: (med(W.EXECUTE_BUILD), "s"),
        W.EXECUTE_RUN["python"]: (med(W.EXECUTE_RUN["python"]), "s"),
        W.EXECUTE_RUN["cli"]: (med(W.EXECUTE_RUN["cli"]), "s"),
        "plans.extract_batch.execute_dispatched.execute_cli_ms_per_file": (
            _median(getattr(w, "cli_ms_per_file", ())), "ms"),
        "plans.extract_batch.execute_dispatched.rows_per_file": (
            med_stat(lambda s: s["rows"] / max(s["dispatched"], 1)), "count"),
        "sink.parquet_bytes": (med_stat(lambda s: s.get("sink_bytes", 0)), "bytes"),
        W.SINK_PARQUET: (med(W.SINK_PARQUET), "s"),
        W.SINK_COLLECT: (med(W.SINK_COLLECT), "s"),
    }
    # mean over whole requests (query_mix: whole rounds of distinct queries)
    for k, name in enumerate(("jobs", "stages", "tasks")):
        m[f"spark.{name}_per_req"] = (sum(c[k] for c in counts) / len(counts), "count")
    for metric in W.QUERY_METRICS.values():
        m[metric] = (med(metric), "s")
    m["trace.overhead_frac"] = (extra / base if base > 0 else 0.0, "frac")
    return m


def run_all(args) -> int:
    """Every workload, one child process each, in sequence."""
    from perfbench.workloads import WORKLOADS

    code = 0
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        res = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = res.stdout.strip().splitlines()
        print(f"== {name} (exit {res.returncode})")
        print("\n".join(lines[-2:]))
        code = code or res.returncode
    return code


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = _args(argv)
    # end through the ``finally`` blocks below, which stop Spark and its
    # workers and remove the work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    if args.workload == "all":
        return run_all(args)
    base = os.path.join(HERE, ".work")
    os.makedirs(base, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    try:
        _isolate(work)
        result, detail = run(args, work, t_start)
    finally:
        _reap()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
