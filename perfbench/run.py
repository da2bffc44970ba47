"""Benchmark of the two-stage engine: one workload per run.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from the
seed, starts a SparkSession at local[<cores>] sized from /proc/meminfo,
builds the index from scratch, times a closed loop for ``--seconds``,
checks every sampled output against the BM25 oracle, and prints:

* a report line with the per-operation figures of this workload;
* as the last line, ``{"correct", "attempted", "failed", "metrics"}``,
  where ``metrics`` holds the end-to-end metrics (``--trace 0``) or the
  per-layer metrics (``--trace 1``).

A wrong output makes the run exit with code 1. Everything the run writes
(inputs, index, Spark scratch and event log) stays under
``.perfbench_work/`` in the repository root and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: end-to-end metric name -> unit, in the order BENCHMARK.json lists them
E2E_UNITS = {
    "setup_s": "s",
    "search_p50_ms": "ms",
    "rank_p50_ms": "ms",
    "work_per_s": "1/s",
    "index_bytes_per_text_byte": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["serve", "bulk"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiplies every corpus and batch size "
                         "(the smoke test runs at 0.1)")
    return ap.parse_args(argv)


def meminfo_kb() -> dict:
    out = {}
    with open("/proc/meminfo") as f:
        for line in f:
            key, val = line.split(":", 1)
            out[key] = int(val.split()[0])
    return out


def driver_heap_mb() -> int:
    """A quarter of the memory available now, between 1 and 4 GiB."""
    mi = meminfo_kb()
    avail = min(mi["MemTotal"], mi.get("MemAvailable", mi["MemTotal"]))
    return int(min(4096, max(1024, avail // 4 // 1024)))


def configure_env(work: str, trace: bool) -> None:
    """Keep every file Spark, the JVM and Python write under ``work``."""
    from spans import event_log_conf

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIR"] = local
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEM"] = f"{driver_heap_mb()}m"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    extra = {
        "spark.ui.showConsoleProgress": "false",
        # -XX:-UsePerfData: the JVM would otherwise keep its perf counters
        # under /tmp whatever java.io.tmpdir says
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "events")
        os.makedirs(log_dir, exist_ok=True)
        extra.update(event_log_conf(log_dir))
    os.environ["SPARK_EXTRA_CONF"] = json.dumps(extra)


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def descendants(pid: int) -> set:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until every process this
    run started (JVM, Python workers) has ended."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    jvm = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if jvm is not None:
        if jvm.stdin:
            jvm.stdin.close()
        try:
            jvm.wait(timeout=60)
        except Exception:
            jvm.kill()
            jvm.wait()
    deadline = time.time() + 30
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in procs:
                if _alive(pid):
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
            deadline = time.time() + 10
        while time.time() < deadline:
            _reap()
            if not any(_alive(p) for p in procs):
                return
            time.sleep(0.1)


def p50_ms(samples: list) -> float:
    return 1e3 * statistics.median(samples)


def search_p50_ms(samples: dict) -> float:
    """Median over the search modes a workload uses of each mode's median
    call latency: modes differ in cost, so a plain median would jump
    with the mix of modes a short run happens to time."""
    return statistics.median(p50_ms(v) for k, v in samples.items()
                             if k.startswith("search.") and v)


def report(workload: str, h, loop: dict, setup_s: float, rss_mb: float,
           index_ratio: float) -> tuple[dict, dict]:
    """Figures per operation of this workload (by their long names), and
    the names that are absent with the reason."""
    s, c = h.samples, h.counters
    r = {"setup_s": (setup_s, "s"), "peak_rss_mb": (rss_mb, "MB"),
         "failed_ratio": (h.failed / max(1, h.attempted), "ratio"),
         "index_bytes_per_text_byte": (index_ratio, "ratio"),
         "build_docs_per_s": (len(h.inputs.base.doc_ids) / s["build"][0],
                              "docs/s")}
    absent = {}
    r["search_p50_ms"] = (search_p50_ms(s), "ms")
    for mode in ("bmw", "auto", "exhaustive"):
        if s[f"search.{mode}"]:
            r[f"search_{mode}_p50_ms"] = (p50_ms(s[f"search.{mode}"]), "ms")
    ops = {"search": [x for k, v in s.items() if k.startswith("search.")
                      for x in v],
           "rank": s["rank"], "delete": s["delete"]}
    for op, v in ops.items():
        if not v:
            continue
        if op != "search":
            r[f"{op}_p50_ms"] = (p50_ms(v), "ms")
        if len(v) >= 100:
            r[f"{op}_p90_ms"] = (1e3 * statistics.quantiles(v, n=10)[-1],
                                 "ms")
        else:
            absent[f"{op}_p90_ms"] = (f"{len(v)} samples; a p90 needs 10 "
                                      "beyond it (100)")
    if workload == "serve":
        r["serve_qps"] = (loop["work_items"] / loop["elapsed_s"], "queries/s")
    if workload == "bulk":
        r["bulk_search_qps"] = (loop["search_queries"]
                                / sum(s["search.bmw"]),
                                "queries/s")
        r["bulk_rank_qps"] = (loop["rank_queries"] / sum(s["rank"]),
                              "queries/s")
        r["append_docs_per_s"] = (c["appended_docs"] / sum(s["append"]),
                                  "docs/s")
        r["dedup_docs_per_s"] = (loop["dedup_docs"] / sum(s["dedup"]),
                                 "docs/s")
    return ({k: {"value": v, "unit": u} for k, (v, u) in r.items()},
            absent)


def choices(workload: str, h, loop: dict) -> dict:
    """The measured share of each workload's work that has the property
    it was chosen for."""
    from rerankers_spark.query import bmw

    out = {"query_term_bands": dict(h.inputs.queries.band_counts),
           "dense_route_query_share": loop["dense_queries"]
           / max(1, loop["queries"])}
    if workload == "serve":
        out["calls"] = loop["calls"]
        out["repeat_call_share"] = loop["repeat_share"]
    if workload == "bulk":
        out["cycles"] = loop["cycles"]
        out["pairs_per_search"] = loop["pairs_per_search"]
        out["qt_pair_cap"] = bmw.QT_PAIR_CAP
        out["docs_indexed"] = len(h.live) + len(h.deleted)
    return out


def run(args) -> int:
    from checks import replay
    from layers import UNITS, layer_metrics, run_probes
    from spans import Tracer, attribute_jobs
    import workloads as wl

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        configure_env(work, bool(args.trace))
        inputs = wl.make_inputs(args.workload, args.seed, args.scale,
                                os.path.join(work, "inputs"))
        from rerankers_spark.session import get_spark

        t_setup = time.perf_counter()
        cores = len(os.sched_getaffinity(0))
        spark = get_spark(f"perfbench-{args.workload}",
                          master=f"local[{cores}]")
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t_setup
        tracer = Tracer(spark.sparkContext, enabled=False)
        h = wl.Harness(spark, tracer, inputs, work, args.seed)
        runner = wl.RUNNERS[args.workload]
        tracer.enabled = bool(args.trace)
        wl.setup(h, args.workload)
        setup_s = time.perf_counter() - t_setup
        phases = {"session_s": session_s, "build_s": h.samples["build"][0],
                  "warm_up_s": setup_s - session_s - h.samples["build"][0]}
        tracer.overhead_s = 0.0
        loop = runner(h, args.seconds)
        if args.trace:
            # share of the traced loop spent in the tracer's bookkeeping
            overhead = tracer.overhead_s / loop["elapsed_s"]
            probe = run_probes(h, args.workload)
        index_ratio = h.index_bytes() / h.counters["indexed_text_bytes"]
        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        rss = vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)
        stop_spark(spark)
        spark = None
        problems, stats = replay(h.events, inputs.texts, wl.DEDUP_THRESHOLD,
                                 wl.DEDUP_RECALL_FLOOR)
        rep, absent = report(args.workload, h, loop, setup_s, rss,
                             index_ratio)
        if args.trace:
            attribute_jobs(tracer.spans, os.path.join(work, "events"))
            metrics = layer_metrics(h, probe, session_s, overhead)
            units = UNITS
            tracer.dump(os.path.join(
                ROOT, ".perfbench_work",
                f"spans-{args.workload}-{args.seed}.json"))
        else:
            metrics = {
                "setup_s": setup_s,
                "search_p50_ms": search_p50_ms(h.samples),
                "rank_p50_ms": p50_ms(h.samples["rank"]),
                "work_per_s": loop["work_items"] / loop["elapsed_s"],
                "index_bytes_per_text_byte": index_ratio,
            }
            units = E2E_UNITS
        for p in problems[:20]:
            print(f"WRONG: {p}", file=sys.stderr)
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "traced": bool(args.trace),
                          "work_per_s": loop["work_items"] / loop["elapsed_s"],
                          "report": rep, "absent": absent,
                          "setup_phases": phases,
                          "samples_s": {k: v for k, v in h.samples.items()
                                        if v},
                          "choices": choices(args.workload, h, loop),
                          "checked_queries": stats["checked_queries"],
                          "planted_recall": stats["planted_recall"],
                          "problems": len(problems)}))
        print(json.dumps({
            "correct": not problems,
            "attempted": h.attempted,
            "failed": h.failed,
            "metrics": {k: {"value": metrics[k], "unit": units[k]}
                        for k in units}}))
        return 1 if problems else 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    for need in ("rerankers_spark/__init__.py", "tests/oracle.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found under {ROOT}; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2
    sys.path[:0] = [HERE, ROOT]
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
