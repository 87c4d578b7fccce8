"""Crawl benchmark: runs one workload against the program's public API,
checks its output and prints one JSON result as the last line.

    python3 perfbench/run.py --workload bulk --seed 3 --seconds 10 --trace 0

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs the
same workload with Spark's event log on, then times each layer, and
prints the per-layer metrics.  ``--small`` runs every path at toy size
to exercise the harness; its numbers mean nothing.  The command runs
the measurement in a child process and returns only after every process
under it has ended.  See README.md.
"""

from __future__ import annotations

import os
import time

#: process start; in the measuring child, the supervisor's start
#: (perf_counter is CLOCK_MONOTONIC, shared by all processes)
T_START = float(os.environ.get("PERFBENCH_T0", time.perf_counter()))

import argparse  # noqa: E402
import json  # noqa: E402
import multiprocessing  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from concurrent.futures import ProcessPoolExecutor  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: nominal seconds of one measured round on a 4-vCPU host; ``--seconds``
#: is turned into a fixed round count with it, so that every run of a
#: workload does the same work whatever the host's speed
NOMINAL_ROUND_S = 10.0
RESUME_REPEATS = 9
SCAN_REPEATS = 9
#: the measuring child is stopped if it runs longer than this (a first
#: run may be slow; a normal one takes about a minute)
CHILD_TIMEOUT_S = 850
#: how long leftover processes get to exit on their own, then after
#: SIGTERM, before they are killed
LEFTOVER_GRACE_S = 5.0


def _work_dir(workload: str, pid: int) -> str:
    return os.path.join(ROOT, ".bench_work", f"{workload}-{pid}")


def _envelope(work: str) -> int:
    """Resource envelope: ``local[k]`` with k ≤ nproc, a driver heap
    that fits the host, and scratch space inside the checkout.  Returns
    k.  No engine setting is touched."""
    with open("/proc/meminfo") as f:
        mem_gb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:")) / 2**20
    os.environ["SPARK_DRIVER_MEM"] = f"{max(1, min(4, int(mem_gb // 5)))}g"
    os.environ["PYTHONPATH"] = ROOT  # the Python workers import the program
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    return min(4, len(os.sched_getaffinity(0)))


class _CommitWatch(threading.Thread):
    """Records process-tree CPU the moment round 0's manifest appears,
    so that CPU per URL covers the measured rounds only."""

    def __init__(self, path: str, tree_cpu_s) -> None:
        super().__init__(daemon=True)
        self.path, self.tree_cpu_s = path, tree_cpu_s
        self.cpu: float | None = None
        self.stop = threading.Event()

    def run(self) -> None:
        while not self.stop.wait(0.02):
            if os.path.exists(self.path):
                self.cpu = self.tree_cpu_s()
                return


def _stop_spark(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args) -> dict:
    sys.path.insert(0, ROOT)
    import procfs
    import workloads

    small = workloads.SMALL if args.small else workloads.WORKLOADS
    w = small[args.workload]
    rounds = w.rounds
    if not args.small and args.workload == "trickle":
        rounds = 1 + max(1, round(args.seconds / NOMINAL_ROUND_S))
    work = _work_dir(args.workload, os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    cores = _envelope(work)
    wd = os.path.join(work, "crawl")
    t = time.perf_counter()
    seeds, robots = workloads.seed_list(w, args.seed), workloads.robots()
    gen_s = time.perf_counter() - t  # the benchmark's own work, not set-up

    from llm_scraper_spark.bench_crawl import _clock_probe
    from llm_scraper_spark.plans.crawler import Crawler
    from llm_scraper_spark.session import get_spark

    import checks
    import eventlog
    import layers

    ticks0 = procfs.cpu_ticks()
    conf = None
    if args.trace:
        conf = dict(eventlog.CONF)
        conf["spark.eventLog.dir"] = os.path.join(work, "eventlog")
        os.makedirs(conf["spark.eventLog.dir"])
    t = time.perf_counter()
    spark = get_spark("perfbench", cores=cores, extra_conf=conf)
    session_s = time.perf_counter() - t
    head_s = time.perf_counter() - T_START
    try:
        env = procfs.environment(spark.version)
        jvm = procfs.java_pid()
        crawler = Crawler(spark, wd, budget_ms=w.budget_ms)
        r0 = os.path.join(wd, "manifests", "r0.json")
        watch = _CommitWatch(r0, procfs.tree_cpu_s)
        watch.start()
        t_init = time.time()
        crawler.init_state(seeds, robots)
        # trickle's last round is run by a fresh Crawler on the reopened
        # state, after resume_s is measured on that state
        first = rounds - 1 if args.workload == "trickle" else rounds
        manifests = crawler.run(max_rounds=first)
        t_end = time.time()
        if not os.path.exists(r0):
            watch.stop.set()
        watch.join()  # it reads the CPU within one poll of the commit
        cpu_end = procfs.tree_cpu_s()
        r0_commit = os.stat(r0).st_mtime
        wall, cpu = t_end - r0_commit, cpu_end - watch.cpu

        resume = []
        for i in range(RESUME_REPEATS + 1):  # the first call is a warm-up
            t = time.perf_counter()
            Crawler(spark, wd, budget_ms=w.budget_ms).run(
                max_rounds=manifests[-1]["round"] + 1
            )
            if i:
                resume.append(time.perf_counter() - t)

        resumed = None
        t_resumed = None
        if first < rounds:
            t_resumed = time.time()
            t, c = time.perf_counter(), procfs.tree_cpu_s()
            manifests += Crawler(spark, wd, budget_ms=w.budget_ms).run(
                max_rounds=rounds
            )
            wall += time.perf_counter() - t
            cpu += procfs.tree_cpu_s() - c
            resumed = rounds - 1
        measured = manifests[1:]
        urls = sum(m["fetched"] for m in measured)
        last = manifests[-1]
        peak = procfs.peak_rss_mb(jvm)
        state_bytes = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _s, fs in os.walk(wd)
            for f in fs
        )

        docs = crawler.documents_df()
        n_docs = sum(m["fetched"] for m in manifests)
        docs.write.format("noop").mode("overwrite").save()  # warm-up scan
        scans = []
        for _ in range(SCAN_REPEATS):
            t = time.perf_counter()
            docs.write.format("noop").mode("overwrite").save()
            scans.append(time.perf_counter() - t)

        metrics = {
            "setup_s": (head_s - gen_s + r0_commit - t_init, "s"),
            "urls_per_s": (urls / wall, "1/s"),
            "cpu_s_per_kurl": (cpu / (urls / 1000), "s"),
            "peak_rss_mb": (peak, "MB"),
            "state_bytes_per_url": (state_bytes / last["seen_total"], "B"),
        }
        # ~0.1 s operations: too short to hold an end-to-end bound on a
        # host whose speed drifts, so they are reported as crawler-layer
        # figures (and in the diagnostics of every run)
        short_ops = {
            "crawler.resume_s": statistics.median(resume),
            "crawler.docs_read_rows_per_s": n_docs / statistics.median(scans),
        }
        layer = dict(short_ops)
        if args.trace:
            layer.update(layers.crawler_metrics(wd, measured))
            layer.update(layers.call_metrics(spark, crawler, w.budget_ms))
            layer["session.start_s"] = session_s
        if args.trace and "crawler.compact_seen_s" not in layer:
            layer["crawler.compact_seen_s"] = layers.compact_seen_s(crawler)
        # the oracle needs no Spark: it runs in its own process while
        # the session stops and the other checks read the snapshots
        pool = ProcessPoolExecutor(1, mp_context=multiprocessing.get_context("spawn"))
        oracle = pool.submit(checks.oracle, seeds, robots, w.budget_ms, rounds)
    finally:
        _stop_spark(spark)
    if args.trace:
        commits = [r0_commit] + [
            os.stat(os.path.join(wd, "manifests", f"r{m['round']}.json")).st_mtime
            for m in measured
        ]
        windows = [
            [commits[i], commits[i + 1], m["fetched"]] for i, m in enumerate(measured)
        ]
        if t_resumed is not None:
            windows[-1][0] = t_resumed  # leave the no-op resumes out
        layer.update(eventlog.fold(conf["spark.eventLog.dir"], windows))
    steal = procfs.steal_share(ticks0, procfs.cpu_ticks())

    t = time.perf_counter()
    with pool:
        verdict = checks.check_crawl(wd, w.budget_ms, oracle, resumed)
    check_s = time.perf_counter() - t
    ok = all(verdict.values())
    diag = {
        "workload": args.workload,
        "seed": args.seed,
        "small": args.small,
        "rounds": rounds,
        "cores": cores,
        "driver_mem": os.environ["SPARK_DRIVER_MEM"],
        "env": env,
        "steal_share": steal,
        "tree_cpu_s": procfs.tree_cpu_s(),
        "fetched_per_round": [m["fetched"] for m in manifests],
        "round_s": [m["elapsed_sec"] for m in manifests],
        "short_ops": short_ops,
        "checks": verdict,
        "check_s": check_s,
        # single-core elementwise rate: a slow run with little steal
        # shows here (co-tenants sharing caches or clocks)
        "clock_probe": _clock_probe(0.5),
        "wall_s": time.perf_counter() - T_START,
    }
    if args.trace:
        diag["traced_end_to_end"] = {k: v for k, (v, _u) in metrics.items()}
    print(json.dumps({"diagnostics": diag}), flush=True)
    shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        # the first suffix that matches gives the unit
        units = {"_rows_per_s": "1/s", "_s": "s", "_ns_per_key": "ns",
                 "_us_per_url": "us", "_us_per_link": "us", "_per_url": "B"}
        shown = {}
        for k, v in sorted(layer.items()):
            unit = next((u for suf, u in units.items() if k.endswith(suf)), "count")
            shown[k] = (v, unit)
    else:
        shown = metrics
    return {
        "correct": ok,
        "attempted": urls,
        "failed": 0 if ok else urls,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
    }


def _end_leftovers() -> None:
    """End every process the run left behind and wait until each one
    has been reaped.  The supervisor is a child subreaper, so orphans of
    the run (the JVM, PySpark's worker daemon and its workers, the
    multiprocessing resource tracker) are re-parented to it."""
    import procfs

    me = os.getpid()
    start = time.monotonic()
    sent: set[tuple[int, int]] = set()
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return  # no child left, live or zombie
        waited = time.monotonic() - start
        if waited > LEFTOVER_GRACE_S:
            sig = signal.SIGKILL if waited > 2 * LEFTOVER_GRACE_S else signal.SIGTERM
            for pid in procfs.descendants(me)[1:]:
                if (pid, sig) not in sent:
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
                    sent.add((pid, sig))
        time.sleep(0.02)


def _supervise(workload: str) -> int:
    """Run the benchmark in a child process, pass its output through,
    and return only once every process under it has ended."""
    import ctypes

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)

    def stop(signum, _frame):
        raise SystemExit(128 + signum)

    for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(s, stop)
    child = subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *sys.argv[1:]],
        env=dict(os.environ, PERFBENCH_T0=repr(T_START), PERFBENCH_CHILD="1"),
    )
    code = 1
    try:
        code = child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print("perfbench: the run timed out", file=sys.stderr)
    finally:
        for s in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(s, signal.SIG_IGN)
        if child.poll() is None:
            child.terminate()
        _end_leftovers()
        # a run that was stopped leaves its scratch space behind
        shutil.rmtree(_work_dir(workload, child.pid), ignore_errors=True)
    return code if code >= 0 else 128 - code


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["bulk", "trickle"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--small", action="store_true",
                    help="toy sizes, to exercise the harness only")
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "llm_scraper_spark")):
        print("perfbench: the program (llm_scraper_spark/) is not in this "
              "checkout", file=sys.stderr)
        return 2
    if "PERFBENCH_CHILD" not in os.environ:
        return _supervise(args.workload)
    print(json.dumps(run(args)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
