"""Crawl-rollup benchmark for mlrsketch.

    python3 crawlbench/run.py --workload lang_rollup --seed 1 --seconds 10 --trace 0

Run from the repository root. One client drives one workload's query
cycle in a closed loop (the next query starts when the previous answer
is back) on ``local[2]`` (each task slot is a JVM thread plus a Python
worker, so two slots fill the 4-core reference host). ``--seconds``
sets the number of timed queries: as many whole passes over the query
kinds as take that long on the reference host. Every answer is checked
against a DuckDB oracle; the last stdout line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the
loop once without and once with the Spark event log, then the layer
probes, and reports the per-layer metrics (see README.md).

Everything the run writes stays under ``crawlbench/_work``: generated
tables and oracles cached per (workload, seed), and a per-run scratch
directory (Spark local dirs, event log, checkpoints) removed at exit.
"""

from __future__ import annotations

import time

PROCESS_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import pickle  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "_work")
# Task slots. Each running task is a JVM thread feeding a Python worker
# process, so local[4] ran 8+ busy threads on the 4-core reference host:
# no faster than local[2], 46% more CPU per query, and slower still when
# other tenants of the host took CPU time.
CORES = 2
KEEP_SEEDS = 3  # cached (workload, seed) tables kept on disk
TAIL_BEYOND = 10  # query_tail_s: highest percentile with >= 10 samples beyond
DEADLINE_S = 140  # loops stop here so a run ends well inside 180 s
WARMUP_PASSES = 1


class TreeRss:
    """Peak resident memory of this process and all its descendants
    (driver Python, JVM, Python workers), sampled from /proc VmHWM."""

    def __init__(self, period_s: float = 0.2):
        self.period_s = period_s
        self.peak_kb = 0
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _tree(root: int) -> list[int]:
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
        out, todo = [], [root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, []))
        return out

    def sample(self) -> None:
        total, parts = 0, {}
        for pid in self._tree(os.getpid()):
            try:
                with open(f"/proc/{pid}/status") as fh:
                    for line in fh:
                        if line.startswith("Name:"):
                            name = line.split()[1]
                        if line.startswith("VmHWM:"):
                            kb = int(line.split()[1])
                            total += kb
                            parts[f"{name}:{pid}"] = kb
                            break
            except OSError:
                continue
        if total > self.peak_kb:
            self.peak_kb, self.peak_parts = total, parts

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> float:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)
        self.sample()
        return self.peak_kb / 1024.0


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate(scratch: str) -> None:
    """Keep Spark and Python workers inside the run's scratch directory
    and let the workers import mlrsketch from the checkout."""
    sys.path[:0] = [ROOT, BENCH]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, BENCH] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    for name in ("spark-local", "tmp"):
        os.makedirs(os.path.join(scratch, name), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")


def spark_conf(scratch: str, event_log: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": "1g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.driver.extraJavaOptions":
            # pre-touching the 1g heap makes the JVM's resident size
            # independent of when G1 happens to grow the heap
            f"-Xms1g -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={os.path.join(scratch, 'tmp')} "
            f"-Dderby.system.home={os.path.join(scratch, 'derby')}",
    }
    if event_log:
        d = os.path.join(scratch, "eventlog")
        os.makedirs(d, exist_ok=True)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + d,
        }
    return conf


def start_spark(scratch: str, event_log: bool = False):
    from mlrsketch.session import get_spark

    spark = get_spark(app="crawlbench", cores=CORES, extra_conf=spark_conf(scratch, event_log))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_spark(spark) -> None:
    """Stop the context, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # a JVM that will not exit is killed
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def prepare_data_isolated(wl_cls, seed: int) -> tuple[str, dict]:
    """prepare_data in a child process, so generation memory never
    counts toward this process tree's peak resident memory. A plain
    subprocess, not multiprocessing: that would leave its resource
    tracker process running after this one exits."""
    code = ("import sys, run, workloads; "
            "run.prepare_data(workloads.WORKLOADS[sys.argv[1]], int(sys.argv[2]))")
    done = subprocess.run([sys.executable, "-c", code, wl_cls.name, str(seed)], cwd=BENCH)
    if done.returncode != 0:
        raise RuntimeError(f"data preparation failed with exit code {done.returncode}")
    return prepare_data(wl_cls, seed)


def become_subreaper() -> None:
    """Have orphaned descendants (Python workers forked by the JVM, the
    JVM itself if this process gives up on it) re-parented to this
    process rather than to init, so reap_descendants can wait for them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def reap_descendants(grace_s: float = 15.0) -> None:
    """Terminate every process still below this one and wait until each
    has ended: SIGTERM first, SIGKILL after ``grace_s``."""
    deadline = time.monotonic() + grace_s
    while True:
        while True:  # collect exited children (orphans come here too)
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pid = 0
            if pid == 0:
                break
        left = TreeRss._tree(os.getpid())[1:]
        if not left:
            return
        sig = signal.SIGTERM if time.monotonic() < deadline else signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def prepare_data(wl_cls, seed: int) -> tuple[str, dict]:
    """Cached (table, oracle) for this workload and seed; generated and
    checked on first use, outside every timed span."""
    data_root = os.path.join(WORK, "data")
    data_dir = os.path.join(data_root, f"{wl_cls.name}-{wl_cls.rows}-seed{seed}")
    oracle_path = os.path.join(data_dir, "oracle.pkl")
    if not os.path.exists(oracle_path):
        shutil.rmtree(data_dir, ignore_errors=True)
        wl_cls.generate(seed, data_dir)
        oracle = wl_cls(data_dir, "").compute_oracle()
        with open(oracle_path + ".tmp", "wb") as fh:
            pickle.dump(oracle, fh)
        os.replace(oracle_path + ".tmp", oracle_path)
    os.utime(data_dir)
    cached = sorted(
        (os.path.join(data_root, d) for d in os.listdir(data_root)),
        key=os.path.getmtime, reverse=True)
    for old in cached[KEEP_SEEDS:]:
        shutil.rmtree(old, ignore_errors=True)
    with open(oracle_path, "rb") as fh:
        return data_dir, pickle.load(fh)


def set_up(wl, scratch: str, event_log: bool = False):
    """Spark session, fixtures, and WARMUP_PASSES warm-up runs of each
    query kind: the first query of a kind in a fresh session runs 2-5x
    slower (JIT, Python worker imports); the second is within about 15%
    of the loop's median."""
    spark = start_spark(scratch, event_log)
    wl.setup(spark)
    spark.sparkContext.setJobGroup("warmup", "warmup")
    for q in warmup_queries(wl):
        if q.before:
            q.before()
        q.run()
    return spark


def warmup_queries(wl) -> list:
    first = {}
    for q in wl.cycle():
        first.setdefault(q.kind, q)
    return list(first.values()) * WARMUP_PASSES


def loop_queries(wl, seconds: float) -> int:
    """Queries per loop: whole passes over the query kinds, as many as
    take ``seconds`` at the workload's nominal pass time on the 4-core
    reference host, and more than TAIL_BEYOND. A fixed count (not a
    fixed time) keeps every percentile on the same order statistic
    across runs and commits."""
    kinds = len({q.kind for q in wl.cycle()})
    passes = max(round(seconds / wl.pass_s), -(-(TAIL_BEYOND + 1) // kinds))
    return passes * kinds


def run_loop(spark, wl, n_queries: int, checker, tag: bool = False) -> dict:
    """Closed loop over the workload's query cycle: ``n_queries``
    queries, each started when the previous answer is back."""
    cycle = wl.cycle()
    lat, kinds, docs, failed, busy, i = [], [], 0, 0, 0.0, 0
    while i < n_queries:
        q = cycle[i % len(cycle)]
        if tag:
            spark.sparkContext.setJobGroup(f"q{i}:{q.kind}", q.kind)
        if q.before:
            q.before()
        t = time.perf_counter()
        try:
            answer, err = q.run(), None
        except Exception as e:  # noqa: BLE001 — a raising query counts as failed
            answer, err = None, e
        dt = time.perf_counter() - t
        problems = [f"{q.kind} raised {err!r}"] if err else q.check(checker, answer)
        if problems:
            failed += 1
            print(f"FAILED query {i} ({q.kind}): " + "; ".join(problems[:3]), file=sys.stderr)
        else:
            docs += q.docs
        lat.append(dt)
        kinds.append(q.kind)
        busy += dt
        i += 1
        if time.monotonic() - PROCESS_START > DEADLINE_S:
            break
    return {"lat": lat, "kinds": kinds, "docs": docs, "failed": failed, "busy": busy}


def tail(lat: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest percentile with TAIL_BEYOND
    samples beyond it; the maximum if the deadline cut the loop short."""
    s = sorted(lat)
    if len(s) <= TAIL_BEYOND:
        return s[-1], 100.0
    idx = len(s) - TAIL_BEYOND - 1
    return s[idx], 100.0 * (idx + 1) / len(s)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(wl, scratch: str, seconds: float, rss: TreeRss, prep_s: float) -> tuple:
    from checks import Checker

    spark = set_up(wl, scratch)
    setup_s = time.monotonic() - PROCESS_START - prep_s
    checker = Checker()
    res = run_loop(spark, wl, loop_queries(wl, seconds), checker)
    shutdown_spark(spark)
    peak_mb = rss.stop()
    lat = res["lat"]
    tail_v, tail_p = tail(lat)
    kinds = {}
    for q, dt in zip(res["kinds"], lat):
        kinds.setdefault(q, []).append(dt)
    print(f"setup_s={setup_s:.3f} queries={len(lat)} "
          f"query_tail_s=p{tail_p:.1f} of {len(lat)} samples; median s by kind "
          + " ".join(f"{k}={statistics.median(v):.3f}" for k, v in kinds.items())
          + "; peak rss MB by process "
          + " ".join(f"{k}={v / 1024:.0f}" for k, v in sorted(rss.peak_parts.items())),
          file=sys.stderr)
    metrics = {
        "setup_s": metric(setup_s, "s"),
        "docs_per_s": metric(res["docs"] / res["busy"], "docs/s"),
        "query_p50_s": metric(statistics.median(lat), "s"),
        "query_tail_s": metric(tail_v, "s"),
        "ok_share": metric((len(lat) - res["failed"]) / len(lat), "share"),
        "peak_rss_mb": metric(peak_mb, "MB"),
    }
    return len(lat), res["failed"], metrics, checker


def layer_metrics(groups: dict) -> dict:
    """Per-query means of the event-log layer numbers over traced queries."""
    from eventlog import op_sum

    qs = [g for name, g in groups.items() if name.startswith("q")]
    if not qs:
        raise RuntimeError("event log holds no traced queries")

    def mean(fn):
        return sum(fn(g) for g in qs) / len(qs)

    def ops(node, name):
        return lambda g: op_sum(g["ops"], node, name)

    def task(key, scale=1.0):
        return lambda g: g["task"].get(key, 0.0) * scale

    py_nodes = ("MapInPandas", "FlatMapGroupsInPandas", "MapInArrow")
    return {
        "scan.time_ms": mean(ops("Scan parquet", "scan time")),
        "scan.bytes": mean(ops("Scan parquet", "size of files read")),
        "arrow.bytes_to_py": mean(lambda g: sum(
            op_sum(g["ops"], n, "data sent to Python workers") for n in py_nodes)),
        "arrow.bytes_from_py": mean(lambda g: sum(
            op_sum(g["ops"], n, "data returned from Python workers") for n in py_nodes)),
        "agg.partial.py_ms": mean(ops("MapInPandas", "time to run Python workers")),
        "agg.final.py_ms": mean(ops("FlatMapGroupsInPandas", "time to run Python workers")),
        "exchange.shuffle_bytes": mean(task("shuffle_write_bytes")),
        "exchange.fetch_wait_ms": mean(task("fetch_wait_ms")),
        "task.count": mean(task("count")),
        "task.cpu_s": mean(task("cpu_ns", 1e-9)),
        "task.gc_s": mean(task("gc_ms", 1e-3)),
    }


SKETCHES = ("hll", "kll", "tdigest", "topk", "bloom")
LAYER_UNITS = {
    "scan.time_ms": "ms", "scan.bytes": "bytes",
    "arrow.bytes_to_py": "bytes", "arrow.bytes_from_py": "bytes",
    "agg.partial.py_ms": "ms", "agg.final.py_ms": "ms",
    "agg.state_rows": "count", "agg.state_bytes": "bytes", "agg.state_bytes_per_group": "bytes",
    "exchange.shuffle_bytes": "bytes", "exchange.fetch_wait_ms": "ms",
    "task.count": "count", "task.cpu_s": "s", "task.gc_s": "s",
    **{f"sketches.{k}.{m}": u for k in SKETCHES for m, u in (
        ("update_ns_per_item", "ns"), ("merge_us", "us"), ("serde_us", "us"),
        ("state_bytes", "bytes"))},
    "exact.stats1_s": "s",
    "checkpoint.resume_s": "s", "checkpoint.noop_resume_s": "s",
    "checkpoint.bytes_written": "bytes", "checkpoint.units_recomputed": "count",
    "bloom.probe_s": "s", "bloom.fp_rate": "share",
    **{f"check.bound_use_max.{k}": "ratio" for k in ("hll", "kll", "tdigest", "cms")},
    "check.exact_regime_share": "share",
    "check.distinct_rel_err": "share", "check.rank_err": "share",
    "trace.overhead_share": "share",
    "loop.queries": "count", "loop.tail_pct": "%",
}


def traced(wl, scratch: str, seconds: float, rss: TreeRss) -> tuple:
    """Untraced loop, event-logged loop with the layer probes, untraced
    loop again, each half the untraced run's length and on a fresh,
    warmed-up Spark context of one JVM. The JVM keeps warming up across
    them, so the tracing overhead is taken against the mean of the
    untraced loops before and after."""
    import eventlog
    import probes
    from checks import Checker

    checker = Checker()
    spark = set_up(wl, scratch)
    n = loop_queries(wl, seconds / 2)
    base = run_loop(spark, wl, n, checker)
    spark.stop()
    spark = set_up(wl, scratch, event_log=True)
    res = run_loop(spark, wl, n, checker, tag=True)
    layer = {}
    layer |= probes.sketch_cores(spark, wl.files)
    layer |= probes.agg_states(spark, wl.df, wl.group_key)
    layer |= probes.exact_stats1(spark, wl.df, wl.group_key)
    layer |= probes.checkpoint_resume(spark, wl.files, scratch)
    layer |= probes.bloom_probe(spark, wl.files)
    app_id = spark.sparkContext.applicationId
    spark.stop()
    spark = set_up(wl, scratch)
    after = run_loop(spark, wl, n, checker)
    shutdown_spark(spark)
    rss.stop()
    logs = [os.path.join(scratch, "eventlog", f)
            for f in os.listdir(os.path.join(scratch, "eventlog")) if app_id in f]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log for {app_id}, found {logs}")
    layer |= layer_metrics(eventlog.parse(logs[0]))
    layer |= checker.summary()
    lat = res["lat"]
    untraced = (statistics.median(base["lat"]) + statistics.median(after["lat"])) / 2
    layer["trace.overhead_share"] = statistics.median(lat) / untraced - 1.0
    layer["loop.queries"] = float(len(lat))
    layer["loop.tail_pct"] = tail(lat)[1]
    if set(layer) != set(LAYER_UNITS):
        raise RuntimeError(f"layer metrics differ from LAYER_UNITS: {set(layer) ^ set(LAYER_UNITS)}")
    metrics = {k: metric(float(v), LAYER_UNITS[k]) for k, v in layer.items()}
    loops = (base, res, after)
    return sum(len(r["lat"]) for r in loops), sum(r["failed"] for r in loops), metrics, checker


def main(argv=None) -> int:
    args = parse_args(argv)
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(scratch, exist_ok=True)
    rss = TreeRss()
    become_subreaper()
    try:
        isolate(scratch)
        import workloads

        if args.workload not in workloads.WORKLOADS:
            print(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
                  file=sys.stderr)
            return 2
        wl_cls = workloads.WORKLOADS[args.workload]
        t = time.monotonic()
        data_dir, oracle = prepare_data_isolated(wl_cls, args.seed)
        prep_s = time.monotonic() - t
        rss.start()
        wl = wl_cls(data_dir, scratch)
        wl.oracle = oracle
        if args.trace:
            attempted, failed, metrics, checker = traced(wl, scratch, args.seconds, rss)
        else:
            attempted, failed, metrics, checker = end_to_end(
                wl, scratch, args.seconds, rss, prep_s)
        for note in checker.over_budget():
            print("NOTE " + note, file=sys.stderr)
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        rss.stop()
        reap_descendants()
        shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
