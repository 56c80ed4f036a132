#!/usr/bin/env python3
"""Benchmark of the bibliometric graph engine, run from the root of a
checkout:

    python3 perfbench/run.py --workload batch --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.json`` for the recorded mix and sizes):

- ``batch``: one client runs the record and ER construction, folds in a
  delta batch, then runs one pass of the superstep analytics operators;
- ``serve``: natural-language questions, 2 client threads, closed loop.

The run generates its inputs (and, on ``serve``, the expected answers)
from ``--seed`` under ``.perfbench_work/``, sets up (Spark session; on
``serve`` also a cold graph store and warm-up passes), runs operations
for ``--seconds`` (at least one; ``serve`` asks whole passes over its
question pool), checks every output against an independent oracle
outside the timed window, and prints one JSON line last: ``{"correct",
"attempted", "failed", "metrics"}``; the line before it gives the run's
environment, input sizes and the batch phase split.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the window is traced and the metrics are the per-layer spans, ratios
and Spark totals.
"""

import time

T_START = time.perf_counter()  # set-up time counts from process start

import argparse  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
PACKAGE = "advanced_technologies_of_china_graph_database_construction_spark"
CPUS = min(4, os.cpu_count() or 1)
DRIVER_MEM = "2g"
SERVE_CLIENTS = 2
WARM_PASSES = 2

# layer spans; workloads.json records which end-to-end metric each
# should move, on which workload
SPANS = (
    "txt_records", "er.typo_pairs", "connected_components.closure", "er.apply_mapping",
    "er.build_state", "dedup.full", "er.refresh", "dedup.delta", "analytics.ppr",
    "analytics.msbfs", "analytics.kcore", "walks.walks", "graph.derive",
    "graph_store.write", "graph_store.read", "planner.plan", "engine.template",
    "engine.fallback", "formatter.format_rows",
)
RATIOS = ("er.pairs_per_surface", "dedup.pairs_per_doc", "engine.fallback_share",
          "engine.jobs_per_answer", "graph_store.bytes_per_edge")


@dataclass
class Ctx:
    spark: object
    data: str
    work: str
    con: object


def pin_environment() -> dict:
    """Session settings for this process only; the package is unchanged."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(WORK, "spark-local"),
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
        ),
    )
    with open("/proc/meminfo") as f:
        mem = dict(line.split(":", 1) for line in f)
    return {
        "SPARK_GRAFT_CPUS": CPUS,
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "nproc": os.cpu_count(),
        "loadavg": os.getloadavg(),
        "mem_available": mem["MemAvailable"].strip(),
    }


def cpu_jiffies() -> tuple[int, int]:
    """(all, steal) jiffies of the machine so far: the share of time the
    hypervisor ran something else is recorded with each run."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v), v[7]


def cpu_s(pids: list[int]) -> float:
    """User + system CPU seconds of the processes so far."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        total += int(fields[11]) + int(fields[12])
    return total / tick


def peak_rss_mb(pids: list[int]) -> float:
    kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            kb += next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
    return kb / 1024


def quantile(xs: list[float], q: int) -> float:
    """The q-th percentile (inclusive method); the value itself for one sample."""
    return xs[0] if len(xs) == 1 else statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def run_ops(wl, tr, seconds: float):
    """Closed loop, one client: operations until ``seconds`` have passed
    (at least one).  Returns (op seconds, outputs, failed ops, wall)."""
    times, outs, failed = [], [], 0
    t0 = time.perf_counter()
    while True:
        t = time.perf_counter()
        try:
            outs.append(wl.op(tr))
            times.append(time.perf_counter() - t)
        except Exception as e:  # noqa: BLE001 — a failed operation is counted, not fatal
            print(f"operation failed: {e!r}", file=sys.stderr)
            failed += 1
        if time.perf_counter() - t0 >= seconds:
            return times, outs, failed, time.perf_counter() - t0


def run_answers(wl, tr, seconds: float, clients: int, seed: int):
    """Closed loop, ``clients`` threads: each sends its next question
    only after its previous answer returned.  The clients take turns
    through one seeded order of the pool and stop drawing at the first
    end of a pass after ``seconds``, so every run asks whole passes: the
    pool's mix exactly, whatever the timing.  Returns (latencies,
    [(question, response)], wall)."""
    order = random.Random(seed).sample(wl.pool, len(wl.pool))
    turn = itertools.count()
    done, lock = [], threading.Lock()
    t0 = time.perf_counter()
    deadline = t0 + seconds
    stop = threading.Event()

    def client() -> None:
        while True:
            with lock:
                i = next(turn)
                if stop.is_set() or (i and i % len(order) == 0 and time.perf_counter() >= deadline):
                    stop.set()
                    return
                q = order[i % len(order)]
            t = time.perf_counter()
            try:
                res = wl.answer(q, tr)
            except Exception as e:  # noqa: BLE001 — a failed answer is counted, not fatal
                res = {"error": repr(e)}
            with lock:
                done.append((time.perf_counter() - t, q, res))

    threads = [threading.Thread(target=client) for _ in range(clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    wall = time.perf_counter() - t0
    return [d[0] for d in done], [(d[1], d[2]) for d in done], wall


def measure(name: str, wl, tr, seconds: float, clients: int, seed: int) -> dict:
    """One measured window: operation times, outputs, failed operations."""
    if name == "serve":
        times, outs, wall = run_answers(wl, tr, seconds, clients, seed)
        return {"times": times, "outs": outs, "failed_ops": 0, "wall": wall}
    times, outs, failed_ops, wall = run_ops(wl, tr, seconds)
    return {"times": times, "outs": outs, "failed_ops": failed_ops, "wall": wall}


def check(name: str, wl, res: dict) -> tuple[int, int]:
    """(attempted, failed) after checking every output of the window."""
    if name == "serve":
        failed = sum(not wl.check(q, r) for q, r in res["outs"]) + (not wl.check_store())
        return len(res["outs"]) + 1, failed
    attempted = failed = res["failed_ops"]
    for out in res["outs"]:
        a, f = wl.check(out)
        attempted, failed = attempted + a, failed + f
    return attempted, failed


def warm_up(wl, tr, seed: int) -> None:
    """Answers get faster over the first passes (plan compilation, JIT:
    the mean answer of a pass falls by about a third over the first
    four), so ``serve`` asks ``WARM_PASSES`` whole passes untimed, the
    way the window asks them.  ``batch`` models a batch job, which pays
    this on every run, so it times its first operation instead."""
    for _ in range(WARM_PASSES):
        run_answers(wl, tr, 0, SERVE_CLIENTS, seed)


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


def unit(metric: str) -> str:
    for suffix, u in (("_s", "s"), ("_ms", "ms"), ("_mb", "MB"),
                      ("_bytes", "B"), (".jobs", "count"), (".stages", "count"),
                      (".tasks", "count"), ("bytes_per_edge", "B/edge"),
                      ("pairs_per_surface", "pairs/surface"), ("pairs_per_doc", "pairs/doc"),
                      ("jobs_per_answer", "jobs/answer")):
        if metric.endswith(suffix):
            return u
    return "ratio"


def layer_metrics(wl, tr, res: dict, totals) -> dict:
    """Per-layer metrics of a traced window: every span (0 when the
    span does not run on this workload), ratios and Spark totals."""
    m = {}
    for span in SPANS:
        rec = tr.spans.get(span)
        n = rec.calls if rec else 0
        m[f"{span}.self_s"] = rec.seconds / n if n else 0.0
        m[f"{span}.jobs"] = rec.counts.jobs / n if n else 0.0
        m[f"{span}.stages"] = rec.counts.stages / n if n else 0.0
        m[f"{span}.shuffle_write_bytes"] = rec.counts.shuffle_write_bytes / n if n else 0.0
    ratios = wl.ratios(tr, res["outs"]) if res["outs"] else {}
    for r in RATIOS:
        m[r] = ratios.get(r, 0.0)
    m["spark.tasks"] = totals.tasks
    m["spark.shuffle_read_bytes"] = totals.shuffle_read_bytes
    m["spark.spill_bytes"] = totals.spill_bytes + totals.disk_spill_bytes
    m["spark.gc_ms"] = totals.gc_ms
    m["spark.driver_overhead_share"] = 1 - totals.executor_run_ms / 1000 / (res["wall"] * CPUS)
    m["trace.overhead_frac"] = tr.overhead_s / res["wall"]
    return m


def descendants(pid: int) -> list[int]:
    """Every process below ``pid`` (the JVM's Python worker daemon and
    its workers)."""
    out = []
    try:
        for task in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out += [int(c) for c in f.read().split()]
    except FileNotFoundError:
        return []
    return out + [d for c in out for d in descendants(c)]


def stop_spark(spark, jvm_pid: int) -> None:
    """Stop the session and wait until its JVM and the JVM's Python
    workers have exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = descendants(jvm_pid)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    def running(pid: int) -> bool:
        try:
            with open(f"/proc/{pid}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()[0] != "Z"
        except FileNotFoundError:
            return False

    deadline = time.perf_counter() + 30
    for pid in workers:  # they exit once the JVM's pipes close
        while running(pid) and time.perf_counter() < deadline:
            time.sleep(0.1)
        if running(pid):
            os.kill(pid, signal.SIGKILL)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("batch", "serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE} not found under {ROOT}: run from the root of a checkout",
              file=sys.stderr)
        return 2

    shutil.rmtree(WORK, ignore_errors=True)
    env = pin_environment()
    sys.path[:0] = [ROOT, HERE]
    import duckdb

    import datagen

    # the benchmark's own work (inputs, expected answers) is timed apart
    # and left out of setup_s
    own_s = -time.perf_counter()
    data = os.path.join(WORK, "perfbench-data")
    sizes = datagen.generate(data, args.seed)
    con = duckdb.connect()
    for f in sorted(os.listdir(data)):
        con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{data}/{f}'")
    own_s += time.perf_counter()

    import questions
    import workloads
    from tracing import StatusStore, Tracer

    from advanced_technologies_of_china_graph_database_construction_spark import get_spark

    spark = get_spark("perfbench")
    log("session started")
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    try:
        ctx = Ctx(spark, data, WORK, con)
        if args.workload == "batch":
            wl = workloads.Batch(ctx)
        else:
            own_s -= time.perf_counter()
            pool = questions.make_pool(con, args.seed)
            own_s += time.perf_counter()
            wl = workloads.Serve(ctx, pool)
            log("store built")
            warm_up(wl, Tracer(spark, False), args.seed)
        setup_s = time.perf_counter() - T_START - own_s
        log(f"set-up done ({own_s:.1f}s of it the benchmark's own)")
        pids = [os.getpid(), jvm_pid]
        jiffies, cpu0 = cpu_jiffies(), cpu_s(pids)
        tr = Tracer(spark, bool(args.trace))
        if args.trace:
            if args.workload == "serve":
                wl.trace_store(tr)
            store = StatusStore(spark)
            mark = store.watermark()
        clients = SERVE_CLIENTS if args.workload == "serve" and not args.trace else 1
        res = measure(args.workload, wl, tr, args.seconds, clients, args.seed)
        times = res["times"]
        log(f"window done: {len(times)} operations")
        detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "env": env, "sizes": sizes, "ops": len(times), "own_s": own_s,
                  "steal_frac": (cpu_jiffies()[1] - jiffies[1]) / max(cpu_jiffies()[0] - jiffies[0], 1)}
        if args.trace:
            metrics = layer_metrics(wl, tr, res, store.since(mark))
        else:
            metrics = {"setup_s": setup_s, "peak_rss_mb": peak_rss_mb(pids)}
        if times:  # empty only when every operation of the window failed
            detail["op_s"] = statistics.median(times)
            detail["cpu_s_per_op"] = (cpu_s(pids) - cpu0) / len(times)
            if not args.trace:
                metrics["op_s"] = detail["op_s"]
        if args.workload == "serve":
            # a run's few passes are too short for a p90 with ten answers
            # above it, and each workload reports the same metrics, so
            # these two are reported here and not as metrics
            detail["answer_p90_s"] = quantile(times, 90)
            detail["answers_per_s"] = len(times) / res["wall"]
        attempted, failed = check(args.workload, wl, res)
        log("checks done")
        detail["failed_frac"] = failed / attempted
        if args.workload == "batch" and res["outs"]:
            for k in ("build_s", "refresh_s", "analytics_pass_s"):
                detail[k] = statistics.median(o[k] for o in res["outs"])
        print(json.dumps(detail))
    finally:
        stop_spark(spark, jvm_pid)
        con.close()
        shutil.rmtree(WORK, ignore_errors=True)
        if args.workload == "serve":
            workloads.drop_cached_store(data)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
