"""Engine benchmark: four workloads through the package's public layers.

    python3 perfbench/run.py --workload geo_join --seed 1 --seconds 10 --trace 0

Workloads: ``geo_join``, ``tile_sink``, ``validated_decode``,
``delineation`` (see ``workloads.py``), or ``all``, which runs each in
its own process and prints every named metric.  ``BENCHMARK.json``
lists the two whose runs are steady enough to gate on: ``geo_join`` and
``validated_decode``.

Run from the root of a checkout.  Everything the run writes stays under
``.perfbench/`` there: inputs (regenerated every run from ``--seed``, so
their generation is always part of ``setup_s``), Spark's local and temp
dirs, the checksum ledger, ``results.jsonl`` and the traces.

``--trace 0`` sets up ``SETUP_REPS`` times (``setup_s`` = session start
+ median set-up), warms up (at least ``warmup`` iterations and
``warmup_s`` seconds), runs the workload for ``--seconds``,
checks its output and prints the end-to-end metrics.  ``--trace 1``
times every layer of all four workloads, because the per-layer metric
set names the layers of each, and prints the per-layer metrics.

Standard output: one ``{"record": ...}`` line (session config, cpus,
versions, steal, per-iteration times, checks and the workload-specific
values), then the result line ``{"correct", "attempted", "failed",
"metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
STATE = os.path.join(REPO, ".perfbench")
SETUP_REPS = 3
WORKLOAD_NAMES = ("geo_join", "tile_sink", "validated_decode", "delineation")


# ---------------------------------------------------------------------------
# host probes
# ---------------------------------------------------------------------------


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def steal_pct(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    return 100.0 * (t1[1] - t0[1]) / max(t1[0] - t0[0], 1)


def process_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, command name) for every live process."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
            table[int(d)] = (int(tail.split()[1]), head.split("(", 1)[1])
        except (OSError, IndexError, ValueError):
            continue
    return table


def descendants(root: int, table: dict | None = None) -> list[int]:
    """Pids of every live process below ``root``."""
    table = process_table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, (ppid, _comm) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_rss_bytes() -> int:
    """Resident set summed over this process tree: the driver Python,
    the JVM, the Python worker daemon and its workers.  A child still
    running its parent's executable is skipped when the parent is not
    Python (the forks the JVM makes to exec shell commands share the
    JVM's pages); forked Python workers are counted."""
    page = os.sysconf("SC_PAGE_SIZE")
    table = process_table()
    total = 0
    for pid in [os.getpid()] + descendants(os.getpid(), table):
        ppid = table.get(pid, (0, ""))[0]
        exe = _exe(pid)
        if exe == _exe(ppid) and "python" not in os.path.basename(exe):
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class PeakRss:
    """Samples :func:`tree_rss_bytes` every 100 ms and keeps the peak."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self._stop.wait(0.1)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False


def host_ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------


def start_session(cores: int):
    """One local[cores] session through the library's ``get_spark``,
    with the Spark driver's heap fixed at a quarter of host RAM (the
    library default of 24g can exceed host RAM; a heap that starts at
    its maximum keeps the peak RSS from following the GC's sizing) and
    every scratch dir inside the checkout.  Python workers are started
    and import the engine before it returns, so they are part of
    session start-up."""
    from ib_tool_spark import pipeline

    mem_gb = max(1, min(8, host_ram_bytes() // (4 << 30)))
    extra = {
        "spark.driver.memory": f"{mem_gb}g",
        "spark.driver.extraJavaOptions": f"-Xms{mem_gb}g",
        # two tasks per core for file scans and the direct decode: a core
        # slowed by a neighbour on a shared host then delays part of a
        # stage, not the whole of it
        "spark.default.parallelism": str(2 * cores),
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "10000",
        "spark.ui.retainedStages": "10000",
        "spark.sql.warehouse.dir": os.path.join(STATE, "warehouse"),
    }
    spark = pipeline.get_spark(app="perfbench", cores=cores, extra=extra)

    def warm(batches):
        import ib_tool_spark.ops  # noqa: F401

        yield from batches

    spark.range(0, cores, 1, cores).mapInPandas(warm, "id long").collect()
    return spark


def session_config(spark) -> dict:
    conf = spark.sparkContext.getConf()
    keys = (
        "spark.master",
        "spark.driver.memory",
        "spark.driver.extraJavaOptions",
        "spark.default.parallelism",
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.enabled",
        "spark.sql.execution.arrow.pyspark.enabled",
        "spark.sql.execution.arrow.maxRecordsPerBatch",
    )
    return {k: conf.get(k) for k in keys}


def versions(spark) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "spark": spark.version,
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "numpy": numpy.__version__,
        "python": platform.python_version(),
    }


def failed_tasks(spark, group: str) -> int:
    """Failed task attempts of every job in ``group``, from the public
    status tracker."""
    st = spark.sparkContext.statusTracker()
    n = 0
    for jid in st.getJobIdsForGroup(group):
        job = st.getJobInfo(jid)
        for sid in job.stageIds if job else ():
            stage = st.getStageInfo(sid)
            n += stage.numFailedTasks if stage else 0
    return n


def stop_session(spark) -> None:
    """Stop Spark, end the driver JVM and wait for every process this
    run started (the JVM, the Python worker daemon and its workers)."""
    from pyspark import SparkContext

    tree = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while tree and time.monotonic() < deadline:
        tree = [p for p in tree if _alive(p)]
        time.sleep(0.1)
    for p in tree:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in tree) and time.monotonic() < deadline:
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    """Running and not a zombie (an orphaned worker is reaped by init)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


# ---------------------------------------------------------------------------
# checksum ledger: the same inputs must give the same output in every run
# ---------------------------------------------------------------------------


def ledger_check(key: str, sums) -> bool:
    path = os.path.join(STATE, "checksums.json")
    try:
        with open(path) as f:
            ledger = json.load(f)
    except FileNotFoundError:
        ledger = {}
    if key in ledger:
        return ledger[key] == list(sums)
    ledger[key] = list(sums)
    with open(path + ".tmp", "w") as f:
        json.dump(ledger, f, indent=1, sort_keys=True)
    os.replace(path + ".tmp", path)
    return True


# ---------------------------------------------------------------------------
# runs
# ---------------------------------------------------------------------------


def setup_once(spark, wl, d: str, sessions: list) -> tuple[float, float]:
    """Generate inputs into ``d`` and build the plan in a fresh session;
    returns (inputs_s, plan_build_s).  ``sessions`` keeps every session
    alive, because the engine's relation caches key on ``id(session)``."""
    t0 = time.perf_counter()
    wl.make_inputs(spark, d)
    t1 = time.perf_counter()
    sessions.append(spark.newSession())
    wl.build(sessions[-1])
    return t1 - t0, time.perf_counter() - t1


def untraced_run(spark, wl, work: str, seconds: float, rec: dict, rss: PeakRss) -> dict:
    phase = rec["phase_s"]
    t_phase = time.perf_counter()
    sessions: list = []
    reps = []
    for r in range(SETUP_REPS):
        d = os.path.join(work, f"rep{r}")
        inputs_s, plan_s = setup_once(spark, wl, d, sessions)
        reps.append({"inputs_s": inputs_s, "plan_build_s": plan_s})
        if r < SETUP_REPS - 1 and os.path.exists(d):
            # only the last set-up is run; deleting the others while their
            # files are still unflushed keeps the deletes cheap
            shutil.rmtree(d)
    rec["setup_reps"] = reps
    setup_s = rec["session_s"] + statistics.median(r["inputs_s"] + r["plan_build_s"] for r in reps)

    phase["setup"] = time.perf_counter() - t_phase
    warm_until = time.perf_counter() + wl.warmup_s
    n_warm = 0
    while n_warm < wl.warmup or time.perf_counter() < warm_until:
        rec["warmup_sum"] = list(wl.iterate())
        n_warm += 1
    rec["warmup_iters"] = n_warm
    phase["warmup"] = time.perf_counter() - t_phase - phase["setup"]
    walls, steals, sums = [], [], []
    attempted = failed = 0
    deadline = time.perf_counter() + seconds
    while True:
        attempted += 1
        c0, t0 = cpu_ticks(), time.perf_counter()
        try:
            s = wl.iterate()
        except Exception:
            traceback.print_exc()
            failed += 1
            s = None
        wall = time.perf_counter() - t0
        if s is not None:
            walls.append(wall)
            steals.append(round(steal_pct(c0, cpu_ticks()), 2))
            sums.append(s)
        if time.perf_counter() >= deadline:
            break
    # the peak covers the program's work (session, set-up, runs), not the
    # oracle checks below, which run in this process too
    peak_mb = rss.peak / 2**20
    t_phase = time.perf_counter()
    ref = sums[0] if sums else None
    bad = sum(1 for s in sums if s != ref)
    checks = {"iterations_repeat_checksum": bad == 0 and ref is not None}
    if ref is not None:
        checks["checksum_repeats_across_runs"] = ledger_check(wl.ledger_key(), ref)
        checks.update(wl.check())
    phase["check"] = time.perf_counter() - t_phase
    failed += bad
    if ref is not None and not checks["checksum_repeats_across_runs"]:
        failed = attempted
    rec.update(
        iter_s=walls,
        steal_pct_per_iter=steals,
        checksum=list(ref) if ref else None,
        checks=checks,
    )
    if not walls:
        raise RuntimeError("every measured iteration failed")
    rate = wl.items / statistics.median(walls)
    named = {
        "setup_s": setup_s,
        f"{wl.name}.{wl.item}s_per_s": rate,
        "fail_ratio": failed / attempted,
        "peak_rss_mb": peak_mb,
        **wl.named,
    }
    rec["named"] = named
    return {
        "correct": failed == 0 and all(checks.values()),
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            "setup_s": {"value": setup_s, "unit": "s"},
            "items_per_s": {"value": rate, "unit": "1/s"},
            "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        },
    }


def traced_run(spark, tracer, work: str, rec: dict) -> dict:
    from workloads import WORKLOADS, checksum_df, explain

    os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
    metrics = {"setup.session_s": rec["session_s"]}
    plans = []
    sessions: list = []
    checks: dict[str, bool] = {}
    attempted = failed = 0
    for name in WORKLOAD_NAMES:
        wl = WORKLOADS[name](rec["seed"])
        spark.sparkContext.setJobGroup(name, name)
        attempted += 1
        with tracer.span(f"setup.{name}"):
            inputs_s, plan_s = setup_once(spark, wl, os.path.join(work, name), sessions)
        metrics[f"setup.inputs_s.{name}"] = inputs_s
        metrics[f"setup.plan_build_s.{name}"] = plan_s
        try:
            with tracer.span(f"{name}.warmup"):
                for _ in range(wl.warmup):
                    wl.iterate()
            metrics.update(wl.trace(tracer))
            wc = {f"{name}.{k}": v for k, v in wl.check().items()}
            wc[f"{name}.checksum_repeats_across_runs"] = ledger_check(wl.ledger_key(), wl.trace_sum)
            if hasattr(wl, "out"):
                # the sink reads every column: the tile bit math must be in the plan
                plan = explain(checksum_df(wl.out))
                plans.append(f"== {name} ==\n{plan}")
                wc[f"{name}.plan_computes_tile"] = " AS tile#" in plan
        except Exception:
            traceback.print_exc()
            wc = {f"{name}.raised": False}
        checks.update(wc)
        failed += not all(wc.values())
        metrics[f"{name}.spark.failed_tasks"] = failed_tasks(spark, name)
    rec["checks"] = checks
    with open(os.path.join(STATE, "traces", f"{tracer.run_id}.plans.txt"), "w") as f:
        f.write("\n".join(plans))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def per_layer_units(name: str) -> str:
    if name.startswith("setup."):
        return "s"
    if name.endswith((".rows", ".rows_in", ".rows_out", ".files", ".failed_tasks")) or ".rejected." in name:
        return "count"
    if name.endswith(".bytes"):
        return "bytes"
    if name.endswith(".bytes_per_row"):
        return "bytes/row"
    if ".us_per_image" in name:
        return "us"
    if name.endswith("_s") or name.endswith(".s"):
        return "s"
    return "ratio"


def run(args) -> int:
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # every JVM (spark-submit's launcher and the Spark driver) and Python temp
    # file stays in the checkout; no hsperfdata under /tmp
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # shuffle and block files; the variable overrides spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(STATE, "spark-local")
    sys.path.insert(0, REPO)
    try:
        import ib_tool_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {REPO}: {e}", file=sys.stderr)
        return 2
    from spans import Tracer
    from workloads import WORKLOADS

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{uuid.uuid4().hex[:8]}"
    work = os.path.join(STATE, "work", run_id)
    cores = len(os.sched_getaffinity(0))
    rec = {"run_id": run_id, "workload": args.workload, "seed": args.seed,
           "seconds": args.seconds, "trace": args.trace, "cpus": cores, "phase_s": {}}
    spark = None
    c0 = cpu_ticks()
    try:
        with PeakRss() as rss:
            t0 = time.perf_counter()
            spark = start_session(cores)
            rec["session_s"] = time.perf_counter() - t0
            rec["session_conf"] = session_config(spark)
            rec["versions"] = versions(spark)
            if args.trace:
                tracer = Tracer(run_id)
                result = traced_run(spark, tracer, work, rec)
                tracer.write(os.path.join(STATE, "traces", f"{run_id}.jsonl"))
                result["metrics"] = {
                    k: {"value": v, "unit": per_layer_units(k)} for k, v in result["metrics"].items()
                }
            else:
                wl = WORKLOADS[args.workload](args.seed)
                spark.sparkContext.setJobGroup(wl.name, wl.name)
                result = untraced_run(spark, wl, work, args.seconds, rec, rss)
                rec["spark_failed_tasks"] = failed_tasks(spark, wl.name)
    finally:
        t0 = time.perf_counter()
        if spark is not None:
            stop_session(spark)
        t1 = time.perf_counter()
        shutil.rmtree(work, ignore_errors=True)
        rec["phase_s"].update(stop=t1 - t0, cleanup=time.perf_counter() - t1)
    rec["steal_pct"] = round(steal_pct(c0, cpu_ticks()), 2)
    rec["result"] = result
    with open(os.path.join(STATE, "results.jsonl"), "a") as f:
        f.write(json.dumps(rec) + "\n")
    print(json.dumps({"record": rec}))
    print(json.dumps(result))
    return 0


NAMED_UNITS = {
    "setup_s": "s",
    "images_per_s": "1/s",
    "buildings_per_s": "1/s",
    "resume_s": "s",
    "bytes_per_image": "bytes",
    "rejected_share": "ratio",
    "fail_ratio": "ratio",
    "peak_rss_mb": "MB",
}


def run_all(args) -> int:
    """Run every workload in its own process and print each named
    end-to-end metric with its unit."""
    attempted = failed = 0
    correct = True
    named: dict[str, float] = {}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"]
        p = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = p.stdout.strip().splitlines()
        if p.returncode != 0 or len(lines) < 2:
            print(f"perfbench: {name} exited with {p.returncode}", file=sys.stderr)
            return p.returncode or 1
        rec, res = json.loads(lines[-2])["record"], json.loads(lines[-1])
        attempted += res["attempted"]
        failed += res["failed"]
        correct &= res["correct"]
        for k, v in rec["named"].items():
            named[k if "." in k else f"{name}.{k}"] = v
    named["fail_ratio"] = failed / attempted
    for k, v in named.items():
        print(f"{k:48s} {v:14.6g} {NAMED_UNITS.get(k.rsplit('.', 1)[-1], 'count')}")
    print(f"correct: {correct}")
    return 0 if correct else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be > 0")
    if args.workload == "all":
        return run_all(args)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
