"""Layered benchmark for the spark-graft engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload as a closed loop with one client: a single process
calls the engine's entry points one operation after another on
``local[4]``. The seed generates the inputs and orders the operations
of every pass. Between the cold first pass and the warm passes an untimed
pass checks every output against the DuckDB oracle.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
passes with Spark's event log on, prints the per-layer metrics, and then
repeats the passes with the event log off in a fresh process to report
the tracing overhead. The last line of standard output
is one JSON object; a per-operation artifact is written under
``.perfbench/results/`` in the checkout. Run from the checkout root;
everything the run writes stays under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")

import eventlog  # noqa: E402
import layers  # noqa: E402
import stats  # noqa: E402
from workloads import WORKLOADS, Tracer  # noqa: E402

CORES = 4
SETUP_SAMPLES = 3
MIN_LATER_PASSES = 2

# (name, unit) in the order BENCHMARK.json lists them
END_TO_END = (
    ("setup_s", "s"),
    ("first_pass_s", "s"),
    ("pass_s", "s"),
    ("op_p50_s", "s"),
)


@dataclass
class Context:
    seed: int
    cache_dir: str
    run_dir: str


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=12.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--child", choices=("setup", "passes"), help=argparse.SUPPRESS)
    p.add_argument("--child-dir", help=argparse.SUPPRESS)
    args = p.parse_args(argv)
    if args.child != "setup" and args.workload is None:
        p.error("--workload is required")
    return args


def engine_present() -> bool:
    return os.path.isdir(os.path.join(ROOT, "_imdb_etl_spark")) and os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    )


def prepare_env(run_dir: str) -> None:
    """Keep every file the run writes under ``run_dir``, and let Python
    workers import the engine whatever the working directory is."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(run_dir: str, tag: str, trace: bool):
    """get_spark plus a first trivial job; returns (spark, seconds).
    The engine import happens inside the timed region."""
    base = os.path.join(run_dir, tag)
    for sub in ("local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(base, sub), exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(base, "local"),
        "spark.sql.warehouse.dir": os.path.join(base, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.eventLog.enabled": "true" if trace else "false",
        "spark.eventLog.dir": "file://" + os.path.join(base, "eventlog"),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }
    t0 = time.perf_counter()
    from _imdb_etl_spark.session import get_spark

    spark = get_spark(
        app_name=f"perfbench-{tag}",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf=conf,
    )
    spark.sql("SELECT 1").collect()
    seconds = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    return spark, seconds


def event_log_path(run_dir: str, tag: str) -> str:
    d = os.path.join(run_dir, tag, "eventlog")
    (name,) = os.listdir(d)
    return os.path.join(d, name)


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM it launched."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    if proc is not None:
        # Python workers are the JVM's children: let them end first, so
        # none outlives the JVM as an orphan this run can no longer see
        reap_descendants(proc.pid)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def peak_rss_mb() -> dict[str, float]:
    """Peak RSS (VmHWM) in MB of this process, the JVM and the Python
    workers, by process name and pid."""
    out = {}
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status", encoding="utf-8") as f:
                fields = dict(line.split(":", 1) for line in f if ":" in line)
        except OSError:
            continue  # exited between the listing and the read
        if "VmHWM" in fields:
            out[f"{fields['Name'].strip()}:{pid}"] = int(fields["VmHWM"].split()[0]) / 1024.0
    return out


def reap_descendants(root: int, timeout: float = 15.0) -> None:
    """Wait for every descendant of ``root`` to end; kill stragglers."""
    deadline = time.monotonic() + timeout
    while (left := descendants(root)) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while descendants(root) and time.monotonic() < deadline + 10:
        time.sleep(0.1)


def child_main(args) -> int:
    """A measurement that needs a fresh process: one set-up, or the
    passes of an untraced session for the tracing-overhead baseline."""
    run_dir = args.child_dir
    prepare_env(run_dir)
    if args.child == "setup":
        spark, seconds = start_session(run_dir, "probe", trace=False)
        out = {"setup_s": seconds}
    else:
        work = WORKLOADS[args.workload]
        ctx = Context(args.seed, os.path.join(STATE, "cache"), run_dir)
        inputs = work.prepare(ctx)
        spark, _ = start_session(run_dir, "untraced", trace=False)
        tally = stats.Tally()
        m = measure(spark, work, ctx, inputs, later_passes(args), tally, verify=False)
        out = {"pass_walls_s": m.pass_walls, "attempted": tally.attempted,
               "failed": tally.failed, "errors": tally.errors}
    spark.stop()
    shutdown_jvm()
    print(json.dumps(out), flush=True)
    return 0


def run_child(ctx: Context, tag: str, timeout: float, *argv: str) -> dict:
    try:
        out = subprocess.run(
            [sys.executable, os.path.abspath(__file__), *argv,
             "--child-dir", os.path.join(ctx.run_dir, tag)],
            capture_output=True, text=True, timeout=timeout, check=True,
        )
    except subprocess.CalledProcessError as e:
        sys.stderr.write(e.stderr[-4000:])
        raise
    return json.loads(out.stdout.strip().splitlines()[-1])


@dataclass
class Measured:
    pass_walls: list[float]
    op_seconds: list[float]
    tracer: Tracer


def measure(spark, work, ctx: Context, inputs, later: int, tally: stats.Tally,
            verify: bool, before_warm=lambda k: None) -> Measured:
    """The cold first pass, the untimed verification pass (which also
    finishes warming the JVM), then ``later`` warm passes, each preceded
    by ``before_warm(k)``.

    The cold pass runs the operations in their listed order: whichever
    runs first pays the session's lazy initialisation, so a seeded order
    would make ``first_pass_s`` depend on the seed. Per-operation times
    come from the warm passes only; the cold ones are ``first_pass_s``.
    """
    tracer = Tracer(spark.sparkContext)
    rng = random.Random(ctx.seed)
    walls, op_s = [], []

    def timed_pass(k: int) -> None:
        tracer.start_pass(str(k))
        t0 = time.perf_counter()
        results = work.run_pass(spark, tracer, inputs, rng if k else None)
        walls.append(time.perf_counter() - t0)
        for r in results:
            tally.record(f"pass {k} {r.op}", r.error)
            if k:
                op_s.append(r.seconds)

    timed_pass(0)
    if verify:
        tracer.start_pass("verify")
        for op, error in work.verify(spark, tracer, inputs):
            tally.record(f"verify {op}", error)
    for k in range(1, 1 + later):
        before_warm(k)
        timed_pass(k)
    return Measured(walls, op_s, tracer)


def run_untraced(work, ctx: Context, inputs, later: int, tally: stats.Tally, args):
    spark, seconds = start_session(ctx.run_dir, "main", trace=False)
    setup = [seconds]

    def probe(k: int) -> None:
        # The other set-up samples run in fresh processes while this
        # session idles between warm passes, so that the warm passes and
        # the set-ups are spread over the run instead of sharing one
        # window with any burst of load from elsewhere on the host.
        if len(setup) < SETUP_SAMPLES:
            setup.append(run_child(ctx, f"probe{k}", 60, "--child", "setup")["setup_s"])

    m = measure(spark, work, ctx, inputs, later, tally, verify=True, before_warm=probe)
    while len(setup) < SETUP_SAMPLES:
        probe(len(setup))
    rss = peak_rss_mb()
    spark.stop()
    t = stats.tail(m.op_seconds)
    metrics = {
        "setup_s": stats.median(setup),
        "first_pass_s": m.pass_walls[0],
        "pass_s": stats.median(m.pass_walls[1:]),
        "op_p50_s": stats.median(m.op_seconds),
    }
    detail = {
        "setup_samples_s": setup,
        "pass_walls_s": m.pass_walls,
        "op_tail": vars(t),
        "peak_rss_mb": sum(rss.values()),
        "peak_rss_mb_by_process": rss,
        "spans": [vars(s) for s in m.tracer.spans],
    }
    return metrics, END_TO_END, detail


def run_traced(work, ctx: Context, inputs, later: int, tally: stats.Tally, args):
    spark, start_s = start_session(ctx.run_dir, "traced", trace=True)
    traced = measure(spark, work, ctx, inputs, later, tally, verify=True)
    spark.stop()
    shutdown_jvm()
    groups = eventlog.read(event_log_path(ctx.run_dir, "traced"))
    # the baseline runs the same passes in a fresh process, so both
    # sides start from a cold JVM
    plain = run_child(ctx, "untraced", 120, "--child", "passes", "--workload", work.name,
                      "--seed", str(ctx.seed), "--seconds", str(args.seconds))
    tally.attempted += plain["attempted"]
    tally.failed += plain["failed"]
    tally.errors += plain["errors"]
    metrics = layers.compute(
        groups, traced.tracer.spans, traced.pass_walls, start_s,
        stats.median(plain["pass_walls_s"][1:]),
    )
    detail = {
        "pass_walls_s": traced.pass_walls,
        "untraced_pass_walls_s": plain["pass_walls_s"],
        "per_op": layers.per_op_rows(groups, traced.tracer.spans),
    }
    return metrics, layers.PER_LAYER, detail


def later_passes(args) -> int:
    return max(MIN_LATER_PASSES, round(args.seconds / WORKLOADS[args.workload].nominal_pass_s))


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.child:
        return child_main(args)
    if not engine_present():
        print("perfbench: engine sources (_imdb_etl_spark/, __spark_entry__.py) "
              f"not found under {ROOT}", file=sys.stderr)
        return 2
    work = WORKLOADS[args.workload]
    ctx = Context(args.seed, os.path.join(STATE, "cache"),
                  os.path.join(STATE, f"run-{os.getpid()}"))
    os.makedirs(ctx.cache_dir, exist_ok=True)
    later = later_passes(args)
    tally = stats.Tally()
    try:
        prepare_env(ctx.run_dir)
        inputs = work.prepare(ctx)
        runner = run_traced if args.trace else run_untraced
        metrics, spec, detail = runner(work, ctx, inputs, later, tally, args)
    finally:
        shutdown_jvm()
        reap_descendants(os.getpid())
        shutil.rmtree(ctx.run_dir, ignore_errors=True)

    for err in tally.errors:
        print(f"perfbench: FAILED {err}", file=sys.stderr)
    artifact = {
        "workload": work.name, "seed": args.seed, "trace": args.trace,
        "cores": CORES, "clients": 1, "later_passes": later, "inputs": work.facts,
        "attempted": tally.attempted, "failed": tally.failed,
        "fail_frac": tally.fail_frac, "errors": tally.errors,
        "metrics": metrics, **detail,
    }
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    path = os.path.join(STATE, "results",
                        f"{work.name}-s{args.seed}-trace{args.trace}-{stamp}.json")
    with open(path, "w", encoding="utf-8") as f:
        json.dump(artifact, f, indent=1)

    for name, unit in spec:
        print(f"{name:28s} {metrics[name]:14.4f} {unit}")
    print(f"{'fail_frac':28s} {tally.fail_frac:14.4f} ratio "
          f"({tally.failed}/{tally.attempted})")
    if "op_tail" in detail:
        # recorded, not gated: README.md says why neither holds a bound
        t = detail["op_tail"]
        print(f"{'op_tail_s':28s} {t['value']:14.4f} s "
              f"(p{t['percentile']:.0f} of {t['n']} operations, {t['beyond']} beyond it)")
        print(f"{'peak_rss_mb':28s} {detail['peak_rss_mb']:14.4f} MB")
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {name: {"value": metrics[name], "unit": unit} for name, unit in spec},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
