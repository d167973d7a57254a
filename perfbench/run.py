"""End-to-end and per-layer benchmark of stac_populator_spark.

    python3 perfbench/run.py --workload populate --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

One client in a closed loop: this single driver process on
``local[nproc]`` starts the next pass (or micro-batch) only after the
previous one has finished. Each run sets up its inputs from ``--seed``
in a fresh temporary directory inside the checkout, runs one untimed
warm-up pass, measures for about ``--seconds`` seconds, checks the
outputs against independent oracles and removes the directory.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on
Spark's event log, runs the cumulative ladder and prints the per-layer
metrics. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("populate", "spatial", "recrawl")
SETUP_REPS = 3
DEADLINE_S = 170  # a run that is not done by then stops without a result
T0 = time.monotonic()


def log(msg: str) -> None:
    """One progress line on standard error, stamped with the run's age."""
    print(f"perfbench: [{time.monotonic() - T0:6.1f}] {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------ process tree
def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_hwm(pid: int) -> dict[str, int]:
    """Peak resident set size (VmHWM, bytes) of a process and each of its
    descendants — the driver, the JVM and the Python workers — keyed by
    ``<pid>:<command name>``."""
    out = {}
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
            out[f"{p}:{fields['Name'].strip()}"] = int(fields["VmHWM"].split()[0]) * 1024
        except (OSError, KeyError, ValueError):
            continue
    return out


# ----------------------------------------------------------------- harness
class Harness:
    """Session lifecycle, operations with failure accounting, and memory
    sampling for one benchmark run."""

    def __init__(self, args, root: str):
        from tracing import Tracer

        self.args = args
        self.root = root
        self.trace = bool(args.trace)
        self.cpus = len(os.sched_getaffinity(0))
        # timed micro-batches per phase of the batch-driven workload
        self.batches = 1 if self.trace else max(2, args.seconds // 6)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.peak_rss = 0
        self.peak_rss_by_process: dict[str, int] = {}
        self.spark = None
        self.tracer = Tracer()
        self._query = None

    def environment(self) -> None:
        tmp = os.path.join(self.root, "tmp")
        local = os.path.join(self.root, "local")
        os.makedirs(tmp)
        os.makedirs(local)
        os.makedirs(os.path.join(self.root, "s"))
        path = [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        os.environ.update(
            {
                # the package and the benchmark must import on the workers
                "PYTHONPATH": os.pathsep.join(path),
                "PYSPARK_PYTHON": sys.executable,
                "PYSPARK_DRIVER_PYTHON": sys.executable,
                "SPARK_GRAFT_CPUS": str(self.cpus),
                "SPARK_GRAFT_DRIVER_MEM": "2g",
                "SPARK_LOCAL_DIRS": local,
                "TMPDIR": tmp,
            }
        )

    def socket_dir(self) -> str:
        """Directory of the driver's and Python workers' Unix domain
        sockets. A socket path holds at most 107 bytes, which a deep
        checkout's absolute path can exceed, so the shorter of the
        absolute path and the one relative to the working directory (the
        JVM and the workers inherit it) is used."""
        d = os.path.join(self.root, "s")
        return min(os.path.abspath(d), os.path.relpath(d), key=len)

    def start(self, eventlog: str | None = None) -> float:
        """Start (or restart, in the same JVM) the session; returns the
        wall time it took."""
        from stac_populator_spark.session import get_spark

        conf = {
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.root, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData -Xms2g"
            ),
            "spark.ui.showConsoleProgress": "false",
            "spark.python.unix.domain.socket.dir": self.socket_dir(),
        }
        if eventlog:
            os.makedirs(eventlog, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": eventlog,
                    "spark.eventLog.compress": "false",
                }
            )
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        wall = time.perf_counter() - t0
        log(f"session start {wall:.3f} s")
        self.tracer.sc = self.spark.sparkContext
        return wall

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
            self.tracer.sc = None

    def shutdown(self) -> None:
        """Stop the session, end the JVM and wait for every process this
        run started."""
        # the Python workers are children of the JVM; once it exits they
        # are no longer our descendants, so remember them now
        started = descendants(os.getpid())
        self.stop()
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            with contextlib.suppress(Exception):
                gw.shutdown()
            if proc is not None:
                with contextlib.suppress(Exception):
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None
        def alive() -> list[int]:
            return [p for p in set(started) | set(descendants(os.getpid()))
                    if os.path.exists(f"/proc/{p}")]

        deadline = time.monotonic() + 20
        while alive() and time.monotonic() < deadline:
            time.sleep(0.2)
        for p in alive():
            with contextlib.suppress(OSError):
                os.kill(p, signal.SIGKILL)
        deadline = time.monotonic() + 10
        while alive() and time.monotonic() < deadline:
            time.sleep(0.2)

    @staticmethod
    def quiet():
        """Keep the CLI verbs' progress lines off standard output."""
        return contextlib.redirect_stdout(sys.stderr)

    def watch(self, query) -> None:
        """Register a streaming query whose jobs belong to the current
        operation (they run under the query's own job group)."""
        self._query = query

    def _failed_tasks(self, group: str) -> int:
        st = self.spark.sparkContext.statusTracker()
        n = 0
        for jid in st.getJobIdsForGroup(group):
            job = st.getJobInfo(jid)
            if job is None:
                continue
            n += int(job.status == "FAILED")
            for sid in job.stageIds:
                stage = st.getStageInfo(sid)
                n += stage.numFailedTasks if stage is not None else 0
        return n

    def op(self, name: str, fn, *a) -> float | None:
        """Run one operation; returns its wall time, or None if it raised
        or any of its Spark tasks failed."""
        self.attempted += 1
        group = f"perfbench-{uuid.uuid4().hex[:12]}"
        self.spark.sparkContext.setJobGroup(group, name)
        self._query = None
        ok = True
        t0 = time.perf_counter()
        try:
            with self.tracer.span(name):
                fn(*a)
        except Exception as exc:  # an operation that raises is a failed operation
            ok = False
            self.errors.append(f"{name}: {exc!r}"[:400])
            traceback.print_exc(file=sys.stderr)
        wall = time.perf_counter() - t0
        bad = self._failed_tasks(group)
        if self._query is not None:
            bad += self._failed_tasks(str(self._query.runId))
        if bad:
            ok = False
            self.errors.append(f"{name}: {bad} failed Spark tasks or jobs")
        self.failed += int(not ok)
        self.sample_rss()
        log(f"{name} {wall:.3f} s{'' if ok else ' FAILED'}")
        return wall if ok else None

    def sample_rss(self) -> None:
        hwm = tree_hwm(os.getpid())
        if sum(hwm.values()) > self.peak_rss:
            self.peak_rss = sum(hwm.values())
            self.peak_rss_by_process = hwm


# ------------------------------------------------------------------ phases
def timed_passes(h: Harness, wl, seconds: float, tag: str, min_passes: int,
                 warm: bool = True) -> tuple[list[float], list[str]]:
    """An untimed warm-up pass (if ``warm``), then a closed loop of passes
    until ``seconds`` of pass time (at least ``min_passes`` passes).
    Returns the pass walls and span names."""
    if warm:
        h.op(f"{tag}warmup", wl.op, f"{tag}warmup")
        wl.discard(f"{tag}warmup")
    walls, names, i = [], [], 0
    while sum(walls) < seconds or len(walls) < min_passes:
        name = f"{tag}pass/{i}"
        w = h.op(name, wl.op, name)
        if i:
            wl.discard(f"{tag}pass/{i - 1}")
        if w is None:
            break
        walls.append(w)
        names.append(name)
        i += 1
    return walls, names


def timed_batches(h: Harness, wl, tag: str) -> tuple[list[float], list[str], float | None]:
    """Warm-up micro-batch, then ``h.batches`` timed micro-batches and the
    export verb. Returns batch walls, their span names and the export wall."""
    b0 = wl.next_batch
    h.op(f"{tag}warmup", wl.op, b0)
    walls, names = [], []
    for k in range(1, h.batches + 1):
        name = f"{tag}batch/{k}"
        w = h.op(name, wl.op, b0 + k)
        if w is None:
            break
        walls.append(w)
        names.append(name)
    wl.next_batch = b0 + h.batches + 1
    exp = h.op(f"{tag}export", wl.export, tag)
    return walls, names, exp


def run_phase(h: Harness, wl, seconds: float, tag: str = "", min_passes: int | None = None,
              warm: bool = True) -> tuple[float | None, list[str]]:
    """One timed phase; returns (rows_per_s, span names of the timed ops).
    A batch-driven phase always starts with its warm-up micro-batch."""
    if wl.timed_by_passes:
        walls, names = timed_passes(h, wl, seconds, tag, min_passes or wl.min_passes, warm)
        if not walls:
            return None, names
        return statistics.median(wl.rows() / w for w in walls), names
    walls, names, exp = timed_batches(h, wl, tag)
    if not walls or exp is None:
        return None, names
    return wl.rows() * len(walls) / (sum(walls) + exp), names


def run_checks(h: Harness, wl) -> list[str]:
    """Correctness oracles; a failed check fails the operation it checked."""
    try:
        with h.tracer.span("check"):
            bad = wl.check()
    except Exception as exc:
        traceback.print_exc(file=sys.stderr)
        bad = [f"check raised {exc!r}"[:400]]
    log("checks " + ("failed" if bad else "passed"))
    if bad:
        h.failed = min(h.failed + 1, h.attempted)
        h.errors.extend(bad)
    return bad


def run_untraced(h: Harness, wl) -> dict:
    start_s = h.start()
    setups = []
    for rep in range(SETUP_REPS):
        d = os.path.join(h.root, f"setup{rep}")
        t0 = time.perf_counter()
        wl.setup(d)
        setups.append(time.perf_counter() - t0)
        log(f"setup/{rep} {setups[-1]:.3f} s")
        h.sample_rss()
        if rep:
            shutil.rmtree(os.path.join(h.root, f"setup{rep - 1}"))
    rate, _ = run_phase(h, wl, h.args.seconds)
    bad = run_checks(h, wl) if rate is not None else ["no timed operation completed"]
    h.sample_rss()
    return {
        "ok": not bad and rate is not None,
        "metrics": {
            "rows_per_s": rate if rate is not None else 0.0,
            "setup_s": start_s + statistics.median(setups),
            "peak_rss_mb": h.peak_rss / (1024.0 * 1024.0),
            "out_mb": wl.out_bytes() / (1024.0 * 1024.0) if rate is not None else 0.0,
        },
    }


def write_side(h: Harness) -> tuple[dict, list[str]]:
    """The recrawl workload's write side in the current (traced) session:
    set-up, a warm-up and one timed micro-batch, the export verb, checks
    and ladder. Returns the merge, ingest and export metrics and the
    failed checks."""
    from workloads import Recrawl

    rc = Recrawl(h, h.args.seed, h.args.scale, phases=1)
    rc.setup(os.path.join(h.root, "recrawl"))
    _, names, exp = timed_batches(h, rc, "recrawl/")
    if not names or exp is None:
        return {}, ["no recrawl micro-batch or export completed"]
    bad = run_checks(h, rc)
    with h.tracer.span("ladder/recrawl"):
        lad = rc.ladder(h.tracer)
    return rc.write_layers(lad, names), bad


def run_traced(h: Harness, wl) -> dict:
    from tracing import EventLog, load_events, spark_layer
    from workloads import LAYER_METRICS

    start_s = h.start()
    wl.setup(os.path.join(h.root, "setup0"))
    half = max(h.args.seconds / 2.0, 1.0)
    # a traced run times two short phases, one without and one with the
    # event log, for the tracing overhead. One warm-up pass warms the JVM;
    # each phase then starts a fresh session (new Python workers) on it,
    # so the two phases differ only in the event log.
    warm = not wl.timed_by_passes
    if not warm:
        h.op("warmup", wl.op, "warmup")
        wl.discard("warmup")
        h.stop()
        h.start()
        wl.bind()
    untraced, _ = run_phase(h, wl, half, "untraced/", min_passes=1, warm=warm)
    h.stop()
    evdir = os.path.join(h.root, "eventlog")
    h.start(eventlog=evdir)
    wl.bind()
    traced, spans = run_phase(h, wl, half, min_passes=1, warm=warm)
    with h.tracer.span("ladder"):
        lad = wl.ladder(h.tracer)
    bad = run_checks(h, wl) if traced is not None else ["no timed operation completed"]
    m = {k: 0.0 for k in LAYER_METRICS}
    if wl.write_side:
        ws, ws_bad = write_side(h)
        m.update(ws)
        bad += ws_bad
    h.stop()
    ev = EventLog(load_events(evdir))
    m.update(wl.layers(ev, lad, spans))
    st = ev.stats(spans)
    m.update(spark_layer(st))
    m["skew.straggler_ratio"] = st.straggler_ratio()
    m["session.start_s"] = start_s
    m["trace.rows_per_s"] = traced or 0.0
    m["trace.untraced_rows_per_s"] = untraced or 0.0
    m["trace.overhead"] = (traced / untraced) if traced and untraced else 0.0
    unknown = set(m) - set(LAYER_METRICS)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    h.tracer.dump(os.path.join(ROOT, ".perfbench_out", f"spans-{wl.name}-{h.args.seed}.json"))
    return {"ok": not bad and traced is not None, "metrics": m}


# -------------------------------------------------------------------- main
def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size factor (the benchmark's own tests use a tiny one)")
    return p.parse_args(argv)


def run_all(args) -> int:
    """Each workload in its own process; prints every metric of every
    workload, then one combined JSON line."""
    results = {}
    for w in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace), "--scale", str(args.scale)]
        out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False).stdout
        lines = [ln for ln in out.splitlines() if ln.strip()]
        if not lines or not lines[-1].startswith("{"):
            print(f"{w}: no result", file=sys.stderr)
            return 1
        results[w] = json.loads(lines[-1])
    for w, r in results.items():
        for k, v in r["metrics"].items():
            print(f"{w:9s} {k:36s} {v['value']:>16.6g} {v['unit']}")
        print(f"{w:9s} {'error_rate':36s} {r['failed'] / r['attempted']:>16.6g} ratio")
    print(json.dumps({
        "correct": all(r["correct"] for r in results.values()),
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": sum(r["failed"] for r in results.values()),
        "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
    }))
    return 0


class Deadline(BaseException):
    """Raised when a run overruns; not an operation failure, so no
    operation handler catches it and the run ends without a result."""


def _deadline(signum, frame):
    raise Deadline(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    sys.path[:0] = [ROOT, HERE]
    try:
        import stac_populator_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import stac_populator_spark from {ROOT}: {exc}", file=sys.stderr)
        return 2
    from workloads import E2E_UNITS, LAYER_UNITS, WORKLOADS

    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    root = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    h = Harness(args, root)
    try:
        h.environment()
        wl = WORKLOADS[args.workload](h, args.seed, args.scale)
        res = run_traced(h, wl) if h.trace else run_untraced(h, wl)
    finally:
        signal.alarm(0)
        h.shutdown()
        log("stopped")
        shutil.rmtree(root, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(root))
    by_proc = sorted(h.peak_rss_by_process.items(), key=lambda kv: -kv[1])
    print("perfbench: peak RSS by process (MB): "
          + ", ".join(f"{k} {v / 2**20:.0f}" for k, v in by_proc), file=sys.stderr)
    units = LAYER_UNITS if h.trace else E2E_UNITS
    metrics = {k: {"value": res["metrics"][k], "unit": u} for k, u in units.items()}
    print(f"perfbench {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    for k, v in metrics.items():
        print(f"  {k:36s} {v['value']:>16.6g} {v['unit']}")
    print(f"  {'error_rate':36s} {h.failed / max(h.attempted, 1):>16.6g} ratio"
          f" ({h.failed} failed of {h.attempted} operations)")
    for e in h.errors:
        print(f"  error: {e}")
    print(json.dumps({
        "correct": res["ok"] and h.failed == 0,
        "attempted": h.attempted,
        "failed": h.failed,
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
