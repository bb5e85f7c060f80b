"""sparktika benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload html_extract --seed 1 --seconds 30 --trace 0

Measures the source tree it sits in (or `--tree DIR`) on local[N],
N = min(4, nproc). Passes run back to back with nothing else running.
With `--trace 0` it reports the end-to-end metrics; with `--trace 1` it
forces every layer on its own and reports the per-layer metrics, their
spans and the tracing overhead. Human-readable lines go first; the last
line of standard output is one JSON object
`{"correct", "attempted", "failed", "metrics"}`. Inputs, Spark scratch
files and the full record (spans, per-pass samples, context, input
digest) go under `.perfbench_work/` next to this directory, so trees
measured from one checkout share their inputs.

`--workload all` runs every workload in one process, one after another.
`--compare A.json B.json` compares two full records and refuses when
their input digests differ.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shlex
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager, suppress

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORK = os.path.join(os.path.dirname(HERE), ".perfbench_work")
CORES = min(4, os.cpu_count() or 1)
SETUPS = 3          # set-ups per run (the first starts the JVM); median
TRACE_PASSES = 2    # untraced and traced passes, interleaved, in a trace run
RSS_PASSES = 8      # peak RSS: median over this many passes, however long


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tree_digest(tree: str) -> str:
    """sha256 over the program's Python sources under `tree`/sparktika."""
    h = hashlib.sha256()
    pkg = os.path.join(tree, "sparktika")
    for root, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                h.update(os.path.relpath(p, tree).encode())
                with open(p, "rb") as fh:
                    h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def tree_commit(tree: str) -> str:
    try:
        out = subprocess.run(["git", "-C", tree, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def prepare_env(tree: str, work: str) -> None:
    """Point the driver and the Python workers at `tree`, and keep Spark's
    scratch files inside the work directory. Runs before the JVM starts."""
    sys.path.insert(0, tree)
    paths = [tree] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files under /tmp, from the launcher or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        "--conf", f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"
                  " -XX:-UsePerfData",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell"])


def context(args, tree: str, inp) -> dict:
    import pyarrow
    import pyspark

    return {
        "workload": inp.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "input_digest": inp.digest,
        "n_docs": inp.n_docs, "tree": tree, "tree_commit": tree_commit(tree),
        "tree_digest": tree_digest(tree), "nproc": os.cpu_count(),
        "master": f"local[{CORES}]", "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "python": sys.version.split()[0],
    }


class Runner:
    """One workload: set up SETUPS times, then time passes or trace."""

    def __init__(self, wl):
        self.wl = wl
        self.spark = None
        self.setup_s: list[float] = []
        self.session_s: list[float] = []

    def setup(self) -> None:
        from sparktika.pipeline.session import build_session

        for _ in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = build_session(app_name="perfbench",
                                       master=f"local[{CORES}]")
            self.spark.sparkContext.setLogLevel("ERROR")
            self.session_s.append(time.perf_counter() - t0)
            self.wl.register(self.spark)
            self.wl.warm()
            self.setup_s.append(time.perf_counter() - t0)

    def one_pass(self, samples: list[dict], warm: bool = False) -> bool:
        """Run and measure one pass; False if it raised or a task failed."""
        from procfs import PassClock, RssSampler
        from sparkstats import StageWindow

        self.release()
        win = StageWindow(self.spark)
        ok = True
        with RssSampler() as rss, PassClock() as clock:
            try:
                self.wl.run_pass()
            except Exception:  # noqa: BLE001 — a failed pass is a result
                traceback.print_exc()
                ok = False
        failures = win.close().failed_tasks()
        samples.append({"wall_s": clock.wall_s, "cpu_s": clock.cpu_s,
                        "peak_rss_mb": rss.peak_mb,
                        "steal_s": clock.steal_s, "load_1m": clock.load_1m,
                        "task_failures": failures, "ok": ok, "warm": warm})
        return ok and failures == 0

    def release(self) -> None:
        """Untimed, before each pass (~0.15 s): collect the garbage that
        earlier passes left in the driver and the JVM, so the JVM heap
        does not grow pass by pass and peak RSS reflects what one pass
        holds."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()  # noqa: SLF001

    def timed(self, seconds: float) -> list[dict]:
        samples: list[dict] = []
        t0 = time.perf_counter()
        while len(samples) < RSS_PASSES or time.perf_counter() - t0 < seconds:
            self.one_pass(samples)
        # the JVM keeps speeding up for several passes: the earlier half
        # is warm-up, the later half is timed
        for s in samples[:len(samples) // 2]:
            s["warm"] = True
        return samples

    def stop(self) -> None:
        """Stop Spark, then the JVM and the Python workers, and wait."""
        from procfs import tree_pids

        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway  # noqa: SLF001
        if gateway is None:
            return
        left = set(tree_pids()) - {os.getpid()}
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = SparkContext._jvm = None  # noqa: SLF001
        deadline = time.monotonic() + 30
        while left and time.monotonic() < deadline:
            left = {p for p in left if os.path.exists(f"/proc/{p}")
                    and not _is_zombie(p)}
            time.sleep(0.05)
        for pid in left:
            with suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)


def _is_zombie(pid: int) -> bool:
    from procfs import _stat_fields

    fields = _stat_fields(pid)
    return fields is None or fields[0] == "Z"


def _python_worker_cpu_s() -> float:
    from procfs import _stat_fields, _TICK, tree_pids

    ticks = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"pyspark" in cmd and pid != os.getpid():
            fields = _stat_fields(pid)
            if fields is not None:
                ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


class _Phases:
    """Wall time of each phase of a run, for the record."""

    def __init__(self):
        self.times: dict[str, float] = {}

    @contextmanager
    def __call__(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.times[name] = time.perf_counter() - t0


def _accounting(wl, samples: list[dict], checked: int, failed_ids: list[str]):
    bad_passes = sum(1 for s in samples if not s["ok"] or s["task_failures"])
    attempted = wl.n_docs * len(samples) + checked
    failed = wl.n_docs * bad_passes + len(failed_ids)
    return attempted, failed


def end_to_end_metrics(setup_s: list[float], samples: list[dict],
                       n_docs: int) -> dict:
    """Medians over the timed passes that neither raised nor lost a task;
    peak RSS over the first RSS_PASSES passes, so the same amount of work
    is read however fast the program runs."""
    good = [s for s in samples
            if s["ok"] and not s["task_failures"] and not s["warm"]]
    return {
        "setup_s": _median(setup_s),
        "docs_per_s": _median([n_docs / s["wall_s"] for s in good]),
        "cpu_s_per_kdoc": _median([s["cpu_s"] * 1000 / n_docs for s in good]),
        "peak_rss_mb": _median([s["peak_rss_mb"] for s in samples[:RSS_PASSES]]),
    }


def run_untraced(wl, args) -> dict:
    r = Runner(wl)
    phases = _Phases()
    try:
        with phases("setup"):
            r.setup()
        with phases("timed"):
            samples = r.timed(args.seconds)
        with phases("check"):
            checked, failed_ids = wl.check()
    finally:
        with phases("stop"):
            r.stop()
    metrics = end_to_end_metrics(r.setup_s, samples, wl.n_docs)
    attempted, failed = _accounting(wl, samples, checked, failed_ids)
    return {"metrics": metrics, "attempted": attempted, "failed": failed,
            "failed_ids": failed_ids[:50], "passes": samples,
            "setup_samples_s": r.setup_s, "session_samples_s": r.session_s,
            "phases_s": phases.times}


def run_traced(wl, args) -> dict:
    from catalog import PER_LAYER
    from sparkstats import StageWindow, Tracer

    r = Runner(wl)
    phases = _Phases()
    layer: dict = {}
    try:
        with phases("setup"):
            r.setup()
        tr = Tracer(r.spark)
        samples: list[dict] = []
        with phases("timed"):
            r.one_pass(samples, warm=True)
            # untraced and traced passes alternate, so drift hits both
            untraced, traced, py_cpu, summaries = [], [], 0.0, []
            for i in range(TRACE_PASSES):
                r.one_pass(untraced)
                win = StageWindow(r.spark)
                py0 = _python_worker_cpu_s()
                with tr.span(f"pass.{i + 1}"):
                    r.one_pass(traced)
                py_cpu += _python_worker_cpu_s() - py0
                summaries.append(win.close().summary())
        for k in summaries[0]:
            layer[f"spark.{k}"] = _median([s[k] for s in summaries])
        layer["spark.python_cpu_s"] = py_cpu / TRACE_PASSES
        layer["trace.overhead_s"] = (_median([s["wall_s"] for s in traced])
                                     - _median([s["wall_s"] for s in untraced]))
        samples += untraced + traced
        with phases("check"):
            checked, failed_ids = wl.check()
        with phases("layers"):
            failed_ids += wl.trace(tr, layer)
        layer["session.start_s"] = _median(r.session_s)
    finally:
        with phases("stop"):
            r.stop()
    names = [n for n, *_ in PER_LAYER]
    unmeasured = sorted(n for n in names if n not in layer)
    attempted, failed = _accounting(wl, samples, checked, failed_ids)
    return {"metrics": {n: layer.get(n, 0) for n in names},
            "extra": {k: v for k, v in layer.items() if k not in names},
            "unmeasured": unmeasured, "spans": tr.rows(),
            "layer_wall_s": phases.times["layers"],
            "attempted": attempted, "failed": failed,
            "failed_ids": failed_ids[:50], "passes": samples,
            "setup_samples_s": r.setup_s, "session_samples_s": r.session_s,
            "phases_s": phases.times}


def run_workload(name: str, args, tree: str) -> dict:
    from catalog import UNITS
    from inputs import materialize
    from workloads import WORKLOADS

    t0 = time.perf_counter()
    inp = materialize(name, args.seed, WORK)
    gen_s = time.perf_counter() - t0
    wl = WORKLOADS[name](inp, WORK)
    res = (run_traced if args.trace else run_untraced)(wl, args)
    res["context"] = dict(context(args, tree, inp), input_gen_s=gen_s)
    _report(name, res, UNITS)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    path = os.path.join(WORK, "results", f"{name}-s{args.seed}-t{int(args.trace)}"
                        f"-{res['context']['tree_digest'][:12]}.json")
    with open(path, "w") as f:
        json.dump(res, f, indent=1, default=str)
    return res


def _report(name: str, res: dict, units: dict) -> None:
    """Human-readable lines: every metric with unit and sample count."""
    print(f"# {name}  master={res['context']['master']}  seed={res['context']['seed']}"
          f"  inputs={res['context']['input_digest'][:16]}"
          f"  tree={res['context']['tree_digest'][:16]}")
    for p in res["passes"]:
        print(f"#   pass wall={p['wall_s']:.3f}s cpu={p['cpu_s']:.2f}s "
              f"peak_rss={p['peak_rss_mb']:.0f}MB "
              f"steal={p['steal_s']:.2f}s load1={p['load_1m']:.2f} "
              f"task_failures={p['task_failures']} ok={p['ok']}"
              + (" (warm-up, untimed)" if p["warm"] else ""))
    timed = sum(1 for p in res["passes"] if not p["warm"])
    samples = {"setup_s": len(res["setup_samples_s"]), "docs_per_s": timed,
               "cpu_s_per_kdoc": timed, "peak_rss_mb": RSS_PASSES}
    for k, v in res["metrics"].items():
        print(f"{k:36s} {v:14.4f} {units[k]:8s} n={samples.get(k, 1)}")
    for span in res.get("spans", []):
        print(f"# span {span['name']:28s} parent={span['parent']!s:24s} "
              f"dur={span['dur_s']:.4f}s self={span['self_s']:.4f}s")
    if res.get("unmeasured"):
        print("# not on this workload's path (reported as 0): "
              + ", ".join(res["unmeasured"]))
    if "layer_wall_s" in res:
        print(f"# tracing overhead per pass {res['metrics']['trace.overhead_s']:+.4f}s;"
              f" layer forcing took {res['layer_wall_s']:.2f}s")
    verdict = "correct" if res["failed"] == 0 else "INCORRECT"
    print(f"# {verdict}: {res['failed']} failed of {res['attempted']} attempted"
          + (f" e.g. {res['failed_ids'][:5]}" if res["failed_ids"] else ""))


def compare(a_path: str, b_path: str) -> int:
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    for key in ("workload", "input_digest", "trace", "master"):
        if a["context"][key] != b["context"][key]:
            print(f"refusing to compare: {key} differs "
                  f"({a['context'][key]} vs {b['context'][key]})", file=sys.stderr)
            return 2
    for k, va in a["metrics"].items():
        vb = b["metrics"].get(k)
        ratio = vb / va if va else float("nan")
        print(f"{k:36s} {va:14.4f} {vb:14.4f}  x{ratio:.3f}")
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tree", default=os.path.dirname(HERE),
                    help="source tree under test (holds sparktika/)")
    ap.add_argument("--compare", nargs=2, metavar="RESULT_JSON")
    args = ap.parse_args()
    if args.compare:
        return compare(*args.compare)
    tree = os.path.abspath(args.tree)
    if not os.path.isfile(os.path.join(tree, "sparktika", "__init__.py")):
        print(f"no sparktika package under {tree}", file=sys.stderr)
        return 2
    from workloads import WORKLOADS

    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    if any(n not in WORKLOADS for n in names):
        print(f"unknown workload {args.workload}; one of {list(WORKLOADS)}",
              file=sys.stderr)
        return 2
    prepare_env(tree, WORK)
    results = [run_workload(n, args, tree) for n in names]
    metrics = (results[0]["metrics"] if len(results) == 1 else
               {f"{n}.{k}": v for n, r in zip(names, results)
                for k, v in r["metrics"].items()})
    from catalog import UNITS

    attempted = sum(r["attempted"] for r in results)
    failed = sum(r["failed"] for r in results)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": UNITS[k.split(".", 1)[1] if len(results) > 1 else k]}
                    for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
