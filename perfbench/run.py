"""llogtail_spark benchmark: one workload per invocation.

    python3 perfbench/run.py --workload bulk|increment|corpus \
        --seed N --seconds S --trace 0|1

Run from the root of a source tree. With ``--trace 0`` the last line of
standard output is a JSON object with the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics instead. Everything the
benchmark writes goes under ``.bench_work/`` in the tree; diagnostics
go to standard error. See perfbench/README.md for the metric
definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:  # run as a script: make `perfbench` importable
    sys.path.insert(0, ROOT)

from perfbench.common import Tally, log, median, warm_up  # noqa: E402
from perfbench.workloads import WORKLOADS, make  # noqa: E402

SETUP_REPEATS = 3  # set-ups per run; setup_s reports their median
DRIVER_MEM = "2g"


def program_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "llogtail_spark", "pipeline.py")) \
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))


def configure_environment(work: str) -> None:
    """Point every temporary and scratch location at `work`, and make
    the package importable by the Spark driver and Python workers,
    whatever the current directory is. Must run before pyspark starts
    the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    prev = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prev if prev else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.defaultJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


# ------------------------------------------------------------ processes

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
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


def _pss_kb(pid: int) -> int:
    """Proportional resident set: shared pages (forked Python workers
    share most of theirs) are split between their users instead of
    being counted once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_kb() -> int:
    """Proportional resident memory of this process and all its
    descendants (the JVM and the Python workers)."""
    me = os.getpid()
    return sum(_pss_kb(p) for p in [me, *descendants(me)])


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every one of them has exited."""
    from pyspark import SparkContext

    pids = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline:
        alive = [p for p in pids if _pss_kb(p) > 0]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, 9)
        except OSError:
            pass


# ------------------------------------------------------------ measuring

class Session:
    """The benchmark's SparkSession. The first `start` launches the JVM;
    later ones stop the context and build a new one in the same JVM."""

    def __init__(self, cores: int, conf: dict[str, str]) -> None:
        self.cores, self.conf, self.spark = cores, conf, None

    def start(self):
        from llogtail_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench", cores=self.cores,
                               extra_conf=self.conf)
        self.spark.range(1).count()  # the context is usable
        return self.spark


def setup(session: Session, name: str, work: str, seed: int):
    """Set up SETUP_REPEATS times (session start + input generation),
    then the one-off preparation. Returns (workload, setup_s,
    session_start_s)."""
    starts, totals, w = [], [], None
    for i in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        spark = session.start()
        t1 = time.perf_counter()
        if w is None:
            w = make(name, spark, os.path.join(work, "run"), seed,
                     session.cores)
        w.spark = spark
        w.generate()
        t2 = time.perf_counter()
        starts.append(t1 - t0)
        totals.append(t2 - t0)
        log(f"setup {i + 1}/{SETUP_REPEATS}: session {t1 - t0:.2f}s, "
            f"inputs {t2 - t1:.2f}s")
    t0 = time.perf_counter()
    w.prepare()
    prep = time.perf_counter() - t0
    log(f"prepare: {prep:.2f}s")
    t0 = time.perf_counter()
    w.reference()
    log(f"reference outputs: {time.perf_counter() - t0:.2f}s")
    return w, median(totals) + prep, median(starts)


def iterations(w, seconds: float) -> int:
    """Timed iterations for a run of `seconds`. The count depends on
    the workload and `seconds` only, never on measured speed, so every
    run (and every commit compared) times the same iterations of a
    JVM that is still warming up."""
    return max(1, round(seconds / w.iteration_s))


def measure(w, seconds: float) -> dict:
    """Closed loop: one pipeline run at a time. The warm-up iterations,
    then `iterations` timed ones."""
    tally, runs, peak_kb = Tally(), [], 0
    warm_up(w, tally)
    for _ in range(iterations(w, seconds)):
        run_s = tally.iterate(w)
        if run_s is not None:
            runs.append(run_s)
        # Memory is read between iterations, never during one: a read
        # walks the page tables of every process (about 45 ms for the
        # 2 GB JVM), and reading it every 100 ms from a thread slowed
        # the timed runs by several percent. The JVM's heap is
        # pre-touched and the Python workers live for the whole run,
        # so little is freed at the end of an iteration: this reads
        # about 2% below a 100 ms sampler on bulk, the same on corpus.
        peak_kb = max(peak_kb, tree_pss_kb())
    return {"runs": runs, "attempted": tally.attempted,
            "failed": tally.failed, "peak_rss_mb": peak_kb / 1024}


def end_to_end(w, setup_s: float, m: dict) -> dict[str, tuple[float, str]]:
    run_s = median(m["runs"])
    return {
        "run_s": (run_s, "s"),
        "rows_per_s": (w.rows / run_s if run_s else 0.0, "rows/s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (m["peak_rss_mb"], "MB"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")

    if not program_present():
        log(f"llogtail_spark not found under {ROOT}; run from the root "
            "of a source tree")
        return 2

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_environment(work)
    cores = len(os.sched_getaffinity(0))
    session = Session(cores, spark_conf(work, bool(args.trace)))
    status = 1
    try:
        w, setup_s, start_s = setup(session, args.workload, work, args.seed)
        if args.trace:
            from perfbench import layers

            metrics, attempted, failed = layers.traced(
                w, session, work, start_s)
            metrics = {k: (v, layers.METRICS[k]) for k, v in metrics.items()}
        else:
            m = measure(w, args.seconds)
            metrics = end_to_end(w, setup_s, m)
            attempted, failed = m["attempted"], m["failed"]
            log(f"{args.workload}: {len(m['runs'])} checked runs of "
                f"{attempted}; run_s median {median(m['runs']):.3f} "
                f"max {max(m['runs'], default=0):.3f}; failed_frac "
                f"{failed / attempted:.3f}")
        stop_spark(session.spark)
        session.spark = None
        result = {
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in metrics.items()},
        }
        print(json.dumps(result), flush=True)
        status = 0
    except Exception:
        log("benchmark failed:\n" + traceback.format_exc())
    finally:
        if session.spark is not None:
            try:
                stop_spark(session.spark)
            except Exception:
                log("could not stop Spark:\n" + traceback.format_exc())
        shutil.rmtree(work, ignore_errors=True)
    return status


if __name__ == "__main__":
    sys.exit(main())
