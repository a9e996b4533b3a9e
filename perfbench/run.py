"""Pipeline benchmark: times kgforge's two pipelines from outside the program.

Run from the root of a kgforge checkout:

    python3 perfbench/run.py --workload code_unique --seed 1 --seconds 15 --trace 0

Load shape: a closed loop with one client.  One driver process runs Spark at
local[<cores>]; each call starts when the previous one has finished and its
outputs have been checked.  The first call of the session is the set-up call:
``setup_s`` runs from ``get_spark()`` to its end.  The second is an untimed
warm-up call.  Timed calls follow while the next one, at the length of the
last, still fits in ``--seconds`` (at least one always runs).  Every call reads fresh input generated from (seed,
call index) and writes into an empty output directory.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` then makes one
more call with Spark's event log attached, runs the layer probes (see
layers.py), and prints the per-layer metrics instead.  The last stdout line
is the result object; the lines before it give the sample count and the
output digests.  Everything a run writes stays under ``.perfbench_work/``
in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "3g"  # get_spark's 20g default does not fit a 15 GB host
INPUT_CACHE_KEEP = 48  # newest input directories kept between runs
END_TO_END = {
    "rows_per_s": "rows/s",
    "setup_s": "s",
    "peak_rss_mb": "MiB",
    "out_bytes_per_in_byte": "ratio",
    "out_files": "files",
}


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _descendants(pid: int) -> dict:
    """{pid: parent pid} of every live descendant of ``pid``."""
    children: dict = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # exited while listing
        children.setdefault(ppid, []).append(int(p))
    out, todo = {}, [pid]
    while todo:
        parent = todo.pop()
        for c in children.get(parent, []):
            out[c] = parent
            todo.append(c)
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak summed RSS of the driver JVM (this process's child) and the
    Python processes under it (pyspark.daemon and its workers), sampled from
    /proc while ``active`` is set.  Other JVM children are left out: they
    are short-lived forks that share the JVM's pages until they exec."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.active = threading.Event()
        self.peak = 0
        self.peak_detail: list = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.wait(self.period_s):
            if self.active.is_set():
                ds = [p for p, parent in _descendants(me).items()
                      if parent == me or _comm(p).startswith("python")]
                tot = sum(_rss_bytes(p) for p in ds)
                if tot > self.peak:
                    self.peak_detail = [(p, _rss_bytes(p) >> 20) for p in ds]
                self.peak = max(self.peak, tot)

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def _stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM, and wait until every process
    this run started (JVM, Python daemon and workers) has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None) if gw is not None else None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 60
    while _descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for p in _descendants(os.getpid()):
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


def _prune_cache(cache: str) -> None:
    dirs = sorted(
        (os.path.join(cache, d) for d in os.listdir(cache)),
        key=os.path.getmtime, reverse=True,
    )
    for d in dirs[INPUT_CACHE_KEEP:]:
        shutil.rmtree(d, ignore_errors=True)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "kgforge", "pipeline.py")):
        _die(f"no kgforge package under {ROOT}; run from the root of a kgforge checkout")
    for d in ("tmp", "inputs", "out", "spark-local", "trace"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    # every temp file of Python, py4j and the package zip stays in the checkout
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["KGFORGE_DRIVER_MEM"] = DRIVER_MEM
    sys.path[:0] = [ROOT, HERE]

    import workloads

    if args.workload not in workloads.WORKLOADS:
        _die(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    wl = workloads.WORKLOADS[args.workload]
    import kgforge

    if os.path.dirname(os.path.dirname(os.path.abspath(kgforge.__file__))) != ROOT:
        _die(f"kgforge imported from {kgforge.__file__}, not from {ROOT}")
    from kgforge.conf import get_spark

    cache = os.path.join(WORK, "inputs")
    _prune_cache(cache)
    out_root = os.path.join(WORK, "out")
    with open(os.path.join(HERE, "digests.json")) as fh:
        pinned = json.load(fh).get(wl.name, {}).get(str(args.seed), {})

    conf = {
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        # read by the event-log listener layers.py attaches (zstandard is absent)
        "spark.eventLog.compress": "false",
    }
    attempted = failed = 0
    digests: dict = {}

    def one_call(spark, rep: int):
        """Run and check one call on input ``rep``.  Returns (wall seconds,
        input dir, output dir, the call's metrics dict, empty if it raised);
        a raise or a failed output check counts in ``failed``."""
        nonlocal attempted, failed
        d, truth = wl.materialize(cache, args.seed, rep)
        out = os.path.join(out_root, f"call{rep}")
        shutil.rmtree(out_root, ignore_errors=True)
        os.makedirs(out_root)
        attempted += 1
        t0 = time.perf_counter()
        try:
            m = wl.call(spark, d, out)
        except Exception:  # a failing call is a result, not a crash
            failed += 1
            print(f"perfbench: call {rep} raised\n{traceback.format_exc()}", file=sys.stderr)
            return time.perf_counter() - t0, d, out, {}
        wall = time.perf_counter() - t0
        dig = wl.digest(out)
        errs = wl.check(out, truth, m, dig)
        if str(rep) in pinned and pinned[str(rep)] != dig:
            errs.append(f"digest {dig} differs from the pinned {pinned[str(rep)]}")
        digests[rep] = dig
        if errs:
            failed += 1
            print(f"perfbench: call {rep} output check failed: {errs}", file=sys.stderr)
        return wall, d, out, m

    wl.materialize(cache, args.seed, 0)  # input generation is not set-up
    sampler = RssSampler()
    t_setup = time.perf_counter()
    spark = get_spark(f"perfbench-{wl.name}", master=f"local[{os.cpu_count() or 1}]", extra=conf)
    result_metrics = {}
    try:
        one_call(spark, 0)
        setup_s = time.perf_counter() - t_setup
        # the first call after set-up still runs well slower than the ones
        # after it (JIT and worker warm-up): an untimed warm-up call
        one_call(spark, 1)
        walls, out_bytes, out_files = [], [], []
        rep, timed = 2, 0.0
        while True:
            wl.materialize(cache, args.seed, rep)  # generated before sampling
            sampler.active.set()
            wall, d, out, m = one_call(spark, rep)
            sampler.active.clear()
            rep += 1
            timed += wall
            if m:  # completed; a wrong output is reported through `failed`
                walls.append(wall)
                files = [f for t in wl.tables for f in workloads.data_files(os.path.join(out, t))]
                out_files.append(len(files))
                out_bytes.append(sum(os.path.getsize(f) for f in files) / wl.input_bytes(d))
            if timed + wall > args.seconds:
                break
        if walls:
            med = statistics.median(walls)
            print(f"perfbench: {wl.name} seed {args.seed}: {len(walls)} timed calls, wall "
                  f"median {med:.3f}s min {min(walls):.3f}s max {max(walls):.3f}s; "
                  f"set-up {setup_s:.3f}s; peak RSS by process {sampler.peak_detail}")
            values = {
                "rows_per_s": wl.size / med,
                "setup_s": setup_s,
                "peak_rss_mb": sampler.peak / 2**20,
                "out_bytes_per_in_byte": statistics.median(out_bytes),
                "out_files": statistics.median(out_files),
            }
            result_metrics = {k: {"value": float(v), "unit": END_TO_END[k]} for k, v in values.items()}
        if args.trace and walls:
            import layers

            print("perfbench: end-to-end " + json.dumps(result_metrics))
            values, errs = layers.run(
                spark, wl, args.seed, rep, one_call, med, os.path.join(WORK, "trace"))
            if errs:
                failed += 1
                print(f"perfbench: traced call output check failed: {errs}", file=sys.stderr)
            values["fail_ratio"] = failed / attempted
            result_metrics = {k: {"value": float(values[k]), "unit": u} for k, u in layers.PER_LAYER}
    finally:
        sampler.close()
        _stop_spark(spark)
    print("perfbench: digests " + json.dumps({wl.name: {str(args.seed): digests}}, sort_keys=True))
    if not result_metrics:
        _die("every timed call raised; nothing to report")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": result_metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
