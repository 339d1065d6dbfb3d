"""Seeded workload benchmark for the etl_8x8_spark engine.

Usage, from the repository root:

    python3 perfbench/run.py --workload loops --seed 1 --seconds 10 --trace 0

One run, in one fresh process:

1. generate the workload's inputs from the seed (gen.py; not timed);
2. set up: import the registry, start a ``local[nproc]`` session and run
   one warm-up query (``setup_s``);
3. one cold pass over the workload's keys, each forced by collecting
   its rows to the driver, as a one-shot job delivers its result;
4. warm passes until ``--seconds`` have passed (at least two);
5. check the rows the cold pass collected against the keys' DuckDB
   oracles (not timed).

The load is a closed loop with one client: keys run one at a time in
the workload's order, each built by its registry builder and, in the
warm passes, forced to completion with a ``noop`` write. Between keys,
outside the timing, the cache is cleared and Python and the JVM collect
garbage. A key's time is its build plus its execution. Each key's warm
time is its median over the warm passes, and ``query_p50_s`` and
``query_tail_s`` are the 50th and 90th percentiles of those per-key
times, interpolated between keys: a run has a few dozen samples at
most, too few for a pooled percentile with ten samples beyond it.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
untraced and traced warm passes and reports the per-layer metrics of
the traced ones (layers.py) plus ``trace.overhead_frac``. The last
stdout line is the result object; the line before it carries every
metric of the run with its unit, the failed keys, the tail percentile
and its sample count, the load average and which counts repeated.
Everything else (Spark's log, the engine's prints) goes to stderr.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
WARMUP_KEY = "scan_parquet"
DRIVER_MEM = "2g"
TAIL_Q = 0.9  # quantile of the per-key warm times reported as the tail

sys.path.insert(0, HERE)

import gen  # noqa: E402
from layers import MODULES, PHASES, STAGE_COUNTERS, Tracer  # noqa: E402
from workloads import SF, WORKLOADS  # noqa: E402

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "peak_rss_mb": "MB",
}
# Status-store sums reported per pass as ``spark.<name>``; executor run
# time enters only through ``spark.core_util``.
SUMMED = tuple(c for c in STAGE_COUNTERS if c != "executor_run_s")
# Counts whose exact repetition across passes and runs is checked; only
# a count that repeats may back a later count claim.
COUNTED = ("spark.jobs", "spark.stages", "spark.tasks", "spark.input_records")


def _parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _claim_stdout():
    """Return a stream on the real stdout and point fd 1 at stderr, so
    nothing Spark, the JVM or the engine prints can mix into the result."""
    sys.stdout.flush()
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    return out


def _prepare_env(run_dir: str) -> None:
    """Keep every file the run writes inside ``run_dir`` and let Python
    workers import the engine wherever the checkout is."""
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # no hsperfdata file from spark-submit's launcher JVM (HotSpot writes
    # it under /tmp whatever java.io.tmpdir says); the driver JVM gets the
    # same flag in Bench.setup
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def _tree_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    nbytes = nfiles = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                nbytes += os.path.getsize(os.path.join(d, f))
            except OSError:  # removed while walking
                continue
            nfiles += 1
    return nbytes, nfiles


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def quantile(xs: list[float], q: float) -> float:
    """The ``q`` quantile of ``xs``, interpolated linearly between the
    two nearest order statistics."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (pos - lo) * (xs[hi] - xs[lo])


def key_times(passes, keys) -> dict[str, float]:
    """Each key's median time over the passes in which it succeeded."""
    out = {}
    for key in keys:
        walls = [r.key_walls[key] for r in passes if key in r.key_walls]
        if walls:
            out[key] = _median(walls)
    return out


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


@dataclass
class PassResult:
    wall: float = 0.0
    key_walls: dict[str, float] = field(default_factory=dict)
    layers: defaultdict[str, float] = field(default_factory=lambda: defaultdict(float))
    failed: set[str] = field(default_factory=set)
    scratch_bytes: int = 0


class Bench:
    """One run of one workload on one seeded dataset."""

    def __init__(self, workload, seed: int, run_dir: str, trace: bool) -> None:
        self.w = workload
        self.trace = trace
        self.run_dir = run_dir
        self.data = os.path.join(run_dir, "data", f"{workload.name}_s{seed}")
        self.manifest = gen.generate(self.data, seed, SF, workload.copies)
        self.scratch = ""
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.specs = None
        self.tracer = None
        self.setup_times: dict[str, float] = {}

    # -- set-up ----------------------------------------------------------

    def new_scratch(self, label: str) -> None:
        """Point the engine at an empty scratch dir (it reads the env
        var on every ``scratch_dir()`` call)."""
        self.scratch = os.path.join(self.run_dir, "scratch", label)
        os.makedirs(self.scratch)
        os.environ["SPARK_GRAFT_SCRATCH"] = self.scratch

    def setup(self) -> None:
        self.new_scratch("setup")
        t0 = time.perf_counter()
        from etl_8x8_spark import registry

        self.specs = registry.all_queries()
        t1 = time.perf_counter()
        from etl_8x8_spark import session

        self.spark = session.get_spark(
            "perfbench",
            cpus=self.cores,
            extra_conf={
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                "spark.driver.extraJavaOptions": "-XX:-UsePerfData -Djava.io.tmpdir="
                + os.path.join(self.run_dir, "tmp"),
            },
        )
        t2 = time.perf_counter()
        self._force(self.specs[WARMUP_KEY].builder(self.spark, self.data))
        t3 = time.perf_counter()
        self.setup_times = {
            "registry.load_s": t1 - t0,
            "session.start_s": t2 - t1,
            "warmup_s": t3 - t2,
            "setup_s": t3 - t0,
        }
        if self.trace:
            self.tracer = Tracer(self.spark)
            self.tracer.span("setup", t0, t3)
            self.tracer.span("registry.load", t0, t1, parent="setup")
            self.tracer.span("session.start", t1, t2, parent="setup")
            self.tracer.span("warmup", t2, t3, parent="setup", key=WARMUP_KEY)
        self._hygiene()

    @staticmethod
    def _force(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def _hygiene(self) -> None:
        """Between keys, outside the timing: drop cached relations and
        collect garbage on both sides of the gateway."""
        self.spark.catalog.clearCache()
        gc.collect()
        self.spark._jvm.System.gc()

    def stop(self) -> None:
        """Stop the session and wait for the JVM (and so its Python
        workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        self.spark = None

    # -- passes ----------------------------------------------------------

    def run_key(self, tag: str, key: str, res: PassResult, tr, collect=None) -> None:
        """Build and force one key; with a tracer, under job groups
        ``<tag>:<key>:build`` and ``<tag>:<key>:exec``. With a
        ``collect`` dict the key is forced by collecting its rows into
        ``collect[key]`` (a pandas frame) instead of a ``noop`` write."""
        spec = self.specs[key]
        before = _tree_size(self.scratch) if tr else (0, 0)
        phases = {}
        try:
            if tr:
                tr.group(f"{tag}:{key}:build")
            t0 = time.perf_counter()
            df = spec.builder(self.spark, self.data)
            t1 = time.perf_counter()
            if tr:
                tr.group(f"{tag}:{key}:exec")
                phases = tr.plan(df)
            if collect is None:
                self._force(df)
            else:
                collect[key] = df.toPandas()
            t2 = time.perf_counter()
        except Exception as e:  # noqa: BLE001 - a failing key is reported, not fatal
            print(f"perfbench: {key} failed: {type(e).__name__}: {e}", file=sys.stderr)
            res.failed.add(key)
            return
        finally:
            if tr:
                tr.clear_group()
        res.key_walls[key] = t2 - t0
        if tr:
            tr.span("build", t0, t1, parent=tag, key=key)
            tr.span("exec", t1, t2, parent=tag, key=key)
            module = spec.builder.__module__.rsplit(".", 1)[-1]
            build = tr.jobs(f"{tag}:{key}:build")
            execd = tr.jobs(f"{tag}:{key}:exec")
            after = _tree_size(self.scratch)
            lay = res.layers
            lay[f"build_s.{module}"] += t1 - t0
            lay[f"build_jobs.{module}"] += build["jobs"]
            lay[f"exec_s.{module}"] += t2 - t1
            lay["exec_wall_s"] += t2 - t1
            lay["exec_run_s"] += execd["executor_run_s"]
            for name, ms in phases.items():
                lay[f"spark.{name}_ms"] += ms
            for name in SUMMED:
                lay[f"spark.{name}"] += build[name] + execd[name]
            lay["sources.bytes_written"] += max(0, after[0] - before[0])
            lay["sources.files_written"] += max(0, after[1] - before[1])
        self._hygiene()

    def run_pass(self, tag: str, traced: bool, collect=None) -> PassResult:
        if self.w.scratch_per_pass:
            self.new_scratch(tag)
        tr = self.tracer if traced else None
        res = PassResult()
        start = time.perf_counter()
        for key in self.w.keys:
            self.run_key(tag, key, res, tr, collect)
        if tr:
            tr.span("pass", start, time.perf_counter(), key=tag)
        res.wall = sum(res.key_walls.values())
        res.scratch_bytes = _tree_size(self.scratch)[0]
        return res

    # -- correctness -----------------------------------------------------

    def oracle_check(self, outputs: dict) -> tuple[list[str], dict[str, float]]:
        """Compare each key's collected output with the values of its
        DuckDB oracle over the same inputs; return the keys that
        mismatch (or were not collected) and the seconds each check
        took."""
        import duckdb

        from tools.verify_queries import compare

        con = duckdb.connect()
        con.execute(f"SET threads={self.cores}")
        con.execute("SET memory_limit='1GB'")
        con.execute(f"SET temp_directory='{os.path.join(self.run_dir, 'tmp')}'")
        for t in gen.TABLES:
            path = os.path.join(self.data, f"{t}.parquet")
            src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
        bad, secs = [], {}
        for key in self.w.keys:
            t0 = time.perf_counter()
            try:
                want = con.sql(self.specs[key].oracle).df()
                ok = key in outputs and compare(outputs[key], want).get("exact", False)
            except Exception as e:  # noqa: BLE001 - reported as a failed key
                print(f"perfbench: oracle {key}: {type(e).__name__}: {e}", file=sys.stderr)
                ok = False
            if not ok:
                bad.append(key)
            secs[key] = time.perf_counter() - t0
        con.close()
        return bad, secs

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb(os.getpid())) / 1024.0


def _warm_passes(bench: Bench, seconds: float, trace: bool):
    """Warm passes for ``seconds``: at least two, or with ``trace`` at
    least two untraced and two traced, run in the order U T T U so a
    drift through the run (warming, throttling) weighs on both alike."""
    plain, traced = [], []
    start = time.perf_counter()
    i = 0
    while (
        time.perf_counter() - start < seconds
        or len(plain) < 2
        or len(traced) < (2 if trace else 0)
    ):
        on = trace and i % 4 in (1, 2)
        res = bench.run_pass(f"w{i}", traced=on)
        (traced if on else plain).append(res)
        i += 1
    return plain, traced


def _layer_metrics(bench: Bench, plain, traced) -> dict[str, float]:
    out = {
        "registry.load_s": bench.setup_times["registry.load_s"],
        "session.start_s": bench.setup_times["session.start_s"],
    }
    names = [f"{p}.{m}" for m in MODULES for p in ("build_s", "build_jobs", "exec_s")]
    names += [f"spark.{p}_ms" for p in PHASES]
    names += [f"spark.{n}" for n in SUMMED]
    names += ["sources.bytes_written", "sources.files_written"]
    for name in names:
        out[name] = _median([r.layers.get(name, 0.0) for r in traced])
    out["spark.core_util"] = _median(
        [
            r.layers["exec_run_s"] / (r.layers["exec_wall_s"] * bench.cores)
            for r in traced
            if r.layers.get("exec_wall_s")
        ]
    )
    out["write_amp"] = _write_amp(bench, plain + traced)
    out["trace.overhead_frac"] = (
        _median([r.wall for r in traced]) / _median([r.wall for r in plain]) - 1.0
    )
    return out


def _write_amp(bench: Bench, passes) -> float:
    return _median([r.scratch_bytes for r in passes]) / bench.manifest["bytes"]


def _unit(name: str) -> str:
    if name in END_TO_END_UNITS:
        return END_TO_END_UNITS[name]
    if name in ("write_amp", "failed_frac", "spark.core_util", "trace.overhead_frac"):
        return "ratio"
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s") or name.startswith(("build_s.", "exec_s.")):
        return "s"
    if name.endswith(("_bytes", "bytes_written")):
        return "bytes"
    return "count"


def _code_id() -> str:
    """Hash of the engine's and the benchmark's sources: counts are
    compared only between runs of the same code."""
    h = hashlib.sha256()
    for top in ("etl_8x8_spark", "perfbench"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs.sort()
            for f in sorted(files):
                if f.endswith(".py"):
                    path = os.path.join(d, f)
                    h.update(os.path.relpath(path, ROOT).encode())
                    with open(path, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()[:16]


def _count_repeats(w, seed: int, traced) -> dict:
    """Which counts repeat exactly: across this run's traced passes, and
    across the traced runs of this workload recorded in this checkout
    with the same code, with the same seed and with any seed."""
    names = [n for n in traced[0].layers if n.startswith("build_jobs.")]
    names += [*COUNTED, "sources.files_written"]
    per_pass = {n: [r.layers[n] for r in traced] for n in names}
    in_run = sorted(n for n, v in per_pass.items() if len(set(v)) == 1)
    code = _code_id()
    path = os.path.join(WORK, "counts", f"{w.name}.jsonl")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a") as f:
        f.write(json.dumps({"code": code, "seed": seed, "counts": per_pass}) + "\n")
    with open(path) as f:
        runs = [r for r in map(json.loads, f) if r.get("code") == code]

    def repeat(rows):
        return [n for n in in_run if len({r["counts"].get(n, [None])[0] for r in rows}) == 1]

    same_seed = [r for r in runs if r["seed"] == seed]
    return {
        "code": code,
        "in_run": in_run,
        "same_seed_runs": len(same_seed),
        "across_same_seed": repeat(same_seed),
        "runs": len(runs),
        "across_seeds": repeat(runs),
    }


def run(args: argparse.Namespace, run_dir: str) -> tuple[dict, dict]:
    w = WORKLOADS[args.workload]
    load = [round(x, 2) for x in os.getloadavg()]
    marks = [time.perf_counter()]
    bench = Bench(w, args.seed, run_dir, bool(args.trace))
    try:
        marks.append(time.perf_counter())
        bench.setup()
        if not w.scratch_per_pass:
            bench.new_scratch("run")
        marks.append(time.perf_counter())
        outputs: dict = {}
        cold = bench.run_pass("cold", traced=False, collect=outputs)
        marks.append(time.perf_counter())
        plain, traced = _warm_passes(bench, args.seconds, bool(args.trace))
        marks.append(time.perf_counter())
        peak = bench.peak_rss_mb()
        mismatched, oracle_s = bench.oracle_check(outputs)
        marks.append(time.perf_counter())
    finally:
        bench.stop()
    marks.append(time.perf_counter())
    phase = {
        name: marks[i + 1] - marks[i]
        for i, name in enumerate(
            ("generate", "setup", "cold", "warm", "oracle", "stop")
        )
    }
    failed = sorted(
        set(mismatched).union(*(r.failed for r in [cold, *plain, *traced]))
    )
    per_key = key_times(plain, w.keys)
    e2e = {
        "setup_s": bench.setup_times["setup_s"],
        "cold_pass_s": cold.wall,
        "warm_pass_s": _median([r.wall for r in plain]),
        "query_p50_s": quantile(list(per_key.values()), 0.5),
        "query_tail_s": quantile(list(per_key.values()), TAIL_Q),
        "peak_rss_mb": peak,
    }
    report = {
        "workload": w.name,
        "seed": args.seed,
        "trace": args.trace,
        "cores": bench.cores,
        "loadavg_start": load,
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "passes": {"warm": len(plain), "traced": len(traced)},
        "cold_key_walls_s": cold.key_walls,
        "warm_walls_s": [r.wall for r in plain],
        "key_walls_s": [r.key_walls for r in plain],
        "key_warm_s": per_key,
        "query_tail": {
            "percentile": round(100 * TAIL_Q),
            "n_keys": len(per_key),
            "passes": len(plain),
        },
        "failed_keys": failed,
        "inputs": bench.manifest["tables"],
        "setup": bench.setup_times,
        "oracle_s": oracle_s,
        "phase_s": phase,
    }
    all_metrics = dict(e2e)
    all_metrics["failed_frac"] = len(failed) / len(w.keys)
    all_metrics["write_amp"] = _write_amp(bench, plain)
    if args.trace:
        layer = _layer_metrics(bench, plain, traced)
        all_metrics.update(layer)
        report["count_repeats"] = _count_repeats(w, args.seed, traced)
        os.makedirs(os.path.join(WORK, "spans"), exist_ok=True)
        bench.tracer.write(
            os.path.join(WORK, "spans", f"{w.name}_s{args.seed}_{os.getpid()}.jsonl")
        )
        shown = layer
    else:
        shown = e2e
    report["metrics"] = {k: {"value": v, "unit": _unit(k)} for k, v in all_metrics.items()}
    result = {
        "correct": not failed,
        "attempted": len(w.keys),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in shown.items()},
    }
    return report, result


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, "etl_8x8_spark")):
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        return 2
    # On SIGTERM unwind normally, so the JVM is stopped and the run dir removed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    out = _claim_stdout()
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(WORK, f"run-{args.workload}-s{args.seed}-{os.getpid()}")
    _prepare_env(run_dir)
    try:
        report, result = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(report), file=out)
    print(json.dumps(result), file=out, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
