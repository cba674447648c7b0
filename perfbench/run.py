"""Repository benchmark: runs one workload through the program's own
entry points on ``local[4]`` in a single process and prints, as the last
stdout line, one JSON object with ``correct``, ``attempted``, ``failed``
and ``metrics``.

    python3 perfbench/run.py --workload e2e_x1 --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run it from the repository root. One run, outside every timer unless
noted:

1. launches the JVM, then builds the session ``SETUP_SAMPLES`` more times
   in it (timed: ``setup_s`` is their median; a traced run skips this);
2. writes the seeded inputs under ``.perfbench_work/`` (timed on its own);
3. runs iterations until ``--seconds`` have passed, at least one
   (timed: ``wall_s`` and ``cpu_s`` are their medians). The first
   iteration is the one a CLI invocation pays: fresh JVM, Janino codegen,
   Python worker spawn, JIT. Every iteration of both workloads takes
   longer than 10 s, so at ``--seconds 10`` it is the only one: each run
   then costs well under a minute on a 4-core host, and the figure is
   steadier there than a warm iteration, whose share of still-running JIT
   compilation varies from run to run. Before each iteration, blocks and
   RDDs a previous one left pinned are released; after each, its output
   files are digested and compared with ``expected.json`` and Spark's
   status store is read for failed or retried tasks, shuffle and spill;
4. with ``--trace 1``, runs one more untraced iteration and then one with
   every layer wrapped (``layertrace.py``), and reports per-layer metrics
   instead; ``trace_overhead_s`` compares those two.

An iteration fails if it raises, if a digest differs from the recorded
one, or if Spark reports a failed or retried task. Digests not recorded
for the run's seed are compared with the run's first iteration instead,
which is a weaker check: it catches nondeterminism, not a wrong result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from proc import descendants, host_ticks, tree_cpu_s, tree_rss_mb, wait_gone  # noqa: E402
from workloads import PAYLOAD_BYTES_PER_ROW, WORKLOADS  # noqa: E402

CPUS = 4
SETUP_SAMPLES = 3
WORK_DIR = ".perfbench_work"
EXPECTED = os.path.join(HERE, "expected.json")


_T0 = time.perf_counter()


def log(*args) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s]", *args,
          file=sys.stderr, flush=True)


def point_temp_dirs(work: str) -> dict:
    """Keep every file the program and Spark write inside ``work``;
    returns the session overrides that go with it."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE_DIR": os.path.join(work, "warehouse"),
        "SPARK_GRAFT_CHECKPOINT_DIR": os.path.join(work, "checkpoint"),
    })
    tempfile.tempdir = None
    # the session's own driver flags, with the JVM's temp dir moved
    # from /tmp into the work dir and its /tmp perf-data file off
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-DontCompileHugeMethods"
            " -XX:-UsePerfData",
    }


def release_pinned(spark) -> None:
    """Drop what a finished iteration left pinned: ``localCheckpoint``
    blocks stay in the block manager for the session's life, and left in
    place they turn later iterations into a measure of GC and eviction."""
    spark.catalog.clearCache()
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist(True)
    spark.sparkContext._jvm.System.gc()


def reference_digests(workload: str, seed: int, smoke: bool,
                      corrupt: bool) -> dict:
    """Recorded digests for this run; per-seed ones were recorded at the
    workload's full size, so a smoke run uses only the '*' ones."""
    with open(EXPECTED) as f:
        table = json.load(f)["digests"].get(workload, {})
    ref = {**table.get("*", {}),
           **({} if smoke else table.get(str(seed), {}))}
    if corrupt:
        ref = {k: ("0" * 64 if isinstance(v, str) else -1)
               for k, v in ref.items()} or {"uvfits_gcount": -1}
    return ref


class Runner:
    def __init__(self, args, work: str) -> None:
        self.work = work
        self.conf = point_temp_dirs(work)
        self.wl = WORKLOADS[args.workload](work, args.seed, args.smoke)
        self.ref = reference_digests(args.workload, args.seed, args.smoke,
                                     args.corrupt_expected)
        self.first: dict | None = None
        self.attempted = self.failed = 0
        self.spark = None

    # -- session ---------------------------------------------------------

    def _session(self):
        from birli_spark.session import get_spark

        spark = get_spark("perfbench", cpus=CPUS, extra_conf=self.conf)
        spark.range(1).count()
        return spark

    def setup(self, n_samples: int) -> tuple[float, list[float]]:
        t0 = time.perf_counter()
        self.spark = self._session()
        launch = time.perf_counter() - t0
        samples = []
        for _ in range(n_samples):
            t0 = time.perf_counter()
            self.spark.stop()
            self.spark = self._session()
            samples.append(time.perf_counter() - t0)
        return launch, samples

    def shutdown(self) -> None:
        """Stop the session, the JVM it launched and the JVM's Python
        workers, and wait until each has ended."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        started = descendants()
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            proc = gateway.proc
            gateway.shutdown()
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        wait_gone(started)

    # -- iterations ------------------------------------------------------

    def _mismatch(self, digests: dict) -> str | None:
        """Recorded digests win; the rest must match the first iteration."""
        want = {**(self.first or {}), **self.ref}
        bad = {k: (digests.get(k), v) for k, v in want.items()
               if digests.get(k) != v}
        return f"output mismatch (got, want): {bad}" if bad else None

    def iteration(self, label: str) -> dict:
        """One timed iteration; outputs are checked after the timer."""
        from layertrace import max_stage_id, stage_metrics

        sc = self.spark.sparkContext
        self.wl.clean()
        release_pinned(self.spark)
        first_stage = max_stage_id(sc) + 1
        h0, c0, t0 = host_ticks(), tree_cpu_s(), time.perf_counter()
        error = None
        try:
            self.wl.run(self.spark)
        except Exception as e:  # noqa: BLE001 - a failed iteration is data
            error = f"{type(e).__name__}: {e}"
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s() - c0
        h1 = host_ticks()
        steal = (h1[0] - h0[0]) / max(h1[1] - h0[1], 1)
        stages = stage_metrics(sc, first_stage).values()
        counters = {k: sum(s[k] for s in stages)
                    for k in ("shuffle_write_bytes", "spill_bytes",
                              "failed_tasks")}
        digests = {}
        if error is None:
            digests = self.wl.digests()
            if self.first is None:
                self.first = digests
            error = self._mismatch(digests)
        if error is None and counters["failed_tasks"]:
            error = f"{counters['failed_tasks']:.0f} failed tasks"
        self.attempted += 1
        self.failed += error is not None
        log(f"{label}: wall {wall:.3f} s, cpu {cpu:.3f} s, "
            f"shuffle {counters['shuffle_write_bytes']:.0f} B, "
            f"spill {counters['spill_bytes']:.0f} B, "
            f"host steal {steal:.1%}"
            + (f", FAILED: {error}" if error else ""))
        return {"wall": wall, "cpu": cpu, "digests": digests, **counters}

    def traced(self, untraced_wall: float) -> dict[str, float]:
        from layertrace import (LAYER_METRICS, LAYERS, ROOT, Tracer,
                           fold_by_group, max_stage_id)
        from workloads import tree_bytes

        sc = self.spark.sparkContext
        self.wl.clean()
        release_pinned(self.spark)
        first_stage = max_stage_id(sc) + 1
        tracer = Tracer(sc, trace_id=self.attempted)
        tracer.install()
        root = tracer.open(ROOT)
        error = None
        try:
            self.wl.run(self.spark)
        except Exception as e:  # noqa: BLE001 - a failed iteration is data
            error = f"{type(e).__name__}: {e}"
        finally:
            tracer.end(root)
            tracer.close()
        wall = root.end - root.start
        if error is None:
            error = self._mismatch(self.wl.digests())
        groups = fold_by_group(sc, first_stage)
        failed_tasks = sum(g["failed_tasks"] for g in groups.values())
        if error is None and failed_tasks:
            error = f"{failed_tasks:.0f} failed tasks"
        self.attempted += 1
        self.failed += error is not None
        log(f"traced: wall {wall:.3f} s"
            + (f", FAILED: {error}" if error else ""))
        with open(os.path.join(self.work, "spans.json"), "w") as f:
            json.dump(tracer.span_records(), f)

        times = tracer.layer_times()
        out: dict[str, float] = {}
        for layer in LAYERS:
            t = times.get(layer, {})
            g = groups.get(layer, {})
            for name, _ in LAYER_METRICS:
                if name == "failed_tasks":
                    continue
                out[f"{layer}.{name}"] = float(t.get(name, g.get(name, 0.0)))
        for layer in ("operators.flags", "operators.ssins",
                      "operators.rfi"):
            n, f = tracer.flag_counts.get(layer, (0, 0))
            out[f"{layer}.flagged_fraction"] = f / n if n else 0.0
        read = tracer.rows_out
        out["sources.gpubox.decode_ratio"] = (
            read.get("sources.gpubox", 0) / self.wl.rows)
        out["sources.synthetic.read_ratio"] = (
            read.get("sources.synthetic", 0) / self.wl.rows)
        sinks = self.wl.sink_paths()
        for layer in ("sinks.uvfits.write", "sinks.ms_file", "sinks.mwaf"):
            path = sinks.get(layer)
            out[f"{layer}.bytes_written"] = float(
                tree_bytes(path) if path and os.path.exists(path) else 0)
        out["trace_overhead_s"] = wall - untraced_wall
        out["trace.failed_tasks"] = failed_tasks
        out["unattributed.wall_s"] = times.get(ROOT, {}).get("wall_s", 0.0)
        out["unattributed.exec_run_s"] = groups.get(ROOT, {}).get(
            "exec_run_s", 0.0)
        return out


def bench(args) -> dict:
    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        import birli_spark.session  # noqa: F401
    except ImportError as e:
        raise SystemExit(f"perfbench: the program is not importable from "
                         f"{root} ({e}); run from the repository root")
    work = os.path.join(root, WORK_DIR, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    r = Runner(args, work)
    try:
        # a traced run reports no setup_s, so it skips the rebuilds
        launch, setup = r.setup(0 if args.trace else SETUP_SAMPLES)
        t0 = time.perf_counter()
        r.wl.prepare()
        gen_s = time.perf_counter() - t0
        runs = []
        t_end = time.perf_counter() + args.seconds
        while not runs or time.perf_counter() < t_end:
            runs.append(r.iteration("cold" if not runs
                                    else f"repeat {len(runs)}"))
        log(f"{len(runs)} timed iterations; setup samples "
            + ", ".join(f"{s:.3f}" for s in setup)
            + f"; JVM launch {launch:.3f} s; inputs {gen_s:.3f} s; "
            f"digests {json.dumps(r.first)}")
        if args.trace:
            warm = r.iteration("warm, untraced")
            metrics = r.traced(warm["wall"])
            metrics.update({
                "iteration.shuffle_write_bytes": statistics.median(
                    i["shuffle_write_bytes"] for i in runs),
                "iteration.spill_bytes": statistics.median(
                    i["spill_bytes"] for i in runs),
                "session.jvm_launch_s": launch,
                "inputs.gen_s": gen_s,
            })
        else:
            rss = tree_rss_mb()
            wall = statistics.median(i["wall"] for i in runs)
            cpu = statistics.median(i["cpu"] for i in runs)
            gb = r.wl.rows * PAYLOAD_BYTES_PER_ROW / 1e9
            metrics = {
                "wall_s": wall, "cpu_s": cpu,
                "wall_s_per_gb": wall / gb, "cpu_s_per_gb": cpu / gb,
                "setup_s": statistics.median(setup),
                "tree_rss_mb": rss,
            }
    finally:
        r.shutdown()
    return {"correct": r.failed == 0, "attempted": r.attempted,
            "failed": r.failed, "metrics": metrics}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true",
                   help="smallest inputs (self-test only)")
    p.add_argument("--corrupt-expected", action="store_true",
                   help="replace the recorded digests with wrong ones "
                        "(self-test only)")
    p.add_argument("--selftest", action="store_true")
    args = p.parse_args(argv)
    if args.selftest:
        from selftest import selftest
        return selftest()
    if args.workload not in WORKLOADS:
        p.error(f"--workload must be one of {sorted(WORKLOADS)}")
    result = bench(args)
    units = bench_units("per_layer" if args.trace else "end_to_end")
    print(json.dumps({
        **{k: result[k] for k in ("correct", "attempted", "failed")},
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in result["metrics"].items()}}))
    return 0


def bench_units(kind: str) -> dict[str, str]:
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[kind]}


if __name__ == "__main__":
    sys.exit(main())
