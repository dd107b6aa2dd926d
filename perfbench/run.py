"""Same-box pipeline benchmark for imops_spark.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload volumes_blob --seed 1 --seconds 10 --trace 0

One driver process sends jobs back to back (a closed loop with one client)
to ``local[nproc]``.  ``--trace 0`` measures the end-to-end metrics;
``--trace 1`` is the separate traced run that gives the per-layer metrics
(an untraced phase, then a traced phase, each half of ``--seconds``).  Every job's
output is checked outside the timed region.  Human-readable lines come first;
the last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.  The spans and a per-layer
table of a traced run are written under ``.perfbench/`` in the checkout.

See perfbench/README.md for the workloads, their inputs and every metric.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
N_SETS = 3  # distinct input sets per run; jobs cycle over them
DRIVER_MEM = "1g"  # fixed, pre-touched JVM heap (SPARK_GRAFT_DRIVER_MEM)


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args()


def _require_program() -> None:
    """The benchmark measures the checkout it sits in; without the program
    there is nothing to run."""
    missing = [p for p in ("imops_spark/__init__.py", "bench.py", "__spark_entry__.py",
                           "tools/check_oracle.py") if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        sys.stderr.write(f"perfbench: not a checkout of the program, missing {missing}\n")
        sys.exit(2)


def _environment(work: str) -> None:
    """Keep every file Spark and Python write inside the checkout."""
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # every JVM of the run (the launcher too): temp files in the checkout,
    # and no hsperfdata file, which HotSpot always writes under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:+PerfDisableSharedMem")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]


def _boot(work: str, event_log: str | None):
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    from imops_spark.session import get_spark

    from perfbench.measure import nproc

    n = nproc()
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if event_log:
        os.makedirs(event_log)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + event_log,
                     "spark.eventLog.compress": "false"})
    spark = get_spark(app_name="perfbench", master=f"local[{n}]", shuffle_partitions=n,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm_daemon(spark) -> None:
    """First Python-worker job: starts the worker daemon (with its preload)
    and one worker per core."""
    from perfbench.measure import nproc

    n = nproc()
    spark.range(n * 4, numPartitions=n).mapInArrow(lambda it: it, "id long").write.format(
        "noop").mode("overwrite").save()


def _stop(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    from perfbench.measure import _descendants, _proc_table

    me = os.getpid()
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - the JVM must not outlive the run
                proc.kill()
                proc.wait(timeout=10)
    deadline = time.monotonic() + 20
    while True:
        left = _descendants(_proc_table(), me)
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
            time.sleep(0.5)
            return
        time.sleep(0.1)


class Runner:
    """Runs, times and checks the jobs of one workload."""

    def __init__(self, wl, spark, sets, work, tracer, sampler):
        self.wl, self.spark, self.sets, self.work = wl, spark, sets, work
        self.tr, self.sampler = tracer, sampler
        self.n = 0
        self.failures: list[str] = []
        self.last = None
        self.job_end = 0.0
        self.check_s = 0.0  # output checks so far, up to the last job's end
        self._checks = 0.0

    def one(self, tag: str, timed: bool) -> float | None:
        """One job, then its output check; returns its wall time, None if
        the job raised or its output was wrong.  In the traced phase the
        layer probes run after the job, inside its span but outside its
        wall time."""
        inp = self.sets[self.n % len(self.sets)]
        out = os.path.join(self.work, "out", f"set{inp.index}")
        job_id = f"{tag}{self.n}"
        self.n += 1
        self.sampler.active = timed
        t = time.perf_counter()
        try:
            with self.tr.job(job_id, record=self.tr.enabled):
                self.wl.job(self.spark, inp, out, self.tr)
                wall = time.perf_counter() - t
                if self.tr.enabled:
                    self.sampler.active = False
                    self.wl.layer_probe(self.spark, inp, self.tr)
        except Exception:  # noqa: BLE001 - a failed job is counted, not fatal
            self.failures.append(f"{job_id}: {traceback.format_exc(limit=3)}")
            return None
        finally:
            self.job_end = time.perf_counter()
            self.check_s = self._checks
            self.sampler.active = False
        tc = time.perf_counter()
        try:
            loaded = self.wl.load(inp, out)
            errs = self.wl.compare(inp, loaded)
        except Exception:  # noqa: BLE001 - unreadable output fails the check
            errs = [traceback.format_exc(limit=3)]
        self._checks += time.perf_counter() - tc
        if errs:
            self.failures.append(f"{job_id}: " + "; ".join(errs[:3]))
            return None
        self.last = (inp, loaded)
        return wall

    def loop(self, tag: str, seconds: float) -> tuple[list[float], list[float], int]:
        """Jobs until ``seconds`` of job time have passed: (times and rates,
        in input items per second, of the jobs that succeeded; jobs
        attempted)."""
        times, rates, attempted, spent = [], [], 0, 0.0
        while spent < seconds:
            inp = self.sets[self.n % len(self.sets)]
            t = time.perf_counter()
            wall = self.one(tag, timed=True)
            attempted += 1
            if wall is None:
                spent += time.perf_counter() - t
                continue
            times.append(wall)
            rates.append(inp.items / wall)
            spent += wall
        return times, rates, attempted

    def self_test(self) -> bool:
        """A deliberately corrupted output must fail the check."""
        if self.last is None:
            return False
        inp, loaded = self.last
        return bool(self.wl.compare(inp, self.wl.corrupt(loaded)))


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def main() -> int:
    args = _parse()
    _require_program()
    report_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(report_dir, f"work-{os.getpid()}")
    os.makedirs(os.path.join(report_dir, "cache"), exist_ok=True)
    _environment(work)
    try:
        return _run(args, work, report_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, report_dir: str) -> int:
    from perfbench import measure
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        sys.stderr.write(f"perfbench: unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}\n")
        return 2
    load_before = os.getloadavg()[0]
    cpu_before = measure.cpu_probe()
    wl = WORKLOADS[args.workload](os.path.join(report_dir, "cache"))

    tg = time.perf_counter()
    sets = wl.make_inputs(args.seed, os.path.join(work, "in"), N_SETS)
    gen_s = time.perf_counter() - tg

    trace = bool(args.trace)
    event_log = os.path.join(work, "eventlog") if trace else None
    spark = None
    sampler = measure.ProcSampler().start()
    try:
        tb = time.perf_counter()
        spark = _boot(work, event_log)
        boot_s = time.perf_counter() - tb
        tw = time.perf_counter()
        _warm_daemon(spark)
        warm_daemon_s = time.perf_counter() - tw
        tracer = measure.Tracer(spark.sparkContext, enabled=False)
        runner = Runner(wl, spark, sets, work, tracer, sampler)
        # warm-up: untimed jobs, so JIT, codegen and the worker pool are
        # ready before the first timed job
        for _ in range(wl.warm_jobs):
            if runner.one("w", timed=False) is None:
                raise RuntimeError("warm-up job failed: " + runner.failures[-1])
        setup_s = runner.job_end - T0 - gen_s - runner.check_s  # warm-up checks excluded
        if trace:
            # the layer probes once, untraced and untimed, so the traced ones
            # run warm
            wl.layer_probe(spark, sets[0], tracer)
        workers_before = sampler.python_workers()

        t_untraced = time.perf_counter()
        times, rates, attempted = runner.loop("u", args.seconds / 2 if trace else args.seconds)
        untraced_wall = time.perf_counter() - t_untraced
        traced = None
        if trace:
            tracer.enabled = True
            t_traced = time.perf_counter()
            ttimes, _, tattempted = runner.loop("t", args.seconds / 2)
            traced = (ttimes, tattempted, time.perf_counter() - t_traced)
        selftest_ok = runner.self_test()
        spawned = len(sampler.workers_seen - workers_before)
    finally:
        sampler.stop()
        if spark is not None:
            _stop(spark)

    failed = attempted - len(times) + (traced[1] - len(traced[0]) if traced else 0)
    n_attempted = attempted + (traced[1] if traced else 0)
    correct = failed == 0 and selftest_ok
    for msg in runner.failures:
        print("FAILED", msg.strip().replace("\n", " | "))
    if not selftest_ok:
        print("FAILED self-test: a corrupted output passed the check")

    stamp = measure.env_stamp(ROOT, load_before, times, cpu_before)
    print("env", json.dumps(stamp, sort_keys=True))
    print(f"inputs: {len(sets)} sets, {sets[0].items} {wl.item}s in set 0, generated in "
          f"{gen_s:.2f} s (not part of setup_s)")

    if not trace:
        metrics = {
            "throughput": _metric(measure.median(rates), "items/s"),
            "job_p50_s": _metric(measure.median(times), "s"),
            "setup_s": _metric(setup_s, "s"),
            "peak_rss_mb": _metric(sampler.peak_python / 2**20, "MB"),
        }
        unit = "Mvoxel/s" if wl.item == "voxel" else "docs/s"
        scale = 1e-6 if wl.item == "voxel" else 1.0
        print(f"throughput = {metrics['throughput']['value'] * scale:.4f} {unit} "
              f"(median over {len(times)} jobs of {sets[0].items} input {wl.item}s or so each)")
        print("job times s: " + " ".join(f"{t:.3f}" for t in times))
        for k in ("job_p50_s", "setup_s", "peak_rss_mb"):
            print(f"{k} = {metrics[k]['value']:.4f} {metrics[k]['unit']}")
        tail = measure.tail_percentile(times)
        print("job_tail_s = " + (f"{tail[1]:.4f} s (p{tail[0]} of {len(times)} jobs)" if tail
                                 else f"omitted ({len(times)} jobs; needs at least 11)"))
        print(f"failed_frac = {failed / max(n_attempted, 1):.4f} ({failed} of {n_attempted})")
    else:
        from perfbench.layers import layer_metrics

        metrics, table = layer_metrics(
            wl, tracer, event_log, sets, times=times, untraced_wall=untraced_wall,
            traced=traced, boot_s=boot_s, warm_daemon_s=warm_daemon_s, spawned=spawned,
            sampler=sampler)
        base = os.path.join(report_dir, f"trace-{wl.name}-seed{args.seed}")
        tracer.dump(base + ".spans.json")
        with open(base + ".md", "w") as f:
            f.write(table)
        print(table)
        print(f"spans: {base}.spans.json")
    print(json.dumps({"correct": correct, "attempted": n_attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
