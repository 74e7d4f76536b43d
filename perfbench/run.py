"""Benchmark entry point.

    python3 perfbench/run.py --workload ingest_serve|query_suite
                             --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds its inputs from ``--seed``,
measures for about ``--seconds`` seconds (whole units of work, at least
one), checks the program's outputs, and prints one JSON object as the
last line of stdout: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics
with ``--trace 1``). Everything it writes stays under ``.perfbench/`` in
the checkout. Exits non-zero, printing no result, when the program is
missing or a run cannot complete.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CPUS = 4
# hard stop well inside the 180 s a run may take
WATCHDOG_S = 170
SETUP_REPS = 3

END_TO_END_UNITS = {"setup_s": "s", "items_per_s": "1/s", "step_s_p50": "s",
                    "read_s_p50": "s"}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("ingest_serve", "query_suite"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


class Context:
    """What a workload needs from the run: the session, its seed and
    time budget, a scratch directory, and the per-layer hooks (no-ops
    unless tracing)."""

    def __init__(self, args, work: str):
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.spark = None
        self.notes = None
        self.tracer = None
        self.store = None

    def _note(self, hook: str, *a) -> None:
        if self.notes is None:
            return
        self.tracer.enabled = False
        try:
            getattr(self.notes, hook)(*a)
        finally:
            self.tracer.enabled = True

    def job_mark(self) -> int:
        """The last Spark job id so far (tracing only; else -1)."""
        return -1 if self.store is None else self.store.max_job_id()

    def span(self, name: str):
        """A tracer span around a block of the benchmark's own code."""
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def note_replay(self, pipe, stats, job_mark):
        if self.store is not None:
            self._note("note_replay", pipe, stats,
                       self.store.max_job_id() - job_mark)

    def note_changes(self, n_rows):
        self._note("note_changes", n_rows)

    def note_lookup(self, lake, key):
        self._note("note_lookup", lake, key)

    def note_lake(self, pipe, n_rows):
        self._note("note_lake", pipe, n_rows)


def _session(work: str):
    from grate_spark.session import get_spark
    from probes import RETENTION_CONF

    tmp = os.path.join(work, "tmp")
    extra = {"spark.driver.memory": "4g",
             "spark.local.dir": os.path.join(work, "spark-local"),
             "spark.driver.extraJavaOptions":
                 f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
             "spark.ui.showConsoleProgress": "false",
             **RETENTION_CONF}
    spark = get_spark(cpus=CPUS, app="perfbench", extra=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop the session and the gateway JVM, and wait for it to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=20)
            except Exception:
                proc.kill()
                proc.wait()


def _fmt(metrics: dict, units: dict) -> dict:
    return {k: {"value": float(v), "unit": units[k]}
            for k, v in metrics.items()}


def run(args) -> dict:
    from layers import LayerNotes
    from probes import MemSampler, StatusStore, cpu_ticks
    from stats import median
    from spans import Tracer, install
    from workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-"
                        f"{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # temp files of the session, its workers and the query builders stay
    # in the checkout
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    ctx = Context(args, work)
    try:
        # the sampler reads /proc/<pid>/smaps_rollup, which walks the
        # JVM's page tables: traced runs only
        with MemSampler() if args.trace else contextlib.nullcontext() as mem:
            ticks = [cpu_ticks()]
            setups = []
            for rep in range(SETUP_REPS):
                t0 = time.perf_counter()
                if ctx.spark is None:
                    ctx.spark = _session(work)
                    session_s = time.perf_counter() - t0
                    wl = WORKLOADS[args.workload](ctx)
                wl.setup(rep)
                if rep == 0:
                    wl.warm()
                setups.append(time.perf_counter() - t0)

            if args.trace:
                ctx.notes = LayerNotes()
                ctx.tracer = Tracer()
                install(ctx.tracer)
                store = ctx.store = StatusStore(ctx.spark)
                marks = (store.max_stage_id(), store.max_job_id())
            wl.measure()
            e2e = wl.end_to_end()
            if args.trace:
                window = store.window(marks[0], store.max_stage_id(),
                                      marks[1], store.max_job_id())
                wl.probe()
                ctx.tracer.restore()
            wl.check()
            ticks.append(cpu_ticks())
            if args.trace:
                layer = _per_layer(ctx, wl, e2e, window)
                layer["spark.session_start_s"] = session_s
                layer["spark.cold_start_s"] = setups[0]
        if args.trace:
            layer.update(_memory_and_host(mem, ticks))
            metrics = _fmt(layer, _layer_units())
        else:
            e2e["setup_s"] = median(setups)
            metrics = _fmt(e2e, END_TO_END_UNITS)
        _sidecar(args, wl, setups, metrics,
                 ctx.tracer.spans if args.trace else [])
        for note in wl.out.notes:
            print(f"perfbench: FAILED {note}", file=sys.stderr)
        return {"correct": wl.out.failed == 0,
                "attempted": wl.out.attempted,
                "failed": wl.out.failed,
                "metrics": metrics}
    finally:
        if ctx.spark is not None:
            _stop(ctx.spark)
        shutil.rmtree(work, ignore_errors=True)


def _per_layer(ctx, wl, e2e: dict, window: dict) -> dict:
    """Per-layer figures of a traced run, after its measured work."""
    from grate_spark.cdc.pipeline import CdcPipeline
    from layers import extract_bench, operator_bench, span_metrics

    layer = extract_bench(wl.blobs())
    layer.update(operator_bench(ctx.spark, wl.blobs()))
    layer.update(span_metrics(ctx.tracer, ctx.notes))
    # the writer the adaptive rule picks for this session (1 = pyarrow)
    layer["pipeline.python_encode"] = float(CdcPipeline(
        ctx.spark, os.path.join(ctx.work, "encode-rule")).python_encode)
    layer["query.build_s"] = sum(wl.samples["read_build_s"])
    layer["query.collect_s"] = sum(wl.samples["read_collect_s"])
    layer.update({f"spark.{k}": v for k, v in window.items()})
    layer["traced.items_per_s"] = e2e["items_per_s"]
    layer["traced.step_s_p50"] = e2e["step_s_p50"]
    return layer


def _memory_and_host(mem, ticks) -> dict:
    from probes import steal_pct

    return {"mem.peak_pss_mib": mem.peak_total,
            "mem.jvm_peak_mib": mem.peak_jvm,
            "mem.pyworkers_peak_mib": mem.peak_workers,
            "host.steal_pct": steal_pct(ticks[0], ticks[1])}


def _layer_units() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def _sidecar(args, wl, setups, metrics, spans) -> None:
    """Raw samples, their summaries, per-query figures and the spans."""
    from stats import summary

    out = os.path.join(ROOT, ".perfbench", "out")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-seed{args.seed}-"
                        f"trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump({"setups": setups, "samples": wl.samples,
                   "summary": {k: summary(v) for k, v in wl.samples.items()},
                   "detail": wl.detail, "notes": wl.out.notes,
                   "metrics": metrics, "spans": spans}, f, indent=1)


def _watchdog(_sig, _frame):
    raise TimeoutError(f"run exceeded {WATCHDOG_S} s")


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "grate_spark", "__init__.py")):
        print(f"perfbench: no grate_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    signal.signal(signal.SIGALRM, _watchdog)
    signal.alarm(WATCHDOG_S)
    result = run(args)
    signal.alarm(0)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
