"""Extraction benchmark: documents/s of `plans.extract.run_extract_frames`.

One caller drives the public API in a closed loop on a local[nproc]
session: each call reads the workload's input files and commits onto an
ExtractTable, and every committed head snapshot is checked span for span
against the oracle answer generated with the inputs.

    python3 perfbench/run.py --workload media_heavy --seed 1 --seconds 12 --trace 0

Run from the root of a checkout; everything it writes goes under
`.bench_run/` there. The last line of standard output is one JSON object:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`
(see perfbench/README.md for what each measures).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN = os.path.join(ROOT, ".bench_run")
SETUPS = 3        # set-ups per run; setup_s is their median
MIN_CALLS = 3     # timed calls, even when they outlast --seconds
WARM_ROWS = 64    # payloads in the Python-worker warm-up job
BLAS_ENV = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
            "NUMEXPR_NUM_THREADS", "VECLIB_MAXIMUM_THREADS")


def configure_env(nproc: int) -> None:
    """Keep every Spark, JVM and Python scratch path inside RUN, pin one
    BLAS thread per task, and let Python workers import the package.
    Must run before pyspark or numpy is imported."""
    local, tmp, wh = (os.path.join(RUN, "spark", d) for d in ("local", "tmp", "warehouse"))
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ.update({v: "1" for v in BLAS_ENV})
    os.environ.update(
        PYTHONPATH=os.pathsep.join([ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p]),
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_LOCAL_DIRS=local,
        SPARK_DRIVER_MEMORY="1g",  # a small heap keeps the JVM's peak memory steady run to run
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=" ".join([
            f"--conf spark.sql.warehouse.dir={wh}",
            f"--conf spark.local.dir={local}",
            "--conf spark.ui.showConsoleProgress=false",
            # lower JIT thresholds: the JVM reaches steady-state code in a
            # few calls instead of ~10, so timed calls are not mid-warm-up
            f"--driver-java-options '-XX:CompileThresholdScaling=0.1 -Djava.io.tmpdir={tmp}'",
            "pyspark-shell",
        ]),
    )
    sys.path.insert(0, ROOT)


def tree_hwm_mb(pid: int, skip: set[int]) -> dict[str, list[float]]:
    """Peak resident memory (VmHWM) of `pid` and its descendants but `skip`:
    process name -> [MB summed over processes of that name, processes]."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(d))
    out: dict[str, list[float]] = {}
    todo = [pid]
    while todo:
        p = todo.pop()
        if p in skip:
            continue
        todo += children.get(p, [])
        try:
            with open(f"/proc/{p}/status") as f:
                fields = dict(l.split(":", 1) for l in f if ":" in l)
        except OSError:
            continue
        mb_n = out.setdefault(fields["Name"].strip(), [0.0, 0])
        mb_n[0] += int(fields.get("VmHWM", "0 kB").split()[0]) / 1024.0
        mb_n[1] += 1
    return out


class Bench:
    """Session, inputs and the checked closed-loop call for one workload."""

    def __init__(self, workload: str, seed: int, nproc: int, tracer):
        from perfbench.inputs import Inputs

        self.workload, self.nproc, self.tracer = workload, nproc, tracer
        self.inputs = Inputs(os.path.join(RUN, "inputs"), workload, seed)
        if not self.inputs.ready():
            self.inputs.build(nproc)
        self.expected = self.inputs.expected()
        ids = self.inputs.ids()
        self.work = os.path.join(RUN, "work")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        if workload == "incremental":
            self.call_sets = ["base", "delta"]
            self.base_ids = set(ids["base"])
            self.docs_per_call = len(ids["delta"])
        else:
            self.call_sets = ["docs"]
            self.base_ids = set()
            self.docs_per_call = len(ids["docs"])
        self.base_root = os.path.join(self.work, "base")
        self.spark = self.bc = None
        self.last_call = ""  # name of the last call whose table passed the check
        self.layer_counts: dict[str, float] = {}
        self.calls = 0
        self.failed = 0
        self.checked = 0
        self.mismatched = 0
        self.self_test_ok: bool | None = None
        self.call_log: list[tuple[str, float, float]] = []  # (call, seconds, wall seconds)
        self.setup_log: list[tuple[float, float]] = []       # (seconds, wall seconds)

    # -- set-up --------------------------------------------------------------
    def setup(self, k: int) -> None:
        """One set-up: SparkSession (the first one launches the JVM), the
        weights broadcast, and a warm-up job through the OCR stage that
        starts and hydrates every Python worker."""
        import pyarrow.parquet as pq

        from perfbench.host import Interval
        from vietnamese_ocr_spark.config import get_spark
        from vietnamese_ocr_spark.plans.extract import broadcast_weights, recognize_media_df

        sample = pq.read_table(self.inputs.media).sort_by("media_ref").slice(0, WARM_ROWS).to_pandas()
        call = f"setup-{k}"
        with Interval() as iv, self.tracer.span("setup", call):
            with self.tracer.span("setup.session", call):
                self.spark = get_spark(master=f"local[{self.nproc}]")
            with self.tracer.span("setup.broadcast", call):
                self.bc = broadcast_weights(self.spark)
            with self.tracer.span("setup.warmup", call):
                rec = recognize_media_df(self.spark.createDataFrame(sample), self.bc)
                rec.write.format("noop").mode("overwrite").save()
        self.setup_log.append((round(iv.seconds, 3), round(iv.wall, 3)))

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = self.bc = None

    def shutdown(self) -> None:
        """Stop Spark, then the JVM gateway process, and wait for both."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()

    # -- calls ---------------------------------------------------------------
    def between_calls(self) -> None:
        from vietnamese_ocr_spark.caching import release_persisted

        release_persisted()
        self.spark.catalog.clearCache()
        gc.collect()
        self.spark._jvm.System.gc()  # noqa: SLF001 - each call starts on a collected heap

    def prepare(self, name: str) -> str:
        """Fresh output table for a call: empty, or the committed base."""
        root = os.path.join(self.work, name)
        shutil.rmtree(root, ignore_errors=True)
        if self.workload == "incremental":
            shutil.copytree(self.base_root, root)
        return root

    def extract(self, root: str, sets: list[str], span: str | None) -> tuple[float, dict]:
        """The timed region: read the inputs and run one extraction; with
        `span`, the region is also a trace span of that call id."""
        from perfbench.host import Interval
        from vietnamese_ocr_spark.plans.extract import run_extract_frames

        with Interval() as iv, self.tracer.span("extract.run_extract_frames", span) if span else nullcontext():
            docs = self.spark.read.parquet(*(self.inputs.set_dir(s) for s in sets))
            media = self.spark.read.parquet(self.inputs.media)
            res = run_extract_frames(self.spark, docs, media, root, weights_bc=self.bc)
        self.call_log.append((os.path.basename(root), round(iv.seconds, 3), round(iv.wall, 3)))
        return iv.seconds, res

    def check(self, root: str, before: int, res: dict, expected: dict) -> bool:
        from perfbench.check import compare, read_head, self_test

        head = read_head(root)
        v = compare(expected, head.rows)
        self.checked += v.checked
        self.mismatched += v.bad
        if self.self_test_ok is None:
            self.self_test_ok = self_test(expected, head.rows)
        ok = (v.bad == 0 and head.snapshot_id == before + 1
              and res["snapshot_id"] == head.snapshot_id and res["total_docs"] == len(expected))
        if not ok:
            print(f"check failed: {v} snapshot {before}->{head.snapshot_id} result {res}", file=sys.stderr)
        return ok

    def checked_call(self, name: str, sets: list[str] | None = None, traced: bool = False) -> float | None:
        """Run, time and check one call; returns its seconds, None on failure."""
        from perfbench.check import read_head

        sets = sets or self.call_sets
        expected = self.expected
        if sets == ["base"]:
            expected = {d: s for d, s in self.expected.items() if d in self.base_ids}
        root = self.base_root if sets == ["base"] else self.prepare(name)
        before = read_head(root).snapshot_id
        self.between_calls()
        self.calls += 1
        try:
            seconds, res = self.extract(root, sets, name if traced else None)
            if self.check(root, before, res, expected):
                self.last_call = name
                return seconds
        except Exception:
            traceback.print_exc()
        self.failed += 1
        return None

    def warm_up(self) -> None:
        from perfbench.inputs import WORKLOADS

        if self.workload == "incremental":
            self.checked_call("base", ["base"])
        for i in range(WORKLOADS[self.workload].warmup_calls):
            self.checked_call(f"warm-{i}")


def timed_loop(bench: Bench, seconds: float, meter, traced_every: int = 0):
    """Closed loop of checked calls until `seconds` of call time (at least
    MIN_CALLS calls), the host measured before each. With traced_every=2
    every second call is traced."""
    from perfbench.layers import traced_call

    plain, traced = [], []
    spent, i = 0.0, 0
    while spent < seconds or i < MIN_CALLS:
        meter.measure()
        t0 = time.perf_counter()
        if traced_every and i % traced_every == 1:
            dt = traced_call(bench, f"call-{i}")
            if dt is not None:
                traced.append(dt)
        else:
            dt = bench.checked_call(f"call-{i}")
            if dt is not None:
                plain.append(dt)
        spent += time.perf_counter() - t0 if dt is None else dt  # a failed call spends its wall time
        i += 1
    return plain, traced


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seed < 0 or args.seconds <= 0:
        ap.error("--seed must be >= 0 and --seconds > 0")
    if not os.path.isdir(os.path.join(ROOT, "vietnamese_ocr_spark")):
        print(f"no vietnamese_ocr_spark package under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    configure_env(nproc)
    from perfbench.host import HostMeter
    from perfbench.inputs import WORKLOADS
    from perfbench.trace import Tracer

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {', '.join(WORKLOADS)}")
    tracer = Tracer()
    phases, t = {}, time.perf_counter()

    def phase(name: str) -> None:
        nonlocal t
        now = time.perf_counter()
        phases[name] = round(now - t, 3)
        t = now

    bench = Bench(args.workload, args.seed, nproc, tracer)
    phase("inputs")
    meter = HostMeter(nproc)
    try:
        meter.measure()
        bench.setup(0)
        phase("setup")
        bench.warm_up()
        phase("warm_up")
        plain, traced = timed_loop(bench, args.seconds, meter, traced_every=2 if args.trace else 0)
        phase("timed")
        peak_rss = tree_hwm_mb(os.getpid(), meter.pids())
        peak_rss_mb = sum(mb for mb, _ in peak_rss.values())
        if args.trace:
            from perfbench.layers import layer_metrics, measure_layers

            measure_layers(bench)
            phase("layers")
        # the remaining set-ups come last: a restarted context slows the
        # calls that follow it for several calls
        for k in range(1, SETUPS):
            bench.stop()
            meter.measure()
            bench.setup(k)
        phase("setups")
        if args.trace:
            metrics = layer_metrics(bench, plain, traced)
            os.makedirs(os.path.join(RUN, "traces"), exist_ok=True)
            tracer.dump(os.path.join(RUN, "traces", f"{args.workload}-{args.seed}.json"))
    finally:
        meter.close()
        bench.shutdown()
        shutil.rmtree(bench.work, ignore_errors=True)
    phase("shutdown")

    scale = meter.scale()
    setups = [sec * scale for sec, _ in bench.setup_log]
    docs_per_s = [bench.docs_per_call / (dt * scale) for dt in plain + traced]
    summary = {
        "workload": args.workload, "seed": args.seed, "nproc": nproc,
        "docs_per_call": bench.docs_per_call,
        "host_reference_s": [round(x, 4) for x in meter.seconds], "host_scale": scale,
        "docs_per_s": {"median": statistics.median(docs_per_s) if docs_per_s else 0.0,
                       "samples": len(docs_per_s)},
        "setup_s": {"median": statistics.median(setups), "samples": len(setups),
                    "seconds_wall": bench.setup_log},
        "peak_rss_mb": peak_rss_mb, "peak_rss_mb_by_process": peak_rss,
        "span_mismatch_frac": bench.mismatched / max(bench.checked, 1),
        "failed_frac": bench.failed / bench.calls,
        "setup_parts_s": {n: [round(tracer.self_time(i), 3) for i in tracer.named(f"setup.{n}")]
                          for n in ("session", "broadcast", "warmup")},
        "calls": bench.calls, "self_test_rejects_altered_copy": bench.self_test_ok,
        "call_seconds_wall": bench.call_log, "phases_s": phases,
    }
    print(json.dumps(summary))
    correct = bench.failed == 0 and bench.mismatched == 0 and bool(bench.self_test_ok)
    if not args.trace:
        metrics = {
            "docs_per_s": {"value": summary["docs_per_s"]["median"], "unit": "docs/s"},
            "setup_s": {"value": summary["setup_s"]["median"], "unit": "s"},
            "peak_rss_mb": {"value": peak_rss_mb, "unit": "MB"},
        }
    print(json.dumps({"correct": correct, "attempted": bench.calls, "failed": bench.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
