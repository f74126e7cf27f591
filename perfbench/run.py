"""The repository benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload web_ingest --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  One process drives one Spark session on
``local[<cores>]`` as a closed loop with one client: each round runs the
workload's operations one after another, and rounds repeat until
``--seconds`` have passed.  Every input, store and Spark shuffle/spill file lives
under ``.perfbench_work/`` in the checkout; per-run details (samples, gate
paths, spans) go to ``.perfbench_out/``.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced rounds, runs each of the other operations once warm and
once traced on the same input, times the kernel and codec layers, and prints the per-layer metrics, including
the tracing overhead.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORKLOADS = {
    # dataset, the operations of one round
    "web_ingest": ("web", ("encode_hash", "encode_split", "encode_bucketed")),
    "lineitem_roundtrip": ("lineitem", ("encode_hash", "decode", "agg_decode")),
}
WEB_PAGES = 50_000
LINEITEM_ORDERS = 40_000  # about 160k rows
SETUP_REPS = 2
WARM_ROUNDS = 2
MIN_ROUNDS = 3
DEADLINE_S = 170


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size multiplier (the self-test uses a tiny one)")
    p.add_argument("--corrupt", action="store_true",
                   help="flip one payload byte in each store before its gate "
                        "(self-test: the gate must fail)")
    return p.parse_args(argv)


def median(xs):
    return statistics.median(xs) if xs else math.nan


def prepare_environment(root: str, work: str) -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the package from it."""
    for d in ("tmp", "spark-local"):
        os.makedirs(f"{work}/{d}", exist_ok=True)
    os.environ["TMPDIR"] = f"{work}/tmp"
    # every JVM the launch starts: temp files in the checkout, no
    # hsperfdata files in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, root)


def start_spark(work: str, cores: int):
    from varint_simd_spark.sources.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf={
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def make_dataset(name: str, spark, path: str, seed: int, scale: float):
    """Write the seeded input table as parquet files under ``path``."""
    import inputs

    if name == "web":
        inputs.write_web_pages(spark, max(1000, int(WEB_PAGES * scale)), seed, path)
    else:
        inputs.write_lineitem(max(500, int(LINEITEM_ORDERS * scale)), seed, path)


def describe(name: str, path: str, seed: int):
    import random

    import inputs
    from ops import Dataset

    table = inputs.read_input(path)
    rng = random.Random(seed)
    if name == "web":
        ds = Dataset(
            input_dir=path, key="url", columns=table.column_names,
            pruned=["text"], where=[("lang", "==", "de")], filtered_out=["url", "text"],
            lookup_value=table["url"][rng.randrange(table.num_rows)].as_py(),
        )
    else:
        ds = Dataset(
            input_dir=path, key="l_orderkey", columns=table.column_names,
            pruned=["l_extendedprice"], where=[("l_returnflag", "==", "R")],
            filtered_out=["l_orderkey", "l_extendedprice"],
            lookup_value=table["l_orderkey"][rng.randrange(table.num_rows)].as_py(),
        )
    raw_all, ref_all = inputs.table_bytes(table)
    filtered_cols = sorted({c for c, _, _ in ds.where} | set(ds.filtered_out))
    ds.raw = {
        "all": raw_all,
        "ref": ref_all,
        "scan_pruned": inputs.table_bytes(table, ds.pruned)[0],
        "scan_filtered": inputs.table_bytes(table, filtered_cols)[0],
        "lookup": inputs.table_bytes(table, [ds.key])[0],
    }
    return ds, table


def flip_payload_byte(root: str) -> None:
    """Flip one bit of one payload in a store (self-test only)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    for d, _, fs in sorted(os.walk(root)):
        for f in sorted(fs):
            if not f.endswith(".parquet") or "manifest" in d:
                continue
            path = os.path.join(d, f)
            t = pq.ParquetFile(path).read()
            payloads = t["payload"].to_pylist()
            i = next((k for k, p in enumerate(payloads) if p), None)
            if i is None:
                continue
            p = bytearray(payloads[i])
            p[len(p) // 2] ^= 1
            payloads[i] = bytes(p)
            t = t.set_column(t.schema.get_field_index("payload"), "payload",
                             pa.array(payloads, t.schema.field("payload").type))
            pq.write_table(t, path)
            return


def dir_bytes(root: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs)


def payload_bytes(root: str) -> int:
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    total = 0
    for d, _, fs in os.walk(root):
        for f in fs:
            if f.endswith(".parquet"):
                col = pq.ParquetFile(os.path.join(d, f)).read(columns=["payload"])["payload"]
                total += int(pc.sum(pc.binary_length(col)).as_py() or 0)
    return total


def parquet_files(root: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(root) for f in fs)


class Run:
    """One benchmark run: set-up, the timed rounds, the gate, the report."""

    def __init__(self, args, root: str):
        self.args = args
        self.root = root
        self.work = f"{root}/.perfbench_work"
        self.dataset, self.mix = WORKLOADS[args.workload]
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failures: list[str] = []
        self.walls: dict[str, list[float]] = {}  # untraced wall times per op
        self.traced_walls: dict[str, list[float]] = {}
        self.layer: dict[str, list[dict]] = {}  # traced operator metrics per op
        self.paths: dict[str, list[dict]] = {}
        self.rss_mb = 0.0
        self.notes: dict = {}

    def fail(self, what: str) -> None:
        self.failures.append(what)
        log(f"FAILED: {what}")

    # -- set-up ----------------------------------------------------------

    def setup(self) -> None:
        from tracing import Tracer
        from ops import Operations

        shutil.rmtree(self.work, ignore_errors=True)
        prepare_environment(self.root, self.work)
        self.tracer = Tracer()
        t0 = time.perf_counter()
        self.spark = start_spark(self.work, self.cores)
        self.session_start_s = time.perf_counter() - t0
        reps = []
        for rep in range(SETUP_REPS):
            path = f"{self.work}/input-{rep}"
            t0 = time.perf_counter()
            make_dataset(self.dataset, self.spark, path, self.args.seed, self.args.scale)
            reps.append(time.perf_counter() - t0)
            if rep:
                shutil.rmtree(f"{self.work}/input-{rep - 1}")
        self.generate_s = median(reps)
        self.setup_s = self.session_start_s + self.generate_s
        self.ds, self.table = describe(self.dataset, path, self.args.seed)
        self.ops = Operations(self.spark, self.ds, self.work, 2 * self.cores)

    # -- operations --------------------------------------------------------

    def run_op(self, op: str, traced: bool, expected: dict, tag: str) -> None:
        from tracing import gate_paths, operator_metrics, worker_peak_rss_mb

        sc = self.spark.sparkContext
        group = f"perfbench:{self.args.workload}:{op}:{tag}"
        sc.setJobGroup(group, op)
        self.attempted += 1
        try:
            self.ops.prepare(op)
            if traced:
                mark = self.probe.mark()
            t0_ms = time.time() * 1e3
            t0 = time.perf_counter()
            span = self.tracer.span if traced else _no_span
            with span(op, trace=group):
                with span("build", trace=group):
                    built = self.ops.build(op)
                t_build = time.perf_counter() - t0
                with span("action", trace=group):
                    answer = self.ops.action(op, built)
            wall = time.perf_counter() - t0
            t1_ms = time.time() * 1e3
        except Exception:
            self.fail(f"{op} ({tag}) raised:\n{traceback.format_exc(limit=3)}")
            return
        finally:
            sc.setJobGroup("perfbench:idle", "")
        self.rss_mb = max(self.rss_mb, worker_peak_rss_mb())
        if op in expected and answer != expected[op]:
            self.fail(f"{op} ({tag}) answer {answer} != plain Spark {expected[op]}")
            return
        if not traced:
            self.walls.setdefault(op, []).append(wall)
            return
        self.traced_walls.setdefault(op, []).append(wall)
        stages = self.probe.stages(group)
        plans = self.probe.plans(mark)
        self.layer.setdefault(op, []).append(
            operator_metrics(stages, plans, t_build, wall, t0_ms, t1_ms, self.cores))
        self.paths.setdefault(op, []).append(gate_paths(op, plans))

    def rounds(self, expected: dict) -> None:
        from tracing import SparkProbe

        self.probe = SparkProbe(self.spark) if self.args.trace else None
        # warm-up: start the Python workers and pay each operation's
        # first-call set-up (imports, code generation, JIT) untimed; the
        # first warm round alone left the next one about 15% slow
        t0 = time.perf_counter()
        for k in range(WARM_ROUNDS):
            for op in self.mix:
                self.run_op(op, False, expected, f"warm{k}")
        self.walls.clear()
        self.notes["phase_s"]["warm"] = time.perf_counter() - t0
        # traced runs alternate untraced and traced rounds
        min_rounds = 4 if self.args.trace else MIN_ROUNDS
        t0 = time.perf_counter()
        n = 0
        while n < min_rounds or time.perf_counter() - t0 < self.args.seconds:
            traced = bool(self.args.trace) and n % 2 == 1
            for op in self.mix:
                self.run_op(op, traced, expected, f"r{n}")
            n += 1
        self.notes["rounds"] = n
        self.notes["measured_s"] = time.perf_counter() - t0
        if self.args.trace:
            # every operator's layer metrics on this workload's input, each
            # after one untimed warm-up call
            for op in self._other_ops():
                self.run_op(op, False, expected, "extra-warm")
                self.walls.pop(op, None)
                self.run_op(op, True, expected, "extra")

    def _other_ops(self):
        from ops import ALL_OPS, WRITE_OPS

        rest = [op for op in ALL_OPS if op not in self.mix]
        # writes first, so the reads see a store this run wrote
        return [op for op in rest if op in WRITE_OPS] + [op for op in rest if op not in WRITE_OPS]

    # -- gate --------------------------------------------------------------

    def gate_stores(self, expected: dict) -> dict:
        """Decode every store this run wrote and compare it with the raw
        input; check its size against the reference encoder's."""
        sizes = {}
        for op, root in sorted(self.ops.stores.items()):
            data = self.ops.store_data_root(op)
            if self.args.corrupt:
                flip_payload_byte(data)
            sizes[op] = {"disk": dir_bytes(root), "payload": payload_bytes(data),
                         "files": parquet_files(data)}
            self.attempted += 1
            ref_ratio = sizes[op]["payload"] / self.ds.raw["ref"]
            if ref_ratio > 1.0:
                self.fail(f"store {op} ref_ratio {ref_ratio:.4f} > 1")
                continue
            try:
                answer = self.ops.store_answer(op)
            except Exception:
                self.fail(f"store {op} decode raised:\n{traceback.format_exc(limit=3)}")
                continue
            if answer != expected["all"]:
                self.fail(f"store {op} checksum {answer} != raw input {expected['all']}")
        return sizes

    # -- report ------------------------------------------------------------

    def op_raw_bytes(self, op: str) -> int:
        return self.ds.raw.get(op, self.ds.raw["all"])

    def end_to_end(self, sizes: dict) -> dict:
        med = {op: median(self.walls.get(op, [])) for op in self.mix}
        raw_round = sum(self.op_raw_bytes(op) for op in self.mix)
        n_st = len(sizes)  # the stores the round's writes produced
        return {
            "setup_s": (self.setup_s, "s"),
            "raw_mbps": (raw_round / sum(med.values()) / 1e6, "MB/s"),
            "op_geomean_s": (math.exp(sum(math.log(v) for v in med.values()) / len(med)), "s"),
            "stored_ratio": (sum(s["disk"] for s in sizes.values()) / (n_st * self.ds.raw["all"]),
                             "ratio"),
            "ref_ratio": (sum(s["payload"] for s in sizes.values()) / (n_st * self.ds.raw["ref"]),
                          "ratio"),
            "worker_peak_rss_mb": (self.rss_mb, "MB"),
        }

    def per_layer(self, sizes: dict, layer_metrics: dict) -> dict:
        units = {"wall_s": "s", "plan_s": "s", "driver_s": "s", "exchanges": "count",
                 "shuffle_write_bytes": "bytes", "input_bytes": "bytes",
                 "executor_cpu_s": "s", "core_util": "ratio", "task_skew": "ratio"}
        out = {}
        failed_tasks = 0
        for op, samples in sorted(self.layer.items()):
            for k, unit in units.items():
                out[f"operators.{op}.{k}"] = (median([s[k] for s in samples]), unit)
            failed_tasks += sum(s["failed_tasks"] for s in samples)
        out["operators.failed_tasks"] = (failed_tasks, "count")
        for k, v in layer_metrics.items():
            unit = ("Melem/s" if "melem" in k else "MB/s" if k.endswith("mbps")
                    else "ratio")
            out[k] = (v, unit)
        out["sources.session_start_s"] = (self.session_start_s, "s")
        out["sources.generate_s"] = (self.generate_s, "s")
        primary = "encode_split" if "encode_split" in sizes else "encode_hash"
        out["sources.store_files"] = (sizes.get(primary, {}).get("files", 0), "count")
        untraced = sum(median(self.walls.get(op, [])) for op in self.mix)
        traced = sum(median(self.traced_walls.get(op, [])) for op in self.mix)
        out["tracing.overhead_pct"] = (100.0 * (traced / untraced - 1.0), "%")
        return out

    def main(self) -> dict:
        phase = time.perf_counter()
        self.setup()
        self.notes["phase_s"] = {"setup": time.perf_counter() - phase}
        log(f"setup {self.setup_s:.2f}s (session {self.session_start_s:.2f}s); "
            f"raw {self.ds.raw['all'] / 1e6:.1f} MB, reference {self.ds.raw['ref'] / 1e6:.1f} MB")
        self.spark.sparkContext.setJobGroup("perfbench:gate", "expected answers")
        phase = time.perf_counter()
        expected = self.ops.expected(self.mix if not self.args.trace else None)
        self.notes["phase_s"]["expected"] = time.perf_counter() - phase
        self.rounds(expected)
        phase = time.perf_counter()
        layer_metrics = {}
        if self.args.trace:
            import layers

            checks = layers.Checks()
            with self.tracer.span("kernels", trace="layers"):
                layers.golden_vectors(checks)
                layer_metrics.update(layers.kernels(self.table, self.ds.key, checks))
            with self.tracer.span("codecs", trace="layers"):
                codec_metrics, picks = layers.codecs(self.table, checks)
            layer_metrics.update(codec_metrics)
            self.notes["codec_picks"] = picks
            self.attempted += checks.attempted
            for f in checks.failures:
                self.fail(f)
        self.spark.sparkContext.setJobGroup("perfbench:gate", "store gate")
        self.notes["phase_s"]["layers"] = time.perf_counter() - phase
        phase = time.perf_counter()
        sizes = self.gate_stores(expected)
        self.notes["phase_s"]["store_gate"] = time.perf_counter() - phase
        self.notes["stores"] = sizes
        metrics = self.per_layer(sizes, layer_metrics) if self.args.trace else self.end_to_end(sizes)
        return metrics


def _no_span(name: str, trace: str):
    return contextlib.nullcontext()


def _finite(v) -> bool:
    return isinstance(v, (int, float)) and math.isfinite(v)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "varint_simd_spark", "__init__.py")):
        log(f"varint_simd_spark not found under {root}: run from the root of a checkout")
        return 2

    def deadline(signum, frame):
        from pyspark import SparkContext

        log(f"deadline of {DEADLINE_S}s passed; stopping")
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait()
        os._exit(3)

    signal.signal(signal.SIGALRM, deadline)
    signal.alarm(DEADLINE_S)
    run = Run(args, root)
    try:
        metrics = run.main()
    finally:
        if hasattr(run, "spark"):
            stop_spark(run.spark)
    failed = len(run.failures)
    # a metric with no successful sample is left out, and the run is not correct
    finite = {k: (v, u) for k, (v, u) in metrics.items() if _finite(v)}
    ok = failed == 0 and len(finite) == len(metrics)
    metrics = finite
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "scale": args.scale, "cores": run.cores, "attempted": run.attempted,
        "failed": failed, "failures": run.failures,
        "error_rate": failed / max(run.attempted, 1),
        "samples": run.walls, "traced_samples": run.traced_walls,
        "operator_samples": run.layer, "gate_paths": run.paths,
        "raw_bytes": run.ds.raw, "metrics": {k: v for k, (v, _) in metrics.items()},
        **run.notes, "spans": run.tracer.spans,
    }
    out_dir = f"{root}/.perfbench_out"
    os.makedirs(out_dir, exist_ok=True)
    with open(f"{out_dir}/{args.workload}-seed{args.seed}-trace{args.trace}.json", "w") as f:
        json.dump(report, f, indent=1, default=str)
    for op, ws in sorted(run.walls.items()):
        log(f"  {op:16s} median {median(ws):.3f}s  n={len(ws)}  "
            f"min {min(ws):.3f}s max {max(ws):.3f}s")
    for op, ps in sorted(run.paths.items()):
        log(f"  {op:16s} paths {ps[-1]}")
    ref = json.load(open(os.path.join(HERE, "layers.json")))["reference_criterion_melem_s"]
    for kind in ("encode", "decode"):
        for width, theirs in ref[kind].items():
            ours = metrics.get(f"kernels.varint.{kind}_melem_s.{width}")
            if ours:
                log(f"  varint {kind} {width}: {ours[0]:.1f} Melem/s (reference {theirs} Melem/s)")
    log(f"  phases {json.dumps({k: round(v, 2) for k, v in run.notes['phase_s'].items()})}")
    log(f"  error_rate {report['error_rate']:.4f} ({failed}/{run.attempted})")
    print(json.dumps({
        "correct": ok,
        "attempted": run.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
