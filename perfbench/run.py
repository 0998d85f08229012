"""Benchmark of the document-vector-indexer package on a local Spark.

    python3 perfbench/run.py --workload index_raw --seed 1 --seconds 2 --trace 0

Workloads (see workloads.py): ``index_raw``, ``curate`` and
``query_mix``. The run writes its seeded inputs, starts the production
session (``session.get_spark`` at local[nproc]), runs the workload's
untimed warm-up passes, then runs timed passes until ``--seconds``
seconds are measured, and checks every output. The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` also runs
traced passes after the timed ones and reports the per-layer metrics:
each layer's self time, counts, and the Spark jobs, stages, tasks,
executor time, GC, shuffle and spill of the work each span started.
The spans go to ``perfbench/traces/<workload>-seed<seed>.json``.

Everything is read and written under ``perfbench/``: inputs and
outputs in ``perfbench/_work/`` (removed at exit), Spark's scratch
space and temporary files too.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()  # setup_s counts from here, before any other import

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORES = len(os.sched_getaffinity(0))  # what nproc reports
# Driver JVM heap: Spark's default. The inputs are megabytes, and the host is
# shared, so the package default of 16g would not fit; a fixed small heap
# also keeps peak RSS steady from run to run.
DRIVER_MEMORY = "1g"


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (the driver JVM and its Python workers), sampled every 0.2 s while
    a ``sampling()`` block runs: the warm-up and timed passes, not the
    input generator or the output checks. Each process counts its
    proportional set size, so pages that forked Python workers share
    with their parent are counted once."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self.on = threading.Event()
        self.halt = threading.Event()

    @staticmethod
    def tree_bytes() -> int:
        children: dict[int, list[int]] = {}
        for pid in filter(str.isdigit, os.listdir("/proc")):
            try:
                with open(f"/proc/{pid}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(pid))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, ()))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                pass  # the process exited between listing and reading
        return total

    def run(self) -> None:
        while not self.halt.wait(0.2):
            if self.on.is_set():
                self.peak = max(self.peak, self.tree_bytes())

    @contextlib.contextmanager
    def sampling(self):
        self.on.set()
        try:
            yield
        finally:
            self.on.clear()
            self.peak = max(self.peak, self.tree_bytes())

    def stop(self) -> float:
        self.halt.set()
        self.join()
        return self.peak / 2**20


def start_session():
    from document_vector_indexer_spark.session import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait for it to exit (its
    Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(args, work: str) -> dict:
    import numpy as np
    import workloads
    from spans import Tracer, spark_counts

    wl = workloads.WORKLOADS[args.workload](work, args.seed)
    rss = RssSampler()
    rss.start()
    spark = None
    try:
        wl.generate()
        t = time.perf_counter()
        gen_s = t - T0
        spark = start_session()
        session_s = time.perf_counter() - t
        tracer = Tracer(spark, f"{args.workload}-{args.seed}") if args.trace else None
        t = time.perf_counter()
        wl.prepare(spark, tracer)
        prepare_s = time.perf_counter() - t
        prep_spans = list(tracer.spans) if tracer else []
        problems: list[str] = []
        counts = {"attempted": 0, "failed": 0}

        def checked(ops: list) -> list:
            # outside the timed window; outputs are checked as they land
            for op in ops:
                counts["attempted"] += 1
                bad = [op.error] if op.error else wl.check(op)
                if bad:
                    counts["failed"] += 1
                    problems.append(f"{op.name}: {bad[0]}")
            return ops

        t = time.perf_counter()
        with rss.sampling():
            warm = [op for k in range(wl.warmup_passes) for op in wl.run_pass(-k)]  # untimed
        setup_s = time.perf_counter() - T0
        print(f"setup {setup_s:.1f} s: inputs {gen_s:.1f}, session {session_s:.1f}, "
              f"prepare {prepare_s:.1f}, warm-up {time.perf_counter() - t:.1f}",
              file=sys.stderr)

        pass_s, ops_timed, k = [], [], 0
        with rss.sampling():
            while sum(pass_s) < args.seconds:
                k += 1
                spark.catalog.clearCache()
                if tracer:
                    spark.sparkContext.setJobGroup(f"pass-{k}", "untraced pass")
                t = time.perf_counter()
                ops_timed += wl.run_pass(k)
                pass_s.append(time.perf_counter() - t)
        job_s = statistics.median(pass_s)
        peak_mb = rss.stop()  # before the checks, which run in this process
        checked(warm)
        checked(ops_timed)

        per_layer = None
        if tracer:
            scan_bytes = 0
            if args.workload == "index_raw":
                ids = sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(f"pass-{k}"))
                scan_bytes = spark_counts(spark.sparkContext, ids, "Scan binaryFile")["input_bytes"]
            traced: list[tuple[float, list, int]] = []
            while sum(w for w, _, _ in traced) < args.seconds:
                k += 1
                spark.catalog.clearCache()
                first = len(tracer.spans)
                t = time.perf_counter()
                ops = wl.run_pass(k, tracer)
                traced.append((time.perf_counter() - t, ops, first))
                tracer.release()
                checked(ops)
            per_layer = layer_metrics(args, wl, tracer, prep_spans, traced,
                                      session_s, job_s, scan_bytes, ops_timed)
    finally:
        if spark is not None:
            stop_session(spark)
        if rss.is_alive():
            rss.stop()

    for p in problems[:20]:
        print(f"check failed: {p}", file=sys.stderr)
    lat = [op.seconds for op in ops_timed]
    print(f"{wl.name}: {len(pass_s)} timed passes, {len(lat)} operations; "
          f"passes {', '.join(f'{s:.3f}' for s in pass_s)} s", file=sys.stderr)
    by_op: dict[str, list[float]] = {}
    for op in ops_timed:
        by_op.setdefault(op.name, []).append(op.seconds)
    cold = {op.name: op.seconds for op in reversed(warm)}  # the first warm-up pass
    for name, v in by_op.items():
        print(f"  {name:32s} median {statistics.median(v):.3f} s over {len(v)}, "
              f"warm-up {cold[name]:.3f} s", file=sys.stderr)
    if per_layer is not None:
        metrics = {name: {"value": v, "unit": u} for name, (v, u) in per_layer.items()}
    else:
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "job_s": {"value": job_s, "unit": "s"},
            "docs_per_s": {"value": wl.n_docs / job_s, "unit": "docs/s"},
            "query_p50_s": {"value": statistics.median(lat), "unit": "s"},
            "query_p90_s": {"value": float(np.percentile(lat, 90)), "unit": "s"},
            "peak_rss_mb": {"value": peak_mb, "unit": "MB"},
        }
    return {"correct": not problems, "attempted": counts["attempted"],
            "failed": counts["failed"], "metrics": metrics}


def layer_metrics(args, wl, tracer, prep_spans, traced, session_s, job_s,
                  scan_bytes, ops_timed) -> dict[str, tuple[float, str]]:
    """Per-layer metrics from the traced passes (medians over passes),
    plus the trace file and a self-time report on stderr."""
    from document_vector_indexer_spark.session import dir_bytes
    from spans import plan_seconds

    med = statistics.median
    notes = tracer.notes

    def self_s(name: str, spans=None) -> float:
        got = [s.self_seconds() for s in (spans if spans is not None else tracer.spans)
               if s.name == name]
        return med(got) if got else 0.0

    pass_spans = [tracer.spans[first:] if i + 1 == len(traced) else
                  tracer.spans[first:traced[i + 1][2]] for i, (_, _, first) in enumerate(traced)]
    per_pass = []
    for (wall, _, _), spans in zip(traced, pass_spans):
        tot: dict[str, float] = {}
        for s in spans:
            for key, v in s.counts.items():
                tot[key] = tot.get(key, 0) + v
        tot["wall"] = wall
        per_pass.append(tot)

    def pass_med(key: str) -> float:
        return med(p.get(key, 0) for p in per_pass)

    n_ops = med(len(ops) for _, ops, _ in traced)
    headline = [op for _, ops, _ in traced for op in ops
                if op.name.startswith("queries.") and op.error is None]
    m: dict[str, tuple[float, str]] = {
        "session.start_s": (session_s, "s"),
        "io.ingest_layout_s": (self_s("io.ingest_layout", prep_spans), "s"),
        "io.bytes_written": (float(dir_bytes(wl.layout)) if wl.name == "query_mix" else 0.0,
                             "bytes"),
        "sources.extract_s": (self_s("sources"), "s"),
        "sources.files": (float(notes.get("sources.files", 0)), "count"),
        "sources.error_rows": (float(notes.get("sources.error_rows", 0)), "count"),
        "sources.scan_passes": (scan_bytes / wl.input_bytes if scan_bytes else 0.0, "count"),
        "chunking.s": (self_s("chunking"), "s"),
        "chunking.chunks": (float(notes.get("chunking.chunks", 0)), "count"),
        "ranking.global_id_s": (self_s("ranking.global_id"), "s"),
        "ranking.global_id_jobs": (float(notes.get("ranking.global_id_jobs", 0)), "count"),
        "embedding.fit_s": (self_s("embedding.fit"), "s"),
        "embedding.transform_s": (self_s("embedding.transform"), "s"),
        "pipeline.write_s": (self_s("pipeline.write"), "s"),
        "pipeline.files_written": (float(notes.get("pipeline.files_written", 0)), "count"),
        "pipeline.bytes_written": (float(notes.get("pipeline.bytes_written", 0)), "bytes"),
        "cli.residual_s": (self_s("cli.curate") if wl.name == "curate" else self_s("cli.index"),
                           "s"),
        "textanalysis.gopher_s": (self_s("textanalysis.gopher"), "s"),
        "textanalysis.kept_frac": (notes.get("textanalysis.kept", 0) / wl.n_docs
                                   if wl.name == "curate" else 0.0, "ratio"),
        "dedup.exact_s": (self_s("dedup.exact"), "s"),
        "dedup.exact_removed": (float(notes.get("dedup.exact_removed", 0)), "count"),
        "trainprep.split_write_s": (self_s("trainprep.split_write"), "s"),
        "similarity.knn_p50_s": (self_s("similarity.knn"), "s"),
        "search.hybrid_p50_s": (self_s("search.hybrid"), "s"),
    }
    from workloads import HEADLINE

    for key in HEADLINE:
        m[f"queries.{key}_s"] = (self_s(f"queries.{key}"), "s")
    m["spark.plan_s"] = (med(plan_seconds(op.output[1]) for op in headline) if headline else 0.0, "s")
    m["spark.jobs_per_query"] = (pass_med("jobs") / n_ops if wl.name == "query_mix" else 0.0, "count")
    m["spark.stages_per_query"] = (pass_med("stages") / n_ops if wl.name == "query_mix" else 0.0, "count")
    for key, unit in (("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                      ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"),
                      ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes")):
        m[f"spark.{key}"] = (float(pass_med(key)), unit)
    m["spark.core_busy_frac"] = (med(p.get("executor_run_s", 0) / (p["wall"] * CORES)
                                     for p in per_pass), "ratio")
    traced_s = med(w for w, _, _ in traced)
    m["trace.pass_s"] = (traced_s, "s")
    m["trace.overhead_s"] = (traced_s - job_s, "s")
    m["ops.samples"] = (float(len(ops_timed)), "count")

    flat = [x for spans in pass_spans for x in spans]
    names = sorted({s.name for s in flat})
    print(f"{'layer span':28s} {'self s':>8s} {'share of job_s':>15s}", file=sys.stderr)
    covered = 0.0
    for name in names:
        s = self_s(name, flat)
        covered += s
        print(f"{name:28s} {s:8.3f} {s / job_s:15.1%}", file=sys.stderr)
    # The traced pass materializes each layer once; the untraced pass
    # may recompute a layer several times, which lands in the residual.
    print(f"job_s {job_s:.3f} s = span self times {covered:.3f} s + residual "
          f"{job_s - covered:+.3f} s; traced pass {traced_s:.3f} s, tracing overhead "
          f"{traced_s - job_s:+.3f} s", file=sys.stderr)
    out = os.path.join(HERE, "traces", f"{wl.name}-seed{args.seed}.json")
    tracer.dump(out, {"job_s": job_s, "per_layer": {k: v for k, (v, _) in m.items()},
                      "traced_pass_s": [w for w, _, _ in traced]})
    return m


def main() -> None:
    p = argparse.ArgumentParser(description="Benchmark the document-vector-indexer package.")
    p.add_argument("--workload", required=True, choices=["index_raw", "curate", "query_mix"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()

    sys.path.insert(0, ROOT)
    try:
        import document_vector_indexer_spark  # noqa: F401
    except ImportError as e:
        sys.exit(f"perfbench: the package is not in this checkout: {e}")
    if not os.path.isfile(os.path.join(ROOT, "tests", "reference_semantics.py")):
        sys.exit("perfbench: tests/reference_semantics.py is missing from this checkout")

    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{args.trace}")
    tmp = os.path.join(work, "tmp")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": tmp,
        # the JVM's temporary files, and no perf-data file under /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    os.chdir(work)  # spark-warehouse and metastore files land here
    try:
        result = run(args, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    if not result["correct"]:
        sys.exit(1)


if __name__ == "__main__":
    main()
