"""Benchmark entry point.

    python3 perfbench/run.py --workload point_queries --seed 1 \\
        --seconds 10 --trace 0

Run from the root of a source tree that holds ``glug_spark/``. Everything
the run writes stays under ``<root>/.perfbench/``: the generated inputs
(cached by seed, sizes and generator version), the per-run index and
Spark scratch directories (removed at exit), and ``out/`` with the full
result and, for traced runs, the span file.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` — the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The lines above
it repeat every figure with its unit and sample count, the operations
that failed, and the run settings.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from typing import Any
from unittest import mock

import gen
import measure
import workloads
from measure import median
from model import Model
from optrace import Ops

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
#: the run must end well inside the 180 s a run may take
WATCHDOG_S = 165
#: generator cache entries kept (oldest removed first)
CACHE_KEEP = 4
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "cycle_s": "s",
    "index_bytes_per_input_byte": "ratio",
}
QUERY_SHAPES = ("or", "and", "glob", "phrase", "near", "composed", "batch")
PER_LAYER = {
    "session.start_s": "s",
    "process.peak_rss_mb": "MB",
    "pipeline.build_s": "s",
    "pipeline.docs_per_s": "docs/s",
    "pipeline.jobs": "count",
    "pipeline.tasks": "count",
    "pipeline.executor_cpu_s": "s",
    "pipeline.gc_s": "s",
    "pipeline.input_bytes": "bytes",
    "pipeline.postings": "count",
    "pipeline.segments": "count",
    "pipeline.encoded_bytes": "bytes",
    "codec.decode_mb_per_s": "MB/s",
    "searcher.open_s": "s",
    "searcher.warm_s": "s",
    "storage.cached_mb": "MB",
    "query.plan_s": "s",
    "query.driver_s": "s",
    "query.jobs": "count",
    "query.stages": "count",
    "query.skipped_stages": "count",
    "query.tasks": "count",
    "query.executor_run_s": "s",
    "query.executor_cpu_s": "s",
    "query.scan_bytes": "bytes",
    "query.scan_rows": "count",
    "query.shuffle_bytes": "bytes",
    "query.p50_s": "s",
    "query.batch_qps": "1/s",
    **{f"query.p50_s.{s}": "s" for s in QUERY_SHAPES},
    "ingest.wave_s": "s",
    "ingest.docs_per_s": "docs/s",
    "ingest.jobs": "count",
    "ingest.executor_cpu_s": "s",
    "ingest.output_bytes": "bytes",
    "deletes.tombstone_s": "s",
    "deletes.purge_s": "s",
    "deletes.purge_jobs": "count",
    "deletes.purge_executor_cpu_s": "s",
    "deletes.purge_output_bytes": "bytes",
    "deletes.purge_rows": "count",
    "compact.wall_s": "s",
    "compact.jobs": "count",
    "compact.executor_cpu_s": "s",
    "compact.output_bytes": "bytes",
    "compact.rows_before": "count",
    "compact.rows_after": "count",
    "compact.groups": "count",
    "storage.index_bytes.postings": "bytes",
    "storage.index_bytes.term_stats": "bytes",
    "storage.index_bytes.docmap": "bytes",
    "storage.index_bytes.other": "bytes",
    "trace.harvest_share": "ratio",
    "trace.harvest_s": "s",
    "trace.spans": "count",
}


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    # accepted for the calling convention; each workload measures a
    # fixed amount of work (see workloads.py)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(run_dir: str) -> dict[str, str]:
    """Spark settings for this box: local[cpus], Python workers that can
    import glug_spark, scratch and temp dirs inside the run dir, a fixed
    driver heap."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    no_perf = "-XX:-UsePerfData"  # no hsperfdata files outside the run dir
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LAUNCHER_OPTS": no_perf,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options '-Djava.io.tmpdir={tmp} {no_perf}' "
            "pyspark-shell"),
    }


def _start_session() -> Any:
    """``session.get_spark`` with its /dev/shm spill-dir branch off: the
    run's scratch dir comes from SPARK_LOCAL_DIRS instead, inside the
    checkout."""
    from glug_spark import session

    real_isdir = os.path.isdir
    with mock.patch.object(
        session.os.path, "isdir",
        lambda p: False if p == "/dev/shm" else real_isdir(p),
    ):
        return session.get_spark("perfbench")


def _stop_session(spark: Any, clean: bool) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    gw = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gw, "proc", None)
    if clean:
        spark.stop()
    if proc is None:
        return
    left = [p for p in measure.descendants(proc.pid) if p != proc.pid]
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway exits on stdin EOF
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)
    deadline = time.time() + 30
    for pid in left:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def _source_id() -> dict[str, str]:
    """Commit (when the tree is a git checkout) and a hash of the
    glug_spark sources, so a result names the code it measured."""
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "glug_spark")
    for d, dirs, files in sorted(os.walk(pkg)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    commit = "unknown (not a git checkout)"
    if os.path.exists(os.path.join(ROOT, ".git")):
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                text=True, timeout=10, check=True).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    return {"commit": commit, "glug_spark_sha1": h.hexdigest()}


def _prune_cache(cache: str) -> None:
    if not os.path.isdir(cache):
        return
    entries = sorted((os.path.getmtime(os.path.join(cache, e)), e)
                     for e in os.listdir(cache))
    for _, e in entries[:-CACHE_KEEP]:
        shutil.rmtree(os.path.join(cache, e), ignore_errors=True)


class Stopped(Exception):
    pass


def _on_signal(signum: int, frame: Any) -> None:
    """Watchdog alarm or SIGTERM: unwind, so the session and its
    processes are stopped on the way out."""
    raise Stopped(signal.Signals(signum).name)


def main(argv: list[str]) -> int:
    args = _parse(argv)
    if not os.path.isfile(os.path.join(ROOT, "glug_spark", "__init__.py")):
        print(f"perfbench: no glug_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _on_signal)
    signal.signal(signal.SIGTERM, _on_signal)
    signal.alarm(WATCHDOG_S)

    cache = os.path.join(WORK, "cache")
    _prune_cache(cache)
    inputs, paths = gen.materialize(args.seed, workloads.SIZES, cache)
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    os.environ.update(_environment(run_dir))

    model = Model([inputs.base, inputs.wave], gen.vocab())
    spark, clean = None, False
    try:
        t0 = time.perf_counter()
        spark = _start_session()
        run = workloads.Run(
            spark=spark,
            ops=Ops(spark, bool(args.trace), f"{args.workload}-{args.seed}"),
            inputs=inputs, paths=paths, work=run_dir, model=model,
            session_s=time.perf_counter() - t0)
        workloads.WORKLOADS[args.workload](run)
        peak = measure.peak_rss_mb(os.getpid())
        report = _report(run, args, peak)
        clean = True
    finally:
        signal.alarm(0)
        if spark is not None:
            _stop_session(spark, clean)
        shutil.rmtree(run_dir, ignore_errors=True)
    for line in report["lines"]:
        print(line)
    print(json.dumps(report["result"]))
    return 0


def _report(run: workloads.Run, args: argparse.Namespace,
            peak: float) -> dict:
    g = run.groups
    input_bytes = measure.dir_bytes(run.paths.corpus)
    if "ingest" in g:  # the index holds the wave's docs too
        input_bytes += measure.dir_bytes(run.paths.wave)
    index_bytes = measure.dir_bytes(run.index)
    setup = run.session_s + g["pipeline"][0].wall_s
    if args.workload == "point_queries":
        setup += sum(o.wall_s for k in ("deletes", "searcher", "warm")
                     for o in g.get(k, []))
    e2e = {
        "setup_s": setup,
        "cycle_s": run.cycle_s,
        "index_bytes_per_input_byte": index_bytes / input_bytes,
    }
    layer = _layers(run, args, index_bytes, peak)
    lat = [o.wall_s for o in _singles(g.get("measure", []))]
    n_batches = sum(1 for o in g.get("measure", []) if o.name == "batch")

    settings = {
        **_source_id(),
        "cpus": os.environ["SPARK_GRAFT_CPUS"],
        "driver_memory": DRIVER_MEM,
        "sizes": vars(run.inputs.sizes),
        "input_bytes": input_bytes,
    }
    lines = [f"perfbench {args.workload} seed={args.seed} "
             f"seconds={args.seconds:g} trace={args.trace}",
             "settings " + json.dumps(settings, sort_keys=True)]
    for name, unit in END_TO_END.items():
        lines.append(f"e2e   {name:<34} {e2e[name]:>14.6g} {unit:<6} n=1")
    tail = measure.tail_percentile(len(lat))
    lines += [
        f"query p50 {layer['query.p50_s']:.6g} s (n={len(lat)}); " + (
            f"tail p{tail:g} {measure.percentile(lat, tail):.6g} s" if tail
            else "no tail percentile (p50 needs 20 samples, p90 100)"),
        f"query batch_qps {layer['query.batch_qps']:.6g} 1/s "
        f"(n={n_batches} batches of 32)",
        f"peak_rss_mb {peak:.6g} MB (n=1)",
        f"op_fail_ratio {run.failed / run.attempted:.6g} "
        f"({run.failed} of {run.attempted} operations)",
    ]
    lines += ["FAILED " + f.replace("\n", " | ") for f in run.failures]
    lines += [f"layer {name:<34} {layer[name]:>14.6g} {unit}"
              for name, unit in PER_LAYER.items()]

    names, values = (PER_LAYER, layer) if args.trace else (END_TO_END, e2e)
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": values[n], "unit": u}
                    for n, u in names.items()},
    }
    out = os.path.join(WORK, "out")
    os.makedirs(out, exist_ok=True)
    stem = f"{args.workload}-s{args.seed}-t{args.trace}"
    if args.trace:
        n_spans = run.ops.write_spans(os.path.join(out, f"spans-{stem}.jsonl"))
        lines.append(f"spans written: {n_spans} "
                     f"(.perfbench/out/spans-{stem}.jsonl)")
    with open(os.path.join(out, f"result-{stem}.json"), "w") as f:
        json.dump({"settings": settings, "e2e": e2e, "layers": layer,
                   "query_samples": len(lat), "failures": run.failures,
                   **result}, f, indent=1, sort_keys=True)
    return {"lines": lines, "result": result}


def _singles(ops: list) -> list:
    return [o for o in ops if o.name != "batch"]


def _layers(run: workloads.Run, args: argparse.Namespace, index_bytes: int,
            peak: float) -> dict[str, float]:
    """Per-layer figures; query figures are medians per call. A layer
    the workload does not exercise reads 0."""
    g = run.groups
    out = {name: 0.0 for name in PER_LAYER}
    out.update(run.facts)
    out["session.start_s"] = run.session_s
    out["process.peak_rss_mb"] = peak
    out["searcher.open_s"] = sum(o.wall_s for o in g["searcher"])
    out["searcher.warm_s"] = sum((o.wall_s for o in g.get("warm", [])), 0.0)

    def per_op(prefix: str, ops: list, keys: dict[str, str]) -> None:
        cs = [o.counters() for o in ops]
        for name, key in keys.items():
            out[f"{prefix}.{name}"] = median([c[key] for c in cs])

    build = g["pipeline"]
    out["pipeline.build_s"] = build[0].wall_s
    out["pipeline.docs_per_s"] = len(run.inputs.base) / build[0].wall_s
    per_op("pipeline", build, {k: k for k in (
        "jobs", "tasks", "executor_cpu_s", "gc_s", "input_bytes")})

    measured = g.get("measure", [])
    singles = _singles(measured)
    batches = [o for o in measured if o.name == "batch"]
    out["query.p50_s"] = median([o.wall_s for o in singles])
    out["query.plan_s"] = median([o.plan_s for o in singles])
    batch_s = sum(o.wall_s for o in batches)
    out["query.batch_qps"] = (
        gen.BATCH * len(batches) / batch_s if batch_s else 0.0)
    per_op("query", singles, {k: k for k in (
        "driver_s", "jobs", "stages", "skipped_stages", "tasks")})
    per_op("query", batches, {
        "executor_run_s": "executor_run_s", "executor_cpu_s": "executor_cpu_s",
        "scan_bytes": "input_bytes", "scan_rows": "input_rows",
        "shuffle_bytes": "shuffle_bytes"})
    for shape in QUERY_SHAPES:
        out[f"query.p50_s.{shape}"] = median(
            [o.wall_s for o in measured if o.name == shape])

    for op in g.get("ingest", []):
        c = op.counters()
        out["ingest.wave_s"] = op.wall_s
        out["ingest.docs_per_s"] = len(run.inputs.wave) / op.wall_s
        out["ingest.jobs"] = c["jobs"]
        out["ingest.executor_cpu_s"] = c["executor_cpu_s"]
        out["ingest.output_bytes"] = c["output_bytes"]
    out["deletes.tombstone_s"] = g["deletes"][0].wall_s
    for op in g.get("purge", []):
        c = op.counters()
        out["deletes.purge_s"] = op.wall_s
        out["deletes.purge_jobs"] = c["jobs"]
        out["deletes.purge_executor_cpu_s"] = c["executor_cpu_s"]
        out["deletes.purge_output_bytes"] = c["output_bytes"]
    for op in g.get("compact", []):
        c = op.counters()
        out["compact.wall_s"] = op.wall_s
        out["compact.jobs"] = c["jobs"]
        out["compact.executor_cpu_s"] = c["executor_cpu_s"]
        out["compact.output_bytes"] = c["output_bytes"]

    sub = ("postings", "term_stats", "docmap")
    for name in sub:
        out[f"storage.index_bytes.{name}"] = float(
            measure.dir_bytes(os.path.join(run.index, name)))
    out["storage.index_bytes.other"] = float(index_bytes) - sum(
        out[f"storage.index_bytes.{n}"] for n in sub)

    ops = run.ops.ops
    # harvest time as a share of the timed calls of this (traced) run;
    # the cost against an untraced run is a comparison across runs
    out["trace.harvest_s"] = sum(o.harvest_s for o in ops)
    out["trace.harvest_share"] = (
        out["trace.harvest_s"] / sum(o.wall_s for o in ops))
    if args.trace:
        out["trace.spans"] = float(len(run.ops.spans()))
        out["codec.decode_mb_per_s"] = workloads.decode_mb_per_s(run.index)
    return out


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
