"""Extraction benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload web_mix --seed 1 --seconds 16 --trace 0

Run from anywhere; the repository root is the parent of this directory.
Every file the run writes goes under ``<root>/.perfbench/``: the corpus
cache, Spark's local and temp directories, ingest tables, traces and a
copy of each result with its environment record.

A run: generate (or load) the seeded corpus, start Spark on ``local[k]``
with k = max(1, nproc // 2) and run the untimed warm-up action
(``setup_s``), then a closed loop of one Spark action at a time over
distinct slices for ``--seconds`` of measured time, checking every
document against the generator's goldens.  ``--trace 1`` makes a
separate traced run that reports per-layer metrics instead.

The last stdout line is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it records the environment.

The run outlives every process it starts: it is the subreaper of its
descendants and, on every way out (SIGTERM and SIGHUP included), waits
for each to end before it exits.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"


def _loadavg() -> list[float]:
    return [float(x) for x in Path("/proc/loadavg").read_text().split()[:3]]


def _become_subreaper() -> None:
    """Make orphaned descendants children of this process.  Spark's
    Python daemon and its workers are children of the JVM; once the JVM
    has exited they are re-parented here, so ``reap_children`` can wait
    for them."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _exit_on_signal(signum, frame) -> None:
    # unwinds through the ``finally`` blocks that stop Spark and reap
    raise SystemExit(128 + signum)


def reap_children(grace_s: float = 10.0) -> None:
    """Wait until every child (orphaned descendants included) has ended;
    kill those still running after ``grace_s`` seconds."""
    from sparkstats import children

    deadline = time.monotonic() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return  # none left
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in children(os.getpid()):
                try:
                    os.kill(child, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.01)


def _launcher_env() -> None:
    """Process environment the Spark JVM and its Python workers inherit:
    the workers import ``receipt_scanner_spark`` from the repository
    root whatever the working directory, run this interpreter, and keep
    temp files inside the work directory."""
    paths = [str(ROOT), *filter(None, os.environ.get("PYTHONPATH", "").split(os.pathsep))]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    # the short-lived JVM spark-submit runs to build the JVM command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def start_spark(k: int):
    from receipt_scanner_spark.plans.session import get_spark

    tmp = WORK / "tmp"
    spark = get_spark(
        app_name="perfbench",
        cores=k,
        extra_conf={
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM to exit.  Its Python daemon and
    workers end a moment later; ``reap_children`` waits for them."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def bench(argv) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "receipt_scanner_spark" / "__init__.py").is_file():
        print(f"perfbench: no receipt_scanner_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    import corpus
    import workloads
    from sparkstats import StatusClient
    from tracing import Tracer, replay

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    kind, warmup, loop = workloads.WORKLOADS[args.workload]

    nproc = len(os.sched_getaffinity(0))
    k = max(1, nproc // 2)
    load_before = _loadavg()
    _launcher_env()

    t = time.perf_counter()
    corp = corpus.build(ROOT, WORK, kind, args.seed,
                        corpus.n_slices_for(kind, args.seconds, k), k, procs=nproc)
    corpus_s = time.perf_counter() - t

    t0 = time.perf_counter()
    spark = start_spark(k)
    session_s = time.perf_counter() - t0
    tracer = Tracer() if args.trace else None
    run = workloads.Run(spark=spark, corpus=corp, work=WORK,
                        seconds=args.seconds, tracer=tracer)
    try:
        if tracer is not None:
            spark.sparkContext.setJobDescription("warm-up")
        warmup(run)
        setup_s = time.perf_counter() - t0
        if tracer is not None:
            spark.sparkContext.setJobDescription(None)
            run.status = StatusClient(spark)
            run.warmup_stats = run.status.action_stats("warm-up")
        loop(run)

        if tracer is None:
            metrics = {"setup_s": setup_s}
            metrics.update(workloads.end_to_end(run))
        else:
            layer = {"session.start_s": session_s}
            layer.update(workloads.per_layer(run))
            replay_files = sorted(str(p) for p in corp.slices[0].glob("*.parquet"))
            replayed, outputs = replay(tracer, replay_files)
            layer.update(replayed)
            got = {url: corpus.golden_crc(getattr(row, f) for f in corpus.GOLDEN_FIELDS)
                   for url, row in outputs.items()}
            run.check(got, corp.golden(corp.slices[0]), "replay")
            layer["corpus.dup_content_share"] = corp.dup_content_share
            metrics = layer
    finally:
        stop_spark(spark)

    env = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "k": k,
        "master": f"local[{k}]",
        "python": sys.version.split()[0],
        "spark": __import__("pyspark").__version__,
        "pyarrow": __import__("pyarrow").__version__,
        "pandas": __import__("pandas").__version__,
        "loadavg_before": load_before,
        "loadavg_after": _loadavg(),
        "corpus": corp.key,
        "corpus_generated": corp.generated,
        "corpus_s": corpus_s,
        "dup_content_share": corp.dup_content_share,
        "passes": run.passes,
        "problems": run.problems,
        "notes": run.notes,
    }
    declared = {m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    if set(metrics) != set(declared):
        raise RuntimeError(f"metrics {sorted(metrics)} differ from BENCHMARK.json {sorted(declared)}")
    result = {
        "correct": not run.problems and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in declared.items()},
    }
    stamp = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    (WORK / "results").mkdir(parents=True, exist_ok=True)
    (WORK / "results" / f"{stamp}.json").write_text(
        json.dumps({"env": env, "result": result}, indent=1))
    if tracer is not None:
        tracer.dump(WORK / "traces" / f"{stamp}.json")
    for line in run.problems + run.notes:
        print(f"perfbench: {line}", file=sys.stderr)
    print(json.dumps({"env": env}))
    print(json.dumps(result))
    return 0


def main(argv=None) -> int:
    _become_subreaper()
    for signum in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(signum, _exit_on_signal)
    try:
        return bench(argv)
    finally:
        reap_children()


if __name__ == "__main__":
    sys.exit(main())
