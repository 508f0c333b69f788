"""Seeded benchmark of the PDF extraction job and the ops queries.

Run from the root of a checkout:

    python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 10 --trace 0

One process on local[nproc / 2] drives the public API: ``get_spark``,
``run_extraction`` and ``ops.all_queries()``. It generates the workload's
inputs from the seed (cached per workload and seed under ``.perfbench/``),
sets up the session three times and reports the median, warms up, then
runs the workload as a closed loop for ``--seconds``, checking every
pass's output outside the timed sections.

Human-readable lines go to stdout first. The last line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``, holding
the ``end_to_end`` metrics of BENCHMARK.json with ``--trace 0`` and its
``per_layer`` metrics with ``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
WORKLOADS = ("extract_mixed", "analytics_ops")
#: set-ups per run; setup_s is their median
SETUPS = 3
#: the report's end-to-end figures, printed by name with their unit
REPORTED = {
    "pages_per_s": "1/s", "docs_per_s": "1/s", "cold_pass_s": "s", "out_bytes_per_page": "bytes",
    "resume_s": "s", "analytics_s": "s", "query_p50_s": "s", "query_max_s": "s",
    "queries_per_s": "1/s", "worker_rss_mb": "MB", "tree_rss_mb": "MB", "failed_frac": "1",
    "untraced_rate_per_s": "1/s", "traced_rate_per_s": "1/s",
}


class Checks:
    """Output checks and per-item outcomes; failed/attempted is the
    run's failed fraction."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{what} {detail}".strip())

    def docs(self, n: int, n_wrong: int) -> None:
        """``n`` documents submitted, ``n_wrong`` of them miscounted."""

        self.attempted += n
        self.failed += min(n, n_wrong)
        if n_wrong:
            self.failures.append(f"{n_wrong} of {n} docs processed or failed unexpectedly")


def _import_engine(batches):
    import pdf_toolkit_spark.extract  # noqa: F401
    import pdf_toolkit_spark.ops  # noqa: F401

    yield from batches


class Session:
    """Owns the one SparkSession of the process."""

    def __init__(self) -> None:
        self.spark = None

    def start(self, extra_conf: dict | None = None):
        from pdf_toolkit_spark.spark.session import get_spark

        conf = {"spark.local.dir": os.environ["SPARK_LOCAL_DIRS"], **(extra_conf or {})}
        self.spark = get_spark(app_name="perfbench", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        n = self.spark.sparkContext.defaultParallelism
        # worker warm-up: fork the Python daemon's workers, import the engine
        self.spark.range(0, n, numPartitions=n).mapInPandas(_import_engine, "id long").count()
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session and end the JVM (it exits when its stdin
        closes), waiting until it has exited."""

        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = None


def load_workload(name: str, seed: int, checks: Checks):
    """The workload over its inputs, generated on first use of this seed
    (one worker process per core). Returns (workload, generation seconds,
    0.0 when cached)."""

    from corpora import ensure_inputs
    from hostfit import nproc

    t0 = time.monotonic()
    inputs, manifest, generated = ensure_inputs(ROOT, WORK, name, seed, nproc())
    gen_s = time.monotonic() - t0 if generated else 0.0
    if name == "analytics_ops":
        from analytics import Analytics

        return Analytics(inputs, manifest, checks), gen_s
    from extraction import Extraction

    return Extraction(inputs, manifest, WORK, checks), gen_s


def first_set_up(session: Session, name: str, seed: int, checks: Checks):
    """The first set-up. Its session starts (and launches the JVM) on a
    thread while the inputs are loaded or generated, which does not count
    as set-up. Returns (spark, workload, set-up seconds, generation
    seconds)."""

    def start():
        t0 = time.monotonic()
        spark = session.start()
        return spark, time.monotonic() - t0

    with ThreadPoolExecutor(1) as pool:
        started = pool.submit(start)
        wl, gen_s = load_workload(name, seed, checks)
        spark, start_s = started.result()
    t0 = time.monotonic()
    wl.register(spark)
    return spark, wl, start_s + time.monotonic() - t0, gen_s


def set_up(session: Session, wl, n: int, extra_conf=None):
    """``n`` more timed set-ups: session restart, worker warm-up and
    input registration. The last session gets ``extra_conf`` and stays
    up."""

    samples = []
    for i in range(n):
        session.stop()
        t0 = time.monotonic()
        spark = session.start(extra_conf if i == n - 1 else None)
        wl.register(spark)
        samples.append(time.monotonic() - t0)
    return spark, samples


def timed_loop(wl, name: str, spark, seconds: float, **loop_args) -> dict:
    """The workload's closed loop; its summary, with ``rate_per_s`` (cold
    pages/s, or queries/s) and the peak RSS of the Python workers during
    the loop. Empty when the disk was too full to run."""

    from hostfit import RssSampler

    with RssSampler() as rss:
        result = wl.loop(spark, seconds, **loop_args)
    if not result:
        return {}
    if name == "analytics_ops":
        import analytics

        summary = analytics.summarize(result)
        summary["rate_per_s"] = summary["queries_per_s"]
    else:
        import extraction

        summary = extraction.summarize(result, len(wl.manifest["base"]), wl.base_pages)
        summary["rate_per_s"] = summary["pages_per_s"]
    summary["worker_rss_mb"] = rss.worker_peak_mb
    summary["tree_rss_mb"] = rss.peak_mb
    return summary


def run_untraced(session: Session, name: str, seed: int, seconds: float, checks: Checks):
    spark, wl, first_s, gen_s = first_set_up(session, name, seed, checks)
    spark, samples = set_up(session, wl, SETUPS - 1)
    samples.insert(0, first_s)
    report = {"corpus_gen_s": gen_s, "setup_samples_s": samples}
    t0 = time.monotonic()
    wl.warm_up(spark)
    report["warm_up_s"] = time.monotonic() - t0
    # Two cold passes at least: with one, rate_per_s spread 0.25 of its
    # median over ten seeds, and one seed read 35.5 and 26.2 pages/s in
    # two runs.
    loop_args = {"incremental": False, "min_passes": 2} if name == "extract_mixed" else {}
    summary = timed_loop(wl, name, spark, seconds, **loop_args)
    report.update(summary)
    if not summary:
        return {}, report
    metrics = {
        "setup_s": statistics.median(samples),
        "rate_per_s": summary["rate_per_s"],
        "worker_rss_mb": summary["worker_rss_mb"],
    }
    return metrics, report


def run_traced(session: Session, name: str, seed: int, checks: Checks):
    """An untraced pass, then the same pass in a session with the event
    log on, then the traced phases; per-layer metrics plus the overhead.
    One pass each, not a loop, keeps the run well under three minutes.
    Only here does the extraction pass end with the incremental pass
    (untraced), which an untraced run has no time for."""

    import eventlog
    from hostfit import remove_tree

    log_dir = WORK / "eventlog"
    remove_tree(log_dir)
    layers = {}
    spark, wl, _, _ = first_set_up(session, name, seed, checks)
    loop_args = {}
    if name == "extract_mixed":
        import layers as serial

        groups = {g: wl.input_docs(ids) for g, ids in wl.manifest["groups"].items()}
        layers.update(serial.serial_pass(groups, wl.cfg))
        loop_args["incremental"] = False
    wl.warm_up(spark)
    untraced = timed_loop(wl, name, spark, 0)
    spark, _ = set_up(session, wl, 1, eventlog.session_conf(log_dir))
    if name == "analytics_ops":
        import analytics

        layers.update(wl.traced_pass(spark))
        traced_rate = len(analytics.QUERIES) / sum(layers[f"q.{q}_s"] for q in analytics.QUERIES)
    else:
        spark.sparkContext.setJobGroup("loop", "loop")
        traced_rate = timed_loop(wl, name, spark, 0, **loop_args).get("rate_per_s", 0.0)
        layers.update(wl.phases(spark))
    session.stop()
    if not untraced or not traced_rate:
        return {}, {}
    layers["trace.overhead_pct"] = 100.0 * (untraced["rate_per_s"] / traced_rate - 1)
    layers.update(reduce_stages(log_dir))
    remove_tree(log_dir)
    report = {"untraced_rate_per_s": untraced["rate_per_s"], "traced_rate_per_s": traced_rate}
    if "resume_s" in untraced:
        layers["job.resume_pass_s"] = report["resume_s"] = untraced["resume_s"]
    return layers, report


EXTRACTION_PHASES = ("udf", "strip_assemble", "sink", "resume")


def reduce_stages(log_dir: Path) -> dict[str, float]:
    """Per-phase (extraction) and per-family (ops) stage numbers. The
    Python stages of the spans and sink phases re-run the UDF and are
    counted under ``udf`` only."""

    import analytics
    import eventlog

    tasks = eventlog.read_tasks(log_dir)
    out = {}
    for phase in EXTRACTION_PHASES:
        mine = [t for t in tasks if t["group"] == phase
                and (phase in ("udf", "resume") or not t["python"])]
        for stat, v in eventlog.summarize(mine).items():
            out[f"job.{phase}.{stat}"] = v
    for family in analytics.FAMILIES:
        mine = [t for t in tasks if t["group"] in analytics.QUERIES
                and analytics.family_of(t["group"]) == family]
        s = eventlog.summarize(mine)
        for stat in ("gc_s", "spill_bytes", "shuffle_write_bytes", "python_tasks"):
            out[f"ops.{family}.{stat}"] = s[stat]
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "pdf_toolkit_spark" / "__init__.py").is_file():
        print(f"perfbench: no pdf_toolkit_spark package under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    import hostfit

    # a SIGTERM ends the run through the finally clauses below, which
    # stop every process the run started
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    subreaper = hostfit.adopt_orphans()
    env = hostfit.fit_environment(ROOT, WORK)
    sys.path.insert(0, str(ROOT))
    settings = {
        "env": env,
        "subreaper": subreaper,
        "calibration": hostfit.calibrate(),
        "loadavg_1m": hostfit.loadavg_1m(),
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
    }
    checks = Checks()
    session = Session()
    try:
        if hostfit.disk_free_bytes(ROOT) < 2 << 30:
            checks.check("disk space to start", False)
            metrics, report = {}, {}
        elif args.trace:
            metrics, report = run_traced(session, args.workload, args.seed, checks)
        else:
            metrics, report = run_untraced(session, args.workload, args.seed, args.seconds, checks)
    finally:
        try:
            session.close()
        finally:
            settings["signalled_at_exit"] = hostfit.end_children()
            hostfit.remove_tree(WORK / "out")
            hostfit.remove_tree(WORK / "spark-local")
            hostfit.remove_tree(WORK / "tmp")

    print("# settings " + json.dumps(settings))
    print("# report " + json.dumps(report, default=float))
    report["failed_frac"] = checks.failed / max(checks.attempted, 1)
    for name, unit in REPORTED.items():
        if name in report:
            print(f"# {args.workload} {name} = {report[name]:.6g} {unit}")
    for failure in checks.failures:
        print("# FAILED " + failure)
    if metrics:
        unknown = set(metrics) - {m["name"] for m in wanted}
        if unknown:
            raise RuntimeError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    print(json.dumps({
        "correct": checks.failed == 0 and bool(metrics),
        "attempted": max(checks.attempted, 1),
        "failed": checks.failed if metrics else max(checks.failed, 1),
        "metrics": {m["name"]: {"value": float(metrics.get(m["name"], 0.0)), "unit": m["unit"]}
                    for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
