"""Repository benchmark: one workload per process, one closed-loop client.

    python3 perfbench/run.py --workload contract_sf0.1 --seed 1 --seconds 15 --trace 0

Run from the repository root. The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0`` gives the
end-to-end metrics, ``--trace 1`` the per-layer ones (see README.md).
The line before it carries side figures that are not metrics: the input
build time (``prep_s``), the box-load canary (``canary_s``),
``fail_ratio`` and the setup samples. Inputs are generated from the seed
and cached under ``.perfbench_cache/``; traces are written there too.
"""

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
PACKAGE = os.path.join(ROOT, "taxi_rides_ny_duckdb_spark", "__init__.py")
WORKLOADS = ("contract_sf0.1", "taxi_dbt_build")
# The main process's own setup plus this many fresh child processes
# that repeat it; setup_s is the median.
SETUP_CHILDREN = 1


def prepare_environment() -> None:
    """Keep every file Spark, Python workers and the package's scratch
    paths write inside the checkout, and make the package importable
    by the Python workers."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TZ"] = "UTC"
    time.tzset()
    if "SPARK_GRAFT_CPUS" not in os.environ:
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    import tempfile

    tempfile.tempdir = tmp
    for p in (ROOT, HERE):
        if p not in sys.path:
            sys.path.insert(0, p)


def _warm_up(spark) -> None:
    """The first job of a fresh session (class loading, first task
    launch), so that it is counted in set-up, not in the first
    operation."""
    spark.range(0, 1000, 1, 2).count()


FIXTURE_DIR = os.path.join(CACHE, "taxi_fixtures")


def redirect_package_paths() -> None:
    """Point the package's two fixed /tmp scratch paths (the taxi
    fixtures and the sink round-trip directory) into the checkout.
    Must run before ``contract.load_all()``."""
    from taxi_rides_ny_duckdb_spark import fixtures
    from taxi_rides_ny_duckdb_spark.operators import scale

    fixtures.DEFAULT_FIXTURE_DIR = FIXTURE_DIR
    sinks = os.path.join(CACHE, "sinks")
    scale.sink_scratch_dir = lambda sf_dir, name: os.path.join(
        sinks, f"{os.path.basename(sf_dir.rstrip('/'))}_pid{os.getpid()}", name)


def setup(t0: float) -> tuple[object, dict]:
    """get_spark + load_all + warm-up. Returns the session and the
    durations of each step; ``setup_s`` counts from ``t0``."""
    redirect_package_paths()
    from taxi_rides_ny_duckdb_spark import contract
    from taxi_rides_ny_duckdb_spark.session import get_spark

    a = time.time()
    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
        "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    b = time.time()
    contract.load_all()
    c = time.time()
    _warm_up(spark)
    d = time.time()
    return spark, {"session.start_s": b - a, "session.load_all_s": c - b,
                   "warm_up_s": d - c, "setup_s": d - t0}


def shutdown(spark) -> None:
    """Stop the session and wait for the driver JVM to exit, so that no
    process outlives the benchmark."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def prepare(workload: str, seed: int, small: bool) -> tuple[dict, float]:
    """Build (or reuse) the workload's inputs: ``contract`` is the table
    directory its queries read, ``taxi`` the trip files. ``small`` is
    the self-test scale (sf0.001 tables, 2,000 trips per service).
    Returns the directories and the build time."""
    import data
    from workloads import TAXI_TRIPS_PER_SERVICE

    root = os.path.join(CACHE, "data-small" if small else "data")
    sf = 0.001 if small else 0.1
    base = os.path.join(root, f"sf{sf}")
    prep = data.cached(base, lambda d: data.write_contract_tables(d, sf))
    dirs = {"contract": base}
    if workload == "taxi_dbt_build":
        n = 2000 if small else TAXI_TRIPS_PER_SERVICE
        dirs["taxi"] = os.path.join(root, f"taxi_seed{seed}")
        prep += data.cached(dirs["taxi"], lambda d: data.write_taxi_trips(d, n, seed))
    return dirs, prep


def expected_values(workload: str, data_dirs: dict, small: bool, path: str | None):
    """Expected row counts and digests of a query workload: from
    ``path`` when given, from the DuckDB oracles at the self-test scale,
    else the values stored beside the benchmark. The taxi workload
    derives its own from the seed's files."""
    import workloads

    if workload != "contract_sf0.1":
        return None
    if path:
        with open(path) as fh:
            return json.load(fh)[workload]
    if small:
        return workloads.oracle_digests(data_dirs["contract"], workloads.CONTRACT_PANEL)
    return workloads.load_expected()[workload]


def canary(spark) -> tuple[float, float]:
    """A fixed CPU job that uses none of the repository's code, and a
    trivial Spark job: (cpu_s, spark_s)."""
    import hashlib

    t = time.perf_counter()
    h = b"perfbench"
    for _ in range(200_000):
        h = hashlib.sha256(h).digest()
    cpu = time.perf_counter() - t
    t = time.perf_counter()
    spark.range(0, 1000, 1, 1).count()
    return cpu, time.perf_counter() - t


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


class Context:
    """What a workload needs: the session, the recorder, its inputs, and
    hooks to close the timed window and to report a wrong output."""

    def __init__(self, spark, rec, seed: int, rounds: int, data_dirs: dict, expected):
        self.spark, self.rec, self.seed, self.rounds = spark, rec, seed, rounds
        self.data, self.expected = data_dirs, expected
        self.cache = CACHE
        self.fixture_dir = FIXTURE_DIR
        self.rss = None
        self.rss_peak_mb = 0.0
        self.steal_share = 0.0
        self.errors: list[str] = []
        self._ticks = _cpu_ticks()

    def canary(self) -> tuple[float, float]:
        return canary(self.spark)

    def end_window(self) -> None:
        """Close the timed window: stop the memory sampler and take the
        share of CPU time the hypervisor stole meanwhile (a box-load
        sign, like the canary)."""
        self.rss_peak_mb = self.rss.stop()
        delta = [b - a for a, b in zip(self._ticks, _cpu_ticks())]
        self.steal_share = delta[7] / sum(delta) if sum(delta) else 0.0

    def wrong(self, op_name: str, why: str) -> None:
        """Mark every operation named ``op_name`` as failed."""
        for op in self.rec.ops:
            if op["name"] == op_name:
                op["failed"] = True
        self.errors.append(f"{op_name}: {why}")


def end_to_end(rec, setup_samples: list[float]) -> dict:
    # Each operation's median latency per run kind: one sample per
    # operation, robust to a single slow pass.
    by_kind: dict[str, dict[str, list[float]]] = {"cold": {}, "warm": {}}
    for o in rec.ops:
        by_kind[o["kind"]].setdefault(o["name"], []).append(o["s"])
    cold, warm = ([statistics.median(v) for v in by_kind[k].values()] for k in ("cold", "warm"))
    return {
        "setup_s": statistics.median(setup_samples),
        "cold_s": sum(cold),
        "warm_s": sum(warm),
        "op_p50_s": statistics.median(warm),
    }


def _unit(name: str) -> str:
    base = name.rsplit(".", 1)[0] if name.endswith((".cold", ".warm")) else name
    if base.endswith(("_s", ".s")):
        return "s"
    if base.endswith("_bytes") or base.endswith("bytes_written"):
        return "bytes"
    if base.endswith("_mb"):
        return "MiB"
    if base.endswith(("_share", "_ratio", "write_amp", "_median")):
        return "ratio"
    return "count"


def child_setup() -> None:
    prepare_environment()
    spark, timings = setup(T_START)
    shutdown(spark)
    print(json.dumps(timings))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15,
                    help="sets the number of warm rounds (workloads.warm_rounds)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--setup-only", action="store_true", help=argparse.SUPPRESS)
    ap.add_argument("--small", action="store_true", help="self-test scale")
    ap.add_argument("--expected", help="expected-values JSON to check against")
    args = ap.parse_args()
    if not os.path.isfile(PACKAGE):
        print(f"package not found: {PACKAGE}", file=sys.stderr)
        return 2
    if args.setup_only:
        child_setup()
        return 0
    if not args.workload:
        ap.error("--workload is required")
    prepare_environment()

    import workloads
    from tracing import Recorder, RssSampler

    data_dirs, prep_s = prepare(args.workload, args.seed, args.small)
    spark, timings = setup(T_START)
    setup_samples = [timings["setup_s"] - prep_s]
    expected = expected_values(args.workload, data_dirs, args.small, args.expected)
    rec = Recorder(spark, traced=bool(args.trace))
    ctx = Context(spark, rec, args.seed, workloads.warm_rounds(args.workload, args.seconds),
                  data_dirs, expected)
    ctx.rss = RssSampler([rec.jvm_pid, os.getpid()]).start()
    run = {"contract_sf0.1": workloads.contract_sf01,
           "taxi_dbt_build": workloads.taxi_dbt_build}[args.workload]
    with rec.span(args.workload, "workload"):
        canaries = run(ctx)
    rec.close()
    shutdown(spark)

    for _ in range(SETUP_CHILDREN):
        out = subprocess.run([sys.executable, os.path.abspath(__file__), "--setup-only"],
                             capture_output=True, text=True, timeout=120, cwd=ROOT, check=True)
        setup_samples.append(json.loads(out.stdout.strip().splitlines()[-1])["setup_s"])

    failed = sum(o["failed"] for o in rec.ops)
    attempted = len(rec.ops)
    e2e = end_to_end(rec, setup_samples)
    side = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "prep_s": prep_s, "canary_s": statistics.median(c + s for c, s in canaries),
        "canary_cpu_s": [round(c, 4) for c, _ in canaries],
        "canary_spark_s": [round(s, 4) for _, s in canaries],
        "steal_share": ctx.steal_share, "driver_rss_peak_mb": ctx.rss_peak_mb,
        "fail_ratio": failed / attempted if attempted else 1.0,
        "setup_samples_s": setup_samples, "warm_rounds": ctx.rounds,
        "cold_plus_warm_s": e2e["cold_s"] + e2e["warm_s"], "errors": ctx.errors[:20],
    }
    if args.trace:
        metrics = {"session.start_s": timings["session.start_s"],
                   "session.load_all_s": timings["session.load_all_s"],
                   "driver.rss_peak_mb": ctx.rss_peak_mb, **rec.per_layer()}
        untraced = os.path.join(CACHE, "results", f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                side["trace_overhead_s"] = side["cold_plus_warm_s"] - json.load(fh)["cold_plus_warm_s"]
        rec.write(os.path.join(CACHE, "traces", f"{args.workload}-seed{args.seed}.json"), side)
        low = [a for a in rec.attribution if a["attributed_share"] < 0.9]
        print(f"# attribution: {len(low)}/{len(rec.attribution)} ops below 90%: "
              + ", ".join(f"{a['op']}[{a['run']}]={a['attributed_share']:.2f}" for a in low[:30]),
              file=sys.stderr)
        print(f"# self time by span kind: {rec.self_times()}", file=sys.stderr)
    else:
        metrics = e2e
    os.makedirs(os.path.join(CACHE, "results"), exist_ok=True)
    with open(os.path.join(CACHE, "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
        json.dump(side, fh)
    for o in rec.ops:
        print(f"# op {o['name']} [{o['kind']}] {o['s']:.3f} s{' FAILED' if o['failed'] else ''}",
              file=sys.stderr)
    for err in ctx.errors:
        print(f"# wrong: {err}", file=sys.stderr)
    print(json.dumps(side))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
