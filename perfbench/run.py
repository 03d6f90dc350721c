"""Benchmark of record for dbsurveyor_spark: the CLI verbs and registry ops
a user runs, timed from outside through the public entry points.

    python3 perfbench/run.py --workload survey --seed 1 --seconds 5 --trace 0

Run it from the root of a source checkout. It writes a seeded row
permutation of the reference lake (perfbench/lake.py) in `.perfbench_run/`
under the checkout, starts one SparkSession sized to the host, runs one cold
pass and then warm passes until their wall time reaches `--seconds`, checks
every output against DuckDB outside the timed windows, and prints one JSON
object as the last line of standard output.
`--trace 0` reports the end-to-end metrics; `--trace 1` runs the same passes
with spans around every layer and reports the per-layer metrics
(perfbench/tracing.py). A fuller report (launch settings, machine state,
per-op times, every failure with its error) is printed before it and kept in
`.perfbench_run/`.

Workloads (see BENCHMARK.json for why each was chosen):
  survey  `collect --sample 100 --enable-quality --no-infer-keys --encrypt`,
          then `generate --format markdown`, `sql` and `validate` on the
          encrypted document.
  curate  three LLM-data curation registry ops over documents/embeddings
          (CURATE_OPS), each materialised with toPandas() and compared with
          its oracle_sql() in DuckDB.

Times are steal-excluded: the wall time of a set-up or pass times
(1 - the share of the machine's wanted CPU time that the host took away
while it ran, from /proc/stat), an estimate of the wall time on a machine
whose host takes nothing. The wall times and stolen shares are in the
report.

A warm pass runs in the same session after `clear_index_memos()` and
`spark.catalog.clearCache()`: it reuses the JVM (JIT-compiled code, loaded
classes), Spark's generated-code cache, the Python worker pool and the OS
page cache of the lake files; it reuses no cached DataFrame, no memoised
index and no persisted index (DBSURVEYOR_INDEX_DIR is unset).
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
from collections.abc import Callable
from typing import Any, NamedTuple

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from benchmath import stolen_share  # noqa: E402

PASSPHRASE = "perfbench-passphrase"
# One op per curation module. The other curation ops are left out to fit
# the run budget: each adds 3-9 s to a cold pass on a 4-core host.
CURATE_OPS = (
    "dedup_minhash_lsh",
    "text_bm25_search",
    "ann_ivf_topk",
)
SAMPLE_PERIOD_S = 0.2


def process_age_s() -> float:
    """Seconds since this process was started by the OS."""
    with open("/proc/self/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    start = int(fields[19]) / os.sysconf("SC_CLK_TCK")
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start


def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) CPU time of this machine since boot, in clock ticks:
    the time its CPUs ran anything, and the time the host kept them from
    running while they had work (steal)."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in fh.readline().split()[1:9]
        )
    return user + nice + system + irq + softirq, steal


# The machine's CPU time at the start of this process (a few milliseconds
# after it), for the stolen share of the set-up.
START_TICKS = cpu_ticks()


def mem_available_gb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemAvailable:"):
                return int(line.split()[1]) / 1048576
    raise RuntimeError("no MemAvailable in /proc/meminfo")


def machine_state() -> dict:
    l1, l5, l15 = os.getloadavg()
    with open("/proc/stat") as fh:
        steal_ticks = int(fh.readline().split()[8])
    return {
        # CPU time the host has taken from this machine's vCPUs since boot
        "steal_s": steal_ticks / os.sysconf("SC_CLK_TCK"),
        "nproc": len(os.sched_getaffinity(0)),
        "mem_avail_gb": round(mem_available_gb(), 2),
        "load1": l1,
        "load5": l5,
        "load15": l15,
        "n_procs": sum(1 for p in os.listdir("/proc") if p.isdigit()),
    }


class TreeRss:
    """Samples the resident memory of this process and all its descendants
    (the JVM and its Python workers) and keeps the peak."""

    def __init__(self) -> None:
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> int:
        parent, rss = {}, {}
        for p in os.listdir("/proc"):
            if not p.isdigit():
                continue
            try:
                with open(f"/proc/{p}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:  # the process ended while listing
                continue
            parent[int(p)], rss[int(p)] = int(f[1]), int(f[21]) * self._page
        me, total = os.getpid(), 0
        for pid in rss:
            q = pid
            while q > 1 and q != me:
                q = parent.get(q, 0)
            if q == me:
                total += rss[pid]
        return total

    def _loop(self) -> None:
        while not self._stop.wait(SAMPLE_PERIOD_S):
            self.peak_bytes = max(self.peak_bytes, self._sample())

    def __enter__(self) -> TreeRss:
        self._thread.start()
        return self

    def __exit__(self, *exc: object) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_bytes = max(self.peak_bytes, self._sample())


def launch_settings(root: str, work: str) -> dict:
    """Size the engine's JVM to this host and keep every file it writes
    inside `work`. Applied through the engine's own environment variables
    before the JVM starts."""
    cores = len(os.sched_getaffinity(0))
    avail = mem_available_gb()
    heap_gb = max(1, min(2, int(avail // 4)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEMORY": f"{heap_gb}g",
        # A heap that never resizes: with a smaller floor the JVM grows it
        # in some runs and not in others, and peak RSS jumps by ~300 MB.
        "SPARK_GRAFT_DRIVER_XMS": f"{heap_gb}g",
        "SPARK_GRAFT_EXTRA_JAVA_OPTS": (
            f"-XX:ErrorFile={work}/hs_err_pid%p.log -Djava.io.tmpdir={tmp} "
            # no hsperfdata file in the host's /tmp
            "-XX:-UsePerfData"
        ),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONPATH": root,
        "TMPDIR": tmp,
    }
    os.environ.update(env)
    os.environ.pop("DBSURVEYOR_INDEX_DIR", None)
    return {**env, "cwd": work, "DBSURVEYOR_INDEX_DIR": None}


# ---------------------------------------------------------------- workloads


class Op(NamedTuple):
    """One timed operation: `run()` returns its fully materialised result,
    `check(result)` returns None when the result is right, else why not."""

    name: str
    layer: str
    run: Callable[[], Any]
    check: Callable[[Any], str | None]


def cli_verb(argv: list[str]):
    """Run one CLI verb in-process; its result is (exit code, stdout)."""
    from dbsurveyor_spark import cli

    def run():
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            rc = cli.main(argv)
        return rc, buf.getvalue()

    return run


def survey_ops(spark, lake: str, work: str, oracle) -> list[Op]:
    from checks import check_document
    from dbsurveyor_spark.security import decrypt_bytes
    from dbsurveyor_spark.survey.export import validate_schema_doc

    facts = oracle.table_facts()
    doc_path = os.path.join(work, "survey.dbsurveyor.enc")
    md_path = os.path.join(work, "survey.md")
    ddl_path = os.path.join(work, "survey.sql")
    pw = ["--passphrase", PASSPHRASE]

    def exit_ok(res) -> str | None:
        return None if res[0] == 0 else f"exit code {res[0]}"

    def check_collect(res) -> str | None:
        if res[0] != 0:
            return f"exit code {res[0]}"
        with open(doc_path, "rb") as fh:
            doc = json.loads(decrypt_bytes(fh.read(), PASSPHRASE))
        problems = check_document(doc, facts, validate_schema_doc(doc))
        return "; ".join(problems) or None

    def mentions_tables(path: str, what: str):
        def check(res) -> str | None:
            if res[0] != 0:
                return f"exit code {res[0]}"
            with open(path) as fh:
                text = fh.read()
            missing = [t for t in facts if t not in text]
            return f"{what} lacks tables {missing}" if missing else None

        return check

    def check_validate(res) -> str | None:
        return exit_ok(res) or (None if res[1].strip() == "valid" else f"printed {res[1]!r}")

    return [
        Op(
            "collect",
            "cli",
            cli_verb(
                [
                    "collect", lake, "-o", doc_path, "--sample", "100",
                    "--enable-quality", "--no-infer-keys", "--encrypt",
                ]
                + pw
            ),
            check_collect,
        ),
        Op(
            "generate",
            "cli",
            cli_verb(["generate", doc_path, "--format", "markdown", "-o", md_path] + pw),
            mentions_tables(md_path, "markdown"),
        ),
        Op("sql", "cli", cli_verb(["sql", doc_path, "-o", ddl_path] + pw), mentions_tables(ddl_path, "DDL")),
        Op("validate", "cli", cli_verb(["validate", doc_path] + pw), check_validate),
    ]


def curate_ops(spark, lake: str, work: str, oracle) -> list[Op]:
    from dbsurveyor_spark import registry
    from tracing import op_layer

    queries, oracles = registry.queries(), registry.oracle_sql()
    ops = []
    for key in CURATE_OPS:
        oracle.prepare(key, oracles[key])
        fn = queries[key]
        ops.append(
            Op(
                key,
                op_layer(fn),
                lambda fn=fn: fn(spark, lake).toPandas(),
                lambda frame, key=key: oracle.compare(key, frame),
            )
        )
    return ops


WORKLOADS = {"survey": survey_ops, "curate": curate_ops}


# --------------------------------------------------------------------- main


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dbsurveyor_spark", "cli.py")):
        print(f"no dbsurveyor_spark package under {root}; run from a source checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(
        root, ".perfbench_run", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    )
    os.makedirs(work)
    try:
        return _run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, root: str, work: str) -> int:
    launch = launch_settings(root, work)
    os.chdir(work)
    cores = int(launch["SPARK_GRAFT_CPUS"])
    state_before = machine_state()

    tracer = None
    if args.trace:
        from tracing import Tracer

        tracer = Tracer(cores)

    with TreeRss() as rss:
        with tracer.tree("setup") if tracer else contextlib.nullcontext():
            if tracer:
                tracer.install()
            from dbsurveyor_spark import session

            spark = session.get_session("perfbench")
            spark.sparkContext.setLogLevel("ERROR")
            if tracer:
                tracer.sc = spark.sparkContext
            spark.range(1).count()
        setup_wall_s = process_age_s()
        setup_stolen = stolen_share(START_TICKS, cpu_ticks())
        setup_s = setup_wall_s * (1.0 - setup_stolen)
        try:
            report = _measure(args, spark, tracer, work, cores)
        finally:
            _stop_spark(spark)

    report.update(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=args.trace,
        setup_s=setup_s,
        setup_wall_s=setup_wall_s,
        setup_stolen_share=setup_stolen,
        peak_rss_mb=rss.peak_bytes / 1048576,
        launch=launch,
        machine_before=state_before,
        machine_after=machine_state(),
        run_wall_s=process_age_s(),
    )
    layer_metrics = _layer_metrics(tracer, report) if args.trace else None
    attempted, failed = report["attempted"], len(report["failures"])
    metrics = layer_metrics or {
        "setup_s": {"value": setup_s, "unit": "s"},
        "cold_s": {"value": report["cold_s"], "unit": "s"},
        "warm_s": {"value": report["warm_s"], "unit": "s"},
        "ok_ratio": {"value": 1.0 - failed / attempted, "unit": "ratio"},
        "peak_rss_mb": {"value": report["peak_rss_mb"], "unit": "MB"},
    }
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    report["result"] = result
    text = json.dumps(report, indent=1, default=str)
    with open(f"{work.rsplit('-', 1)[0]}.json", "w") as fh:
        fh.write(text)
    print(text)
    print(json.dumps(result))
    return 0


def _measure(args, spark, tracer, work: str, cores: int) -> dict:
    import lake
    from benchmath import highest_percentile
    from checks import Oracle
    from dbsurveyor_spark.plans.cache import clear_index_memos

    t0 = time.perf_counter()
    lake_dir = os.path.join(work, "lake")
    rows = lake.write_lake(lake_dir, args.seed)
    gen_s = time.perf_counter() - t0
    oracle = Oracle(lake_dir, cores)
    t0 = time.perf_counter()
    ops = WORKLOADS[args.workload](spark, lake_dir, work, oracle)
    oracle_s = time.perf_counter() - t0

    attempted, failures, op_times = 0, [], {op.name: [] for op in ops}
    wall: dict[str, float] = {}
    stolen: dict[str, float] = {}

    def run_pass(name: str) -> float:
        """Run every op once; return the pass's steal-excluded time."""
        nonlocal attempted
        clear_index_memos()
        spark.catalog.clearCache()
        results = []
        ticks = cpu_ticks()
        with tracer.tree(name) if tracer else contextlib.nullcontext():
            for op in ops:
                t = time.perf_counter()
                try:
                    with tracer.span(op.layer) if tracer else contextlib.nullcontext():
                        out, err = op.run(), None
                except Exception as exc:  # a failing op is counted, not fatal
                    out, err = None, f"{type(exc).__name__}: {exc}"
                results.append((op, out, err, time.perf_counter() - t))
        stolen[name] = stolen_share(ticks, cpu_ticks())
        wall[name] = sum(r[3] for r in results)
        for op, out, err, dt in results:
            attempted += 1
            op_times[op.name].append(dt)
            if err is None:
                try:
                    err = op.check(out)
                except Exception as exc:  # an unreadable output is wrong output
                    err = f"check raised {type(exc).__name__}: {exc}"
            if err:
                failures.append({"pass": name, "op": op.name, "error": err[:2000]})
        return wall[name] * (1.0 - stolen[name])

    cold = run_pass("cold")
    warm: list[float] = []
    while sum(wall.values()) - wall["cold"] < args.seconds:
        warm.append(run_pass(f"warm{len(warm)}"))
    oracle.close()
    tail = highest_percentile(warm)
    return {
        "lake_rows": rows,
        "gen_s": gen_s,
        "oracle_s": oracle_s,
        "cold_s": cold,
        "warm_s": statistics.median(warm),
        "warm_n": len(warm),
        "warm_samples": warm,
        "pass_wall_s": wall,
        "pass_stolen_share": stolen,
        "warm_tail": {"percentile": tail[0], "value": tail[1]} if tail else None,
        "op_times": op_times,
        "attempted": attempted,
        "failures": failures,
        "spark_version": spark.version,
        "java_version": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python_version": platform.python_version(),
    }


def _layer_metrics(tracer, report: dict) -> dict:
    from tracing import COVERAGE_TOLERANCE, FIGURE_UNITS, LAYERS

    warm = [t for t in tracer.trees if t.startswith("warm")]
    # per warm pass, plus the set-up (which holds only the session launch)
    figs = tracer.layer_figures([("setup", 1.0)] + [(t, 1.0 / len(warm)) for t in warm])
    metrics = {
        f"{layer}.{k}": {"value": v, "unit": FIGURE_UNITS[k]}
        for layer in LAYERS
        for k, v in figs[layer].items()
    }
    covered = []
    for tree in ["cold"] + warm:
        share, unknown = tracer.coverage(tree)
        covered.append(share)
        if abs(1.0 - share) > COVERAGE_TOLERANCE:
            report["failures"].append(
                {"pass": tree, "op": "trace",
                 "error": f"layer self times cover {share:.2%} of the pass wall time"}
            )
        if unknown:
            report["failures"].append(
                {"pass": tree, "op": "trace", "error": f"spans of unreported layers {unknown}"}
            )
    metrics.update(
        {
            "trace.cold_s": {"value": report["cold_s"], "unit": "s"},
            "trace.warm_s": {"value": report["warm_s"], "unit": "s"},
            "trace.overhead_s": {
                "value": sum(tracer.overhead_s[t] for t in warm) / len(warm),
                "unit": "s",
            },
            "trace.coverage": {"value": sum(covered) / len(covered), "unit": "ratio"},
        }
    )
    return metrics


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM this process launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that will not exit is killed
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
