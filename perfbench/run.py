"""End-to-end and per-layer benchmark of the engine.

Usage (from the repository root)::

    python3 perfbench/run.py --workload catalog_mix --seed 1 --seconds 30 --trace 0

Workloads (see ``WORKLOADS``):

* ``catalog_mix`` -- relational and Python/Arrow catalog queries over
  seeded TPC-H-ish tables (sf0.01), each built with its registered plan
  function and materialized through the ``noop`` sink, so every output
  column is computed.
* ``etl_pipeline`` -- the reference job: ingest -> streaming drain +
  rule engine -> marts -> run history, over seeded dirty entity CSVs.

One run is one fresh process: set-up (package import, ``get_spark()``,
a first trivial action), one cold pass, then a fixed number
of warm passes (``WARM_PASSES``; no new one starts once ``--seconds``
have passed since the first), then output checks outside the timed
window.  With ``--trace 0`` the last stdout line
carries the end-to-end metrics; with ``--trace 1`` Spark's event log is
switched on by launch configuration and the last line carries the
per-layer metrics.  Every file the run writes goes to a scratch
directory under the checkout, which is removed at exit.
"""

from __future__ import annotations

import sys

sys.dont_write_bytecode = True  # leave the checkout byte-identical

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import probes  # noqa: E402

WORKLOADS: dict[str, dict] = {
    "catalog_mix": {
        "kind": "catalog",
        "sf": 0.01,
        "queries": [
            # relational / DWH: JVM codegen + shuffle, per-job overhead
            "q1_pricing_summary",
            "q3_shipping_priority",
            "star_revenue_by_region",
            "orders_first_wins_dedup",
            "events_sessionization",
            # plan build with eager actions + Python/Arrow workers
            "dedup_simhash",
            "doc_hashed_features",
            "ann_topk_pandas",
            "multimodal_png_decode",
        ],
    },
    "etl_pipeline": {"kind": "etl", "rows": 20_000},
}

#: warm passes per run; wall_s is their median.  Fixed, so every run
#: takes the median over as many samples whatever its speed.  Three
#: would not fit: the contract's 48 runs must end within 3420 s, and an
#: ETL run with two warm passes already takes ~75 s on 4 cores.
WARM_PASSES = 2


def host_env() -> dict[str, str]:
    """``SPARK_GRAFT_*`` settings that fit this host: every core, and a
    Spark driver heap of an eighth of physical memory within [1 GiB, 4 GiB]."""
    cpus = len(os.sched_getaffinity(0))
    mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    heap_mb = min(4096, max(1024, mem_mb // 8))
    return {"SPARK_GRAFT_CPUS": str(cpus), "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m"}


def launch_args(work: str, trace_on: bool) -> str:
    """spark-submit arguments: every scratch path of the JVM inside
    ``work``; the event log only when tracing."""
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Dderby.system.home={os.path.join(work, 'derby')}"
        ),
    }
    if trace_on:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return " ".join(f"--conf '{k}={v}'" for k, v in confs.items()) + " pyspark-shell"


class Run:
    """Counters and timings shared by both workload kinds."""

    def __init__(self, spark, seed: int):
        self.spark = spark
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.passes: list[dict] = []  # one dict of timings per pass

    def op(self, group: str, fn):
        """One operation (a timed step, or an output check outside the
        timed window) inside job group ``group``; returns (seconds,
        result or None).  An operation that raises counts as failed."""
        self.attempted += 1
        self.spark.sparkContext.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as exc:  # noqa: BLE001 -- a failed op is counted, not fatal
            self.failed += 1
            self.errors.append(f"{group}: {type(exc).__name__}: {str(exc)[:300]}")
            out = None
        return time.perf_counter() - t0, out


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def measure(run: Run, seconds: float, one_pass) -> None:
    """The cold pass, then ``WARM_PASSES`` warm passes.  ``seconds``
    bounds the warm phase: once it has passed since the first warm pass
    started, no further pass starts."""
    run.passes.append(one_pass(0))
    start = time.perf_counter()
    while len(run.passes) <= WARM_PASSES and (
        len(run.passes) < 2 or time.perf_counter() - start < seconds
    ):
        run.passes.append(one_pass(len(run.passes)))


# ---------------------------------------------------------------------------
# catalog workload
# ---------------------------------------------------------------------------


def catalog_pass(run: Run, queries: list[str], sf_dir: str, i: int) -> dict:
    from data_integration_project_spark import plans

    order = list(queries)
    run.rng.shuffle(order)
    layers = {"plans.build_s": 0.0, "plans.exec_s": 0.0}
    epoch0, t0 = time.time() * 1000, time.perf_counter()
    for q in order:
        spec = plans.REGISTRY[q]
        tb, df = run.op(f"p{i}:build:{q}", lambda: spec.fn(run.spark, sf_dir))
        te = 0.0
        if df is not None:
            te, _ = run.op(f"p{i}:exec:{q}", lambda: noop(df))
        layers["plans.build_s"] += tb
        layers["plans.exec_s"] += te
        layers[f"query.{q}.s"] = tb + te
    wall = time.perf_counter() - t0
    layers["plans.remainder_s"] = wall - layers["plans.build_s"] - layers["plans.exec_s"]
    return {"wall_s": wall, "epoch_ms": (epoch0, time.time() * 1000), "layers": layers}


def run_catalog(run: Run, cfg: dict, work: str, seed: int, seconds: float, trace_on: bool) -> dict:
    import gen
    from data_integration_project_spark.sources import load_table
    from data_integration_project_spark.schemas import TABLE_NAMES
    from tests import oracle_harness

    sf_dir = os.path.join(work, "tables")
    rows = gen.write_tables(sf_dir, seed, cfg["sf"])
    queries = cfg["queries"]
    measure(run, seconds, lambda i: catalog_pass(run, queries, sf_dir, i))

    for q in queries:
        run.op(f"check:{q}", lambda: oracle_harness.run_compare(run.spark, q, sf_dir))

    layers: dict[str, float] = {}
    if trace_on:
        scan = 0.0
        for name in TABLE_NAMES:
            dt_, _ = run.op(f"probe:scan:{name}", lambda: noop(load_table(run.spark, name, sf_dir)))
            scan += dt_
        layers["sources.parquet_scan_s"] = scan
    return {"source_rows": sum(rows.values()), "layers": layers}


# ---------------------------------------------------------------------------
# ETL workload
# ---------------------------------------------------------------------------


def _tree_size(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def etl_pass(run: Run, csv_dir: str, out_root: str, i: int) -> dict:
    from data_integration_project_spark import pipeline
    from data_integration_project_spark.streaming.pipeline import ZonePaths

    zones = ZonePaths(os.path.join(out_root, f"run_p{i}"))
    pr = pipeline.PipelineRun(run_id=f"p{i}", zones=zones)

    def marts():
        for df in pipeline.build_marts(run.spark, zones, sorted(pr.ingested)).values():
            noop(df)

    stages = {
        "ingest": lambda: pipeline.ingest_csv_dir(run.spark, csv_dir, zones, run_id=pr.run_id),
        "drain_validate": lambda: pipeline.drain_and_validate(run.spark, zones, sorted(pr.ingested)),
        "marts": marts,
        "history": lambda: pipeline.record_run_history(run.spark, out_root, pr),
    }
    layers: dict[str, float] = {}
    epoch0, t0 = time.time() * 1000, time.perf_counter()
    for stage, fn in stages.items():
        layers[f"pipeline.{stage}_s"], out = run.op(f"p{i}:{stage}", fn)
        if stage == "ingest":
            pr.ingested = out or {}
        elif stage == "drain_validate":
            pr.zone_counts = out or {}
    wall = time.perf_counter() - t0
    layers["pipeline.remainder_s"] = wall - sum(layers.values())
    layers["pipeline.files_written"], layers["pipeline.bytes_written"] = _tree_size(out_root)
    return {"wall_s": wall, "epoch_ms": (epoch0, time.time() * 1000), "layers": layers, "run": pr}


def run_etl(run: Run, cfg: dict, work: str, seed: int, seconds: float, trace_on: bool) -> dict:
    import gen

    csv_dir = os.path.join(work, "csv")
    expected = gen.write_dirty_csvs(csv_dir, seed, cfg["rows"])
    measure(run, seconds, lambda i: etl_pass(run, csv_dir, os.path.join(work, "etl", f"p{i}"), i))

    for p in run.passes:
        pr = p.pop("run")
        for entity, exp in expected.items():
            def check(entity=entity, exp=exp, pr=pr):
                got_in = pr.ingested.get(entity)
                got = pr.zone_counts.get(entity, {})
                clean, error = got.get("clean"), got.get("error")
                if got_in != exp["ingested"] or (clean, error) != (exp["clean"], exp["error"]):
                    raise ValueError(
                        f"{entity}: ingested/clean/error {got_in}/{clean}/{error}, "
                        f"generator planted {exp['ingested']}/{exp['clean']}/{exp['error']}"
                    )

            run.op(f"check:{pr.run_id}:{entity}", check)

    layers: dict[str, float] = {}
    if trace_on:
        layers.update(etl_layer_probes(run, csv_dir))
    return {
        "source_rows": sum(e["ingested"] for e in expected.values()),
        "layers": layers,
        "expected": expected,
    }


def etl_layer_probes(run: Run, csv_dir: str) -> dict[str, float]:
    """CSV scan, transform and rule-engine time on the raw CSV frames,
    outside streaming, each materialized through the noop sink."""
    from data_integration_project_spark.functions.cleaning import transform_entity
    from data_integration_project_spark.operators.entity_rules import ruleset_for
    from data_integration_project_spark.sources.csv import (
        discover_csvs,
        read_entity_csv,
        with_line_numbers,
    )

    out = {"sources.csv_read_s": 0.0, "functions.transform_s": 0.0, "operators.validate_s": 0.0}
    for item in discover_csvs(csv_dir):
        entity, path = item["entity_type"], item["file_path"]
        dt_, _ = run.op(f"probe:csv:{entity}", lambda: noop(read_entity_csv(run.spark, path, entity)))
        out["sources.csv_read_s"] += dt_
        # inputs are materialized untimed, so each timing covers one layer
        raw = with_line_numbers(read_entity_csv(run.spark, path, entity)).drop("_corrupt_record")
        raw = raw.localCheckpoint()
        dt_, _ = run.op(f"probe:transform:{entity}", lambda: noop(transform_entity(entity, raw)))
        out["functions.transform_s"] += dt_
        rules = ruleset_for(entity, source="csv")
        # the CSV menu rules validate the raw layout, the others the canonical one
        if rules.entity == "mon_csv":
            target = raw
        else:
            target = transform_entity(entity, raw).localCheckpoint()
        dt_, _ = run.op(f"probe:validate:{entity}", lambda: noop(rules.validate(target)))
        out["operators.validate_s"] += dt_
    return out


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

END_TO_END = {
    "wall_s": "s",
    "cold_wall_s": "s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "rows_per_s": "1/s",
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(passes: list[dict], setup_s: float, peak_rss: int, source_rows: int) -> dict:
    warm = [p["wall_s"] for p in passes[1:]]
    wall = _median(warm)
    vals = {
        "wall_s": wall,
        "cold_wall_s": passes[0]["wall_s"],
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss / 2**20,
        "rows_per_s": source_rows / wall if wall else 0.0,
    }
    return {k: {"value": round(v, 6), "unit": END_TO_END[k]} for k, v in vals.items()}


SPARK_LAYERS = {
    "jobs": "count", "stages": "count", "tasks": "count",
    "single_task_stages": "count", "executor_run_s": "s",
    "executor_cpu_s": "s", "stage_tail_s": "s",
    "shuffle_read_bytes": "bytes", "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes", "gc_s": "s", "python_s": "s",
    "input_bytes": "bytes", "output_bytes": "bytes",
}

#: every per-layer metric and its unit; a layer that is not on a
#: workload's path reports 0 there
PER_LAYER: dict[str, str] = {
    "session.start_s": "s",
    "trace.wall_s": "s",
    "plans.build_s": "s",
    "plans.build_jobs": "count",
    "plans.exec_s": "s",
    "plans.remainder_s": "s",
    **{f"query.{q}.s": "s" for w in WORKLOADS.values() for q in w.get("queries", [])},
    "sources.parquet_scan_s": "s",
    "sources.csv_read_s": "s",
    **{f"pipeline.{st}_s": "s" for st in ("ingest", "drain_validate", "marts", "history", "remainder")},
    "pipeline.files_written": "count",
    "pipeline.bytes_written": "bytes",
    "operators.validate_s": "s",
    "functions.transform_s": "s",
    "streaming.batches": "count",
    **{f"spark.{k}": u for k, u in SPARK_LAYERS.items()},
    "spark.core_busy_frac": "frac",
}


def per_layer(passes: list[dict], setup_s: float, summary: dict, extra: dict, cores: int) -> dict:
    """Medians over the warm passes of each pass's layer timings, the
    layer probes in ``extra``, and the event-log totals per warm pass."""
    warm = passes[1:]
    n = max(len(warm), 1)
    vals = {name: 0.0 for name in PER_LAYER}
    for name in {k for p in warm for k in p["layers"]}:
        vals[name] = _median([p["layers"].get(name, 0.0) for p in warm])
    vals.update(extra)
    wall = _median([p["wall_s"] for p in warm])
    vals["session.start_s"] = setup_s
    vals["trace.wall_s"] = wall
    vals["plans.build_jobs"] = sum(v for g, v in summary["jobs_per_group"].items() if ":build:" in g) / n
    for key in SPARK_LAYERS:
        vals[f"spark.{key}"] = summary[key] / n
    vals["spark.core_busy_frac"] = summary["executor_run_s"] / n / (wall * cores) if wall else 0.0
    return {k: {"value": round(float(vals[k]), 6), "unit": u} for k, u in PER_LAYER.items()}


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------


def run_benchmark(workload: str, seed: int, seconds: float, trace_on: bool, cfg: dict | None = None) -> dict:
    """One benchmark run in this process.  Returns the result object
    (``correct``, ``attempted``, ``failed``, ``metrics``) plus an
    ``info`` block."""
    cfg = dict(cfg or WORKLOADS[workload])
    t_start = time.perf_counter()
    with scratch_env(workload, trace_on) as (work, env):
        return _run(workload, seed, seconds, trace_on, cfg, work, env, t_start)


@contextlib.contextmanager
def scratch_env(name: str, trace_on: bool):
    """A scratch directory under the checkout for every file Spark, the
    JVM and Python write, plus the host's ``SPARK_GRAFT_*`` settings and
    the launch arguments; all undone on exit.  Yields (work dir, the
    ``SPARK_GRAFT_*`` values set)."""
    work = os.path.join(ROOT, ".perfbench_work", f"{name}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "local", "derby"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env = host_env()
    saved_env = dict(os.environ)
    os.environ.update(env)
    os.environ["PYSPARK_SUBMIT_ARGS"] = launch_args(work, trace_on)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    tempfile.tempdir = None  # pick up TMPDIR
    try:
        yield work, env
    finally:
        os.environ.clear()
        os.environ.update(saved_env)
        tempfile.tempdir = None
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def _run(workload, seed, seconds, trace_on, cfg, work, env, t_start) -> dict:
    sampler = probes.RssSampler()
    sampler.start()
    spark = None
    try:
        t0 = time.perf_counter()
        import pyspark

        from data_integration_project_spark.session import get_spark

        spark = get_spark("perfbench")
        spark.range(1).count()
        setup_s = time.perf_counter() - t0

        batches = []
        from pyspark.sql.streaming import StreamingQueryListener

        class BatchCounter(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                batches.append(event.progress.batchId)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        spark.streams.addListener(BatchCounter())
        run = Run(spark, seed)
        body = run_catalog if cfg["kind"] == "catalog" else run_etl
        out = body(run, cfg, work, seed, seconds, trace_on)
        time.sleep(0.5)  # the listener bus delivers progress events asynchronously
        extra = dict(out["layers"])
        # every pass drains the same inbox, so batches split evenly
        extra["streaming.batches"] = len(batches) / len(run.passes)
        probes.stop_spark(spark)
        spark = None
        peak = sampler.stop()

        cores = int(env["SPARK_GRAFT_CPUS"])
        if trace_on:
            summary = probes.summarize_event_log(
                os.path.join(work, "eventlog"),
                [p["epoch_ms"] for p in run.passes[1:]],
            )
            metrics = per_layer(run.passes, setup_s, summary, extra, cores)
        else:
            metrics = end_to_end(run.passes, setup_s, peak, out["source_rows"])
        info = {
            "workload": workload,
            "seed": seed,
            "trace": int(trace_on),
            "nproc": cores,
            "env": env,
            "spark_version": pyspark.__version__,
            "passes": len(run.passes),
            "pass_wall_s": [round(p["wall_s"], 4) for p in run.passes],
            "errors": run.errors[:20],
            "total_s": round(time.perf_counter() - t_start, 3),
        }
        if cfg["kind"] == "catalog":
            info["queries"] = cfg["queries"]
        else:
            info["expected"] = out["expected"]
        return {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
            "info": info,
        }
    finally:
        if spark is not None:
            probes.stop_spark(spark)
        if sampler.is_alive():
            sampler.stop()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "data_integration_project_spark")):
        print("perfbench: the engine package is not next to perfbench/", file=sys.stderr)
        return 2
    try:
        result = run_benchmark(args.workload, args.seed, args.seconds, bool(args.trace))
    except Exception:  # noqa: BLE001
        traceback.print_exc()
        return 1
    info = result.pop("info")
    print(json.dumps({"perfbench": info}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
