"""``registry_heavy``: a fixed slice of ``__spark_entry__.queries()``.

The slice holds families where plan build and the eager jobs it fires
dominate: the epsilon-convergence graph loop, MMR diverse sampling and
the BOM cost rollup. It reads the
repository's sf0.1 fixture tables (TESTDATA.md), copied byte for byte
into ``data/sf0.1``, so its figures link to ``bench.py``'s. One client
runs the slice once, in a fixed order, one query per request: the
Python build, then the ``noop`` sink, as ``bench.py`` does. Cached
frames and checkpoint blocks are released between queries with
``bench._release_persistent``, outside the timed region.

Outside the timed region, each result is also collected and compared
with its ``oracle_sql()`` answer by ``tools/driver_sim.py``'s rule
(columns, order, type lint, row count, values). The oracle answers are
stored in ``data/oracle_sf0.1.json`` by ``oracle_answers.py``.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

from common import Run, Session
from spans import Tracer, catalyst_phases

HERE = Path(__file__).resolve().parent
SF_DIR = HERE / "data" / "sf0.1"
ORACLE_FILE = HERE / "data" / "oracle_sf0.1.json"
TABLES = ("lineitem", "part", "embeddings")

# Run order is fixed and the seed draws nothing here: the data are the
# fixture tables, and the first query of a process absorbs ~10 s of
# cold-JIT cost whose size depends on which query it is, so a seed-drawn
# order turned that into ±15% between seeds. The longest query goes
# first and takes that cost, so the median request is a warm one.
SLICE = (
    "pagerank_convergence_eps",
    "mmr_diverse_sample",
    "bom_cost_rollup",
)
# near_dedup_ngram_jaccard and suffix_window_rank are left out for the
# run budget: each adds 11-14 s to every run (see NOTES.md).


def _oracle_check(name: str, columns, dtypes, rows, oracle: dict, run: Run) -> None:
    from driver_sim import canon, type_lint

    ocols, otypes = oracle["columns"], oracle["types"]
    orows = [tuple(r) for r in oracle["rows"]]
    problems, _ = type_lint(dtypes, otypes)
    run.check(columns == ocols, f"{name}: columns {columns} != oracle {ocols}")
    run.check(not problems, f"{name}: {problems}")
    run.check(len(rows) == len(orows), f"{name}: rows {len(rows)} != oracle {len(orows)}")
    run.check(canon(columns, rows) == canon(ocols, orows), f"{name}: values differ from oracle")


def run_registry_heavy(args, work: Path, session: Session, trace: bool) -> Run:
    run = Run()
    root = HERE.parent
    sys.path.insert(0, str(root / "tools"))
    from bench import _materialize

    sf_dir = str(SF_DIR)
    run.detail["input_bytes"] = sum((SF_DIR / f"{t}.parquet").stat().st_size for t in TABLES)
    oracles = json.loads(ORACLE_FILE.read_text(encoding="utf-8"))
    registry = {}

    def load_registry(spark, i):
        import __spark_entry__ as entry

        registry["queries"] = entry.queries()

    spark = session.set_up(load_registry, run)
    queries = registry["queries"]
    tracer = Tracer(spark) if trace else None
    bom_mod, explode = None, None
    explode_outputs = []
    if trace:
        import autosinapi_spark.plans.bom_queries as bom_mod

        explode = bom_mod.explode_bom

        def traced_explode(*a, **k):
            with tracer.span("bom.explode"):
                out = explode(*a, **k)
            explode_outputs.append(out)
            return out

        bom_mod.explode_bom = traced_explode

    levels, catalyst = [], []
    try:
        for name in SLICE:
            session.release()
            try:
                if trace:
                    with tracer.span("registry.query", query=name) as req:
                        with tracer.span("plans.build"):
                            df = queries[name](spark, sf_dir)
                        with tracer.span("catalyst"):
                            catalyst.append(catalyst_phases(df))
                        with tracer.span("exec.noop"):
                            _materialize(df)
                    dt = req.seconds
                else:
                    t0 = time.perf_counter()
                    df = queries[name](spark, sf_dir)
                    _materialize(df)
                    dt = time.perf_counter() - t0
                rows = [tuple(r) for r in df.collect()]  # for the check, untimed
            except Exception as err:  # a failed query is a failed request
                run.request_failed(err)
                continue
            run.timed_s += dt
            run.latencies_ms.append(dt * 1e3)
            _oracle_check(name, list(df.columns), list(df.dtypes), rows, oracles[name], run)
            if explode_outputs:
                # the deepest frontier, read after the request's clock stopped
                from pyspark.sql import functions as F

                levels += [out.agg(F.max("depth")).first()[0] for out in explode_outputs]
                explode_outputs.clear()
    finally:
        if bom_mod is not None:
            bom_mod.explode_bom = explode

    run.detail.update({"registry_s": run.timed_s, "order": list(SLICE)})
    if trace:
        t = tracer
        build = t.job_ids("plans.build")
        mean = (lambda k: sum(c[k] for c in catalyst) / len(catalyst)) if catalyst else (
            lambda k: 0.0)
        run.layers = {
            "bom.explode_s": t.seconds("bom.explode"),
            "bom.levels": max(levels, default=0),
            "bom.jobs": len(t.job_ids("bom.explode")),
            "catalyst.analysis_ms": mean("analysis"),
            "catalyst.optimization_ms": mean("optimization"),
            "catalyst.planning_ms": mean("planning"),
            "plans.build_s": t.seconds("plans.build"),
            "plans.build_jobs": len(build),
            "plans.build_job_s": t.job_seconds(build),
            **t.exec_totals(),
            "trace.wall_s": t.request_seconds(),
            "trace.self_s": t.self_s,
        }
        tracer.dump(str(work / "spans.jsonl"))
    return run
