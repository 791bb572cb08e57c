"""``monthly_load``: the paper's job, the write path.

One client loads a fixed number of consecutive generated months into
one warehouse with ``SinapiPipeline.run``, each call waiting for the
previous one (closed loop), then re-runs the last month. The first
month warms the JVM and starts the history, untimed; the later months'
loads and the re-run are the timed requests, and the latency reported
is their median. The work does not depend on ``--seconds`` or on how
fast the program is. Sheet generation and every check run outside the
timed region.
"""

from __future__ import annotations

import shutil
import statistics
import time
from contextlib import nullcontext
from decimal import Decimal
from pathlib import Path

from common import Run, Session, fresh_dir, parquet_files, tree_bytes
from sinapi_gen import Scale, SinapiWorld
from spans import Tracer

# about 8% of one real SINAPI month per sheet set: the specified full
# size does not fit the benchmark's run budget (see NOTES.md)
SCALE = Scale(insumos=400, composicoes=800)
MONTHS = 3  # loaded in order, then the last one is re-run
WARMUP = 1  # leading months that warm the JVM, untimed; the rest are timed

TABLES = (
    "insumos", "composicoes", "precos_insumos_mensal", "custos_composicoes_mensal",
    "composicao_insumos", "composicao_subcomposicoes", "manutencoes_historico",
)
FACT_TABLES = ("manutencoes_historico", "precos_insumos_mensal", "custos_composicoes_mensal")

# pipeline methods -> phase span; process_* build the lazy transforms
PHASES = {
    "bootstrap": "pipeline.bootstrap",
    "process_manutencoes": "pipeline.transform",
    "process_precos": "pipeline.transform",
    "process_custos": "pipeline.transform",
    "process_estrutura": "pipeline.transform",
    "_upsert_catalog": "pipeline.catalog_upsert",
    "_append_facts": "pipeline.facts_append",
    "_sync_status": "pipeline.status_sync",
}
WRITING = {"pipeline.bootstrap", "pipeline.catalog_upsert", "pipeline.structure_overwrite",
           "pipeline.facts_append", "pipeline.status_sync"}


class _Instrument:
    """Spans around the pipeline's phases and its CSV reads, plus
    warehouse file snapshots around every writing phase."""

    def __init__(self, tracer: Tracer, warehouse: Path):
        import autosinapi_spark.pipeline as pipeline_mod

        self.tracer, self.warehouse, self.mod = tracer, warehouse, pipeline_mod
        self.bytes_written = 0
        self.rows_written = 0
        self._saved = {}

    def _wrap(self, fn, name):
        def traced(*args, **kwargs):
            if name not in WRITING:
                with self.tracer.span(name):
                    return fn(*args, **kwargs)
            with self.tracer.paused():
                before = parquet_files(self.warehouse)
            with self.tracer.span(name):
                out = fn(*args, **kwargs)
            with self.tracer.paused():
                self._count_written(before, parquet_files(self.warehouse))
            return out
        return traced

    def _count_written(self, before, after) -> None:
        import pyarrow.parquet as pq

        for path, sig in after.items():
            if before.get(path) != sig:
                self.bytes_written += sig[0]
                self.rows_written += pq.read_metadata(path).num_rows

    def attach(self, pipe) -> None:
        for attr, name in PHASES.items():
            setattr(pipe, attr, self._wrap(getattr(pipe, attr), name))

    def __enter__(self):
        for attr, name in (("read_discovered_csv", "sources.read"),
                           ("write_overwrite", "pipeline.structure_overwrite")):
            self._saved[attr] = getattr(self.mod, attr)
            setattr(self.mod, attr, self._wrap(self._saved[attr], name))
        return self

    def __exit__(self, *exc):
        for attr, fn in self._saved.items():
            setattr(self.mod, attr, fn)


def _load(spark, warehouse: Path, mf, tracer: Tracer | None, inst: _Instrument | None):
    from autosinapi_spark.pipeline import SinapiPipeline

    pipe = SinapiPipeline(spark, str(warehouse), mf.year, mf.month)
    args = (mf.manutencoes, mf.precos, mf.custos, mf.estrutura)
    if tracer is None:
        t0 = time.perf_counter()
        res = pipe.run(*args)
        return res, time.perf_counter() - t0
    inst.attach(pipe)
    with tracer.span("pipeline.run", month=mf.ref_date) as sp:
        res = pipe.run(*args)
    return res, sp.seconds


def _scan(table_dir: Path) -> str:
    return f"read_parquet('{table_dir}/**/*.parquet', hive_partitioning = true)"


def _check_warehouse(warehouse: Path, world: SinapiWorld, run: Run) -> None:
    """Compare the warehouse, read back with DuckDB, with the model."""
    import duckdb

    exp = world.expected
    con = duckdb.connect()

    def rows(sql: str, table: str):
        return con.execute(sql.format(t=_scan(warehouse / table))).fetchall()

    for table, want in (("insumos", exp.insumos), ("composicoes", exp.composicoes)):
        got = {r[0]: r[1:] for r in rows("SELECT codigo, descricao, unidade, status FROM {t}",
                                          table)}
        bad = [k for k in set(got) | set(want) if got.get(k) != want.get(k)]
        run.check(not bad, f"{table}: {len(bad)} catalog rows differ, e.g. "
                  f"{[(k, got.get(k), want.get(k)) for k in bad[:2]]}")
    for table, want, value in (("precos_insumos_mensal", exp.precos, "preco_mediano"),
                               ("custos_composicoes_mensal", exp.custos, "custo_total")):
        got = {str(d): (n, total) for d, n, total in rows(
            f"SELECT data_referencia, count(*), sum({value}) FROM {{t}} GROUP BY 1", table)}
        by_month: dict[str, tuple[int, Decimal]] = {}
        for (_code, _uf, ref, _regime), v in want.items():
            n, total = by_month.get(ref, (0, Decimal(0)))
            by_month[ref] = (n + 1, total + v)
        run.check(got == by_month, f"{table}: per-month count/sum {got} != {by_month}")
    for table, want, child in (("composicao_insumos", exp.comp_insumos, "insumo_filho_codigo"),
                               ("composicao_subcomposicoes", exp.comp_subs,
                                "composicao_filho_codigo")):
        got = {(r[0], r[1]): r[2] for r in rows(
            f"SELECT composicao_pai_codigo, {child}, coeficiente FROM {{t}}", table)}
        run.check(got == want, f"{table}: {len(got)} edges != expected {len(want)}")
    (n,), = rows("SELECT count(*) FROM {t}", "manutencoes_historico")
    run.check(n == len(exp.manutencoes),
              f"manutencoes_historico: {n} rows != {len(exp.manutencoes)}")
    con.close()


def _check_rerun(warehouse: Path, before: Path, res: dict, run: Run) -> None:
    """The re-run inserts nothing and leaves every table equal
    (EXCEPT ALL both ways, in DuckDB)."""
    import duckdb

    for t in FACT_TABLES:
        run.check(res["records_inserted"].get(t) == 0,
                  f"re-run inserted {res['records_inserted'].get(t)} rows into {t}")
    con = duckdb.connect()
    for t in TABLES:
        a, b = _scan(warehouse / t), _scan(before / t)
        (diff,), = con.execute(
            f"SELECT count(*) FROM ((SELECT * FROM {a} EXCEPT ALL SELECT * FROM {b}) "
            f"UNION ALL (SELECT * FROM {b} EXCEPT ALL SELECT * FROM {a}))").fetchall()
        run.check(diff == 0, f"re-run changed {t}: EXCEPT ALL both ways = {diff}")
    con.close()


def run_monthly_load(args, work: Path, session: Session, trace: bool) -> Run:
    run = Run()
    world = SinapiWorld(args.seed, SCALE)
    months = [world.write_month(str(work / "sheets" / f"m{i}")) for i in range(MONTHS)]
    input_bytes = sum(mf.input_bytes for mf in months)

    # run() bootstraps its own tables, so set-up is the session alone
    spark = session.set_up(lambda spark, i: None, run)
    warehouse = fresh_dir(work / "warehouse")
    tracer = Tracer(spark) if trace else None
    inst = _Instrument(tracer, warehouse) if trace else None

    def load(mf, timed: bool):
        try:
            res, dt = _load(spark, warehouse, mf, tracer if timed else None, inst)
        except Exception as err:  # a failed load is a failed request
            run.request_failed(err)
            return None
        if timed:
            run.timed_s += dt
            run.latencies_ms.append(dt * 1e3)
        return res, dt

    # the first month's cold JIT would swamp a warm month's time, so it
    # only warms up and starts the history; the median of three timed
    # requests (two loads and the re-run) rides out a slow one
    base_bytes = 0
    loads_s = []
    for i, mf in enumerate(months):
        timed = i >= WARMUP
        if i == WARMUP:
            base_bytes = tree_bytes(warehouse)
        with inst if (inst and timed) else nullcontext():
            out = load(mf, timed)
        if out is None:
            break
        res, dt = out
        run.check(res["status"] == "SUCESSO", f"{mf.ref_date}: status {res['status']}")
        want = world.expected.inserted[i]
        got = {t: res["records_inserted"].get(t) for t in want}
        run.check(got == want, f"{mf.ref_date}: inserted {got} != expected {want}")
        if timed:
            loads_s.append(dt)
        else:
            run.detail.setdefault("warmup_s", []).append(dt)
    if loads_s:
        run.detail["load_s"] = statistics.median(loads_s)
    if not run.failed:
        t0 = time.perf_counter()
        _check_warehouse(warehouse, world, run)
        before = work / "before-rerun"
        shutil.copytree(warehouse, before)
        check_s = time.perf_counter() - t0
        with inst if inst else nullcontext():
            out = load(months[-1], True)
        if out is not None:
            res, run.detail["rerun_s"] = out
            t0 = time.perf_counter()
            _check_rerun(warehouse, before, res, run)
            run.detail["check_s"] = check_s + time.perf_counter() - t0
    stored = tree_bytes(warehouse)

    run.detail.update({
        "months": len(months),
        "stored_bytes_per_input_byte": stored / input_bytes,
        "input_bytes": input_bytes,
        "scale": {"insumos": SCALE.insumos, "composicoes": SCALE.composicoes},
    })
    if trace:
        t = tracer
        layers = {name + "_s": t.seconds(name)
                  for name in ("pipeline.bootstrap", "pipeline.transform",
                               "pipeline.catalog_upsert", "pipeline.structure_overwrite",
                               "pipeline.facts_append", "pipeline.status_sync")}
        layers.update({
            "pipeline.jobs": len(t.job_ids("pipeline.run")),
            "pipeline.rows_written": inst.rows_written,
            "sources.read_s": t.seconds("sources.read"),
            "sources.jobs": len(t.job_ids("sources.read")),
            "sinks.bytes_written": inst.bytes_written,
            "sinks.write_amplification": inst.bytes_written / max(1, stored - base_bytes),
            **t.exec_totals(),
            "trace.wall_s": t.request_seconds(),
            "trace.self_s": t.self_s,
        })
        run.layers = layers
        tracer.dump(str(work / "spans.jsonl"))
    return run
