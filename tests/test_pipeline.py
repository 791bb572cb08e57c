"""End-to-end SINAPI pipeline test on reference-shaped CSV fixtures.

Fixtures mirror the real workbook shapes (junk preamble, header at a
discovered row, 2-row cost headers, decimal commas, pt-BR accents) —
the same startrow-offset pattern as the reference's own processor test
(``/root/reference/tests/core/test_processor.py:86-111``).
"""

from __future__ import annotations

import os

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from autosinapi_spark.pipeline import SinapiPipeline
from autosinapi_spark.schemas import SINAPI_SCHEMAS

PRECOS_CSV = """SINAPI - PREÇOS DE INSUMOS - JANEIRO/2024;;;;;
Encargos: não desonerado;;;;;
;;;;;
;;;;;
CODIGO DO INSUMO;DESCRICAO DO INSUMO;UNIDADE;SP;RJ;MG
101;Cimento Portland;kg;12,34;13,00;
102;Areia média;m3;1.234,56;;15,75
103;Água;l;0,10;0,20;0,30
"""

CUSTOS_CSV = """SINAPI - CUSTOS DE COMPOSIÇÕES;;;;;;
junk row;;;;;;
;;;SP;;RJ;
Código da Composição;Descrição;Unidade;CUSTO;%;CUSTO;%
Alvenaria de vedação (ref,9001);Alvenaria;m2;100,00;50;200,50;50
Estrutura de concreto (ref,9002);Estrutura;m3;1.000,99;60;;40
"""

MANUT_CSV = """RELATÓRIO DE MANUTENÇÕES;;;;
REFERENCIA;TIPO;CODIGO;DESCRICAO;MANUTENCAO
01/2024;INSUMO;101;Cimento Portland;ALTERAÇÃO DE DESCRIÇÃO
01/2024;INSUMO;103;Água;DESATIVAÇÃO
01/2024;COMPOSICAO;9002;Estrutura;DESATIVAÇÃO
"""

ESTRUTURA_CSV = """SINAPI - ANALÍTICO DE COMPOSIÇÕES;;;;;
TIPO ITEM;CODIGO DA COMPOSICAO;CODIGO DO ITEM;COEFICIENTE;DESCRICAO;UNIDADE
;9001;;;Alvenaria de vedação;m2
INSUMO;9001;101;2,5;Cimento;kg
COMPOSICAO;9001;9002;1,0;Estrutura;m3
;9002;;;Estrutura de concreto;m3
INSUMO;9002;104;0,5;Prego 17x21;kg
"""


@pytest.fixture()
def csv_dir(tmp_path):
    (tmp_path / "SINAPI_Precos_ISD.csv").write_text(PRECOS_CSV, encoding="utf-8")
    (tmp_path / "SINAPI_Custos_CSD.csv").write_text(CUSTOS_CSV, encoding="utf-8")
    (tmp_path / "SINAPI_Manutencoes.csv").write_text(MANUT_CSV, encoding="utf-8")
    (tmp_path / "SINAPI_Analitico.csv").write_text(
        ESTRUTURA_CSV, encoding="utf-8"
    )
    return tmp_path


def _run(spark, csv_dir, warehouse, month=1, manut="SINAPI_Manutencoes.csv"):
    pipe = SinapiPipeline(spark, str(warehouse), 2024, month)
    return pipe, pipe.run(
        manutencoes_csv=str(csv_dir / manut),
        precos_csvs={"NAO_DESONERADO": str(csv_dir / "SINAPI_Precos_ISD.csv")},
        custos_csvs={"NAO_DESONERADO": str(csv_dir / "SINAPI_Custos_CSD.csv")},
        estrutura_csv=str(csv_dir / "SINAPI_Analitico.csv"),
    )


def test_full_monthly_load(spark, csv_dir, tmp_path):
    pipe, result = _run(spark, csv_dir, tmp_path / "wh")
    assert result["status"] == "SUCESSO"

    insumos = {
        r["codigo"]: r for r in pipe.read("insumos").collect()
    }
    # 101-103 from the price sheet, 104 via placeholder repair (J1/J3)
    assert set(insumos) == {101, 102, 103, 104}
    assert insumos[104]["descricao"] == "INSUMO_DESCONHECIDO_104"
    assert insumos[104]["unidade"] == "UN"
    # status sync: DESATIVAÇÃO event wins for 103; others stay ATIVO
    assert insumos[103]["status"] == "DESATIVADO"
    assert insumos[101]["status"] == "ATIVO"
    assert insumos[104]["status"] == "ATIVO"

    comps = {r["codigo"]: r for r in pipe.read("composicoes").collect()}
    assert set(comps) == {9001, 9002}  # C4 extracted from '(ref,9001)'
    assert comps[9002]["status"] == "DESATIVADO"
    assert comps[9001]["status"] == "ATIVO"

    precos = {
        (r["insumo_codigo"], r["uf"]): float(r["preco_mediano"])
        for r in pipe.read("precos_insumos_mensal").collect()
    }
    # decimal commas + thousands dots parsed; empty UF cells dropped
    assert precos == {
        (101, "SP"): 12.34,
        (101, "RJ"): 13.0,
        (102, "SP"): 1234.56,
        (102, "MG"): 15.75,
        (103, "SP"): 0.1,
        (103, "RJ"): 0.2,
        (103, "MG"): 0.3,
    }

    custos = {
        (r["composicao_codigo"], r["uf"]): float(r["custo_total"])
        for r in pipe.read("custos_composicoes_mensal").collect()
    }
    # two-row header flatten: {UF}_CUSTO selected, % columns ignored
    assert custos == {
        (9001, "SP"): 100.0,
        (9001, "RJ"): 200.5,
        (9002, "SP"): 1000.99,
    }

    edges = {
        (r["composicao_pai_codigo"], r["insumo_filho_codigo"]): r["coeficiente"]
        for r in pipe.read("composicao_insumos").collect()
    }
    assert edges == {(9001, 101): 2.5, (9002, 104): 0.5}
    subs = {
        (r["composicao_pai_codigo"], r["composicao_filho_codigo"]): r[
            "coeficiente"
        ]
        for r in pipe.read("composicao_subcomposicoes").collect()
    }
    assert subs == {(9001, 9002): 1.0}

    manut = pipe.read("manutencoes_historico")
    assert manut.count() == 3
    assert result["records_inserted"]["manutencoes_historico"] == 3


def test_monthly_rerun_is_idempotent(spark, csv_dir, tmp_path):
    wh = tmp_path / "wh"
    _run(spark, csv_dir, wh)
    pipe, second = _run(spark, csv_dir, wh)
    # K2 append-nodup: same month re-run inserts nothing new
    assert second["records_inserted"]["precos_insumos_mensal"] == 0
    assert second["records_inserted"]["custos_composicoes_mensal"] == 0
    assert second["records_inserted"]["manutencoes_historico"] == 0
    assert pipe.read("insumos").count() == 4
    assert pipe.read("precos_insumos_mensal").count() == 7


def _assert_same_tables(spark, wh_a, wh_b):
    for table in SINAPI_SCHEMAS:
        a = spark.read.parquet(str(wh_a / table))
        b = spark.read.parquet(str(wh_b / table))
        assert a.exceptAll(b).count() == 0, table
        assert b.exceptAll(a).count() == 0, table


def test_rerun_after_partial_failure_matches_clean_run(
    spark, csv_dir, tmp_path, monkeypatch
):
    """Kill the load after the maintenance log, the catalogs, the
    structure and one fact table are written; a re-run of the month
    must leave every table equal to a clean single run."""
    _, clean = _run(spark, csv_dir, tmp_path / "clean")

    real = SinapiPipeline._append_facts
    calls = []

    def fail_second(self, table, facts, pk):
        calls.append(table)
        if len(calls) == 2:
            raise RuntimeError(f"injected failure before {table}")
        return real(self, table, facts, pk)

    wh = tmp_path / "wh"
    monkeypatch.setattr(SinapiPipeline, "_append_facts", fail_second)
    with pytest.raises(RuntimeError, match="injected failure"):
        _run(spark, csv_dir, wh)
    monkeypatch.undo()
    assert calls == ["manutencoes_historico", "precos_insumos_mensal"]

    _, rerun = _run(spark, csv_dir, wh)
    _assert_same_tables(spark, wh, tmp_path / "clean")
    # the log landed before the failure; everything else lands now
    assert rerun["records_inserted"] == {
        **clean["records_inserted"],
        "manutencoes_historico": 0,
    }


def test_run_releases_pinned_frames_also_on_failure(
    spark, csv_dir, tmp_path, monkeypatch
):
    """The maintenance log and the Analítico edges are pinned once per
    run, and released when the run returns or fails."""
    pinned = []
    real_pin = SinapiPipeline._pin

    def recording(self, df):
        pinned.append(real_pin(self, df))
        return pinned[-1]

    def held(df):
        return df._jdf.queryExecution().analyzed().rdd().getStorageLevel().isValid()

    monkeypatch.setattr(SinapiPipeline, "_pin", recording)
    _run(spark, csv_dir, tmp_path / "ok")
    assert len(pinned) == 2 and not any(held(df) for df in pinned)

    pinned.clear()
    real_append = SinapiPipeline._append_facts

    def fail_on_prices(self, table, facts, pk):
        if table == "precos_insumos_mensal":
            assert all(held(df) for df in pinned)
            raise RuntimeError("injected failure")
        return real_append(self, table, facts, pk)

    monkeypatch.setattr(SinapiPipeline, "_append_facts", fail_on_prices)
    with pytest.raises(RuntimeError, match="injected failure"):
        _run(spark, csv_dir, tmp_path / "failed")
    assert len(pinned) == 2 and not any(held(df) for df in pinned)


FACT_TABLES = (
    "manutencoes_historico",
    "precos_insumos_mensal",
    "custos_composicoes_mensal",
)


def _fact_files(wh):
    out = {}
    for table in FACT_TABLES:
        d = wh / table
        for name in os.listdir(d):
            if name.endswith(".parquet"):
                out[str(d / name)] = os.path.getsize(d / name)
    return out


def test_second_month_appends_without_rewriting_history(spark, csv_dir, tmp_path):
    """Month 2 adds fact files and leaves month 1's untouched; its
    DESATIVAÇÃO event flips only that item's status."""
    (csv_dir / "manut_02.csv").write_text(
        MANUT_CSV.split("01/2024")[0]
        + "02/2024;INSUMO;102;Areia média;DESATIVAÇÃO\n",
        encoding="utf-8",
    )
    wh = tmp_path / "wh"
    _run(spark, csv_dir, wh)
    month1 = _fact_files(wh)
    pipe, second = _run(spark, csv_dir, wh, month=2, manut="manut_02.csv")

    month2 = _fact_files(wh)
    assert {p: month2.get(p) for p in month1} == month1
    assert len(month2) > len(month1)
    assert second["records_inserted"] == {
        "manutencoes_historico": 1,
        "precos_insumos_mensal": 7,
        "custos_composicoes_mensal": 3,
    }
    assert pipe.read("precos_insumos_mensal").count() == 14

    status = {r["codigo"]: r["status"] for r in pipe.read("insumos").collect()}
    assert status == {
        101: "ATIVO",
        102: "DESATIVADO",  # month 2's event
        103: "DESATIVADO",  # month 1's event, no new one
        104: "ATIVO",
    }
    comps = {r["codigo"]: r["status"] for r in pipe.read("composicoes").collect()}
    assert comps == {9001: "ATIVO", 9002: "DESATIVADO"}


def test_month_without_sheets_still_syncs_status(spark, csv_dir, tmp_path):
    """A month loaded with no price or cost sheets writes no catalog
    rows, but its maintenance events still set the stored statuses."""
    (csv_dir / "manut_02.csv").write_text(
        MANUT_CSV.split("01/2024")[0]
        + "02/2024;INSUMO;102;Areia média;DESATIVAÇÃO\n"
        + "02/2024;COMPOSICAO;9001;Alvenaria;DESATIVAÇÃO\n",
        encoding="utf-8",
    )
    wh = tmp_path / "wh"
    _run(spark, csv_dir, wh)
    pipe = SinapiPipeline(spark, str(wh), 2024, 2)
    result = pipe.run(
        manutencoes_csv=str(csv_dir / "manut_02.csv"),
        precos_csvs={},
        custos_csvs={},
        estrutura_csv=str(csv_dir / "SINAPI_Analitico.csv"),
    )
    assert result["records_inserted"] == {"manutencoes_historico": 2}
    status = {r["codigo"]: r["status"] for r in pipe.read("insumos").collect()}
    assert status == {
        101: "ATIVO",
        102: "DESATIVADO",
        103: "DESATIVADO",
        104: "ATIVO",
    }
    comps = {r["codigo"]: r["status"] for r in pipe.read("composicoes").collect()}
    assert comps == {9001: "DESATIVADO", 9002: "DESATIVADO"}


def test_narrow_preamble_keeps_every_column(spark, tmp_path):
    """A preamble line narrower than the header must not cut the data
    rows to its width (Spark would take the width from line one)."""
    narrow = tmp_path / "narrow.csv"
    narrow.write_text(
        "SINAPI - PREÇOS;\n" + PRECOS_CSV.split("\n", 1)[1], encoding="utf-8"
    )
    pipe = SinapiPipeline(spark, str(tmp_path / "wh"), 2024, 1)
    _, long = pipe.process_precos(str(narrow), "NAO_DESONERADO")
    assert {(r["insumo_codigo"], r["uf"]) for r in long.collect()} == {
        (101, "SP"), (101, "RJ"), (102, "SP"), (102, "MG"),
        (103, "SP"), (103, "RJ"), (103, "MG"),
    }


def test_header_not_found_raises(spark, tmp_path):
    bad = tmp_path / "bad.csv"
    bad.write_text("a;b;c\n1;2;3\n", encoding="utf-8")
    pipe = SinapiPipeline(spark, str(tmp_path / "wh"), 2024, 1)
    with pytest.raises(ValueError, match="header with keywords"):
        pipe.process_manutencoes(str(bad))


def test_custom_constants_wire_into_transforms(spark, csv_dir, tmp_path):
    """CUSTOS_CODIGO_REGEX and MANUTENCOES_DATE_FORMAT overrides must
    actually reach extract_code / first_of_month (not just validate)."""
    from autosinapi_spark.config import EngineConfig

    (csv_dir / "m_iso.csv").write_text(
        MANUT_CSV.replace("01/2024", "2024-01"), encoding="utf-8"
    )
    cfg = EngineConfig(
        storage={"warehouse": str(tmp_path / "wh")},
        sinapi={"year": 2024, "month": 1},
        custom_constants={
            "MANUTENCOES_DATE_FORMAT": "yyyy-MM",
            # keep only the FIRST digit of the code tail — observably
            # different from the default r",(\d+)\)$" (9001 -> 9)
            "CUSTOS_CODIGO_REGEX": r",(\d)\d*\)$",
        },
    )
    pipe = SinapiPipeline(spark, str(tmp_path / "wh"), 2024, 1, cfg)

    manut = pipe.process_manutencoes(str(csv_dir / "m_iso.csv"))
    assert {
        r["data_referencia"].isoformat() for r in manut.collect()
    } == {"2024-01-01"}

    cat, _ = pipe.process_custos(
        str(csv_dir / "SINAPI_Custos_CSD.csv"), "NAO_DESONERADO"
    )
    assert {r["codigo"] for r in cat.collect()} == {9}


def test_sheet_without_uf_columns_names_the_file(spark, tmp_path):
    bad = tmp_path / "SINAPI_Precos_sem_UF.csv"
    bad.write_text(
        "CODIGO DO INSUMO;DESCRICAO DO INSUMO;UNIDADE\n101;Cimento;kg\n",
        encoding="utf-8",
    )
    pipe = SinapiPipeline(spark, str(tmp_path / "wh"), 2024, 1)
    with pytest.raises(ValueError, match="SINAPI_Precos_sem_UF.csv"):
        pipe.process_precos(str(bad), "NAO_DESONERADO")


# -- status sync: the aggregate form equals the dedup + window form ------

def _sync_status_window(pipe, catalog, manut, tipo):
    """The status sync as a keyed dedup of the log plus a row_number
    window over (data_referencia DESC, tipo_manutencao DESC)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from autosinapi_spark.operators.dedup import dedup_keep_first

    log = dedup_keep_first(
        manut,
        ["item_codigo", "tipo_item", "data_referencia", "tipo_manutencao"],
        ["descricao_item"],
    )
    w = Window.partitionBy("item_codigo").orderBy(
        F.desc("data_referencia"), F.desc("tipo_manutencao")
    )
    latest = (
        log.where(F.col("tipo_item") == tipo)
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            F.col("item_codigo").alias("codigo"),
            F.when(
                F.upper("tipo_manutencao").contains(pipe.cfg.DEACTIVATION_KEYWORD),
                F.lit("DESATIVADO"),
            )
            .otherwise(F.lit("ATIVO"))
            .alias("__new_status"),
        )
    )
    return catalog.join(latest, "codigo", "left").select(
        *[c for c in catalog.columns if c != "status"],
        F.coalesce("__new_status", "status").alias("status"),
    )


_EVENTS = st.lists(
    st.tuples(
        st.integers(0, 4),                                  # item_codigo
        st.sampled_from(["INSUMO", "COMPOSICAO"]),          # tipo_item
        st.sampled_from([None, "2024-01-01", "2024-02-01"]),
        st.sampled_from(
            [None, "ATIVAÇÃO", "DESATIVAÇÃO", "ALTERAÇÃO DE DESCRIÇÃO"]
        ),
        st.sampled_from(["a", "b"]),                        # descricao_item
    ),
    max_size=20,
)
_STATUSES = st.lists(
    st.sampled_from([None, "ATIVO", "DESATIVADO"]), min_size=5, max_size=5
)


@given(events=_EVENTS, statuses=_STATUSES, tipo=st.sampled_from(["INSUMO", "COMPOSICAO"]))
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
def test_sync_status_matches_dedup_window_form(spark, events, statuses, tipo):
    """Null dates, ATIVAÇÃO and DESATIVAÇÃO in one month, repeated
    primary keys and events of the other item type all resolve as in
    the dedup + row_number form."""
    pipe = SinapiPipeline(spark, "unused", 2024, 1)
    manut = spark.createDataFrame(
        events or [],
        "item_codigo BIGINT, tipo_item STRING, data_referencia STRING, "
        "tipo_manutencao STRING, descricao_item STRING",
    ).withColumn("data_referencia", F.col("data_referencia").cast("date"))
    catalog = spark.createDataFrame(
        [(c, f"item {c}", "UN", None, s) for c, s in enumerate(statuses)],
        SINAPI_SCHEMAS["insumos"],
    )
    got = {tuple(r) for r in pipe._sync_status(catalog, manut, tipo).collect()}
    want = {tuple(r) for r in _sync_status_window(pipe, catalog, manut, tipo).collect()}
    assert got == want


# -- fixed cost guards -------------------------------------------------------

def _compilations(spark) -> int:
    """Classes compiled by the JVM's whole-stage codegen so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_rerun_reuses_generated_classes(spark, csv_dir, tmp_path):
    """The codegen cache holds a month's generated classes: once a month
    and its re-run have run, another re-run in the same session compiles
    almost none again. (The first re-run still compiles the plans that
    populated tables add: AQE plans joins against empty tables apart.)
    With a cache smaller than that working set, every re-run recompiles
    about as many classes as the first load."""
    wh = tmp_path / "wh"
    c0 = _compilations(spark)
    _run(spark, csv_dir, wh)
    c1 = _compilations(spark)
    _run(spark, csv_dir, wh)
    c2 = _compilations(spark)
    _run(spark, csv_dir, wh)
    c3 = _compilations(spark)
    assert c3 - c2 <= 0.1 * (c1 - c0), (c1 - c0, c2 - c1, c3 - c2)


_UFS = (
    "AC AL AP AM BA CE DF ES GO MA MT MS MG PA PB PR PE PI RJ RN RS RO RR SC "
    "SP SE TO"
).split()


def _wide_sheets(tmp_path, ufs):
    """A price sheet and a two-row-header cost sheet over ``ufs``."""
    precos = tmp_path / f"precos_{len(ufs)}.csv"
    precos.write_text(
        "SINAPI - PREÇOS;\n"
        "CODIGO DO INSUMO;DESCRICAO DO INSUMO;UNIDADE;" + ";".join(ufs) + "\n"
        "101;Cimento;kg;" + ";".join("1,50" for _ in ufs) + "\n",
        encoding="utf-8",
    )
    custos = tmp_path / f"custos_{len(ufs)}.csv"
    custos.write_text(
        ";;;" + "".join(f"{uf};;" for uf in ufs) + "\n"
        "Código da Composição;Descrição;Unidade;" + "CUSTO;%;" * len(ufs) + "\n"
        "Alvenaria (ref,9001);Alvenaria;m2;" + "10,00;50;" * len(ufs) + "\n",
        encoding="utf-8",
    )
    return str(precos), str(custos)


def test_plan_build_does_not_grow_with_sheet_width(spark, tmp_path, monkeypatch):
    """Building the price and cost sheet transforms costs about the same
    number of py4j calls for 3 UF columns as for 27."""
    import gc

    import py4j.clientserver as cs
    from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

    pipe = SinapiPipeline(spark, str(tmp_path / "wh"), 2024, 1)
    real = cs.ClientServerConnection.send_command
    # releases of Java objects that Python's collector frees are not
    # plan-build calls, and land whenever the collector happens to run
    release = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME

    def build_calls(ufs):
        precos, custos = _wide_sheets(tmp_path, ufs)
        calls = []

        def counting(self, command):
            if not command.startswith(release):
                calls.append(1)
            return real(self, command)

        gc.collect()
        with monkeypatch.context() as m:
            m.setattr(cs.ClientServerConnection, "send_command", counting)
            pipe.process_precos(precos, "NAO_DESONERADO")
            pipe.process_custos(custos, "NAO_DESONERADO")
        return len(calls)

    build_calls(_UFS[:3])  # warm-up: one-off lookups of the first build
    narrow, wide = build_calls(_UFS[:3]), build_calls(_UFS)
    assert narrow > 0
    assert abs(wide - narrow) < 30, (narrow, wide)
    # the sheets really are 3 and 27 UFs wide
    _, long = pipe.process_precos(_wide_sheets(tmp_path, _UFS)[0], "NAO_DESONERADO")
    assert long.select("uf").distinct().count() == 27
