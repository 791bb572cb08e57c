"""End-to-end SINAPI pipeline test on reference-shaped CSV fixtures.

Fixtures mirror the real workbook shapes (junk preamble, header at a
discovered row, 2-row cost headers, decimal commas, pt-BR accents) —
the same startrow-offset pattern as the reference's own processor test
(``/root/reference/tests/core/test_processor.py:86-111``).
"""

from __future__ import annotations

import os

import pytest

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
