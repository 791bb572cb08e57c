"""Physical write-policy tests (K2-K5) against tmp Parquet tables.

The logical merge operators are oracle-checked via the registered
``sink_*`` queries; these tests cover the on-disk writers — creation,
idempotent re-append, upsert state evolution, and partition-scoped
replacement.
"""

from __future__ import annotations

import os

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE

from autosinapi_spark.operators.sinks import (
    write_append_nodup,
    write_overwrite,
    write_replace_period,
    write_upsert,
)


def _catalog(spark, rows):
    return spark.createDataFrame(
        rows, "codigo INT, descricao STRING, unidade STRING, status STRING"
    )


def _state(spark, path):
    return {
        r["codigo"]: (r["descricao"], r["unidade"], r["status"])
        for r in spark.read.parquet(path).collect()
    }


def _files(path):
    return {n: os.path.getsize(os.path.join(path, n)) for n in os.listdir(path)}


def test_append_nodup_is_idempotent(spark, tmp_path):
    path = str(tmp_path / "catalogo")
    first = _catalog(spark, [(1, "A", "UN", "ATIVO"), (2, "B", "KG", "ATIVO")])
    assert write_append_nodup(spark, first, path, ["codigo"]) == 2

    again = _catalog(spark, [(2, "B2", "M", "ATIVO"), (3, "C", "UN", "ATIVO")])
    assert write_append_nodup(spark, again, path, ["codigo"]) == 1

    st = _state(spark, path)
    assert st == {
        1: ("A", "UN", "ATIVO"),
        2: ("B", "KG", "ATIVO"),  # conflict ignored, original kept
        3: ("C", "UN", "ATIVO"),
    }
    # true idempotence: replaying the same batch changes nothing
    files = _files(path)
    assert write_append_nodup(spark, again, path, ["codigo"]) == 0
    assert _state(spark, path) == st
    assert _files(path) == files  # a no-op append writes no file


def test_upsert_updates_only_incoming_columns(spark, tmp_path):
    path = str(tmp_path / "catalogo")
    write_upsert(
        spark,
        _catalog(spark, [(1, "A", "UN", "ATIVO"), (2, "B", "KG", "DESATIVADO")]),
        path,
        ["codigo"],
    )
    # incoming has only (codigo, descricao): unidade/status must survive
    incoming = spark.createDataFrame(
        [(2, "B-NEW"), (3, "C")], "codigo INT, descricao STRING"
    )
    write_upsert(
        spark, incoming, path, ["codigo"], defaults={"status": F.lit("ATIVO")}
    )
    assert _state(spark, path) == {
        1: ("A", "UN", "ATIVO"),
        2: ("B-NEW", "KG", "DESATIVADO"),  # status untouched by upsert
        3: ("C", None, "ATIVO"),  # new row gets DDL default
    }


def test_upsert_raises_on_a_torn_table_and_keeps_its_files(spark, tmp_path):
    """A table that exists but cannot be read is not an absent table:
    the upsert must fail instead of overwriting it with the incoming
    rows alone."""
    path = str(tmp_path / "catalogo")
    for row in [(1, "A", "UN", "ATIVO"), (2, "B", "KG", "ATIVO"), (5, "E", "M", "ATIVO")]:
        _catalog(spark, [row]).coalesce(1).write.mode("append").parquet(path)
    parts = sorted(n for n in os.listdir(path) if n.endswith(".parquet"))
    assert len(parts) == 3
    # tear the file that schema inference reads (the first by path):
    # its footer is gone, the other two files are intact
    first = os.path.join(path, parts[0])
    with open(first, "r+b") as fh:
        fh.truncate(os.path.getsize(first) // 2)
    crc = os.path.join(path, f".{parts[0]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    files = _files(path)

    with pytest.raises(Exception) as err:
        write_upsert(
            spark, _catalog(spark, [(3, "C", "UN", "ATIVO")]), path, ["codigo"]
        )
    assert not isinstance(err.value, AnalysisException)
    assert _files(path) == files


def test_replace_period_touches_only_its_partition(spark, tmp_path):
    path = str(tmp_path / "fatos")
    df = spark.createDataFrame(
        [(1, "2024-01", 10.0), (2, "2024-01", 20.0), (3, "2024-02", 30.0)],
        "codigo INT, periodo STRING, valor DOUBLE",
    )
    write_replace_period(spark, df, path, "periodo")
    jan_files = set(os.listdir(os.path.join(path, "periodo=2024-01")))
    feb_files = set(os.listdir(os.path.join(path, "periodo=2024-02")))

    redo = spark.createDataFrame(
        [(9, "2024-02", 99.0)], "codigo INT, periodo STRING, valor DOUBLE"
    )
    write_replace_period(spark, redo, path, "periodo")

    out = spark.read.parquet(path)
    assert {
        (r["codigo"], r["periodo"], r["valor"]) for r in out.collect()
    } == {(1, "2024-01", 10.0), (2, "2024-01", 20.0), (9, "2024-02", 99.0)}
    # dynamic overwrite must not rewrite the untouched partition
    assert set(os.listdir(os.path.join(path, "periodo=2024-01"))) == jan_files
    assert set(os.listdir(os.path.join(path, "periodo=2024-02"))) != feb_files


def test_overwrite_replaces_everything(spark, tmp_path):
    path = str(tmp_path / "estrutura")
    write_overwrite(
        _catalog(spark, [(1, "OLD", "UN", "ATIVO")]), path
    )
    write_overwrite(
        _catalog(spark, [(7, "NEW", "KG", "ATIVO")]), path
    )
    assert _state(spark, path) == {7: ("NEW", "KG", "ATIVO")}


def test_upsert_pk_only_falls_back_to_append(spark, tmp_path):
    path = str(tmp_path / "catalogo")
    write_upsert(spark, _catalog(spark, [(1, "A", "UN", "ATIVO")]), path, ["codigo"])
    pk_only = spark.createDataFrame([(1,), (2,)], "codigo INT")
    with pytest.raises(ValueError):
        # pk-only incoming with an extra unknown column must raise
        bad = pk_only.withColumn("nope", F.lit(1))
        write_upsert(spark, bad, path, ["codigo"])
    write_upsert(spark, pk_only, path, ["codigo"])
    st = _state(spark, path)
    assert st[1] == ("A", "UN", "ATIVO")  # untouched: fallback is K2
    assert st[2] == (None, None, None)


def test_replace_period_keeps_null_dated_rows(spark):
    from pyspark.sql import functions as F

    from autosinapi_spark.operators.sinks import replace_by_period

    existing = spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (2, None, 20.0), (3, "2024-02-01", 30.0)],
        "codigo INT, d STRING, valor DOUBLE",
    ).withColumn("d", F.to_date("d"))
    incoming = spark.createDataFrame(
        [(9, "2024-01-15", 99.0)], "codigo INT, d STRING, valor DOUBLE"
    ).withColumn("d", F.to_date("d"))

    out = replace_by_period(existing, incoming, "d", "2024-01")
    got = {r["codigo"] for r in out.collect()}
    # NULL-dated row 2 survives; only the 2024-01 rows are replaced
    assert got == {2, 3, 9}


def test_sink_scd2_history_semantics(spark):
    """Type 2 invariants replayed from the raw part table."""
    from datetime import date

    from autosinapi_spark.catalog import load
    from autosinapi_spark.plans.sink_queries import (
        _SCD2_EFF,
        sink_scd2_history,
    )

    rows = sink_scd2_history(spark, SF_SMOKE).collect()
    eff = date.fromisoformat(_SCD2_EFF)

    parts = {
        r.p_partkey: r for r in load(spark, SF_SMOKE, "part").collect()
    }
    cur_keys = {k for k in parts if k % 2 == 0}
    inc = {
        k: (parts[k].p_name if k % 5 == 0 else parts[k].p_name.upper())
        for k in parts
        if k % 3 == 0
    }
    changed = {k for k in cur_keys & set(inc) if inc[k] != parts[k].p_name}
    inserts = set(inc) - cur_keys

    by_key = {}
    for r in rows:
        by_key.setdefault(r.codigo, []).append(r)
    # exactly one current row per live key; history rows intact
    for k, vs in by_key.items():
        curs = [v for v in vs if v.is_current]
        assert len(curs) == 1
        for v in vs:
            if v.valid_to is not None:
                assert not v.is_current
    for k in changed:
        vs = sorted(by_key[k], key=lambda v: v.valid_from)
        closed = [v for v in vs if v.valid_to == eff]
        assert len(closed) == 1 and closed[0].descricao == parts[k].p_name
        cur = [v for v in vs if v.is_current][0]
        assert cur.descricao == inc[k] and cur.valid_from == eff
    for k in inserts:
        (v,) = by_key[k]
        assert v.is_current and v.valid_from == eff
    # matched-but-identical keys keep their original single version
    noop = {k for k in cur_keys & set(inc) if k not in changed}
    assert noop, "fixture must exercise the no-op path"
    for k in noop:
        curs = [v for v in by_key[k] if v.is_current]
        assert curs[0].valid_from == date(2023, 1, 1)
    # history passthrough: every %4 key still has its v0 row
    for k in cur_keys:
        if k % 4 == 0:
            assert any(
                v.descricao.startswith("v0 ") and v.valid_to == date(2023, 1, 1)
                for v in by_key[k]
            )
    assert changed and inserts


def test_snapshot_diff_classifies_changes(spark):
    """CDC invariants replayed from the raw orders table."""
    from autosinapi_spark.catalog import load
    from autosinapi_spark.plans.sink_queries import snapshot_diff_cdc

    rows = snapshot_diff_cdc(spark, SF_SMOKE).collect()
    orders = load(spark, SF_SMOKE, "orders").collect()
    pre = {r.o_orderkey: r for r in orders if str(r.o_orderdate) < "1997-01-01"}
    post_ins = {
        r.o_orderkey
        for r in orders
        if str(r.o_orderdate) >= "1997-01-01" and r.o_orderkey % 5 == 0
    }
    want_del = {k for k in pre if k % 13 == 0}
    want_upd = {
        k
        for k, r in pre.items()
        if k % 13 != 0 and k % 7 == 0 and r.o_orderstatus != "X"
    }

    by_type = {}
    for r in rows:
        by_type.setdefault(r.change_type, set()).add(r.o_orderkey)
    assert by_type.get("insert", set()) == post_ins
    assert by_type.get("delete", set()) == want_del
    assert by_type.get("update", set()) == want_upd
    # update rows carry both sides; insert/delete are half-null
    for r in rows:
        if r.change_type == "update":
            assert r.old_o_orderstatus != r.new_o_orderstatus
            assert r.old_o_orderpriority == r.new_o_orderpriority
        elif r.change_type == "insert":
            assert r.old_o_orderstatus is None
        else:
            assert r.new_o_orderstatus is None


def test_snapshot_diff_null_pk_unchanged_row_is_dropped(spark):
    """A NULL-keyed row present unchanged in both snapshots must be
    dropped — with plain equality keys it would never meet its
    counterpart and surface as a phantom delete + insert."""
    from autosinapi_spark.operators.sinks import snapshot_diff

    old = spark.createDataFrame(
        [(None, "a"), (1, "b")], "k int, v string"
    )
    new = spark.createDataFrame(
        [(None, "a"), (1, "c")], "k int, v string"
    )
    rows = {
        (r.k, r.change_type)
        for r in snapshot_diff(old, new, ["k"], ["v"]).collect()
    }
    assert rows == {(1, "update")}

    changed = spark.createDataFrame([(None, "z")], "k int, v string")
    rows2 = {
        (r.k, r.change_type, r.old_v, r.new_v)
        for r in snapshot_diff(old, changed, ["k"], ["v"]).collect()
    }
    assert (None, "update", "a", "z") in rows2
    assert (1, "delete", "b", None) in rows2


def test_snapshot_diff_rejects_colliding_output_names(spark):
    import pytest as _pytest

    from autosinapi_spark.operators.sinks import snapshot_diff

    df = spark.createDataFrame([(1, "a", "b")], "k int, v string, old_v string")
    with _pytest.raises(ValueError, match="collision"):
        snapshot_diff(df, df, ["old_v"], ["v"])  # pk == generated old_v
    with _pytest.raises(ValueError, match="collision"):
        snapshot_diff(df, df, ["k"], ["v"], change_col="old_v")
    df2 = spark.createDataFrame([(1, "a")], "k int, v string")
    with _pytest.raises(ValueError, match="overlap"):
        snapshot_diff(df2, df2, ["k"], ["k", "v"])


def test_snapshot_diff_rejects_reserved_marker_names(spark):
    import pytest as _pytest

    from autosinapi_spark.operators.sinks import snapshot_diff

    df = spark.createDataFrame(
        [(1, "a", "b")], "`__o_present` int, v string, `__n_present` string"
    )
    with _pytest.raises(ValueError, match="reserved"):
        snapshot_diff(df, df, ["__o_present"], ["v"])
    with _pytest.raises(ValueError, match="reserved"):
        snapshot_diff(df, df, ["v"], ["__n_present"])
    df2 = spark.createDataFrame([(1, "a")], "k int, v string")
    with _pytest.raises(ValueError, match="reserved"):
        snapshot_diff(df2, df2, ["k"], ["v"], change_col="__o_present")
