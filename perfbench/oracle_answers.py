"""Write the stored oracle answers for the ``registry_heavy`` slice.

    python3 perfbench/oracle_answers.py

Runs each sliced query's ``oracle_sql()`` in DuckDB over ``data/sf0.1``
and writes columns, types and rows to ``data/oracle_sf0.1.json``. Run it
again when an oracle in ``__spark_entry__`` changes.
"""

from __future__ import annotations

import json
import sys

from registry_heavy import HERE, ORACLE_FILE, SF_DIR, SLICE, TABLES


def main() -> int:
    import duckdb

    sys.path.insert(0, str(HERE.parent))
    import __spark_entry__ as entry

    oracles = entry.oracle_sql()
    out = {}
    for name in SLICE:
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR / t}.parquet')")
            rel = con.sql(oracles[name])
            out[name] = {"columns": list(rel.columns), "types": [str(t) for t in rel.types],
                         "rows": [list(r) for r in rel.fetchall()]}
        finally:
            con.close()
        print(name, len(out[name]["rows"]), "rows", flush=True)
    ORACLE_FILE.write_text(json.dumps(out) + "\n", encoding="utf-8")
    return 0


if __name__ == "__main__":
    sys.exit(main())
