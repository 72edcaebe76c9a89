"""Output checks, kept outside every timed interval.

Query rows are reduced to a digest of their normalized, order-insensitive
form and compared with the digest of the query's DuckDB oracle
(``registry.ORACLES``) on the same generated tables. The oracle digests are
computed once and committed in ``expected.json``, so a run needs no DuckDB.

Refresh them (after changing the table generator) with::

    python3 perfbench/check.py
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected.json")


def normalize(rows: list[tuple], ndigits: int = 6) -> list[tuple]:
    """The repository's oracle comparison form: floats rounded, NaN and
    NULL made comparable, rows sorted."""
    out = []
    for row in rows:
        norm = []
        for v in row:
            if isinstance(v, float):
                norm.append("NaN" if math.isnan(v) else round(v, ndigits))
            elif isinstance(v, bool):
                norm.append(bool(v))
            else:
                norm.append(str(v) if v is not None else None)
        out.append(tuple(norm))
    return sorted(out, key=lambda r: tuple((x is None, str(x)) for x in r))


def digest(columns: list[str], rows: list[tuple]) -> str:
    """Digest of a result whose columns are taken in sorted-name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    cols = [columns[i] for i in order]
    norm = normalize([tuple(r[i] for i in order) for r in rows])
    return hashlib.sha256(repr((cols, norm)).encode()).hexdigest()


def load_expected() -> dict[str, str]:
    with open(EXPECTED) as fh:
        return json.load(fh)


def write_expected() -> None:
    """Run every benchmark row's oracle on DuckDB over the generated
    tables."""
    import duckdb

    sys.path.insert(0, os.path.dirname(HERE))
    sys.path.insert(0, HERE)
    from datagen import write_tables
    from workloads import SF, TABLE_SEED, TABLES, WORKLOADS

    from mit_6_5840_mapreduce_with_go_spark import registry
    from mit_6_5840_mapreduce_with_go_spark.sources import TABLE_NAMES

    registry.load_all()
    names = sorted({r for w in WORKLOADS.values() for r in w.rows})
    tables = write_tables(os.path.join(HERE, ".work", TABLES), SF, TABLE_SEED)
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    expected = {}
    for name in names:
        cur = con.execute(registry.ORACLES[name])
        expected[name] = digest([d[0] for d in cur.description], cur.fetchall())
        print(f"{name} {expected[name][:12]}", flush=True)
    with open(EXPECTED, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    write_expected()
