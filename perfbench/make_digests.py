"""Recompute ``oracle_digests.json``: the DuckDB oracle's result digest
for every batch row on the generated tables, per scale factor, plus the
tables' content fingerprints (a run refuses to compare against digests
made from different data).

Usage, from the checkout root: ``python3 perfbench/make_digests.py``
(takes about a minute; only needed when the generator or a row's oracle
changes)."""

from __future__ import annotations

import json
import sys
import time

import batch
import datagen
from common import HERE, ROOT, WORK, arrow_digest

SCALES = (0.1, 0.001)


def main() -> int:
    import duckdb

    sys.path.insert(0, str(ROOT))
    from xcube_spark.queries import TABLES, load_all

    registry = load_all()
    out = {}
    for sf in SCALES:
        data = str(WORK / "data" / f"sf{sf}")
        prints = datagen.write_tables(data, sf)
        con = duckdb.connect()
        for t in TABLES:
            if t in datagen.TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{data}/{t}.parquet'")
        rows = {}
        for name in batch.ROWS:
            t0 = time.time()
            n, sha = arrow_digest(
                con.execute(registry[name].sql).fetch_arrow_table())
            rows[name] = {"rows": n, "sha256": sha}
            print(f"sf{sf} {name}: {n} rows "
                  f"({time.time() - t0:.1f}s)", flush=True)
        out[f"sf{sf}"] = {"tables": prints, "queries": rows}
    with open(HERE / "oracle_digests.json", "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
