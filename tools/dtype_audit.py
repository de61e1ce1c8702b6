"""Cross-engine dtype audit — catches the round-1 `fn_math`/`llm_train_split`
hash failures class-wide.

The driver's value hash is dtype/render-sensitive (exact-equal values still
hash-mismatched when DuckDB returned TINYINT/HUGEINT where Spark returned
DOUBLE/BIGINT). This tool runs every oracle-backed query on BOTH engines at a
small sf and flags any column whose pandas dtype KIND (bool/int/float/object/
datetime) differs between `df.toPandas()` and `con.fetchdf()`.

    python tools/dtype_audit.py [--sf sf0.001] [names...]
"""

from __future__ import annotations

import argparse
import sys

import duckdb
import pandas as pd

sys.path.insert(0, ".")

from backup_repo_spark import registry
from backup_repo_spark.session import TABLES, get_spark


def kind(s: pd.Series) -> str:
    k = s.dtype.kind
    # bool and int render differently under str() ('True' vs '1') — keep
    # them distinct; all int widths are equivalent ('1' either way).
    return {"b": "bool", "i": "int", "u": "int", "f": "float", "M": "ts", "m": "td"}.get(
        k, "obj"
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="sf0.001")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    sf_dir = f"/root/testdata/{args.sf}"

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    names = args.names or [n for n in registry.QUERIES if n in registry.ORACLES]
    bad = 0
    for name in names:
        try:
            spdf = registry.QUERIES[name](spark, sf_dir).toPandas()
            ddf = con.execute(registry.ORACLES[name]).fetchdf()
        except Exception as e:  # noqa: BLE001
            print(f"ERR  {name}: {str(e).splitlines()[0][:140]}")
            bad += 1
            continue
        sk = {c: kind(spdf[c]) for c in spdf.columns}
        dk = {c: kind(ddf[c]) for c in ddf.columns}
        diffs = {
            c: (sk.get(c), dk.get(c))
            for c in set(sk) | set(dk)
            if sk.get(c) != dk.get(c)
        }
        # Empty frames surface as 'obj' on the DuckDB side — only real kinds count.
        diffs = {c: v for c, v in diffs.items() if len(spdf) and len(ddf)}
        if diffs:
            print(f"KIND {name}: {diffs}")
            bad += 1
    print(f"done: {len(names)} checked, {bad} flagged")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
