#!/usr/bin/env python3
"""Compare two graft.Verify output directories.

Usage: python3 tools/dumpdiff.py <verifyOutA> <verifyOutB>

Checks that
  - both directories hold the same set of query dumps, and every dump is
    row-identical (columns sorted by name, rows sorted, via selfcheck's
    `canon`);
  - oracle_sql.json parses to an equal dict in both.

Prints one line per difference and a summary; exits 1 on any
difference, 0 when the two runs agree. Use it to show that a refactor
left every query result and every oracle text unchanged.
"""
import json
import sys
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent))
from selfcheck import canon  # noqa: E402


def load(res_dir: Path) -> pd.DataFrame:
    df = pd.read_parquet(res_dir)
    try:
        return canon(df)
    except TypeError:
        # array/struct columns are unorderable: compare their text form
        for c in df.columns:
            if df[c].dtype == object:
                df[c] = df[c].map(repr)
        return canon(df)


def dumps(out_dir: Path) -> set:
    return {p.name for p in out_dir.iterdir() if p.is_dir()}


def main(a: str, b: str) -> int:
    da, db = Path(a), Path(b)
    diffs = 0
    qa, qb = dumps(da), dumps(db)
    for name in sorted(qa ^ qb):
        print(f"DIFF {name}: only in {a if name in qa else b}")
        diffs += 1
    for name in sorted(qa & qb):
        x, y = load(da / name), load(db / name)
        if list(x.columns) != list(y.columns):
            print(f"DIFF {name}: columns {list(x.columns)} != {list(y.columns)}")
        elif len(x) != len(y):
            print(f"DIFF {name}: rows {len(x)} != {len(y)}")
        elif not x.equals(y):
            cols = [c for c in x.columns if not x[c].equals(y[c])]
            print(f"DIFF {name}: values differ in {cols}")
        else:
            continue
        diffs += 1
    oa = json.loads((da / "oracle_sql.json").read_text())
    ob = json.loads((db / "oracle_sql.json").read_text())
    for key in sorted(oa.keys() | ob.keys()):
        if oa.get(key) != ob.get(key):
            where = "both" if key in oa and key in ob else (a if key in oa else b)
            print(f"DIFF oracle_sql.json[{key}]: "
                  f"{'text differs' if where == 'both' else 'only in ' + where}")
            diffs += 1
    print(f"{len(qa & qb)} dumps compared, {len(oa)} / {len(ob)} oracle keys; "
          f"{diffs} differences")
    return 1 if diffs else 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
