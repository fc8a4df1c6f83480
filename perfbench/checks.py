"""Inputs and output checks for the catalog workloads.

The catalog ops run on fixture tables made by ``tools/gen_testdata.py``
with a fixed data seed, so their expected results are computed once,
from each query's DuckDB oracle, and stored in ``perfbench/expected/``
next to a fingerprint of the tables they were computed on. A run
regenerates the tables, refuses to check against results computed on
other data, and compares with the canonicalization and strict float
tolerance of ``tests/oracle_check.py``.

Regenerate the stored results after a change to an oracle, to the
generator or to the op list:

    python3 perfbench/checks.py
"""

from __future__ import annotations

import hashlib
import json
import math
import shutil
import sys
from pathlib import Path

import pandas as pd

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
EXPECTED = HERE / "expected"
for p in (str(REPO), str(REPO / "tests")):
    if p not in sys.path:
        sys.path.insert(0, p)

from oracle_check import (  # noqa: E402
    STRICT_ABS_TOL,
    STRICT_REL_TOL,
    _canon,
    _dtype_tag,
    duckdb_con,
)

#: The fixture scale and generator seed of the catalog workloads. The
#: run's --seed never changes the tables, only the op order.
SF = 0.01
DATA_SEED = 42


def fixture_dir(work: Path) -> Path:
    """Generate (once per checkout) and return the fixture tables."""
    from tools.gen_testdata import generate

    out = work / "data" / f"sf{SF:g}"
    done = out / ".complete"
    if not done.exists():
        shutil.rmtree(out, ignore_errors=True)
        generate(out, SF, DATA_SEED)
        done.touch()
    return out


def fingerprint(sf_dir: Path) -> str:
    h = hashlib.sha256()
    for p in sorted(sf_dir.glob("*.parquet")):
        h.update(p.name.encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def load_expected(name: str) -> pd.DataFrame:
    return pd.read_parquet(EXPECTED / f"{name}.parquet")


def check_fixtures(sf_dir: Path) -> None:
    manifest = json.loads((EXPECTED / "MANIFEST.json").read_text())
    got = fingerprint(sf_dir)
    if got != manifest["fixture_sha256"]:
        raise RuntimeError(
            f"fixture tables in {sf_dir} differ from the ones the expected "
            f"results were computed on ({got} != {manifest['fixture_sha256']}); "
            "regenerate them with: python3 perfbench/checks.py"
        )


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` matches ``want`` as the oracle gate would
    accept it (strict float tolerance), else the first difference."""
    got, want = _canon(got), _canon(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != {len(want)}"
    for c in got.columns:
        if _dtype_tag(got[c]) != _dtype_tag(want[c]):
            return f"column {c}: dtype {_dtype_tag(got[c])} != {_dtype_tag(want[c])}"
    for c in got.columns:
        g, w = got[c], want[c]
        if _dtype_tag(g) == "float":
            for i, (x, y) in enumerate(zip(g.to_numpy("float64"), w.to_numpy("float64"))):
                if not (math.isnan(x) and math.isnan(y)) and not math.isclose(
                    x, y, rel_tol=STRICT_REL_TOL, abs_tol=STRICT_ABS_TOL
                ):
                    return f"column {c} row {i}: {x!r} != {y!r}"
        else:
            diff = g.astype(str) != w.astype(str)
            if diff.any():
                i = int(diff.to_numpy().argmax())
                return f"column {c} row {i}: {g.iloc[i]!r} != {w.iloc[i]!r}"
    return None


def regenerate(names: list[str], work: Path) -> None:
    """Run each query's oracle on the fixture tables and store it."""
    from cost_of_living_data_etl_spark.plans.catalog import catalog

    specs = catalog()
    sf_dir = fixture_dir(work)
    EXPECTED.mkdir(exist_ok=True)
    for old in EXPECTED.glob("*.parquet"):
        old.unlink()
    con = duckdb_con(str(sf_dir))
    try:
        for name in names:
            df = con.execute(specs[name].oracle).fetchdf()
            df.to_parquet(EXPECTED / f"{name}.parquet", index=False)
            print(f"{name}: {len(df)} rows", flush=True)
    finally:
        con.close()
    (EXPECTED / "MANIFEST.json").write_text(json.dumps({
        "sf": SF,
        "data_seed": DATA_SEED,
        "fixture_sha256": fingerprint(sf_dir),
        "queries": names,
    }, indent=1) + "\n")


if __name__ == "__main__":
    from workloads import CATALOG_OPS

    regenerate(sorted({q for ops in CATALOG_OPS.values() for q in ops}), HERE / "work")
