"""Output checks against independent DuckDB oracles.

Batch queries are checked by digest: the canonical row form of
``tests/_oracle.rows_key`` (columns sorted by name, values normalized, rows
sorted) hashed with SHA-256. The oracle side is the registry's DuckDB SQL
(``ORACLES[name]``) run once over the fixture files by ``make_digests.py``;
its digests are stored in ``oracle_digests.json`` together with a
fingerprint of every fixture file, because some oracles are far too slow
to run per benchmark run.

Gateway statements are checked per run against DuckDB running the same
statement text (see ``canonical_result``).
"""

from __future__ import annotations

import functools
import hashlib
import importlib.util
import json
import os
from decimal import Decimal

HERE = os.path.dirname(os.path.abspath(__file__))
DIGESTS_PATH = os.path.join(HERE, "oracle_digests.json")


@functools.cache
def _repo_oracle():
    """``tests/_oracle.py``, loaded by path: ``tests`` is not a package,
    so a module of that name elsewhere on the path could shadow it."""
    path = os.path.join(os.path.dirname(HERE), "tests", "_oracle.py")
    spec = importlib.util.spec_from_file_location("_perfbench_oracle", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def fixtures_dir(sf: str) -> str:
    return os.path.join(HERE, "fixtures", f"sf{sf}")


def fingerprint_fixtures(sf_dir: str) -> dict[str, str]:
    """SHA-256 of every parquet file of a fixture directory."""
    out = {}
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            h = hashlib.sha256()
            with open(os.path.join(sf_dir, name), "rb") as f:
                h.update(f.read())
            out[name] = h.hexdigest()
    return out


def digest(rows, colnames) -> str:
    """Order-insensitive digest of a result, by ``rows_key`` semantics."""
    cols = [c.lower() for c in colnames]
    key = {"columns": sorted(cols), "rows": _repo_oracle().rows_key(rows, cols)}
    return hashlib.sha256(json.dumps(key).encode()).hexdigest()


def load_digests(sf_dir: str) -> dict:
    """Stored oracle digests; raises if the fixtures are not the ones the
    digests were computed from."""
    with open(DIGESTS_PATH) as f:
        stored = json.load(f)
    if fingerprint_fixtures(sf_dir) != stored["fixtures"]:
        raise RuntimeError(
            f"fixture files in {sf_dir} differ from the fingerprints in "
            f"{DIGESTS_PATH}; rerun make_digests.py"
        )
    return stored["queries"]


def check_rows(name: str, rows, colnames, expected: dict) -> str | None:
    """None when the result matches the oracle digest, else the reason."""
    if len(rows) != expected["rows"]:
        return f"{name}: {len(rows)} rows, oracle has {expected['rows']}"
    if digest(rows, colnames) != expected["digest"]:
        return f"{name}: values differ from the oracle"
    return None


def self_test(rows, is_wrong) -> list[str]:
    """Confirm that a check flags a perturbed row, a dropped row and an
    empty result. ``rows`` (two or more) passed the check ``is_wrong``;
    returns the variants of them that it did NOT flag (empty when the check
    works)."""
    first = list(rows[0])
    first[0] = _perturb(first[0])
    variants = {"perturbed row": [tuple(first), *rows[1:]],
                "dropped row": rows[1:], "empty result": []}
    return [label for label, v in variants.items() if not is_wrong(v)]


def _perturb(v):
    if isinstance(v, bool):
        return not v
    if isinstance(v, (int, float, Decimal)):
        return v + 1
    if isinstance(v, str):
        return v + "~"
    if v is None:
        return 0
    return repr(v)


def canonical_result(colnames, types, rows) -> tuple:
    """Canonical multiset of a gateway or DuckDB result, for exact compare.

    ``types`` are the gateway's declared column types, applied to both
    sides by position: the gateway sends decimals as strings, DuckDB
    returns ``Decimal``; integers and doubles compare exactly."""
    conv = []
    for t in types:
        t = t.upper()
        if t.startswith("DECIMAL"):
            conv.append(lambda v: None if v is None else
                        format(Decimal(str(v)).quantize(Decimal("0.0001")), "f"))
        elif t in ("DOUBLE", "FLOAT"):
            conv.append(lambda v: None if v is None else repr(float(v)))
        elif t in ("BIGINT", "INT", "INTEGER", "SMALLINT", "TINYINT"):
            conv.append(lambda v: None if v is None else int(v))
        else:
            conv.append(lambda v: None if v is None else str(v))
    body = sorted(
        tuple(repr(f(v)) for f, v in zip(conv, row)) for row in rows
    )
    return tuple(c.lower() for c in colnames), tuple(body)
