"""Correctness checks run by every benchmark run.

- Batch queries are compared against their DuckDB ``ORACLE_SQL`` with the
  comparison ``tools/oracle_check.py`` uses (rows, columns, dtype kinds and
  order-insensitive values).
- Streaming changelogs are folded by ``(key, fk)`` -- a row with both
  values NULL is a retraction and removes the pair -- and the fold must
  equal the batch golden ``latest(left) JOIN latest(right)`` of the log
  prefix the engine consumed.
- Results without a fast oracle are reduced to an order-insensitive
  fingerprint and pinned.
"""

from __future__ import annotations

import hashlib
import importlib.util
import os

import pandas as pd


def load_oracle_check(repo_root: str):
    """``tools/oracle_check.py`` as a module (``tools`` is not a package)."""
    path = os.path.join(repo_root, "tools", "oracle_check.py")
    spec = importlib.util.spec_from_file_location("oracle_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def duck_views(data_dir: str, tables: list[str]):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def fingerprint(pdf: pd.DataFrame) -> str:
    """Order-insensitive digest of a result: columns sorted by name, every
    value rendered as text, rows sorted, then hashed."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(map(str, r)) for r in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256("\x1e".join(cols).encode())
    for r in rows:
        h.update(b"\x1e" + r.encode())
    return f"{len(rows)}:{h.hexdigest()[:16]}"


def fold(batches) -> tuple[dict, list[str]]:
    """Fold emitted changelog batches, oldest first. Each batch is an
    iterable of ``(key, fk, left_value, right_value)``. A pair emitted twice
    within one batch is ambiguous and reported as a problem."""
    state: dict[tuple, tuple] = {}
    problems: list[str] = []
    for i, rows in enumerate(batches):
        seen = set()
        for key, fk, lv, rv in rows:
            pair = (key, fk)
            if pair in seen:
                problems.append(f"batch {i}: pair {pair} emitted twice")
            seen.add(pair)
            if lv is None and rv is None:
                state.pop(pair, None)
            else:
                state[pair] = (lv, rv)
    return state, problems


def golden(log_rows) -> dict:
    """Inner ``latest(left) JOIN latest(right)`` of an update log given as
    ``(seq, side, key, fk, payload)`` rows; NULL payloads are tombstones."""
    left: dict[str, tuple] = {}
    right: dict[str, str | None] = {}
    for _seq, side, key, fk, payload in sorted(log_rows, key=lambda r: r[0]):
        if side == "left":
            left[key] = (fk, payload)
        else:
            right[fk] = payload
    out = {}
    for key, (fk, lp) in left.items():
        rp = right.get(fk)
        if lp is not None and rp is not None:
            out[(key, fk)] = (lp, rp)
    return out


def diff_fold(got: dict, want: dict) -> list[str]:
    problems = []
    missing = [p for p in want if p not in got]
    extra = [p for p in got if p not in want]
    wrong = [p for p in want if p in got and got[p] != want[p]]
    for label, pairs in (("missing", missing), ("extra", extra), ("wrong value", wrong)):
        if pairs:
            problems.append(f"{len(pairs)} {label} pairs, e.g. {pairs[:3]}")
    return problems
