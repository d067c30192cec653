"""Correctness gate: pure checks over collected outputs.

A failed check raises GateError; the runner then exits non-zero without
printing a result line, so a wrong answer never yields a number.
"""

from __future__ import annotations

from collections import Counter


class GateError(AssertionError):
    pass


def _fail(where: str, msg: str) -> None:
    raise GateError(f"{where}: {msg}")


def check_table(rows, expected: dict[str, str], where: str) -> None:
    """`rows` are (url, raw_text) pairs of a whole output: exactly one row
    per expected url, each carrying exactly the expected text."""
    counts = Counter(url for url, _ in rows)
    dups = [u for u, n in counts.items() if n > 1]
    if dups:
        _fail(where, f"{len(dups)} urls appear more than once, e.g. {dups[0]}")
    if counts.keys() != expected.keys():
        diff = sorted(counts.keys() ^ expected.keys())
        _fail(where, f"{len(diff)} urls missing or unexpected, e.g. {diff[0]}")
    for url, raw_text in rows:
        if raw_text != expected[url]:
            _fail(where, f"raw_text of {url} differs from the generator text")


def check_oracle(name: str, rows, columns, expected: tuple[int, str]) -> None:
    """Order-insensitive value hash of an operator's output against the
    DuckDB oracle's, with the repo's canonical hash (tools/check_oracles)."""
    from tools.check_oracles import table_hash

    n, h = table_hash(rows, list(columns))
    if (n, h) != tuple(expected):
        _fail(name, f"{n} rows hash {h}; oracle has {expected[0]} rows "
                    f"hash {expected[1]}")
