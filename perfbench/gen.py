"""Seeded input generators and the reference's expected-mean formula.

Every input the benchmark hands the engine comes from here, and the same
seed always gives the same inputs. Each workload draws from its own
numpy stream (``default_rng([seed, stream])``), so changing one
workload's generator leaves the others' inputs unchanged.
"""

from __future__ import annotations

import numpy as np

# Rows of the (ID, NUM0..NUM6) table staged into Derby. The reference test
# uses 1.4M rows; a tenth of that keeps a whole wsi_roundtrip process (JVM
# start, staging, warm-up and the timed runs) near 60 s on 4 cores.
WSI_ROWS = 140_000
# Comma-separated 7-integer lines staged as text for the streaming job.
SCRIPT_LINES = 20_000
# Values are drawn from [0, VALUE_MAX); means are almost never exact, so
# the reference formula's tripwire term is live on every column.
VALUE_MAX = 1000
NUM_COLS = 7

_WSI_STREAM, _SCRIPT_STREAM, _PERMUTE_STREAM = 1, 2, 3


def _rng(seed: int, stream: int, *extra: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream, *extra])


def wsi_values(seed: int, rows: int = WSI_ROWS) -> np.ndarray:
    """NUM0..NUM6 of the Derby input table, shape ``(rows, 7)``; row i has ID i+1."""
    return _rng(seed, _WSI_STREAM).integers(0, VALUE_MAX, size=(rows, NUM_COLS))


def script_values(seed: int, lines: int = SCRIPT_LINES) -> np.ndarray:
    """The integers behind the staged text lines, shape ``(lines, 7)``."""
    return _rng(seed, _SCRIPT_STREAM).integers(0, VALUE_MAX, size=(lines, NUM_COLS))


def as_text_lines(values: np.ndarray) -> str:
    """One ``a,b,c,d,e,f,g`` line per row, newline-terminated."""
    return "".join(",".join(map(str, row)) + "\n" for row in values.tolist())


def permutation(seed: int, table: str, rows: int) -> np.ndarray:
    """Row order for one staged fixture table (keyed by table name)."""
    key = int.from_bytes(table.encode(), "little") % (2**63)
    return _rng(seed, _PERMUTE_STREAM, key).permutation(rows)


def java_int(x: int) -> int:
    """Java's ``(int)`` narrowing of a long: keep the low 32 bits, signed."""
    return (x + 2**31) % 2**32 - 2**31


def reference_mean(s: int, n: int) -> int:
    """TestReducer.java's ``(int)((sum / count) - (sum % count) * 100)``.

    ``//`` equals Java's truncating ``/`` here because the reference's
    domain (parsed naturals) keeps ``s`` non-negative.
    """
    if s < 0 or n <= 0:
        raise ValueError(f"reference mean needs s >= 0 and n > 0, got {s}, {n}")
    return java_int((s // n) - (s % n) * 100)


def expected_means(values: np.ndarray) -> dict[int, int]:
    """Column index -> reference mean of that column."""
    n = values.shape[0]
    return {i: reference_mean(int(s), n)
            for i, s in enumerate(values.sum(axis=0, dtype=np.int64))}
