"""Read committed outputs back with plain Python and compare them with the
generator's predictions.

Every table is reduced to ``(row count, order-independent digest)``: the
digest is the sum modulo 2**64 of a 64-bit BLAKE2b of each row's ``repr``,
so row order and file layout do not matter but every value does.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
from urllib.parse import unquote

import pyarrow.parquet as pq


def digest(rows) -> tuple[int, int]:
    n, acc = 0, 0
    for r in rows:
        h = hashlib.blake2b(repr(r).encode("utf-8"), digest_size=8).digest()
        acc = (acc + int.from_bytes(h, "little")) & 0xFFFFFFFFFFFFFFFF
        n += 1
    return n, acc


def data_files(root: str) -> list[str]:
    """Committed data files: everything but hidden/checksum and marker files."""
    out = []
    for d, _dirs, files in os.walk(root):
        out += [os.path.join(d, f) for f in files if not f.startswith((".", "_"))]
    return out


def output_mb(root: str) -> float:
    return sum(os.path.getsize(f) for f in data_files(root)) / (1 << 20)


def parquet_rows(path: str, columns: list[str]) -> list[tuple]:
    rows = []
    for f in sorted(data_files(path)):
        t = pq.read_table(f, columns=columns)
        rows += list(zip(*(t.column(c).to_pylist() for c in columns)))
    return rows


def json_rows(path: str, columns: list[str]) -> list[tuple]:
    rows = []
    for f in sorted(data_files(path)):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    obj = json.loads(line)
                    rows.append(tuple(obj.get(c) for c in columns))
    return rows


def partitioned_text_rows(path: str, key: str) -> list[tuple]:
    """``(partition value, line)`` from a ``partitionBy(key).text`` output."""
    rows = []
    prefix = key + "="
    for d in sorted(glob.glob(os.path.join(path, prefix + "*"))):
        value = unquote(os.path.basename(d)[len(prefix):])
        for f in data_files(d):
            with open(f, encoding="utf-8", newline="") as fh:
                rows += [(value, ln) for ln in fh.read().split("\n") if ln]
    return rows


def compare(name: str, got: list, want: list, problems: list[str]) -> None:
    g, w = digest(got), digest(want)
    if g != w:
        problems.append(f"{name}: got {g[0]} rows digest {g[1]:016x}, want {w[0]} rows digest {w[1]:016x}")
