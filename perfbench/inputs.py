"""Seeded inputs: the base tables with every table's row order permuted
by the seed and re-written with a seed-chosen row-group size. Rows,
values and each column's parquet physical/logical type stay the same,
so query results do not change; file layout, partition contents and
summation order do. A workload may also scale `documents` up by
copy-distinct copies. One directory per (seed, copies) is cached."""
import json
import os
import shutil
import zlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEEP_SEEDS = 24  # cached seed directories kept (inputs and oracle results)


def column_types(path: Path) -> list:
    return [(c.path, c.physical_type, str(c.logical_type))
            for c in pq.ParquetFile(path).schema]


def scale_documents(table: pa.Table, copies: int) -> pa.Table:
    """`copies` copies of `documents`, as tools/gen_sf.py writes them:
    copy k > 0 shifts doc_id by max(doc_id) + 1 per copy and suffixes
    every 3rd word with "_k", so every 3-gram shingle of a copy is
    copy-distinct and pair counts grow linearly; n_chars follows the
    rewritten text."""
    if copies <= 1:
        return table
    stride = max(table.column("doc_id").to_pylist()) + 1
    texts = table.column("text").to_pylist()
    parts = [table]
    for k in range(1, copies):
        text = [None if t is None else " ".join(
            w + f"_{k}" if i % 3 == 2 else w for i, w in enumerate(t.split(" ")))
            for t in texts]
        cols = {"doc_id": [d + k * stride for d in table.column("doc_id").to_pylist()],
                "text": text,
                "n_chars": [None if t is None else len(t) for t in text]}
        parts.append(pa.table({c: pa.array(cols[c], table.schema.field(c).type)
                               if c in cols else table.column(c)
                               for c in table.column_names}, schema=table.schema))
    return pa.concat_tables(parts)


def seeded_inputs(base: Path, cache: Path, seed: int, doc_copies: int = 1) -> tuple:
    """Return (directory, manifest) of the inputs for `seed`, with
    `documents` scaled to `doc_copies` copies."""
    out = cache / (f"seed-{seed}" if doc_copies <= 1 else f"seed-{seed}-docs{doc_copies}")
    manifest_path = out / "manifest.json"
    if manifest_path.is_file():
        os.utime(out)
        return out, json.loads(manifest_path.read_text())
    tmp = cache / f".seed-{seed}.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    tables = {}
    for src in sorted(base.glob("*.parquet")):
        name = src.stem
        rng = np.random.default_rng([seed, zlib.crc32(name.encode())])
        table = pq.read_table(src)
        if name == "documents":
            table = scale_documents(table, doc_copies)
        n = table.num_rows
        table = table.take(rng.permutation(n))
        dst = tmp / src.name
        pq.write_table(table, dst, version="2.6", coerce_timestamps=None,
                       row_group_size=int(rng.integers(max(1, n // 8), n + 1)) if n else None)
        if column_types(dst) != column_types(src):
            raise ValueError(f"{name}: parquet column types changed on rewrite")
        tables[name] = {"rows": n, "bytes": dst.stat().st_size}
    manifest = {"seed": seed, "base": str(base), "doc_copies": doc_copies, "tables": tables}
    (tmp / "manifest.json").write_text(json.dumps(manifest, indent=1))
    try:
        tmp.rename(out)
    except OSError:  # another run created it first
        shutil.rmtree(tmp, ignore_errors=True)
    prune(cache)
    return out, json.loads(manifest_path.read_text())


def prune(cache: Path) -> None:
    dirs = sorted((d for d in cache.glob("seed-*") if d.is_dir()),
                  key=lambda d: d.stat().st_mtime, reverse=True)
    for d in dirs[KEEP_SEEDS:]:
        shutil.rmtree(d, ignore_errors=True)
