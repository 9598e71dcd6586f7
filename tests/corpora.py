"""Derived test corpora: a copy of a generated corpus with some of its
tables rewritten (emptied, duplicated, ...), for oracle checks on edge
shapes the generated data never has."""

from __future__ import annotations

import os
import shutil
from typing import Callable

import pyarrow as pa
import pyarrow.parquet as pq


def derived_corpus(
    out, src: str, rewrites: dict[str, Callable[[pa.Table], pa.Table]]
) -> str:
    """Copy every file of `src` into `out`, then replace each table named
    in `rewrites` by `rewrites[name](table)`. Returns `out` as a path."""
    for name in os.listdir(src):
        shutil.copyfile(os.path.join(src, name), os.path.join(out, name))
    for name, rewrite in rewrites.items():
        t = pq.read_table(os.path.join(src, f"{name}.parquet"))
        pq.write_table(rewrite(t), os.path.join(out, f"{name}.parquet"))
    return str(out)


def empty(t: pa.Table) -> pa.Table:
    """The table's schema with no rows."""
    return t.slice(0, 0)
