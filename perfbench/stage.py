"""The workloads' input tables: the fixture tables, copied into a run.

``fixtures/sf0.01/`` holds the ten parquet files of the sf0.01 test
fixtures (FIXTURES.md), byte for byte, so a checkout carries the data the
registered keys and their DuckDB oracles are graded on. Every run stages
them into its own directory and deletes them at the end.

With ``copies > 1`` the stage follows ``scripts/dup_stress.py``
``build_stage``: each id-keyed table is written ``copies`` times with its
id column shifted by ``SHIFT * i``; the dimension tables keep one copy.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
SF = 0.01
FIXTURES = os.path.join(HERE, "fixtures", f"sf{SF}")

# The id columns and shift of scripts/dup_stress.py.
ID_COLS = {
    "documents": "doc_id",
    "embeddings": "vec_id",
    "events": "event_id",
    "lineitem": "l_orderkey",
}
SHIFT = 10_000_000


def stage(out_dir: str, copies: int = 1) -> str:
    """Write the input tables under out_dir; returns out_dir.

    Each table is ``<table>.parquet``: the fixture file itself, or for an
    id-keyed table staged ``copies`` times a directory with one part file
    per copy, the layout a Spark union-and-write of the copies produces.
    """
    os.makedirs(out_dir)
    for name in sorted(os.listdir(FIXTURES)):
        src = os.path.join(FIXTURES, name)
        dst = os.path.join(out_dir, name)
        id_col = ID_COLS.get(name.split(".")[0])
        if copies == 1 or id_col is None:
            shutil.copyfile(src, dst)
            continue
        tbl = pq.read_table(src)
        pos = tbl.schema.get_field_index(id_col)
        ids = tbl.column(id_col)
        os.makedirs(dst)
        for i in range(copies):
            part = tbl.set_column(
                pos, tbl.schema.field(pos), pc.add(ids, i * SHIFT)
            )
            pq.write_table(part, os.path.join(dst, f"part-{i:05d}.parquet"))
    return out_dir

