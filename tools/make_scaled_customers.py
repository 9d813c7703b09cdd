"""Derive a larger `customer` table for scaling runs (SCALING.md),
for the operators whose queries synthesize multi-line / CDC inputs
from customer fields (c4_line_filter, line_dedup, snapshot_diff,
scd2_apply). Replication with OFFSET KEYS and suffixed names — unlike
the documents generator, verbatim-value replication is exactly right
here: these operators key on c_custkey (all distinct by construction)
and the line/CDC semantics derive from per-row field values, so
copying preserves the workload's shape while growing its volume.

Also drops a copy of the sf0.1 documents table into the output dir,
so a `python bench.py --sf-dir <out_dir>` run can mix document queries
in with the customer ones.

Usage: python tools/make_scaled_customers.py [out_dir] [factor]
       (defaults: <repo>/.scratch/cust10x 10)
"""

from __future__ import annotations

import os
import shutil
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"
# derived corpora go to the repo's git-ignored .scratch/
SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch")


def main() -> None:
    out_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(SCRATCH, "cust10x")
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    os.makedirs(out_dir, exist_ok=True)
    t = pq.read_table(f"{SRC}/customer.parquet")
    parts = []
    for i in range(factor):
        p = t
        if i > 0:
            p = p.set_column(
                t.schema.get_field_index("c_custkey"),
                "c_custkey",
                pc.add(t["c_custkey"], i * 10_000_000),
            ).set_column(
                t.schema.get_field_index("c_name"),
                "c_name",
                pc.binary_join_element_wise(
                    pc.cast(t["c_name"], pa.string()), f"_r{i}", ""
                ),
            )
        parts.append(p)
    out = pa.concat_tables(parts)
    pq.write_table(out, f"{out_dir}/customer.parquet")
    shutil.copyfile(f"{SRC}/documents.parquet", f"{out_dir}/documents.parquet")
    print(f"wrote {out.num_rows} customers -> {out_dir}/customer.parquet")


if __name__ == "__main__":
    main()
