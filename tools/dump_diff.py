#!/usr/bin/env python3
"""Compare two graft.Verify dumps query by query.

Usage: python3 tools/dump_diff.py <dumpA> <dumpB>

Verify writes each output as one sorted parquet file, so two dumps of
the same rows hold the same data pages. The footers still differ
between JVMs: parquet-mr lists each column chunk's encodings from a
hash set, in an order that changes from run to run. So a query counts
as identical when everything before the footer is byte-identical and
the decoded footer (schema, key-value metadata, row groups) and rows,
in order, are equal.

It also compares the two dumps' oracle_sql.json key by key, parsed:
Verify writes the manifest by iterating a map, so its key order is
not part of what it says. Exits 1 if any query output or oracle
differs or is missing from one dump.
"""
import glob
import json
import os
import struct
import sys

import pyarrow.parquet as pq


def data_region(path: str) -> bytes:
    """The file up to its footer: magic, then every column chunk."""
    with open(path, "rb") as fh:
        raw = fh.read()
    footer_len = struct.unpack("<I", raw[-8:-4])[0]
    return raw[: len(raw) - 8 - footer_len]


def same_file(a: str, b: str) -> bool:
    if data_region(a) != data_region(b):
        return False
    ma, mb = pq.read_metadata(a), pq.read_metadata(b)
    if ma.metadata != mb.metadata or ma.num_row_groups != mb.num_row_groups:
        return False
    if any(ma.row_group(i).num_rows != mb.row_group(i).num_rows
           for i in range(ma.num_row_groups)):
        return False
    return pq.read_table(a).equals(pq.read_table(b))


def main(a_dir: str, b_dir: str) -> int:
    names = lambda d: {n for n in os.listdir(d) if os.path.isdir(os.path.join(d, n))}
    na, nb = names(a_dir), names(b_dir)
    differ = []
    for name in sorted(na & nb):
        fa = sorted(glob.glob(f"{a_dir}/{name}/part-*.parquet"))
        fb = sorted(glob.glob(f"{b_dir}/{name}/part-*.parquet"))
        if len(fa) != len(fb) or not all(same_file(x, y) for x, y in zip(fa, fb)):
            differ.append(name)
    missing = sorted(na ^ nb)
    print(f"{len(na & nb) - len(differ)} identical, {len(differ)} differ, "
          f"{len(missing)} in only one dump")
    for name in differ:
        print(f"DIFFER {name}")
    for name in missing:
        print(f"ONLY-ONE {name}")
    oa, ob = (json.load(open(os.path.join(d, "oracle_sql.json"))) for d in (a_dir, b_dir))
    o_differ = sorted(k for k in oa.keys() & ob.keys() if oa[k] != ob[k])
    o_missing = sorted(oa.keys() ^ ob.keys())
    print(f"oracle_sql.json: {len(oa.keys() & ob.keys()) - len(o_differ)} identical, "
          f"{len(o_differ)} differ, {len(o_missing)} in only one dump")
    for name in o_differ:
        print(f"ORACLE-DIFFER {name}")
    for name in o_missing:
        print(f"ORACLE-ONLY-ONE {name}")
    return 1 if differ or missing or o_differ or o_missing else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
