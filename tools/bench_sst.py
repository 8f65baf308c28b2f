#!/usr/bin/env python
"""Microbench the SST reader and writer (sources/sst.py) at realistic
block counts — the per-byte hot loop a 100 TB checkpoint scan spends its
executor-CPU in (each Spark task decodes whole SSTs; task parallelism
hides latency but per-core throughput bounds cluster cost).

Writes one n-entry SST (16-byte keys + 8-32-byte values, the Flink
value-state shape), then times full-file decode and re-encode.

Usage: python tools/bench_sst.py [n_entries] [compression]
Prints one JSON line: {"write_eps": ..., "read_eps": ..., ...}
"""

from __future__ import annotations

import json
import os
import struct
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bravo_spark.sources import sst as sstmod  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    comp_name = sys.argv[2] if len(sys.argv) > 2 else "none"
    comp = {
        "none": sstmod.NO_COMPRESSION,
        "snappy": sstmod.SNAPPY_COMPRESSION,
        "lz4": sstmod.LZ4_COMPRESSION,
        "zstd": sstmod.ZSTD_COMPRESSION,
    }[comp_name]

    # deterministic keys in sorted order; values of varied small sizes
    entries = []
    for i in range(n):
        key = struct.pack(">QQ", i >> 32, i & 0xFFFFFFFF)
        val = struct.pack(">Q", i * 2654435761 % 2**63) * (1 + i % 4)
        entries.append((key, 1, sstmod.TYPE_VALUE, val))

    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "bench.sst")
        t0 = time.perf_counter()
        with sstmod.SstWriter(
            path, column_family="Bench", column_family_id=1, compression=comp
        ) as w:
            for k, s, t, v in entries:
                w.add(k, s, t, v)
        t_write = time.perf_counter() - t0

        size = os.path.getsize(path)
        best_read = None
        for _ in range(3):
            t0 = time.perf_counter()
            got = 0
            r = sstmod.SstReader(path)
            for _e in r.iter_entries():
                got += 1
            dt = time.perf_counter() - t0
            best_read = dt if best_read is None else min(best_read, dt)
        assert got == n, (got, n)

        print(
            json.dumps(
                {
                    "n": n,
                    "compression": comp_name,
                    "file_bytes": size,
                    "write_sec": round(t_write, 3),
                    "write_eps": int(n / t_write),
                    "read_sec": round(best_read, 3),
                    "read_eps": int(n / best_read),
                    "read_mbps": round(size / best_read / 1e6, 1),
                }
            )
        )


if __name__ == "__main__":
    main()
