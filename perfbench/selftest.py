#!/usr/bin/env python3
"""Self-test of the benchmark's correctness check: the DuckDB oracle must
accept the program's read-back of a small synced table and reject the
same read-back with one row dropped or one value changed.

    python3 perfbench/selftest.py

Exits 0 when the check behaves, 1 otherwise.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import oracle  # noqa: E402
from perfbench.common import Work, start_spark, stop_spark  # noqa: E402
from perfbench.workloads import log_files  # noqa: E402


def main() -> int:
    import pyarrow as pa

    from estuary_spark import generator as G
    from estuary_spark.config import SyncConfig
    from estuary_spark.runner import read_final_state, run_sync

    work = Work("selftest")
    spark = start_spark(work, event_log=False)
    try:
        cfg = SyncConfig(source_log_dir=work.path("log"), target_table_dir=work.path("table"))
        G.write_log(spark, G.LogSpec(n_convs=200, seed=5), cfg.source_log_dir, n_files=2)
        run_sync(spark, cfg, events_per_batch=2000)
        got = read_final_state(spark, cfg).toArrow()
        con = oracle.connect(work.tmp)
        oracle.build_oracle(con, log_files(cfg.source_log_dir))
        text = got.column("text").to_pylist()
        cases = {
            "intact read-back": (got, True),
            "one row dropped": (got.slice(1), False),
            "one value changed": (got.set_column(got.column_names.index("text"), "text", pa.array(["x" + text[0]] + text[1:])), False),
        }
        failures = 0
        for label, (table, should_pass) in cases.items():
            problems = oracle.compare(con, "oracle", table, label)
            ok = (not problems) == should_pass
            failures += not ok
            print(f"{'ok  ' if ok else 'FAIL'} {label}: {'accepted' if not problems else problems}")
        con.close()
        return 1 if failures else 0
    finally:
        stop_spark(spark)
        work.remove()


if __name__ == "__main__":
    sys.exit(main())
