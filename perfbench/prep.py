"""Make one run's inputs from its seed, and what the outputs must be.

    python3 -m perfbench.prep <workload> <seed> <work_dir>

Runs in its own process, before the benchmark's process imports Spark, so
that neither its time nor its memory lands in the measured figures.

import_export: backup A, the store the generator builds from it
(`store_a.db`: what the import must give, and the input of the export) and
the number of messages in the backup (`inputs.json`).

lane_mix: the parquet tables and, per lane, the row count, columns and
value hash of its DuckDB `oracle_sql()` twin (`digests.json`).
"""

from __future__ import annotations

import json
import os
import sys

from perfbench import workloads


def prep_import_export(seed: int, work: str) -> None:
    from perfbench import backup

    a = backup.generate(seed, workloads.BACKUP_MESSAGES)
    backup.write_xml(a, os.path.join(work, "a.xml"))
    backup.write_store(backup.expected_store(a), os.path.join(work, "store_a.db"))
    with open(os.path.join(work, "inputs.json"), "w") as fh:
        json.dump({"a.xml": len(a)}, fh)


def prep_lane_mix(seed: int, work: str) -> None:
    import duckdb

    from perfbench.gen_tables import generate_tables
    from sms_db_spark.plans import registry
    from sms_db_spark.tables import TABLE_NAMES
    from tools.selfcheck import normalize, value_hash

    data = os.path.join(work, "tables")
    generate_tables(seed, workloads.LANE_SF, data)
    oracles = {name: spec.oracle for name, spec in registry().items()}
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        digests = {}
        for lane in workloads.lanes():
            df = normalize(con.execute(oracles[lane]).fetchdf())
            digests[lane] = {"rows": len(df), "cols": list(df.columns), "hash": value_hash(df)}
    finally:
        con.close()
    with open(os.path.join(work, "digests.json"), "w") as fh:
        json.dump(digests, fh)


def main(argv: list[str]) -> int:
    workload, seed, work = argv[0], int(argv[1]), argv[2]
    {"import_export": prep_import_export, "lane_mix": prep_lane_mix}[workload](seed, work)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
