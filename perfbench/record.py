"""Record the result digest and row count of every query the query
workloads run, over the benchmark's generated tables, into digests.json.

    python3 perfbench/record.py

Each query is collected twice; a query whose digest differs between the
two is recorded by row count only. Where the registry has a DuckDB
oracle twin (``registry.oracle_sqls()``), the oracle's digest over the
same tables must match, or recording stops.
"""

from __future__ import annotations

import json
import shutil
import sys
import time

from run import HERE, ROOT, WORK, cpu_count, ensure_inputs, launch_env, stop_session


def main() -> int:
    import os

    sys.path.insert(0, str(HERE))
    sys.path.insert(0, str(ROOT))
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(cpu_count()))
    import duckdb

    import workloads
    from checks import digest_pandas
    from hapiy_etl_spark.io import TABLES
    from hapiy_etl_spark.registry import all_queries, oracle_sqls

    data = str(ensure_inputs("query_mix", 0)["data"])
    work = WORK / "runs" / "record"
    launch_env(work, trace=False)
    from hapiy_etl_spark.session import get_spark

    spark = get_spark("perfbench_record")
    registry, oracles = all_queries(), oracle_sqls()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    out, bad = {}, []
    try:
        for a in workloads.QUERY_ARTIFACTS:
            workloads.build_artifact(spark, a, data)
        for q in workloads.RELATIONAL + workloads.LLM_OPERATORS:
            t0 = time.time()
            r1, d1 = digest_pandas(registry[q].fn(spark, data).toPandas())
            t1 = time.time()
            r2, d2 = digest_pandas(registry[q].fn(spark, data).toPandas())
            t2 = time.time()
            entry = {"rows": r1, "digest": d1 if (r1, d1) == (r2, d2) else None}
            if r1 != r2:
                bad.append(f"{q}: row count differs between runs ({r1} vs {r2})")
            if q in oracles:
                ro, do = digest_pandas(con.execute(oracles[q]).df())
                entry["oracle"] = (ro, do) == (r1, d1)
                if not entry["oracle"]:
                    bad.append(f"{q}: spark rows={r1} {d1[:12]} != duckdb rows={ro} {do[:12]}")
            out[q] = entry
            print(f"{q:40s} rows={r1:7d} stable={entry['digest'] is not None} "
                  f"oracle={entry.get('oracle')} {t1 - t0:.2f}s {t2 - t1:.2f}s", file=sys.stderr)
    finally:
        con.close()
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    if bad:
        print("\n".join(bad), file=sys.stderr)
        return 1
    (HERE / "digests.json").write_text(json.dumps(
        {"data": os.path.basename(data), "queries": out}, indent=1, sort_keys=True) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
