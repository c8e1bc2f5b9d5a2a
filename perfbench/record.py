"""Record the expected output digests in ``expected.json``.

    python3 perfbench/record.py

Generates the benchmark data (``datagen.py``), then for every query of
every workload: runs it twice through the benchmark's own digest write
(``run.execute``) and once through ``toPandas()``, runs the query's
DuckDB oracle SQL on the same parquet files, and compares the two with
``tools/check.py``'s order-insensitive exact comparison. A digest is
recorded only when both digest runs agree and the output matches the
oracle; the others are listed and the script exits 1. Digests are keyed
by the data stamp, so regenerated data never meets stale digests.
Needs ``duckdb``, which the benchmark run itself does not.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run


def main() -> int:
    import datagen

    data_dir = run.WORK / f"data_sf{run.SF}"
    stamp = datagen.ensure(data_dir, run.SF)
    run_dir = run.WORK / f"record-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run._environment(run_dir, trace=False)
    os.chdir(run_dir)
    sys.path.insert(0, str(run.ROOT))

    from insight_patents_spark import registry
    from insight_patents_spark.runtime import release_ephemeral
    from insight_patents_spark.session import get_spark
    from tools.check import compare, duck_connect

    spark = get_spark("perfbench-record")
    specs = registry.load_all()
    con = duck_connect(str(data_dir))
    digests: dict[str, list[int]] = {}
    bad: dict[str, str] = {}
    try:
        for wl in run.WORKLOADS.values():
            for name in wl["artifacts"]:
                run.execute(spark, specs[name].fn(spark, str(data_dir)))
            for name in wl["queries"]:
                fn = specs[name].fn
                try:
                    a = run.execute(spark, fn(spark, str(data_dir)))
                    release_ephemeral(spark)
                    b = run.execute(spark, fn(spark, str(data_dir)))
                    release_ephemeral(spark)
                    sdf = fn(spark, str(data_dir)).toPandas()
                    release_ephemeral(spark)
                    odf = con.execute(specs[name].oracle).df()
                except Exception as exc:  # noqa: BLE001
                    bad[name] = f"{type(exc).__name__}: {str(exc)[:200]}"
                    continue
                problems = compare(name, sdf, odf)
                if a != b:
                    problems.append(f"digest not repeatable: {a} vs {b}")
                if a[0] != len(sdf):
                    problems.append(f"observed {a[0]} rows, collected {len(sdf)}")
                if problems:
                    bad[name] = "; ".join(problems)
                else:
                    digests[name] = list(a)
                print(f"{'FAIL' if problems else 'PASS'} {name} {a}",
                      file=sys.stderr, flush=True)
    finally:
        spark.stop()
        os.chdir(run.ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    path = run.BENCH / "expected.json"
    table = json.loads(path.read_text()) if path.exists() else {}
    table[stamp] = dict(sorted(digests.items()))
    path.write_text(json.dumps(table, indent=1) + "\n")
    for name, why in bad.items():
        print(f"NOT RECORDED {name}: {why}", file=sys.stderr)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
