#!/usr/bin/env python3
"""Per-query isolation harness (guide §1.4): times each declared query
with the SAME session config and methodology as bench.py (collect() on a
fresh plan, transient caches cleared), but additionally reports

* the number of Spark jobs the query launched (sequential job waves are
  the dominant cost at small SF — every .first()/.count()/toPandas() is
  a full scheduler round-trip);
* the physical plan (explain "formatted"), written to plans/r06/ when
  --plans is given.

Usage:
    python bench_extra.py q1 q2 ...      # time the named queries
    python bench_extra.py --all          # every bench headline query
    python bench_extra.py --plans q1 ... # also dump plans/r06/<q>_<tag>.txt
    python bench_extra.py --tag after --plans q1
    python bench_extra.py --boundary     # Python-stage fixed and per-row costs

This file is NOT bench.py: the driver's frozen benchmark is untouched.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

from bench import SPLIT_CONF, _build_merge_job, _repo_table_dir, REPO_ROWS


def _jobs_in_group(spark, group: str) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def _plan_str(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def boundary_probe(spark, runs: int = 9, size_check_rows: int = 1_000_000) -> dict:
    """What the Python boundary costs.

    Fixed cost of one Python stage: the median wall of a 1-partition
    no-op ``mapInArrow`` minus that of a 1-partition JVM ``collect`` of
    the same one-row range.  Per-row cost of Spark's Arrow batch byte
    check: a 1-partition ``mapInArrow`` that counts ``size_check_rows``
    (long, short string) rows, timed as the session runs it and inside
    ``sketch_agg``'s rows-only batch scope, where the JVM skips the
    check.  Each timing is warmed once first."""
    from pyspark.sql import functions as F

    from mgspark.sketches.base import _rows_only_batches

    df = spark.range(1, numPartitions=1)

    def noop(batches):
        yield from batches

    def count_rows(batches):
        import pyarrow as pa

        yield pa.RecordBatch.from_pydict({"n": [sum(b.num_rows for b in batches)]})

    def median_wall(action) -> float:
        action()
        walls = []
        for _ in range(runs):
            t0 = time.perf_counter()
            action()
            walls.append(time.perf_counter() - t0)
        return statistics.median(walls)

    python_s = median_wall(lambda: df.mapInArrow(noop, df.schema).collect())
    jvm_s = median_wall(df.collect)
    rows = spark.range(size_check_rows, numPartitions=1).select(
        "id", F.concat(F.lit("t"), (F.col("id") % 1000).cast("string")).alias("s")
    )
    counted = rows.mapInArrow(count_rows, "n long")
    checked_s = median_wall(counted.collect)
    with _rows_only_batches(spark):
        unchecked_s = median_wall(counted.collect)
    return {
        "python_stage_fixed_s": round(python_s - jvm_s, 4),
        "map_in_arrow_s": round(python_s, 4),
        "jvm_collect_s": round(jvm_s, 4),
        "arrow_size_check_ns_per_row": round((checked_s - unchecked_s) / size_check_rows * 1e9, 1),
        "size_checked_s": round(checked_s, 4),
        "rows_only_s": round(unchecked_s, 4),
        "size_check_rows": size_check_rows,
        "runs": runs,
        "cpus": len(os.sched_getaffinity(0)),
        "local_cores": CPUS,
    }


def main() -> None:
    args = [a for a in sys.argv[1:]]
    dump_plans = "--plans" in args
    tag = "before"
    if "--tag" in args:
        tag = args[args.index("--tag") + 1]
        args.remove("--tag")
        args.remove(tag)
    args = [a for a in args if a != "--plans"]
    repeats = 1
    if "--repeats" in args:
        i = args.index("--repeats")
        repeats = int(args[i + 1])
        del args[i : i + 2]

    from mgspark.session import get_spark

    spark = get_spark("mgspark-bench-extra", cores=CPUS, extra_conf=SPLIT_CONF)
    if "--boundary" in args:
        print(json.dumps({"boundary": boundary_probe(spark)}), flush=True)
        return
    import __spark_entry__ as entrymod
    from mgspark.cacheutil import clear_transient_caches

    qmap = entrymod.queries()
    if "--all" in args:
        from bench import HEADLINE_QUERIES

        names = HEADLINE_QUERIES
    else:
        names = args
    # Warm exactly like bench.py (python worker pool, codegen, parquet footers)
    repo_dir = _repo_table_dir(REPO_ROWS)
    _build_merge_job(spark, repo_dir)

    results = {}
    plans_dir = os.path.join(REPO, "plans", "r06")
    os.makedirs(plans_dir, exist_ok=True)
    for name in names:
        samples = []
        jobs = 0
        for _ in range(repeats):
            try:
                from mgspark.pipeline.similarity import clear_index_cache

                clear_index_cache()
            except Exception:
                pass
            clear_transient_caches()
            group = f"bench_extra:{name}:{len(samples)}"
            spark.sparkContext.setJobGroup(group, name)
            t0 = time.perf_counter()
            df = qmap[name](spark, SF_DIR)
            df.collect()
            samples.append(round(time.perf_counter() - t0, 4))
            jobs = _jobs_in_group(spark, group)
            spark.sparkContext.setJobGroup("", "")
        results[name] = {"sec": min(samples), "samples": samples, "jobs": jobs}
        if dump_plans:
            clear_transient_caches()
            try:
                plan = _plan_str(qmap[name](spark, SF_DIR))
                with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as f:
                    f.write(plan)
            except Exception as e:  # queries that drive their own actions
                with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as f:
                    f.write(f"(plan capture failed: {e})\n")
        print(json.dumps({name: results[name]}), flush=True)

    total = round(sum(r["sec"] for r in results.values()), 3)
    print(json.dumps({"total": total, "n": len(results)}))


if __name__ == "__main__":
    main()
