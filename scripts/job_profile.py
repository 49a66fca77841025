"""Per-job breakdown of one registry query: run it in a fresh session with
the event log on and print every Spark job's wall duration — the §1
'where does the time go' view that per-query wall seconds hide (a query
that looks like one action may pay N scheduler waves of
fits/checkpoints/estimates).

Usage: python scripts/job_profile.py query [query ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
Prints one JSON line per query:
  {"query": ..., "wall": s, "jobs": [{"sec": s, "desc": ...}, ...]}
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from komodo_data_spark.session import ENGINE_CONFS, default_cores, default_driver_memory

    cpus = default_cores()
    names = sys.argv[1:]

    log_dir = tempfile.mkdtemp(prefix="jobprof_")
    from pyspark.sql import SparkSession

    builder = (
        SparkSession.builder.appName("job-profile")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_memory(),
        )
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", log_dir)
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
    )
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e

    qs = e.queries()
    from komodo_data_spark.sources.tables import TABLE_NAMES, load_table

    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).count()
    spark.range(0, int(cpus)).mapInPandas(lambda i: i, schema="id long").count()

    marks = {}
    for name in names:
        fn = qs[name]
        try:
            fn(spark, "/root/testdata/sf0.001").count()  # codegen warm-up
        except Exception:
            pass
        spark.catalog.clearCache()
        from komodo_data_spark.operators.model_memo import _MEMO

        _MEMO.clear()
        spark.sparkContext.setJobDescription(f"PROFILE:{name}")
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        marks[name] = round(time.perf_counter() - t0, 3)
        spark.sparkContext.setJobDescription(None)

    app_id = spark.sparkContext.applicationId
    spark.stop()
    path = os.path.join(log_dir, app_id)
    if not os.path.exists(path):  # rolling event log layout
        d = os.path.join(log_dir, f"eventlog_v2_{app_id}")
        import zstandard

        lines = []
        for fn_ in sorted(os.listdir(d)):
            if fn_.startswith("events_"):
                raw = open(os.path.join(d, fn_), "rb").read()
                if fn_.endswith(".zstd"):
                    raw = zstandard.ZstdDecompressor().decompressobj().decompress(raw)
                lines.extend(raw.decode().splitlines())
    else:
        lines = open(path).read().splitlines()
    starts, out = {}, {}
    if True:
        for line in lines:
            ev = json.loads(line)
            if ev.get("Event") == "SparkListenerJobStart":
                desc = ev.get("Properties", {}).get(
                    "spark.job.description", ""
                )
                if desc.startswith("PROFILE:"):
                    starts[ev["Job ID"]] = (
                        desc[len("PROFILE:"):],
                        ev["Submission Time"],
                        sum(
                            len(s.get("RDD Info", []))
                            for s in ev.get("Stage Infos", [])
                        ),
                        len(ev.get("Stage Infos", [])),
                    )
            elif ev.get("Event") == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in starts:
                    q, t, _rdds, n_stages = starts[jid]
                    out.setdefault(q, []).append(
                        {
                            "job": jid,
                            "sec": round(
                                (ev["Completion Time"] - t) / 1000.0, 3
                            ),
                            "stages": n_stages,
                        }
                    )
    for name in names:
        jobs = out.get(name, [])
        print(
            json.dumps(
                {
                    "query": name,
                    "wall": marks.get(name),
                    "n_jobs": len(jobs),
                    "jobs": jobs,
                }
            )
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
