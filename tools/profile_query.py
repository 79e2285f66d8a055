"""Per-stage profile of one catalog query (optimization guide §1).

Runs <query> in a fresh session with the UI enabled, times the bench
checksum action, then pulls the UI REST API
for per-job / per-stage breakdown: wall, executor task time, shuffle
read/write bytes, Python boundary nodes. Repeats N times (default 2, min
reported for wall; stage table from the LAST rep).

Usage: python tools/profile_query.py <query> [sf_dir] [reps]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def rest(port: int, path: str):
    url = f"http://localhost:{port}/api/v1/{path}"
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    os.environ["SPARK_GRAFT_UI"] = "true"
    from pyspark.sql import functions as F

    from metadata_ingestion_framework_spark import get_spark
    from metadata_ingestion_framework_spark import catalog_queries as cq

    spark = get_spark(f"profile_{name}")
    sc = spark.sparkContext
    port = sc.uiWebUrl.rsplit(":", 1)[1] if sc.uiWebUrl else "4040"
    port = int(port)
    app_id = sc.applicationId

    def run_once(d):
        for c in ("_KMEANS_CACHE", "_BPE_CACHE"):
            getattr(cq, c, {}).clear()
        t0 = time.perf_counter()
        df = cq.QUERIES[name](spark, d)
        df.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64(*[F.col(c) for c in df.columns])).alias("ck"),
        ).collect()
        el = time.perf_counter() - t0
        for dep in getattr(df, "_persisted_deps", ()):
            dep.unpersist()
        return el

    # codegen warmup at the smallest SF (bench methodology)
    warm = "/root/testdata/sf0.001"
    if os.path.isdir(warm) and warm != sf_dir:
        run_once(warm)

    walls = []
    for rep in range(reps):
        jobs_before = {j["jobId"] for j in rest(port, f"applications/{app_id}/jobs")}
        sc.setJobDescription(f"{name} rep{rep}")
        walls.append(run_once(sf_dir))
        sc.setJobDescription(None)
        jobs = [
            j
            for j in rest(port, f"applications/{app_id}/jobs")
            if j["jobId"] not in jobs_before
        ]
    print(f"query={name} sf_dir={sf_dir} walls={[round(w, 3) for w in walls]} "
          f"min={min(walls):.3f}")

    # stage breakdown of the LAST rep
    from datetime import datetime

    def ts(s):
        return datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").timestamp()

    stages = {s["stageId"]: s for s in rest(port, f"applications/{app_id}/stages")}
    rows = []
    job_wall = 0.0
    for j in sorted(jobs, key=lambda x: x["jobId"]):
        try:
            job_wall += ts(j["completionTime"]) - ts(j["submissionTime"])
        except Exception:
            pass
        for sid in j["stageIds"]:
            s = stages.get(sid)
            if not s or s["status"] == "SKIPPED":
                continue
            rows.append(
                (
                    j["jobId"],
                    sid,
                    s.get("numTasks", 0),
                    s.get("executorRunTime", 0) / 1e3,
                    s.get("shuffleReadBytes", 0) / 1e6,
                    s.get("shuffleWriteBytes", 0) / 1e6,
                    (s.get("completionTime") and s.get("firstTaskLaunchedTime")),
                    s.get("name", "")[:90],
                )
            )
    n_jobs = len(jobs)
    tot_task = sum(r[3] for r in rows)
    print(f"jobs={n_jobs} (sum job wall={job_wall:.2f}s) stages={len(rows)} "
          f"sum_executorRunTime={tot_task:.2f}s")
    print(f"{'job':>4} {'stage':>5} {'tasks':>5} {'taskSec':>8} "
          f"{'shRdMB':>7} {'shWrMB':>7}  name")
    for r in sorted(rows, key=lambda x: -x[3])[:40]:
        print(f"{r[0]:>4} {r[1]:>5} {r[2]:>5} {r[3]:>8.2f} "
              f"{r[4]:>7.2f} {r[5]:>7.2f}  {r[7]}")
    spark.stop()


if __name__ == "__main__":
    main()
