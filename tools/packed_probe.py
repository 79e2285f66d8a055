"""10x growth probe for the packed-sequence write path (r18, VERDICT
r17 item 4).

write_packed_shards is a SNAPSHOT writer: pack_bfd's one groupBy +
Arrow kernel, an id join, one (shard, bin) groupBy with budget-bounded
state, and a partitioned one-file-per-shard write. The 100 TB posture
is linear scaling in corpus rows with per-task state bounded by
``budget_tokens`` — super-linear wall growth or per-bin state growth
is the failure signature. Times the full write at 1x and Nx (id-offset
replicas, scale_probe's convention) and records the growth factor plus
loader-verify wall.

Appends one JSON line to PROGRESS.jsonl (cwd). Check `uptime` first;
the GROWTH SHAPE is the signal, not absolute seconds.

Run: python tools/packed_probe.py [sf_dir] [replicas]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    replicas = int(sys.argv[2]) if len(sys.argv) > 2 else 10

    from metadata_ingestion_framework_spark import get_spark
    from metadata_ingestion_framework_spark.operators.corpus import (
        verify_packed_corpus,
        write_packed_shards,
    )
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from scale_probe import replicate_docs

    spark = get_spark("packed-probe")
    docs = spark.read.parquet(
        os.path.join(sf_dir, "documents.parquet")
    ).select("doc_id", "text")
    out: dict = {"probe": "packed_write", "sf_dir": sf_dir,
                 "replicas": replicas}
    # untimed warmup write (r18 review): the 1x arm runs first in a
    # fresh JVM, and session warmup deflated write_growth below its
    # true value (recorded 0.6x) — warm the whole path before timing
    warm_root = "/tmp/packed_probe_warm"
    shutil.rmtree(warm_root, ignore_errors=True)
    write_packed_shards(
        spark, docs, warm_root, "text", "doc_id",
        budget_tokens=2048, shards=32,
    ).count()
    shutil.rmtree(warm_root, ignore_errors=True)
    for tag, d in [("1x", docs), (f"{replicas}x",
                                  replicate_docs(docs, replicas))]:
        root = f"/tmp/packed_probe_{tag}"
        shutil.rmtree(root, ignore_errors=True)
        n = d.count()
        t0 = time.perf_counter()
        man = write_packed_shards(
            spark, d, root, "text", "doc_id",
            budget_tokens=2048, shards=32,
        )
        man.count()
        write_s = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        v = verify_packed_corpus(spark, root, 2048)
        n_bad = v.filter(~F.col("ok")).count()
        verify_s = round(time.perf_counter() - t0, 2)
        out[tag] = {"rows": n, "write_s": write_s, "verify_s": verify_s,
                    "bad_shards": n_bad}
        shutil.rmtree(root, ignore_errors=True)
    a, b = out["1x"]["write_s"], out[f"{replicas}x"]["write_s"]
    out["write_growth"] = round(b / a, 2) if a else None
    out["ts"] = time.strftime("%Y-%m-%d %H:%M:%S")
    line = json.dumps(out)
    with open("PROGRESS.jsonl", "a") as f:
        f.write(line + "\n")
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
