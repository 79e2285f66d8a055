"""Pipeline DAG runner + observability store tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from metadata_ingestion_framework_spark.observability import ObservabilityStore
from metadata_ingestion_framework_spark.plans.pipeline import (
    Pipeline,
    PipelineTask,
    run_pipelines_parallel,
)


def test_pipeline_levels_and_dataflow(spark, emp):
    """reader -> processor -> writer, outputs flow by name (Task.scala:29-30)."""
    result = {}

    p = Pipeline("p1")
    p.add_task(PipelineTask("reader", lambda _: {"rawdf": emp}))
    p.add_task(
        PipelineTask(
            "processor",
            lambda o: {"processedDf": o["rawdf"].filter("deptno = 10")},
            after=["reader"],
        )
    )
    p.add_task(
        PipelineTask(
            "writer",
            lambda o: result.update(n=o["processedDf"].count()) or {},
            after=["processor"],
        )
    )
    p.run()
    assert result["n"] == 2


def test_pipeline_cycle_detection():
    p = Pipeline("bad")
    p.add_task(PipelineTask("a", lambda o: {}, after=["b"]))
    p.add_task(PipelineTask("b", lambda o: {}, after=["a"]))
    with pytest.raises(ValueError, match="cycle"):
        p.run()


def test_pipeline_error_writes_status(spark, tmp_path):
    obs = ObservabilityStore(spark, str(tmp_path / "obs"))

    def boom(_):
        raise RuntimeError("kaput")

    p = Pipeline("p_err", obs=obs)
    p.add_task(PipelineTask("t1", boom))
    with pytest.raises(RuntimeError):
        p.run()
    status = obs.read_status().collect()
    assert any(r["status"] == "Error" and "kaput" in (r["message"] or "") for r in status)


def test_parallel_pipelines(spark, emp):
    counts = []
    def make(i):
        p = Pipeline(f"p{i}")
        p.add_task(PipelineTask("r", lambda _: {"df": emp}))
        p.add_task(PipelineTask("c", lambda o: counts.append(o["df"].count()) or {}, after=["r"]))
        return p
    run_pipelines_parallel([make(i) for i in range(3)])
    assert counts == [5, 5, 5]


def test_observability_fact_and_error(spark, emp, tmp_path):
    obs = ObservabilityStore(spark, str(tmp_path / "obs2"))
    obs.write_status("p1", "t1", "Finished")
    obs.write_fact("p1", "t1", "input_rows", emp.count())
    obs.write_errors("p1", "t1", emp.limit(2), ValueError("schema mismatch"))
    assert obs.read_status().count() == 1
    fact = obs.read_facts().collect()[0]
    assert fact["metric"] == "input_rows" and fact["value"] == 5
    errs = obs.read_errors().collect()
    assert len(errs) == 2 and "|" in errs[0]["row_data"]


def test_observe_stage_counts_without_recompute(spark, tmp_path):
    """r8: plan-attached metrics — one action populates every stage's
    observation (no per-stage recount), and the facts land in the store."""
    from metadata_ingestion_framework_spark.observability import (
        ObservabilityStore,
        observe_stage,
        write_observed_facts,
    )
    from pyspark.sql import functions as F

    df = spark.range(100).select(F.col("id"), (F.col("id") % 5).alias("k"))
    s1, o1 = observe_stage(df, "scored")
    gated = s1.filter("id >= 40")
    s2, o2 = observe_stage(
        gated, "gated", {"rows": F.count(F.lit(1)), "id_sum": F.sum("id")}
    )
    result = s2.groupBy("k").count()
    assert result.count() == 5  # ONE action drives both observations
    assert o1.get == {"rows": 100}
    assert o2.get["rows"] == 60 and o2.get["id_sum"] == sum(range(40, 100))

    store = ObservabilityStore(spark, str(tmp_path / "obs"))
    write_observed_facts(
        store, "p1", "curate", [("scored", o1), ("gated", o2)], batch_id=7
    )
    facts = {
        r.metric: r.value for r in store.read_facts().collect()
    }
    assert facts == {"scored.rows": 100, "gated.rows": 60,
                     "gated.id_sum": sum(range(40, 100))}


def test_observe_stage_streaming_progress_metrics(spark, tmp_path):
    """r8 streaming face of observe_stage: the SAME observe() expressions
    attach to a streaming plan and surface per-micro-batch through the
    query's progress (observedMetrics) — no recount, no extra action."""
    import time

    from pyspark.sql import functions as F

    src = str(tmp_path / "in")
    spark.createDataFrame([(i,) for i in range(50)], "id long").write.parquet(src)

    stream = (
        spark.readStream.schema("id long").parquet(src)
        .observe("ingested", F.count(F.lit(1)).alias("rows"),
                 F.sum("id").alias("id_sum"))
        .filter("id >= 10")
    )
    q = (
        stream.writeStream.format("memory").queryName("obs_sink")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    observed = {}
    for p in q.recentProgress:
        om = p["observedMetrics"] if isinstance(p, dict) else p.observedMetrics
        if om and "ingested" in om:
            m = om["ingested"]
            observed["rows"] = observed.get("rows", 0) + m["rows"]
            observed["id_sum"] = observed.get("id_sum", 0) + m["id_sum"]
    q.stop()
    assert observed == {"rows": 50, "id_sum": sum(range(50))}
    assert spark.table("obs_sink").count() == 40


def test_streaming_listener_lands_status_and_facts(spark, tmp_path):
    """r11 (VERDICT r10 item 5): a rate stream with an attached
    PipelineStatusListener lands STARTED/RUNNING/TERMINATED status rows,
    per-batch offset ranges, numInputRows facts, AND Dataset.observe
    metrics — without any user code in the batch function."""
    import time as _time

    import pyspark.sql.functions as F

    from metadata_ingestion_framework_spark.streaming.listener import (
        attach_pipeline_listener,
    )

    store = ObservabilityStore(spark, str(tmp_path / "obs_stream"))
    qname = "obs_listener_rate_q"
    listener = attach_pipeline_listener(
        spark, store, "pipe-listener", query_names={qname}
    )
    try:
        src = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", "200")
            .load()
            .observe("stage0", F.count(F.lit(1)).alias("rows"))
            .select("value")
        )
        q = (
            src.writeStream.format("memory")
            .queryName(qname)
            .option(
                "checkpointLocation", str(tmp_path / "ckpt_listener")
            )
            .start()
        )
        try:
            deadline = _time.time() + 60
            while _time.time() < deadline:
                q.processAllAvailable()
                progressed = any(
                    p and p["numInputRows"] > 0 for p in q.recentProgress
                )
                if progressed:
                    break
                _time.sleep(0.5)
            assert progressed, "rate stream never produced a non-empty batch"
        finally:
            q.stop()
        # listener events are async — poll for the terminal row
        deadline = _time.time() + 60
        while _time.time() < deadline:
            st = {
                r.status
                for r in store.read_status().filter(
                    "pipeline_id = 'pipe-listener'"
                ).collect()
            }
            if {"STARTED", "RUNNING"} <= st and (
                "TERMINATED" in st or "FAILED" in st
            ):
                break
            _time.sleep(0.5)
        assert {"STARTED", "RUNNING"} <= st and "TERMINATED" in st, st
        # r11 review fix pinned: the nameless terminated event must be
        # attributed to the SAME task_name as the lifecycle rows (via the
        # listener's runId -> name map), so per-task queries see closure
        terminated = store.read_status().filter(
            "pipeline_id = 'pipe-listener' AND status = 'TERMINATED'"
        ).collect()
        assert terminated and all(r.task_name == qname for r in terminated)
        running = store.read_status().filter(
            "pipeline_id = 'pipe-listener' AND status = 'RUNNING' "
            "AND endOffset IS NOT NULL"
        )
        assert running.count() > 0  # rate offsets surfaced as longs
        facts = store.read_facts().filter("pipeline_id = 'pipe-listener'")
        by_metric = {
            r.metric for r in facts.select("metric").distinct().collect()
        }
        assert "numInputRows" in by_metric
        assert "stage0.rows" in by_metric  # observe() landed via listener
        # input facts agree with the observed count in total
        tot = {
            r.metric: r.s
            for r in facts.groupBy("metric")
            .agg(F.sum("value").alias("s"))
            .collect()
        }
        assert tot["numInputRows"] == tot["stage0.rows"] > 0
    finally:
        spark.streams.removeListener(listener)


def test_store_ingest_facts_reconcile_with_decisions(spark, tmp_path):
    """K7 decision-fact wiring (r17, VERDICT r16 item 6): a
    MinhashSignatureStore built with an ObservabilityStore lands
    n_batch / n_dropped / drop_rate_ppm / bucket-touch facts per ingest
    that reconcile EXACTLY with its decision output (survivors), and
    the time series accumulates one task row per run."""
    from pyspark.sql import functions as F

    from metadata_ingestion_framework_spark.observability import (
        ObservabilityStore,
    )
    from metadata_ingestion_framework_spark.operators.dedup import (
        unpersist_deps,
    )
    from metadata_ingestion_framework_spark.operators.incremental import (
        MinhashSignatureStore,
    )

    obs = ObservabilityStore(spark, str(tmp_path / "obs"))
    st = MinhashSignatureStore(
        spark, str(tmp_path / "sigs"),
        jaccard_threshold=0.5,
        observability=obs, pipeline_id="p17",
    )
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(
        (F.col("doc_id") % 2 == 1) | (F.col("doc_id") % 10 == 0)
    )
    for run, b in (("r1", b1), ("r2", b2)):
        s = st.ingest(b, run)
        facts = {
            r.metric: r.value
            for r in obs.read_facts()
            .filter(F.col("task_name") == f"MinhashSignatureStore:{run}")
            .collect()
        }
        n_batch, n_surv = b.count(), s.count()
        unpersist_deps(s)
        assert facts["ingest.n_batch"] == n_batch
        # the drop fact IS the decision output: batch minus survivors
        assert facts["ingest.n_dropped.text"] == n_batch - n_surv
        assert facts["ingest.drop_rate_ppm.text"] == (
            (n_batch - n_surv) * 1_000_000
        ) // n_batch
        assert facts["ingest.buckets_touched.sigs"] >= 1
        assert facts["ingest.buckets_touched.bands"] >= (
            1 if run == "r2" else 0
        )
    # r2 really dropped something (re-ingested overlap) — the health
    # signal is non-trivial
    r2 = {
        r.metric: r.value
        for r in obs.read_facts()
        .filter(F.col("task_name") == "MinhashSignatureStore:r2")
        .collect()
    }
    assert r2["ingest.n_dropped.text"] > 0


def test_crossmodal_store_facts_propagate_to_faces(spark, tmp_path):
    """The composite store records its pair-decision summary AND both
    faces' per-modality facts under the same pipeline_id; n_pairs
    reconciles with the returned decision table."""
    from pyspark.sql import functions as F

    import numpy as np

    from metadata_ingestion_framework_spark.observability import (
        ObservabilityStore,
    )
    from metadata_ingestion_framework_spark.operators.codecs import encode_bmp
    from metadata_ingestion_framework_spark.operators.dedup import (
        unpersist_deps,
    )
    from metadata_ingestion_framework_spark.operators.incremental import (
        CrossModalPairStore,
    )

    def px(seed, h=16, w=16):
        y, x, c = np.ogrid[0:h, 0:w, 0:3]
        return ((seed * 7 + y * 13 + x * 17 + c * 29) % 256).astype(
            np.uint8
        )

    cap = "a photo of a red fox jumping over the lazy dog"
    rows = [
        (0, cap, px(100)),                       # caption dup with 1
        (1, cap, px(200)),
        (2, "unique words about mars", px(300)),  # image dup with 3
        (3, "other unique caption here", px(300)),
        (4, "totally clean pair of things", px(400)),
    ]
    batch = spark.createDataFrame(
        [(i, c, encode_bmp(im)) for i, c, im in rows],
        "doc_id long, text string, payload binary",
    )
    obs = ObservabilityStore(spark, str(tmp_path / "obs"))
    st = CrossModalPairStore(
        spark, str(tmp_path / "xm"), bucket_width=8, n_buckets=8,
        observability=obs, pipeline_id="p17",
    )
    decisions = st.ingest(batch, "r1")
    n_pairs = decisions.count()
    unpersist_deps(decisions)
    facts = {
        (r.task_name, r.metric): r.value for r in obs.read_facts().collect()
    }
    assert facts[("CrossModalPairStore:r1", "ingest.n_pairs")] == n_pairs
    assert facts[("CrossModalPairStore:r1", "ingest.n_batch")] == len(rows)
    # both faces recorded their own ingest under the shared pipeline
    assert ("ImageHashStore:r1", "ingest.n_batch") in {
        (t, m) for (t, m) in facts
    }
    assert ("MinhashSignatureStore:r1", "ingest.n_batch") in {
        (t, m) for (t, m) in facts
    }
    # the composite's per-modality drop facts match the faces' own
    assert (
        facts[("CrossModalPairStore:r1", "ingest.n_dropped.image")]
        == facts[("ImageHashStore:r1", "ingest.n_dropped.media")]
    )
    assert (
        facts[("CrossModalPairStore:r1", "ingest.n_dropped.caption")]
        == facts[("MinhashSignatureStore:r1", "ingest.n_dropped.text")]
    )


def test_face_ingest_threads_caller_n_batch(spark, tmp_path):
    """ADVICE r18: a composite that already counted the batch threads
    n_batch into the faces' fact emission instead of each face paying
    another full recomputation of the unpersisted batch lineage. The
    sentinel value proves the threaded count is the one that lands."""
    from pyspark.sql import functions as F

    from metadata_ingestion_framework_spark.observability import (
        ObservabilityStore,
    )
    from metadata_ingestion_framework_spark.operators.dedup import (
        unpersist_deps,
    )
    from metadata_ingestion_framework_spark.operators.incremental import (
        MinhashSignatureStore,
    )

    obs = ObservabilityStore(spark, str(tmp_path / "obs"))
    st = MinhashSignatureStore(
        spark, str(tmp_path / "sigs"),
        jaccard_threshold=0.5,
        observability=obs, pipeline_id="p18",
    )
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text").limit(40)
    s = st.ingest(docs, "r1", n_batch=777)
    unpersist_deps(s)
    facts = {
        r.metric: r.value
        for r in obs.read_facts()
        .filter(F.col("task_name") == "MinhashSignatureStore:r1")
        .collect()
    }
    assert facts["ingest.n_batch"] == 777


def test_store_health_trends_over_real_lifecycle(spark, tmp_path):
    """store_health_trends (r18, VERDICT r17 item 5) over the REAL
    two-ingest filesystem lifecycle: the rollup's totals reconcile with
    the per-run fact rows, run_seq orders by run_id, the delta column
    is NULL on the first run and exact on the second."""
    from pyspark.sql import functions as F

    from metadata_ingestion_framework_spark.observability import (
        ObservabilityStore,
        store_health_trends,
    )
    from metadata_ingestion_framework_spark.operators.dedup import (
        unpersist_deps,
    )
    from metadata_ingestion_framework_spark.operators.incremental import (
        MinhashSignatureStore,
    )

    obs = ObservabilityStore(spark, str(tmp_path / "obs"))
    st = MinhashSignatureStore(
        spark, str(tmp_path / "sigs"),
        jaccard_threshold=0.5,
        observability=obs, pipeline_id="p18",
    )
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(
        (F.col("doc_id") % 2 == 1) | (F.col("doc_id") % 10 == 0)
    )
    for run, b in (("r1", b1), ("r2", b2)):
        unpersist_deps(st.ingest(b, run))
    rows = {
        r.run_id: r
        for r in store_health_trends(obs.read_facts()).collect()
    }
    assert set(rows) == {"r1", "r2"}
    facts = {
        (r.task_name, r.metric): r.value for r in obs.read_facts().collect()
    }
    for run, seq in (("r1", 1), ("r2", 2)):
        t = rows[run]
        task = f"MinhashSignatureStore:{run}"
        assert (t.pipeline_id, t.store) == ("p18", "MinhashSignatureStore")
        assert t.run_seq == seq
        assert t.n_batch == facts[(task, "ingest.n_batch")]
        assert t.n_dropped == facts[(task, "ingest.n_dropped.text")]
        assert t.drop_rate_ppm == (t.n_dropped * 1_000_000) // t.n_batch
        assert t.buckets_touched == (
            facts[(task, "ingest.buckets_touched.sigs")]
            + facts[(task, "ingest.buckets_touched.bands")]
        )
    assert rows["r1"].rate_delta_ppm is None
    assert rows["r2"].rate_delta_ppm == (
        rows["r2"].drop_rate_ppm - rows["r1"].drop_rate_ppm
    )
    # r2's re-ingested overlap makes the trend non-trivial
    assert rows["r2"].n_dropped > 0


def test_store_health_trends_orders_by_ingest_time(spark):
    """r18 review: 'rN' run ids sort lexicographically ('r10' < 'r2'),
    so the trend must order by ingest TIME (min last_update per run),
    not by run_id — otherwise run_seq and the delta chain mis-sequence
    at N >= 10."""
    import datetime

    from metadata_ingestion_framework_spark.observability import (
        FACT_SCHEMA,
        store_health_trends,
    )

    def ts(s):
        return datetime.datetime(2024, 1, 1, 0, 0, s)

    rows = []
    # three runs in true time order r9 -> r10 -> r11; 10% / 20% / 40%
    # drop rates so every delta is distinct and sign-carrying
    for sec, run, n, d in ((1, "r9", 100, 10), (2, "r10", 100, 20),
                           (3, "r11", 100, 40)):
        task = f"MinhashSignatureStore:{run}"
        rows += [
            ("p", task, "ingest.n_batch", n, -1, ts(sec)),
            ("p", task, "ingest.n_dropped.text", d, -1, ts(sec)),
            ("p", task, "ingest.buckets_touched.sigs", 1, -1, ts(sec)),
        ]
    facts = spark.createDataFrame(rows, FACT_SCHEMA)
    got = {
        r.run_id: (r.run_seq, r.drop_rate_ppm, r.rate_delta_ppm)
        for r in store_health_trends(facts).collect()
    }
    assert got == {
        "r9": (1, 100000, None),
        "r10": (2, 200000, 100000),
        "r11": (3, 400000, 200000),
    }


def test_status_and_fact_writes_run_no_spark_job(spark, tmp_path, jobs_in_group):
    from metadata_ingestion_framework_spark.streaming.offsets import (
        offset_ranges_for_batch,
    )

    obs = ObservabilityStore(spark, str(tmp_path / "obs"))
    assert jobs_in_group("obs-status", lambda: obs.write_status("p", "t", "Finished")) == 0
    assert jobs_in_group("obs-fact", lambda: obs.write_fact("p", "t", "rows", 3)) == 0
    batch = spark.createDataFrame(
        [("k", p, o) for p in range(2) for o in range(5)],
        "topic string, partition int, offset long",
    )
    # the offsets are driver rows: landing them runs no job
    ranges = [r[:4] for r in offset_ranges_for_batch(batch)]
    with_offsets = jobs_in_group(
        "obs-offsets",
        lambda: obs.write_status("p", "t", "Finished", offset_ranges=ranges, batch_id=1),
    )
    assert with_offsets == 0
    got = {
        (r.partition, r.startOffset, r.endOffset)
        for r in obs.read_status().filter("batch_id = 1").collect()
    }
    assert got == {(0, 0, 4), (1, 0, 4)}


def test_guard_takes_input_rows_from_the_offsets_collect(spark, tmp_path, jobs_in_group):
    """With ``offset_ranges_for_batch`` the guard runs one offsets job
    besides ``batch_fn``'s jobs and sums its per-range counts into
    ``input_rows``; without ``offset_fn`` it counts the batch."""
    from metadata_ingestion_framework_spark.streaming.offsets import (
        offset_ranges_for_batch,
    )
    from metadata_ingestion_framework_spark.streaming.output import guarded_batch_fn

    batch = spark.createDataFrame(
        [("k", p, o) for p in range(2) for o in range(5)] + [(None, None, 99)],
        "topic string, partition int, offset long",
    )

    def batch_fn(b, _batch_id):
        b.groupBy("partition").count().collect()

    obs = ObservabilityStore(spark, str(tmp_path / "obs"))
    fn_jobs = jobs_in_group("guard-fn", lambda: batch_fn(batch, 0))
    count_jobs = jobs_in_group("guard-count", batch.count)
    assert fn_jobs >= 1
    assert jobs_in_group("guard-ranges", lambda: offset_ranges_for_batch(batch)) == 1

    guarded = guarded_batch_fn(batch_fn, obs, "p", "t", offset_fn=offset_ranges_for_batch)
    assert jobs_in_group("guard", lambda: guarded(batch, 3)) == fn_jobs + 1
    plain = guarded_batch_fn(batch_fn, obs, "p", "t")
    assert jobs_in_group("guard-plain", lambda: plain(batch, 4)) == fn_jobs + count_jobs

    facts = {(r.batch_id, r.metric, r.value) for r in obs.read_facts().collect()}
    assert facts == {(3, "input_rows", 11), (4, "input_rows", 11)}
    ranges = {
        (r.topic, r.partition, r.startOffset, r.endOffset)
        for r in obs.read_status().filter("batch_id = 3").collect()
    }
    assert ranges == {("k", 0, 0, 4), ("k", 1, 0, 4), (None, None, 99, 99)}


def test_list_offsets_land_one_row_per_range(spark, tmp_path):
    obs = ObservabilityStore(spark, str(tmp_path / "obs"))
    obs.write_status(
        "p", "t", "RUNNING", offset_ranges=[("src", 0, 1, 5), ("src", 1, None, None)],
        batch_id=4, run_id="r", message="m",
    )
    rows = sorted(obs.read_status().collect(), key=lambda r: r.partition)
    assert [(r.topic, r.partition, r.startOffset, r.endOffset) for r in rows] == [
        ("src", 0, 1, 5), ("src", 1, None, None)
    ]
    assert {(r.status, r.batch_id, r.run_id, r.message) for r in rows} == {
        ("RUNNING", 4, "r", "m")
    }


def test_old_spark_files_and_new_files_read_as_one_table(spark, tmp_path):
    """A store whose first rows were Spark appends (the earlier write path)
    keeps reading as one table once driver-written files join them."""
    import glob
    import os

    root = str(tmp_path / "obs")
    base = spark.createDataFrame(
        [("p0", "t0", "Finished", 1, "", "")],
        "pipeline_id string, task_name string, status string, batch_id long, "
        "run_id string, message string",
    )
    offs = spark.createDataFrame(
        [("k", 0, 5, 9)], "topic string, partition int, startOffset long, endOffset long"
    )
    base.crossJoin(offs).withColumn("last_update", F.current_timestamp()).write.mode(
        "append"
    ).parquet(f"{root}/pipeline_status")
    spark.createDataFrame(
        [("p0", "t0", "input_rows", 5, 1)],
        "pipeline_id string, task_name string, metric string, value long, batch_id long",
    ).withColumn("last_update", F.current_timestamp()).write.mode("append").parquet(
        f"{root}/pipeline_fact"
    )

    obs = ObservabilityStore(spark, root)
    obs.write_status("p1", "t1", "Finished", offset_ranges=[("k", 1, 10, 19)], batch_id=2)
    obs.write_status("p1", "t1", "Finished", batch_id=3)
    obs.write_fact("p1", "t1", "input_rows", 7, batch_id=2)

    status = obs.read_status()
    types = dict(status.dtypes)
    assert types["last_update"] == "timestamp" and types["partition"] == "int"
    assert types["batch_id"] == types["startOffset"] == types["endOffset"] == "bigint"
    got = {
        (r.pipeline_id, r.batch_id, r.topic, r.partition, r.startOffset, r.endOffset)
        for r in status.collect()
    }
    assert got == {
        ("p0", 1, "k", 0, 5, 9), ("p1", 2, "k", 1, 10, 19), ("p1", 3, None, None, None, None)
    }
    assert all(r.last_update is not None for r in status.collect())
    facts = obs.read_facts()
    assert dict(facts.dtypes)["last_update"] == "timestamp"
    assert {(r.pipeline_id, r.value) for r in facts.collect()} == {("p0", 5), ("p1", 7)}
    # every file, read alone, has the same schema: whichever footer Spark
    # infers the table schema from, the result is the same
    for table in ("pipeline_status", "pipeline_fact"):
        files = glob.glob(os.path.join(root, table, "*.parquet"))
        assert len(files) >= 2
        assert len({tuple(spark.read.parquet(f).dtypes) for f in files}) == 1


def test_concurrent_writers_land_every_row_and_leave_no_tmp(spark, tmp_path):
    """Threads share one store, as run_pipelines_parallel's pipelines do;
    more threads than cores and a short switch interval force interleaving."""
    import os
    import sys
    from concurrent.futures import ThreadPoolExecutor

    root = str(tmp_path / "obs")
    obs = ObservabilityStore(spark, root)
    n_threads, n_writes = 8, 5

    def work(i):
        for b in range(n_writes):
            obs.write_status(f"p{i}", "t", "Finished", batch_id=b)
            obs.write_fact(f"p{i}", "t", "rows", b, batch_id=b)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(max_workers=n_threads) as pool:
            futures = [pool.submit(work, i) for i in range(n_threads)]
            for f in futures:
                f.result(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    want = sorted((f"p{i}", b) for i in range(n_threads) for b in range(n_writes))
    status = [(r.pipeline_id, r.batch_id) for r in obs.read_status().collect()]
    facts = [(r.pipeline_id, r.value) for r in obs.read_facts().collect()]
    assert sorted(status) == want and sorted(facts) == want
    leftovers = [
        f for _, _, names in os.walk(root) for f in names if f.endswith(".tmp")
    ]
    assert leftovers == []


def test_status_and_fact_files_are_synced_before_the_rename(spark, tmp_path, monkeypatch):
    """Each status and fact file reaches the disk before it is renamed into
    place, so a host crash cannot leave a renamed empty file for a restart
    to resume from (the ``_atomic_write`` order)."""
    import os

    obs = ObservabilityStore(spark, str(tmp_path / "obs"))
    events = []
    fsync, replace = os.fsync, os.replace

    def spy_fsync(fd):
        events.append(("fsync", os.fstat(fd).st_ino))
        fsync(fd)

    def spy_replace(src, dst):
        events.append(("replace", os.stat(src).st_ino))
        replace(src, dst)

    monkeypatch.setattr(os, "fsync", spy_fsync)
    monkeypatch.setattr(os, "replace", spy_replace)
    obs.write_status("p", "t", "Finished", [("k", 0, 0, 4)], batch_id=1)
    obs.write_fact("p", "t", "rows", 5, batch_id=1)
    renamed = [ino for kind, ino in events if kind == "replace"]
    assert len(renamed) == 2
    for ino in renamed:
        assert ("fsync", ino) in events[: events.index(("replace", ino))]
    assert obs.read_status().count() == 1 and obs.read_facts().count() == 1
