"""End-to-end curation pipeline: stage semantics on a controlled corpus."""

from __future__ import annotations

from pyspark.sql import functions as F

from metadata_ingestion_framework_spark.catalog_queries import q_curation_pipeline
from metadata_ingestion_framework_spark.operators.dedup import unpersist_deps


def test_curation_pipeline_stages(spark, tmp_path):
    en = "the cat and the dog sat in the house and it is warm for everyone today"
    rows = [
        # 1-2: exact duplicates after normalization (case/punct differ) ->
        # only doc 1 survives exact dedup
        (1, en),
        (2, en.upper() + "!!!"),
        # 3: near-dup of 1 (one word changed) -> dropped by jaccard stage
        (3, en.replace("warm", "cold")),
        # 4: distinct English doc
        (4, "a quick brown fox jumps over that lazy dog because it is quick and the day is for running"),
        # 5: German doc
        (5, "der hund und die katze sind nicht mit der maus in einem haus und das ist ein tag"),
        # 6: junk (all punctuation -> quality gate drops it)
        (6, "!!! ??? ;;; ,,, ... !!! ??? ;;; ,,, ..."),
        # 7: unknown language -> lang gate drops it
        (7, "zzz qqq xxx www yyy vvv kkk jjj fff ggg"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    docs.write.parquet(str(tmp_path / "documents.parquet"))

    out = q_curation_pipeline(spark, str(tmp_path))
    got = {r["doc_id"]: r for r in out.collect()}
    unpersist_deps(out)

    assert 2 not in got and 3 not in got  # exact + near dup removed
    assert 6 not in got and 7 not in got  # quality + language gates
    # survivors are a deterministic-sample subset of {1, 4, 5}
    assert set(got) <= {1, 4, 5}
    for r in got.values():
        assert r["pred_lang"] in ("en", "de", "fr")
        assert r["quality"] >= 0.5
    # determinism: same corpus -> same curated set
    again = {r["doc_id"] for r in q_curation_pipeline(spark, str(tmp_path)).collect()}
    assert set(got) == again


def test_curation_pipeline_plan_has_no_cartesian(spark, tmp_path):
    docs = spark.createDataFrame([(1, "the and of to a")], "doc_id long, text string")
    docs.write.parquet(str(tmp_path / "documents.parquet"))
    df = q_curation_pipeline(spark, str(tmp_path))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    unpersist_deps(df)
