"""Scalar / row-level function library (SURVEY.md §2.3).

Every function is a pure DataFrame -> DataFrame (or Column -> Column)
transformation built from ``pyspark.sql.functions`` so it stays inside
whole-stage codegen; Python UDFs appear only where semantics force them
(free-text per-match hashing) and then as Arrow-batched pandas UDFs.
"""
