"""Checks on the benchmark itself.

``python3 perfbench/run.py --selftest`` runs them all; every benchmark run
also checks that no trace wrapper is left on an engine module before and
after it measures.
"""

from __future__ import annotations

from trace_spans import TARGETS, Tracer, installed_wrappers


def force(df) -> None:
    """Materialize every column of ``df`` through the ``noop`` sink.

    ``count()`` is not enough: Catalyst prunes projected columns that no
    aggregate reads, so computed columns are never evaluated.
    """
    df.write.format("noop").mode("overwrite").save()


def check_force_materializes(spark) -> dict:
    """Fail if ``force`` lets Catalyst prune an expensive computed column.

    The frame selects ``textstats.repetition_stats`` output through a Python
    UDF that counts its calls: ``force`` must evaluate it once per row.
    Also reports how many rows ``count()`` evaluated on the same frame.
    """
    from pyspark.sql import functions as F

    from phenoscape_owl_tools_spark.operators import textstats

    n = 64
    calls = spark.sparkContext.accumulator(0)

    def probe(x):
        calls.add(1)
        return x

    probe_udf = F.udf(probe, "double")
    docs = spark.createDataFrame(
        [(i, " ".join(["alpha", "beta", "alpha"] * (i % 7 + 1))) for i in range(n)],
        "doc_id long, text string",
    )
    frame = textstats.repetition_stats(docs).select(
        "doc_id", probe_udf("dup_word_frac").alias("probe")
    )
    frame.count()
    counted = calls.value
    force(frame)
    forced = calls.value - counted
    if forced != n:
        raise AssertionError(f"noop sink evaluated the computed column on {forced} of {n} rows")
    return {"rows": n, "evaluated_by_count": counted, "evaluated_by_force": forced}


def check_no_wrappers() -> None:
    """Fail if any trace wrapper is still set on an engine module."""
    left = installed_wrappers()
    if left:
        raise AssertionError(f"trace wrappers left installed: {left}")


def check_install_restore(sc) -> None:
    """Installing the tracer wraps every target; restoring removes them all."""
    tracer = Tracer(sc)
    tracer.install()
    try:
        if len(installed_wrappers()) != len(TARGETS):
            raise AssertionError("tracer did not wrap every target")
    finally:
        tracer.restore()
    check_no_wrappers()
