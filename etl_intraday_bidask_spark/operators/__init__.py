"""Operator modules. Importing this package registers every SURVEY.md §2
operator into :mod:`etl_intraday_bidask_spark.registry`."""

from etl_intraday_bidask_spark.operators import (  # noqa: F401
    aggregates,
    corpus_ops,
    corpus_ops2,
    corpus_ops3,
    corpus_ops4,
    dedup_advanced,
    etl_ext,
    etl_ext2,
    graph_ops,
    joins,
    llm_ops,
    multimodal,
    projection,
    relational_ext,
    relational_ext2,
    relational_ext3,
    relational_ext4,
    relational_ext5,
    relational_ext6,
    scalar_funcs,
    scans,
    setops,
    similarity,
    sorts,
    sql_surface,
    text_analysis,
    timeseries,
    timeseries2,
    quality,
    udfs,
    windows,
)

# These operators live outside operators/ but register like any other.
from etl_intraday_bidask_spark.plans import pipeline  # noqa: E402,F401
from etl_intraday_bidask_spark.streaming import stateful  # noqa: E402,F401

# Imported after plans/ and streaming/ to keep the registry's insertion
# order, which before/after registry dumps compare.
from etl_intraday_bidask_spark.operators import (  # noqa: E402,F401
    staged_r6,
    staged_r6b,
    staged_r7,
    staged_r8,
    staged_r9,
    staged_r10,
    staged_r11,
    staged_r12,
)

# NOTE: a transformWithStateInPandas operator (the Spark 4 successor to
# applyInPandasWithState) was attempted and reverted: its driver-side
# state server requires google.protobuf, which is not functional in this
# container and cannot be installed. The legacy applyInPandasWithState
# path (streaming/stateful.py) covers the custom-stateful surface.
