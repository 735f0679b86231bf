"""Custom stateful streaming operator: incremental per-conversation
feature state via ``applyInPandasWithState``.

The batch engine recomputes a conversation's features from its full
prefix; the streaming twin keeps O(1) state per conversation and folds
each arriving micro-batch in, so a conversation's feature row is
always current without re-reading history. The state is the raw
power-sum state (n, S1..S4) of text length (exact integers in double
at these scales), running min/max and role counts — the quantities the
batch stride-1 SQL vector (operators/temporal.py expanding_mfe_sql)
derives per prefix. A micro-batch merges in by plain addition, the
merge of the salted skew aggregation (operators/skew.py), exact in any
order, so arrival order cannot change any output.

Emitted per update: n_turns, mean/sd/min/max/range and e1071
method-3 skewness/kurtosis of text length (functions/moments.py
``power_sum_stats``, the code expanding_mfe_sql runs as Spark
Columns), role entropy (operators/conv_info.py ``running_entropy``,
as expanding_mfe_sql finishes it), and the distinct-role count. Agreement with
the batch aggregation is pytest-verified (streaming final state ==
batch query, multi-batch).
"""

from __future__ import annotations

import json
import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pymfe_spark.functions.moments import PY, power_sum_state, power_sum_stats
from pymfe_spark.operators.conv_info import running_entropy

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, "
    "tool string, ts timestamp"
)

STATE_SCHEMA = StructType(
    [
        StructField("n_turns", LongType()),  # all rows (count(*))
        StructField("n", LongType()),  # non-null text rows (length stats)
        StructField("s1", DoubleType()),  # exact integer power sums
        StructField("s2", DoubleType()),
        StructField("s3", DoubleType()),
        StructField("s4", DoubleType()),
        StructField("mn", DoubleType()),
        StructField("mx", DoubleType()),
        StructField("role_json", StringType()),
    ]
)

OUT_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("n_turns", LongType()),
        StructField("nr_class", LongType()),
        StructField("mean_len", DoubleType()),
        StructField("sd_len", DoubleType()),
        StructField("min_len", DoubleType()),
        StructField("max_len", DoubleType()),
        StructField("range_len", DoubleType()),
        StructField("skewness_len", DoubleType()),
        StructField("kurtosis_len", DoubleType()),
        StructField("role_ent", DoubleType()),
    ]
)

_NAN = float("nan")


def _update_conv(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (conv_id,) = key
    if state.exists:
        n_turns, n, s1, s2, s3, s4, mn, mx, role_json = state.get
        roles: dict[str, int] = json.loads(role_json)
    else:
        n_turns, n = 0, 0
        s1 = s2 = s3 = s4 = 0.0
        mn, mx = math.inf, -math.inf
        roles = {}

    for pdf in pdfs:
        n_turns += len(pdf)
        for r, c in pdf["role"].value_counts().items():
            roles[r] = roles.get(r, 0) + int(c)
        # null text is SKIPPED by the batch twin's avg(length(text));
        # astype(str) would count it as the 4-char literal "None"
        lens = pdf["text"].dropna().str.len().to_numpy(dtype=float)
        if lens.size == 0:
            continue
        # power sums are exact integers in double -> the merge is
        # exactly commutative/associative; arrival order cannot
        # perturb any emitted value
        n, s1, s2, s3, s4 = (
            a + b for a, b in zip((n, s1, s2, s3, s4), power_sum_state(lens))
        )
        mn = min(mn, float(lens.min()))
        mx = max(mx, float(lens.max()))

    state.update(
        (
            n_turns, n, s1, s2, s3, s4, mn, mx,
            json.dumps(roles, sort_keys=True),
        )
    )

    # the finisher expanding_mfe_sql renders as a Column: identical
    # float op order
    if n > 0:
        mean, sd, skew, kurt = power_sum_stats(n, s1, s2, s3, s4, PY)
        out_mn, out_mx, rng = mn, mx, mx - mn
    else:
        mean = sd = skew = kurt = out_mn = out_mx = rng = _NAN

    total = sum(roles.values())
    ent = (
        running_entropy(total, sum(sorted(c * math.log2(c) for c in roles.values())), PY)
        if total
        else _NAN
    )
    yield pd.DataFrame(
        {
            "conv_id": [conv_id],
            "n_turns": [n_turns],
            "nr_class": [len(roles)],
            "mean_len": [mean],
            "sd_len": [sd],
            "min_len": [out_mn],
            "max_len": [out_mx],
            "range_len": [rng],
            "skewness_len": [skew],
            "kurtosis_len": [kurt],
            "role_ent": [ent],
        }
    )


def streaming_incremental_features(
    spark: SparkSession,
    input_dir: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """readStream -> groupBy(conv_id) -> applyInPandasWithState.

    ``max_files_per_trigger`` forces multiple micro-batches so the
    state-merge path (not just the cold insert) is exercised; at scale
    state lives in the state store, partitioned by conv_id hash —
    arrivals for different conversations never contend.
    """
    reader = spark.readStream.schema(TRANSCRIPT_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    return stream.groupBy("conv_id").applyInPandasWithState(
        _update_conv,
        outputStructType=OUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
