"""Test-support utilities: DuckDB oracle comparison (the same check the
driver's correctness gate performs: column names + row count +
order-insensitive values). pytest, perfbench and tools/check_oracle.py
all compare through ``frame_problems``."""

from __future__ import annotations

import numpy as np
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def duckdb_connect(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            try:
                df[c] = pd.to_numeric(df[c])
            except (ValueError, TypeError):
                pass
    return df.sort_values(list(df.columns), na_position="last").reset_index(drop=True)


def _same(sv: pd.Series, dv: pd.Series) -> np.ndarray:
    """Per-row equality of one normalized column: numbers within an
    absolute 1e-9 (NaN == NaN), timestamps as tz-naive datetime64[us],
    anything else as strings (null == null)."""
    if pd.api.types.is_numeric_dtype(sv) and pd.api.types.is_numeric_dtype(dv):
        return np.isclose(
            sv.astype(float), dv.astype(float), rtol=0, atol=1e-9, equal_nan=True
        )
    if pd.api.types.is_datetime64_any_dtype(sv) or pd.api.types.is_datetime64_any_dtype(dv):
        sv, dv = (
            pd.to_datetime(v).dt.tz_localize(None).astype("datetime64[us]")
            for v in (sv, dv)
        )
        return (sv == dv).to_numpy()
    return (sv.fillna("·").astype(str) == dv.fillna("·").astype(str)).to_numpy()


def frame_problems(spark_df: pd.DataFrame, duck_df: pd.DataFrame) -> list[str]:
    """The oracle comparison (column names, row count, order-insensitive
    values); one message per problem, empty when the frames match."""
    if sorted(spark_df.columns) != sorted(duck_df.columns):
        return [
            f"columns differ: spark={sorted(spark_df.columns)} "
            f"duck={sorted(duck_df.columns)}"
        ]
    if len(spark_df) != len(duck_df):
        return [f"row count differ: spark={len(spark_df)} duck={len(duck_df)}"]
    s, d = normalize(spark_df), normalize(duck_df)
    problems = []
    for c in s.columns:
        same = _same(s[c], d[c])
        if not same.all():
            i = int(np.argmax(~same))
            problems.append(
                f"column {c} values differ. first diff row {i}: "
                f"spark={s[c].iloc[i]!r} duck={d[c].iloc[i]!r}"
            )
    return problems


def assert_frames_match(spark_df: pd.DataFrame, duck_df: pd.DataFrame, name: str = "") -> None:
    problems = frame_problems(spark_df, duck_df)
    assert not problems, f"{name}: " + "; ".join(problems)


# ---------------------------------------------------------------------
# planted mega-conversation fixture (round-4): ONE deterministic
# generator shared by the Spark catalog query (mfe_extract_hybrid_mega)
# and the driver-side golden twin (tools/freeze_goldens.py), so the
# hybrid tier's output on a REAL mega conversation is golden-gated.
# text_len / ts_delta_s are integer-valued doubles: their plain sums
# are exact in any association order (every partial sum < 2^53), which
# keeps the frozen comparison tight.
# ---------------------------------------------------------------------

MEGA_GOLDEN_CONV_ID = "zz_mega_golden"
MEGA_GOLDEN_TURNS = 200_000
_MEGA_T0_US = 1735689600_000_000  # 2025-01-01T00:00:00 UTC


def mega_conv_pandas(n_turns: int = MEGA_GOLDEN_TURNS) -> pd.DataFrame:
    """The planted mega conversation as a kernel-ready pandas frame
    (columns = operators.base.turns output). Pure integer recurrences —
    no RNG state, bit-identical everywhere."""
    i = np.arange(n_turns, dtype=np.int64)
    roles = np.array(["user", "assistant", "system"], dtype=object)
    tools = np.array([None, "search", "python", None, "exec"], dtype=object)
    text_len = (1 + (i * 2654435761) % 500).astype(float)
    delta = (1 + (i * 48271) % 120).astype(float)
    delta[0] = np.nan  # first turn of a conversation has no lag
    ts_us = _MEGA_T0_US + np.concatenate(
        ([0], np.cumsum(delta[1:]).astype(np.int64) * 1_000_000)
    )
    return pd.DataFrame(
        {
            "conv_id": MEGA_GOLDEN_CONV_ID,
            "turn_idx": i.astype(np.int32),
            "role": roles[i % 3],
            "tool": tools[i % 5],
            "ts": pd.to_datetime(ts_us, unit="us"),
            "text_len": text_len,
            "ts_delta_s": delta,
        }
    )


_MEGA_SCHEMA = (
    "conv_id string, turn_idx int, role string, tool string, "
    "ts timestamp_ntz, text_len double, ts_delta_s double"
)


def mega_conv_df(spark, n_turns: int = MEGA_GOLDEN_TURNS):
    """The same fixture as a Spark DataFrame with the exact turns()
    schema, ready to unionByName with a real turn table.

    Generated DISTRIBUTED: spark.range drives the partitioning, and each
    task rebuilds the FULL frame with mega_conv_pandas (once, on its
    first non-empty batch) and slices out its own index span, so no
    fixture bytes ride in the task binary (the driver-built
    createDataFrame form shipped ~1.3 MB per task at 200k turns). The
    ts prefix sum has no closed form, which is why each task recomputes
    everything from index 0 — O(n_turns) vectorized work per task,
    milliseconds at fixture scale, and bit-identical to the pandas twin
    (asserted by tests/test_hybrid.py)."""

    def gen(batches):
        full = None
        for pdf in batches:
            idx = pdf["id"].to_numpy(dtype=np.int64)
            if len(idx) == 0:
                continue
            if full is None:
                full = mega_conv_pandas(n_turns)
            yield full.iloc[idx].reset_index(drop=True)

    n_parts = max(1, min(int(spark.sparkContext.defaultParallelism), n_turns // 25_000 or 1))
    rng = spark.range(0, n_turns, 1, n_parts)
    return rng.mapInPandas(gen, schema=_MEGA_SCHEMA)
