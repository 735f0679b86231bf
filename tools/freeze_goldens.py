"""Freeze golden parquet for the 8 rows-only ``zz_mfe_extract_*``
queries (round-2 verdict "Next round" #3).

The goldens are computed by the DRIVER-SIDE numpy twin — the same
batched kernel (`_extract_contiguous` / `_expanding_rows` /
`_confidence_rows`) fed from a DuckDB load of the turn table, with NO
Spark involvement (no partitioning, no Arrow chunk carryover, no
applyInPandas). tests/test_extract_goldens.py then compares each
catalog query's Spark output against the frozen file value-for-value,
closing the "runs but unverified at gate strength" gap for the long
mfe_extract outputs.

Usage:  python tools/freeze_goldens.py [sf_dir] [out_dir]
Defaults: /root/testdata/sf0.001 -> tests/goldens/

Host-dependence caveat (round 5): LAPACK-routed kernels (eigh / svd /
det / pinv — the can_cor/eigenvalues/sd_ratio families) are
deterministic on one host but can drift ~1e-9 relative across BLAS
builds / CPU dispatch paths; the frozen values embed the freezing
host's eigensolver answers. tests/test_extract_goldens.py therefore
compares those measure families at LAPACK_RTOL (1e-7) and everything
else at 1e-12 — do NOT refreeze just to chase a cross-host LAPACK
diff, it would churn the binary files without fixing anything.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pymfe_spark.operators.base import TURNS_SQL  # noqa: E402
from pymfe_spark.plans.extractor import (  # noqa: E402
    MFESpark,
    _confidence_rows,
    _extract_contiguous,
    _expanding_rows,
)
from pymfe_spark.sources.transcripts import TRANSCRIPTS_SQL  # noqa: E402

SF_DEFAULT = "/root/testdata/sf0.001"
OUT_DEFAULT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests",
    "goldens",
)

FULL_SUMMARIES = (
    "mean",
    "sd",
    "var",
    "count",
    "histogram",
    "iq_range",
    "kurtosis",
    "max",
    "median",
    "min",
    "quantiles",
    "range",
    "skewness",
    "sum",
    "powersum",
    "pnorm",
    "nanmean",
    "nansd",
)


def load_turns_pandas(sf_dir: str) -> pd.DataFrame:
    """The turn table via DuckDB (the oracle engine), sorted
    contiguously by (conv_id, turn_idx) — the twin's input."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    con.execute(f"CREATE VIEW transcripts AS {TRANSCRIPTS_SQL}")
    pdf = con.execute(
        f"WITH {TURNS_SQL.strip()}\n"
        "SELECT conv_id, turn_idx, role, tool, text_len, ts_delta_s "
        "FROM turns ORDER BY conv_id, turn_idx"
    ).df()
    return pdf


def _twin_extract(pdf: pd.DataFrame, ex: MFESpark) -> pd.DataFrame:
    from dataclasses import replace

    cfg = replace(ex.cfg, measure_time=None)
    return pd.concat(
        list(_extract_contiguous(pdf, ex.measure_names, cfg, ex.relative)),
        ignore_index=True,
    )


def _twin_expanding(
    pdf: pd.DataFrame, ex: MFESpark, stride: int, min_turns: int = 2
) -> pd.DataFrame:
    from dataclasses import replace

    cfg = replace(ex.cfg, measure_time=None)
    return pd.concat(
        list(_expanding_rows(pdf, ex.measure_names, cfg, stride, min_turns)),
        ignore_index=True,
    )


def _twin_confidence(
    pdf: pd.DataFrame, ex: MFESpark, sample_num: int
) -> pd.DataFrame:
    from dataclasses import replace

    cfg = replace(ex.cfg, measure_time=None)
    return pd.concat(
        list(_confidence_rows(pdf, ex.measure_names, cfg, sample_num)),
        ignore_index=True,
    )


def _twin_hybrid_mega(pdf: pd.DataFrame, ex: MFESpark) -> pd.DataFrame:
    """Driver-side twin of extract_hybrid over (sf turns + the planted
    200k-turn mega conversation): normal conversations through the
    kernel twin; the mega conversation's exact-tier measures from the
    FULL conversation (the kernel computes them O(n), so the full-run
    kernel IS the exact-tier truth), prefix-tier measures from the
    first ``max_kernel_turns`` turns — exactly plans/hybrid.py's
    routing contract."""
    from pymfe_spark.plans.hybrid import override_measures, override_names
    from pymfe_spark.testing import mega_conv_pandas

    cols = ["conv_id", "turn_idx", "role", "tool", "text_len", "ts_delta_s"]
    mega = mega_conv_pandas()[cols]
    normal_out = _twin_extract(pdf, ex)
    prefix_out = _twin_extract(
        mega.iloc[: ex.cfg.max_kernel_turns].reset_index(drop=True), ex
    )
    full_out = _twin_extract(mega, ex)
    exact_names = override_names(
        override_measures(ex), ex.cfg.summaries, ex.cfg.summary_kwargs
    )
    return pd.concat(
        [
            normal_out,
            prefix_out[~prefix_out["mtf_name"].isin(exact_names)],
            full_out[full_out["mtf_name"].isin(exact_names)],
        ],
        ignore_index=True,
    )


def golden_frames(pdf: pd.DataFrame) -> dict[str, pd.DataFrame]:
    """name -> golden frame, mirroring the catalog queries' configs
    (plans/extractor_queries.py) exactly."""
    return {
        "zz_mfe_extract_core": _twin_extract(
            pdf, MFESpark(groups=("general", "statistical", "info-theory"))
        ),
        "zz_mfe_extract_distance": _twin_extract(
            pdf, MFESpark(groups=("clustering", "concept", "itemset"))
        ),
        "zz_mfe_extract_model_based": _twin_extract(
            pdf, MFESpark(groups=("landmarking", "model-based"))
        ),
        "zz_mfe_extract_complexity": _twin_extract(
            pdf, MFESpark(groups=("complexity",))
        ),
        "zz_mfe_extract_relative": _twin_extract(
            pdf, MFESpark(groups=("relative",))
        ),
        "zz_mfe_extract_full_summaries": _twin_extract(
            pdf, MFESpark(groups=("general",), summaries=FULL_SUMMARIES)
        ),
        "zz_mfe_extract_confidence": _twin_confidence(
            pdf, MFESpark(groups=("general",)), sample_num=32
        ),
        "zz_mfe_extract_expanding": _twin_expanding(
            pdf, MFESpark(groups=("general",)), stride=8
        ),
        "zz_mfe_extract_hybrid_mega": _twin_hybrid_mega(
            pdf, MFESpark(groups=("general", "statistical", "info-theory"))
        ),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else SF_DEFAULT
    out_dir = sys.argv[2] if len(sys.argv) > 2 else OUT_DEFAULT
    only = set(sys.argv[3:])  # optional: freeze just these names
    os.makedirs(out_dir, exist_ok=True)
    pdf = load_turns_pandas(sf_dir)
    for name, frame in golden_frames(pdf).items():
        if only and name not in only:
            continue
        sort_cols = [c for c in ("conv_id", "turn_idx", "mtf_name") if c in frame]
        frame = frame.sort_values(sort_cols).reset_index(drop=True)
        path = os.path.join(out_dir, f"{name}.parquet")
        frame.to_parquet(path, index=False)
        print(f"froze {name}: {len(frame)} rows -> {path}")


if __name__ == "__main__":
    main()
