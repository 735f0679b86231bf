"""The Arrow tier's conversation stream: the batch loop's carry-over of a
conversation split across Arrow batches (pure Python, hand-built
batches), and the Spark entry points' independence from the Arrow batch
size."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from pymfe_spark.plans.extractor import _stream_batches
from tests.conftest import SF_SMOKE


def _turns(conv_sizes: dict[str, int]) -> pd.DataFrame:
    """Kernel-column turns frame, sorted by (conv_id, turn_idx), with a
    NaN first lag and null tools to exercise the array conversion."""
    frames = []
    for cid, n in conv_sizes.items():
        i = np.arange(n)
        frames.append(
            pd.DataFrame(
                {
                    "conv_id": cid,
                    "turn_idx": i.astype(np.int32),
                    "role": np.where(i % 2 == 0, "user", "assistant"),
                    "tool": np.where(i % 3 == 0, None, "exec"),
                    "text_len": (10.0 + i * 7 % 13).astype(float),
                    "ts_delta_s": np.where(i == 0, np.nan, 1.0 + i % 5),
                }
            )
        )
    return pd.concat(frames, ignore_index=True)


def _split(pdf: pd.DataFrame, cuts: list[int]) -> list[pd.DataFrame]:
    """Arrow-like batches: fresh 0-based frames cut at row offsets."""
    edges = [0, *cuts, len(pdf)]
    return [
        pdf.iloc[a:b].reset_index(drop=True) for a, b in zip(edges[:-1], edges[1:])
    ]


def _run(batches):
    seen: list[tuple[str, tuple]] = []

    def per_batch(conv_ids, arrays, edges):
        for cid, a, e in zip(conv_ids, edges[:-1], edges[1:]):
            seen.append((cid, tuple(x[a:e].copy() for x in arrays)))
        return {
            "conv_id": list(conv_ids),
            "n": np.diff(edges).tolist(),
            "first_tool": [arrays[4][a] for a in edges[:-1]],
        }

    frames = list(_stream_batches(iter(batches), per_batch))
    return seen, frames


CASES = {
    # one conversation across many batches, neighbours on both sides
    "spans_many_batches": ({"a": 3, "b": 40, "c": 2}, [5, 11, 17, 23, 29, 35, 41]),
    # "a" ends exactly on the first boundary, so the next batch starts
    # a new conversation; "b" ends exactly on the second
    "ends_on_boundary": ({"a": 6, "b": 4, "c": 5}, [6, 10]),
    "single_row_batches": ({"a": 1, "b": 3, "c": 2, "d": 1}, list(range(1, 7))),
    "one_batch": ({"a": 4, "b": 1, "c": 3}, []),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_stream_calls_per_conv_once_per_conversation(case):
    sizes, cuts = CASES[case]
    pdf = _turns(sizes)
    batches = _split(pdf, cuts)
    seen, frames = _run(batches)

    assert [cid for cid, _ in seen] == list(sizes), "each conversation once, in order"
    for cid, arrays in seen:
        g = pdf[pdf["conv_id"] == cid]
        assert len(arrays[0]) == sizes[cid]
        np.testing.assert_array_equal(arrays[0], g["text_len"].to_numpy())
        np.testing.assert_array_equal(
            arrays[1], np.nan_to_num(g["ts_delta_s"].to_numpy(), nan=0.0)
        )
        np.testing.assert_array_equal(arrays[2], g["turn_idx"].to_numpy(float))
        assert list(arrays[3]) == g["role"].tolist()
        assert list(arrays[4]) == ["NONE" if t is None else t for t in g["tool"]]

    out = pd.concat(frames, ignore_index=True)
    assert list(out.columns) == ["conv_id", "n", "first_tool"]
    assert out["conv_id"].tolist() == list(sizes)
    assert out["n"].tolist() == list(sizes.values())
    # at most one frame per input batch; a single batch gives one frame
    assert 1 <= len(frames) <= len(batches)


def test_stream_carry_over_copies_each_row_once(monkeypatch):
    """A conversation spanning k batches is concatenated once when it
    ends — not re-concatenated on every batch (O(k^2) copying)."""
    n_rows, batch = 2_000, 10
    pdf = _turns({"a": 1, "long": n_rows, "z": 1})
    batches = _split(pdf, list(range(batch, len(pdf), batch)))
    copied = []
    real = np.concatenate

    def counting(arrays, *args, **kwargs):
        arrays = list(arrays)
        copied.append(sum(len(a) for a in arrays))
        return real(arrays, *args, **kwargs)

    monkeypatch.setattr(np, "concatenate", counting)
    seen, _ = _run(batches)
    monkeypatch.undo()
    assert [cid for cid, _ in seen] == ["a", "long", "z"]
    # five column arrays of the long conversation, plus the per-batch
    # conversation-edge vectors (a few elements each)
    assert sum(copied) <= 5 * (n_rows + 2) + 4 * len(batches)


def test_stream_skips_empty_batches():
    pdf = _turns({"a": 3, "b": 2})
    empty = pdf.iloc[:0]
    seen, _ = _run([empty, pdf.iloc[:2], empty, pdf.iloc[2:].reset_index(drop=True)])
    assert [(cid, len(a[0])) for cid, a in seen] == [("a", 3), ("b", 2)]


def _sorted(df, keys):
    return df.toPandas().sort_values(keys).reset_index(drop=True)


def test_entry_points_independent_of_arrow_batch_size(spark):
    """With tiny Arrow batches (7 records) nearly every conversation
    spans several batches; extract, extract_expanding and
    extract_with_confidence must return exactly what they return at the
    session's batch size."""
    from pymfe_spark.operators.base import turns
    from pymfe_spark.plans.extractor import MFESpark

    ex = MFESpark(groups=("general", "statistical"))
    t = turns(spark, SF_SMOKE)
    runs = {
        "extract": (lambda: ex.extract(t), ["conv_id", "mtf_name"]),
        "expanding": (
            lambda: ex.extract_expanding(t, stride=5),
            ["conv_id", "turn_idx", "mtf_name"],
        ),
        "confidence": (
            lambda: ex.extract_with_confidence(t, sample_num=4),
            ["conv_id", "mtf_name"],
        ),
    }
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = {name: _sorted(fn(), keys) for name, (fn, keys) in runs.items()}
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "7")
        small = {name: _sorted(fn(), keys) for name, (fn, keys) in runs.items()}
    finally:
        spark.conf.set(key, old)
    for name in runs:
        assert len(default[name]) > 0, name
        pd.testing.assert_frame_equal(small[name], default[name], check_exact=True)


# ---------------------------------------------------------------------
# the batched kernel: one call per Arrow batch must give every
# conversation exactly the rows it gets alone
# ---------------------------------------------------------------------

CORE = ("general", "statistical", "info-theory")


def _mixed_turns() -> pd.DataFrame:
    """Normal conversations with degenerate ones between them: one
    turn, two turns, a constant column, a single class, a null role."""
    rng = np.random.RandomState(7)
    frames = []

    def conv(cid, n, role=None, text_len=None):
        i = np.arange(n)
        frames.append(
            pd.DataFrame(
                {
                    "conv_id": cid,
                    "turn_idx": i.astype(np.int32),
                    "role": rng.choice(["user", "assistant", "tool"], n)
                    if role is None
                    else role,
                    "tool": rng.choice(["exec", "write", None], n),
                    "text_len": rng.randint(1, 400, n).astype(float)
                    if text_len is None
                    else text_len,
                    "ts_delta_s": np.where(i == 0, np.nan, rng.exponential(20, n).round(6)),
                }
            )
        )

    conv("a", 40)
    conv("b_one_turn", 1)
    conv("c", 67)
    conv("d_two_turns", 2)
    conv("e_constant", 12, text_len=np.full(12, 7.0))
    conv("f", 9)
    conv("g_one_class", 10, role=np.array(["user"] * 10, dtype=object))
    conv("h_null_role", 15, role=np.array(["user", None, "assistant"] * 5, dtype=object))
    conv("i", 130)
    return pd.concat(frames, ignore_index=True)


def _alone_and_batched(cfg=None):
    from pymfe_spark.plans.extractor import (
        KernelConfig,
        _extract_contiguous,
        extract_batch,
    )
    from pymfe_spark.plans.measures import GROUPS

    names = tuple(n for g in CORE for n in sorted(GROUPS[g]))
    cfg = cfg or KernelConfig()
    pdf = _mixed_turns()
    batched = next(_extract_contiguous(pdf, names, cfg))
    alone = pd.concat(
        [
            extract_batch(g, names, cfg.summaries, cfg.max_kernel_turns, cfg=cfg)
            for _, g in pdf.groupby("conv_id", sort=True)
        ],
        ignore_index=True,
    )
    return batched, alone


def test_batched_kernel_equals_each_conversation_alone():
    """extract_batch of each conversation alone (a one-segment call)
    equals that conversation's rows when the whole mixed batch —
    degenerate conversations included — is one kernel call."""
    batched, alone = _alone_and_batched()
    pd.testing.assert_frame_equal(batched, alone, check_exact=True)
    got = batched.set_index(["conv_id", "mtf_name"])["mtf_val"]
    # the degenerate cases keep their one-conversation values
    assert got["b_one_turn", "nr_inst"] == 1.0
    assert np.isnan(got["b_one_turn", "cov"])  # np.cov gives no matrix: fails alone
    assert np.isnan(got["g_one_class", "gravity"])
    assert got["h_null_role", "nr_class"] == 3.0  # the null role is a class
    assert np.isfinite(got["h_null_role", "class_ent"])


def test_batched_kernel_equals_alone_under_summaries():
    """The same with a summary set that has no row-wise form."""
    from pymfe_spark.plans.extractor import KernelConfig

    cfg = KernelConfig(summaries=("mean", "quantiles", "histogram", "nansd", "kurtosis"))
    batched, alone = _alone_and_batched(cfg)
    pd.testing.assert_frame_equal(batched, alone, check_exact=True)


def test_raising_segment_form_fails_one_conversation_only(monkeypatch):
    """A segment form that raises on a batch is re-run one conversation
    at a time: only the conversation it fails for gets NaN (as a bare
    measure row), every other one keeps its values."""
    import pymfe_spark.plans.measures as m
    from pymfe_spark.plans.extractor import KernelConfig, _extract_contiguous

    real = m.MEASURES["mean"]

    def seg(b):  # fails for the constant-text_len conversation
        if any((b.segment(s).N[:, 0] == 7.0).all() for s in range(b.S)):
            raise ValueError("planted failure")
        return real.seg(b)

    monkeypatch.setitem(
        m.MEASURES, "mean", m.MeasureDef("mean", "statistical", m._first(seg), False, seg)
    )
    pdf = _mixed_turns()
    out = next(_extract_contiguous(pdf, ("mean",), KernelConfig()))
    rows = {cid: dict(zip(g.mtf_name, g.mtf_val)) for cid, g in out.groupby("conv_id")}
    assert list(rows["e_constant"]) == ["mean"] and np.isnan(rows["e_constant"]["mean"])
    for cid, r in rows.items():
        if cid != "e_constant":
            assert sorted(r) == ["mean.mean", "mean.sd"], cid
            assert np.isfinite(r["mean.mean"]), cid


def test_extract_identical_across_arrow_batch_sizes(spark):
    """extract() of the default groups gives bit-identical rows whether
    an Arrow batch holds 10,000 turns, 7 or 1."""
    from pymfe_spark.operators.base import turns
    from pymfe_spark.plans.extractor import MFESpark

    ex = MFESpark(groups=CORE)
    t = turns(spark, SF_SMOKE)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    got = {}
    try:
        for size in ("10000", "7", "1"):
            spark.conf.set(key, size)
            got[size] = _sorted(ex.extract(t), ["conv_id", "mtf_name"])
    finally:
        spark.conf.set(key, old)
    assert len(got["10000"]) > 0
    for size in ("7", "1"):
        pd.testing.assert_frame_equal(got[size], got["10000"], check_exact=True)
