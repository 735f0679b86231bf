"""The shared class-count stages (operators/conv_info.py) on degenerate
input: every categorical SQL-tier query and every kernel cross-check
built on them must match its DuckDB oracle on a planted transcript
table holding a one-role conversation, a one-turn conversation, a null
tool and a literal 'NONE' tool — cases the generated testdata never
produces (its tool is never the string 'NONE'), and a null role, one
more class in every engine (the numpy kernel's NULL_ROLE)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest

import pymfe_spark.operators.base as base
import pymfe_spark.operators.conv_info as conv_info
import pymfe_spark.sources as sources
from pymfe_spark.plans.catalog import load_catalog
from pymfe_spark.sources import TRANSCRIPTS_SQL
from pymfe_spark.testing import assert_frames_match

CATALOG = load_catalog()
SQL_TIER = (
    "mf_general",
    "zz_mf_class_balance",
    "mf_info_attr_ent",
    "mf_info_joint",
    "zz_mf_itemset_one",
    "zz_mf_itemset_two",
    "expanding_mfe_sql",
    "zz_crosstab_role_tool",
)
QUERIES = SQL_TIER + (
    "zz_mfe_kernel_cross_check",
    "mfe_kernel_dist_check",
    "mfe_kernel_summary_check",
    "mfe_kernel_onehot_check",
    "mfe_kernel_itemset_check",
)
SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, "
    "ts timestamp_ntz"
)


def _planted(null_role: bool = False) -> pd.DataFrame:
    t0 = pd.Timestamp("2025-01-01 00:00:00")
    rows = [
        # one role; tools exec, null and the literal 'NONE'
        ("c1", "user", "a b", "exec"),
        ("c1", "user", "a b c d", None),
        ("c1", "user", "x", "NONE"),
        ("c1", "user", "a b c", "exec"),
        # one turn
        ("c2", "assistant", "hello world", None),
        # three roles; a null and a literal 'NONE' tool in one role
        ("c3", "user", "q", None),
        ("c3", "assistant", "a long answer", "write"),
        ("c3", "tool", "out", "NONE"),
        ("c3", "tool", "more out", None),
        ("c3", "user", "thanks a lot", None),
        ("c3", "assistant", "ok", "write"),
    ]
    if null_role:
        rows += [("c3", None, "note", "write"), ("c3", None, "more notes", None)]
    pdf = pd.DataFrame(rows, columns=["conv_id", "role", "text", "tool"])
    pdf.insert(1, "turn_idx", pdf.groupby("conv_id").cumcount().astype("int32"))
    pdf["ts"] = t0 + pd.to_timedelta(pdf.index * 37, unit="s")
    return pdf


@pytest.fixture
def plant(spark, monkeypatch):
    """Serve a planted frame as every module's transcript table."""

    def serve(planted: pd.DataFrame) -> pd.DataFrame:
        df = spark.createDataFrame(planted, SCHEMA)
        for mod in (base, conv_info, sources):
            monkeypatch.setattr(mod, "transcripts", lambda spark, sf_dir: df)
        return planted

    return serve


def _oracle(planted: pd.DataFrame, sql: str) -> pd.DataFrame:
    head = f"WITH transcripts AS ({TRANSCRIPTS_SQL})"
    assert sql.startswith(head)
    con = duckdb.connect()
    con.register("planted", planted)
    return con.execute(
        "WITH transcripts AS (SELECT conv_id, turn_idx, role, text, tool, "
        "CAST(ts AS TIMESTAMP) AS ts FROM planted)" + sql[len(head):]
    ).df()


@pytest.mark.parametrize("name", QUERIES)
def test_degenerate_class_tables_match_oracle(spark, plant, name):
    planted = plant(_planted(null_role=True))
    got = CATALOG[name].fn(spark, "planted").toPandas()
    assert_frames_match(got, _oracle(planted, CATALOG[name].oracle), name)


def test_degenerate_class_values(spark, plant):
    """c1/c2 are NULL for a one-class conversation (one role, or one
    turn), and nr_tool counts the literal 'NONE' tool but not a null."""
    plant(_planted())
    cb = CATALOG["zz_mf_class_balance"].fn(spark, "p").toPandas()
    cb = cb.set_index("conv_id")
    assert cb.loc[["c1", "c2"], ["c1", "c2"]].isna().all().all()
    assert cb.loc["c3", ["c1", "c2"]].notna().all()
    general = CATALOG["mf_general"].fn(spark, "p").toPandas()
    assert general.set_index("conv_id")["nr_tool"].to_dict() == {
        "c1": 2,
        "c2": 0,
        "c3": 2,
    }


def test_null_role_pairs_use_their_joint_count(spark, plant):
    """A null role is one item of the XOR supports: c3's (null, write)
    pair has |A| = 2, |B| = 3 and |A and B| = 1 of 8 rows."""
    plant(_planted(null_role=True))
    two = CATALOG["zz_mf_itemset_two"].fn(spark, "p").toPandas()
    pair = two[(two.conv_id == "c3") & two.item_a.isna() & (two.item_b == "write")]
    assert pair.support_xor.tolist() == [round((2 + 3 - 2 * 1) / 8, 6)]
