"""Fused as-of+feature block == modular composition, for every plan the
hot threshold selects (single window / chunk-and-carry for every entity /
chunk-and-carry for hot entities only).

The fused operator exists purely as a physical optimization (one
Exchange+Sort instead of two); these tests pin that it is semantically
invisible, including on the skewed fixture (conv 0 holds ~10% of rows)
and across chunk sizes that split sessions/ffill runs mid-chunk.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pandas.testing import assert_frame_equal

from amazon_security_lake_transformation_library_spark.operators.asof import asof_join
from amazon_security_lake_transformation_library_spark.operators.features import (
    build_turn_features,
)
from amazon_security_lake_transformation_library_spark.operators.fused import (
    asof_turn_features,
    asof_turn_features_hybrid,
)
from amazon_security_lake_transformation_library_spark.operators.salted import time_chunk

from conftest import spark_to_pandas_sorted

KEYS = ["conv_id", "turn_idx"]


def _modular(transcripts_df, conv_features_df) -> pd.DataFrame:
    featd = build_turn_features(transcripts_df)
    return asof_join(
        featd, conv_features_df, on="conv_id", ts="ts", build_cols=["feature_val"]
    )


def _cmp(a, b):
    pa = spark_to_pandas_sorted(a, KEYS)
    pb = spark_to_pandas_sorted(b, KEYS)
    assert_frame_equal(
        pa[sorted(pa.columns)], pb[sorted(pb.columns)], check_like=True
    )


def test_fused_equals_modular(spark, transcripts_df, conv_features_df):
    _cmp(
        asof_turn_features(transcripts_df, conv_features_df),
        _modular(transcripts_df, conv_features_df),
    )


@pytest.mark.parametrize(
    "threshold,chunk_seconds",
    [(None, None), (0, 10), (0, 3600), (50, 10), (50, 3600), (10**9, None)],
)
def test_flagship_equals_modular(
    spark, transcripts_df, conv_features_df, threshold, chunk_seconds
):
    # None / 10**9: one window; 0: every conv chunked; 50: only the hot
    # convs chunked. Chunk seconds 10 split sessions and ffill runs
    # mid-conversation, 3600 leaves most convs in one chunk.
    chunk = time_chunk(chunk_seconds=chunk_seconds) if chunk_seconds else None
    _cmp(
        asof_turn_features(
            transcripts_df, conv_features_df,
            hot_threshold_rows=threshold, chunk=chunk,
        ),
        _modular(transcripts_df, conv_features_df),
    )


@pytest.mark.parametrize("threshold", [0, 50, 10**9])
def test_hybrid_equals_plain(spark, transcripts_df, conv_features_df, threshold):
    # the forwarding shim must route exactly as asof_turn_features does:
    # threshold 0: everything chunked; 50: only hot convs chunked; huge:
    # everything in one window — all three routings must agree
    _cmp(
        asof_turn_features_hybrid(
            transcripts_df,
            conv_features_df,
            time_chunk(chunk_seconds=3600),
            hot_threshold_rows=threshold,
        ),
        asof_turn_features(transcripts_df, conv_features_df),
    )


def test_fused_strict_matches_modular_strict(spark, transcripts_df, conv_features_df):
    """strict=True (< instead of <=): a build row AT the probe ts must NOT
    be visible. The synthetic fixture samples build rows exactly at turn
    timestamps, so strict vs non-strict genuinely differ here."""
    fused_strict = asof_turn_features(transcripts_df, conv_features_df, strict=True)
    modular_strict = asof_join(
        build_turn_features(transcripts_df), conv_features_df,
        on="conv_id", ts="ts", build_cols=["feature_val"], strict=True,
    )
    _cmp(fused_strict, modular_strict)
    # and strict really differs from non-strict on this fixture
    a = spark_to_pandas_sorted(fused_strict, KEYS)
    b = spark_to_pandas_sorted(
        asof_turn_features(transcripts_df, conv_features_df), KEYS
    )
    assert not a["feature_val"].equals(b["feature_val"])


def test_fused_single_exchange_on_big_table(spark, transcripts_df, conv_features_df):
    """The point of the fusion: exactly ONE Exchange and ONE Sort (the
    modular plan has two of each), and no O(partition^2)
    unbounded-FOLLOWING frame — next_role is a lead() after the probe
    filter that reuses the existing partitioning+ordering."""
    import re

    plan = asof_turn_features(
        transcripts_df, conv_features_df
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert len(re.findall(r"\bSort\b", plan)) == 1, plan
    assert "unboundedfollowing" not in plan.lower().replace(" ", ""), plan


def test_default_threshold_runs_single_window(
    spark, transcripts_df, conv_features_df
):
    """No fixture entity exceeds the 1M default, so the hot probe hands
    back the single-window plan, not the chunked one; the hybrid shim
    forwards to the same routing. At threshold 50 the hot conversation is
    chunked."""
    for out in (
        asof_turn_features(transcripts_df, conv_features_df),
        asof_turn_features_hybrid(
            transcripts_df, conv_features_df, time_chunk(chunk_seconds=3600)
        ),
    ):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, plan
        assert "__salt_chunk" not in plan, plan

    hot = asof_turn_features(
        transcripts_df, conv_features_df, hot_threshold_rows=50
    )
    assert "__salt_chunk" in hot._jdf.queryExecution().executedPlan().toString()
