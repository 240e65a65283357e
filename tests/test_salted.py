"""The hot-entity pre-pass finds the fixture's planted hot conversation.
Chunk-and-carry equality is pinned in tests/test_fused.py."""

from amazon_security_lake_transformation_library_spark.operators import salted


def test_hot_entity_detection(spark, transcripts_df):
    hot = salted.hot_entities(transcripts_df, threshold_rows=50).toPandas()
    # the generator plants conv_00000000 as the ~10%-of-rows hot conversation
    assert "conv_00000000" in set(hot["conv_id"])
