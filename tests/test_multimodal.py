"""Multimodal plumbing tests: binary payload handling, Arrow batch shape,
corrupt-payload dead-letter path."""

from __future__ import annotations

from pyspark.sql import functions as F

from opentelemetry_collector_spark.operators.multimodal import (
    extract_features,
    media_features,
    synth_media,
)
from tests.conftest import SF_SMOKE, assert_df_equal


def test_media_features_match_oracle(spark, duck):
    from opentelemetry_collector_spark.operators.multimodal import (
        MEDIA_FEATURES_ORACLE,
    )

    # the oracle's "pure byte arithmetic on text" shortcut requires the
    # corpus to be non-empty ASCII; assert that precondition explicitly so a
    # fixture change surfaces here rather than as silent divergence
    media = synth_media(spark, SF_SMOKE)
    assert media.filter(F.length("payload") == 0).count() == 0
    assert media.filter(
        F.length(F.col("payload").cast("string")) != F.col("n_bytes")
    ).count() == 0

    con = duck(SF_SMOKE)
    assert_df_equal(media_features(spark, SF_SMOKE), con.sql(MEDIA_FEATURES_ORACLE))


def test_checksum_mismatch_flagged(spark):
    media = synth_media(spark, SF_SMOKE).withColumn(
        "declared_md5",
        F.when(F.col("doc_id") % 7 == 0, F.lit("0" * 32)).otherwise(
            F.col("declared_md5")
        ),
    )
    feats = extract_features(media)
    bad = feats.filter(~F.col("checksum_ok")).count()
    expected = media.filter(F.col("doc_id") % 7 == 0).count()
    assert bad == expected
    # corrupt rows are kept, not dropped (dead-letter split is downstream)
    assert feats.count() == media.count()

