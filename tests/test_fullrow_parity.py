"""Per-row parity for the internal full-row relations whose REGISTRY faces
were converted to aggregate checksums in round 2 (driver-budget fix).

The registry queries verify every row via exact integer/modular checksums;
these tests keep the stronger row-level assertion locally so a value-level
regression in any producer is still caught at sf0.001.
"""

from __future__ import annotations

from functools import partial

import pytest

from intellect_bi_spark.operators import dedup, multimodal

from .parity import assert_parity


@pytest.mark.parametrize(
    "producer, oracle_key",
    [
        (dedup._minhash_bands, "minhash_bands"),
        (dedup._simhash_sigs, "simhash_sigs"),
        (dedup._simhash_cands, "simhash_cands"),
    ],
)
def test_dedup_fullrow(spark, duck, sf_dir, producer, oracle_key):
    assert_parity(
        producer(spark, sf_dir),
        duck,
        dedup.FULLROW_ORACLES[oracle_key],
        name=oracle_key,
    )


# Every codec with a full-row oracle is checked row by row, so a codec
# added with an oracle cannot go untested.  The ids keep the form the
# suite has always printed ("_<codec>_feature_rows-<codec>_feature_rows").
_CODEC_FULLROW = [
    pytest.param(
        partial(multimodal._feature_rows, codec=c),
        f"{c}_feature_rows",
        id=f"_{c}_feature_rows-{c}_feature_rows",
    )
    for c in multimodal.CODECS
    if f"{c}_feature_rows" in multimodal.FULLROW_ORACLES
]


@pytest.mark.parametrize(
    "producer, oracle_key",
    [
        (multimodal._catalog_rows, "catalog_rows"),
        (multimodal._image_feature_rows, "image_feature_rows"),
        (multimodal._frame_sample_rows, "frame_sample_rows"),
        (multimodal._frame_fp_rows, "frame_fp_rows"),
        *_CODEC_FULLROW,
    ],
)
def test_multimodal_fullrow(spark, duck, sf_dir, producer, oracle_key):
    assert_parity(
        producer(spark, sf_dir),
        duck,
        multimodal.FULLROW_ORACLES[oracle_key],
        name=oracle_key,
    )
