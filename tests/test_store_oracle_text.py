"""Lock the GENERATED SQL text of the oracles that builders compose: the
store families' BM25, ANN and sketch oracles (retrieval._bm25_oracle,
vectorstore._ann_oracle, sketches._sketch_oracle), the multimodal codec
oracles and full-row forms (multimodal._checksum_oracle,
_audio_checksum_duck, _image_rows_duck, _frame_rows_duck,
_bdv_rows_duck, _jfif_ctes) and the forecast twins that share their
twin's text.  A change to a builder must not silently alter an
already-certified oracle.  Each hash is the md5 of the exact text the
oracle had before the builders existed."""

from __future__ import annotations

import hashlib

import pytest

from intellect_bi_spark.operators import (
    forecast,
    multimodal,
    quality,
    retrieval,
    sketches,
    vectorstore,
)

_ORACLE_MD5 = {
    # retrieval
    "bm25_topk_docs": "d25fb467613e4d8ce10ba09630977fc2",
    "fuzzy_name_match_summary": "c24c29d1e9641a28da41d98c3e1e6066",
    "bm25_index_store": "d25fb467613e4d8ce10ba09630977fc2",
    "bm25_index_upsert": "63369ebe2271b8f0c2bff85edb5f71ae",
    "bm25_stream_upsert_store": "a5067556d1c45ff47f0a1f168c8b4dd7",
    "bm25_store_vacuum": "2664a8dd554727a46f89a3f7e60c1746",
    "bm25_index_delete": "037bdea96b07a85a89b6f9dfa5bd1680",
    "hybrid_search_rrf": "1da3e3e007790aad8dc16d1cb0f4acfa",
    "bm25_ndcg_eval": "3d82f321e2c9f70c18a13111b4f01455",
    "phrase_search_topk": "20347444e21634ad9b872544d93d9ffa",
    "phrase_index_store": "20347444e21634ad9b872544d93d9ffa",
    "bm25_postings_compact": "63369ebe2271b8f0c2bff85edb5f71ae",
    "near_search_topk": "4de8e6a116727640b6b3b402314b313f",
    "bm25_crud_chain": "a9cfdbdda122bee70049b9f19cd276d7",
    "near_index_store": "4de8e6a116727640b6b3b402314b313f",
    "phrase_index_upsert": "2403a263b8458517d1422ee620beb7e3",
    "phrase_index_delete": "89e831d9f4eebb27687ec8e550d685c6",
    "phrase_search_batch": "c0bcdc733c2c6aaa45d38b29a14993ba",
    "phrase_stream_upsert_store": "cafb27f2c98b42c52f701eb0b72cc3c3",
    "phrase_crud_chain": "4f71e7ebf29c73a01dde51a0329fa538",
    "near_search_batch": "e57e9357c60c7df3b43bb911e16bbedd",
    "bm25_topk_batch": "26bdb404ddb68f8040b649617f620519",
    "bm25_filtered_topk": "a463af91bd57732db0041dde60fa3319",
    # vectorstore
    "ann_index_store": "e96928aaa39e3e95224ed779326f2d0f",
    "ann_index_store_batch": "7a0a39f6b874bcef7c8e4565bdafbf76",
    "ann_index_upsert": "fd1ed0b233c1722fe6fe09b329dbbdc4",
    "ann_index_compact": "f23c0887536c166d27cf120fc8b1c7d0",
    "ann_index_delete": "c4d92cfca464ef0687538ea00daa2924",
    "ann_stream_upsert_store": "9120f9c96e5da5b3daab84da62d39311",
    "ann_crud_chain": "d69ad6d4a705015f5c1cc4a5c59484df",
    # sketches
    "sketch_sliding_7d_users": "75f4e62a770edcc41b0a0bbda1e355c3",
    "sketch_rollup_daily_users": "299ee972fbe1f1efea964be8b72b1f5d",
    "heavy_hitter_users": "9411e9b2457ac79b2bb5df22dec3d098",
    "sketch_rollup_store": "b905850cbf2386eb18bf78cf2e9bdc36",
    "theta_audience_overlap": "f12e7c968c0d992ba343f3ca4cad657c",
    "sketch_rollup_value_median": "158233af969dfc631a1720d76e7cf53f",
    "cms_user_event_counts": "e2e02e7049c772e50d06b606da86970d",
    "bloom_decontam_stats": "629af2eb572ab0fe09a0d99fbbda9469",
    "sketch_rollup_upsert": "1c51a9c62f56855069d5ee78eeca2ef7",
    "sketch_rollup_delete": "3ae7a6851a915205451cec1c7c572566",
    "sketch_rollup_compact": "787780166360b6d1358cef029de628a1",
    "sketch_store_vacuum": "8697b517f7f68fd8a96e2f6a6b4b7a5d",
    "sketch_crud_chain": "bdc53334b6cf54d0cd759770c0e26914",
    "sketch_stream_upsert_store": "dfb0c1836bb6348e6beb30fad2930f62",
    # quality
    "erasure_e2e": "5a4a438aadc219b91cf71ae0f3617362",
    # multimodal
    "multimodal_catalog": "b9aad469af729f85684a1ed70cb979f2",
    "image_features_stub": "38c24de55ddf3245bc1b49c95cfc2f54",
    "video_frame_sample_stub": "79690fd70c5a8374b00b8180ab9ed61d",
    "image_features_ppm": "e588f35dc5e2fc086c6c7fd349fb44cb",
    "image_features_png": "db70318b257bc6c3d86e3b050bb6ced6",
    "image_thumbnails_ppm": "56454b2b7f801c484b3840ad63bf2fa6",
    "video_frame_dedup_y4m": "e24182ebb5c0a541f060c32f2f3a091d",
    "image_features_gif": "38ebfb81f947ca72d6850e3afe5bbd50",
    "image_features_jpeg": "96b52f3517dfcac14f95c616826446f3",
    "video_frame_sample_y4m": "2d93bc674674dcbb7ee354e2cb587b2d",
    "video_features_bdv": "89d503ab3a4a39a918e654fcf31534d3",
    "video_features_mb4": "5fc94271e8327e0a89083cab6244ec68",
    "video_features_fmp4": "3c5fe78df3e057083505ef19af440e4b",
    "video_features_sts": "776941294ff17f166e5884fab164eb81",
    "video_features_mjpeg": "c516227573cdc38e7cd35a1d03ad56c0",
    "audio_window_rms": "b4f68e520896f8be60c4d19c5b3a3585",
    "audio_features_mulaw": "0acd6647d66d386f1ee049326d190e44",
    "audio_features_adpcm": "3e8ddc131deb4afe09d9abc67bc3e8ad",
    "audio_features_ilt": "d1ca0ca41e263bc482b66c51608296a1",
    # multimodal full-row forms
    "catalog_rows": "224f33a5678b4a3f95f4dcfbb6dea554",
    "image_feature_rows": "6cc79849c9fcda907df2b29d33139cd9",
    "frame_sample_rows": "a5f8ecac511571be446dbb0302c559b1",
    "ppm_feature_rows": "277b5f3534fbf16ee5b7d6bb5f73bc62",
    "png_feature_rows": "2fc7d81311efb86c6dceed1e701fe1c4",
    "frame_fp_rows": "58b996eef2ec253dfc343cf275ea996c",
    "gif_feature_rows": "d383f0e7ed8976f5365ae4d039bb93b6",
    "jpeg_feature_rows": "9efaf0ffbf639a85786810f4ba744c22",
    "y4m_feature_rows": "6ccc749746eb6d817655ab753723ca54",
    "bdv_feature_rows": "6d1020c0b63b42b10d805665e0299499",
    "mb4_feature_rows": "e9438e5d03f93903a6e51bc639774f66",
    "fmp4_feature_rows": "535b835a14e27045673a584526e49e8b",
    "sts_feature_rows": "54ae2bd24128e6dcede854c882449a1d",
    "mjpeg_feature_rows": "dd4e648a1b1236a45c6dda97a6ed5cf2",
    "wav_feature_rows": "4f90d7bd468118b51a0966dec4759708",
    # forecast twins (each shares its twin's text)
    "forecast_drift_by_region_pandas": "3dfda273f7b4d89e7b94e83a85570d89",
    "forecast_seasonal7_by_region_pandas": "686f8da390003965e2d3d3b2eb96aa9c",
}

_MODULES = (retrieval, vectorstore, sketches, quality, multimodal, forecast)
_TWINS = {
    "forecast_drift_by_region_pandas",
    "forecast_seasonal7_by_region_pandas",
}


def _oracle_text(name: str) -> str:
    if name in multimodal.FULLROW_ORACLES:
        return multimodal.FULLROW_ORACLES[name]
    return next(m.ORACLES[name] for m in _MODULES if name in m.ORACLES)


def test_every_store_family_oracle_is_pinned():
    """Every built oracle is pinned: the store families', the
    multimodal ones (registry and full-row) and the forecast twins."""
    pinned = (
        {
            n
            for m in (retrieval, vectorstore, sketches, multimodal)
            for n in m.ORACLES
        }
        | set(multimodal.FULLROW_ORACLES)
        | {"erasure_e2e"}
        | _TWINS
    )
    assert pinned == set(_ORACLE_MD5)


@pytest.mark.parametrize("name", sorted(_ORACLE_MD5))
def test_store_oracle_text_unchanged(name):
    got = hashlib.md5(_oracle_text(name).encode()).hexdigest()
    assert got == _ORACLE_MD5[name], (
        f"{name} oracle text changed — if intentional, update its md5"
        " AND queue the query for driver re-cert"
    )


# (tok_where, scored_where) of each oracle built on the BM25 CTE chain
_BM25_CHAIN_ARGS = {
    "bm25_topk_docs": ("", ""),
    "bm25_index_store": ("", ""),
    "bm25_index_upsert": ("", ""),
    "bm25_postings_compact": ("", ""),
    "bm25_stream_upsert_store": ("", ""),
    "bm25_store_vacuum": ("", ""),
    "bm25_ndcg_eval": ("", ""),
    "bm25_index_delete": (" WHERE doc_id % 10 <> 3", ""),
    "bm25_crud_chain": (" WHERE doc_id % 10 != 5", ""),
    "erasure_e2e": (" WHERE doc_id % 10 != 3", ""),
    "bm25_filtered_topk": (
        "",
        " WHERE doc_id IN (SELECT doc_id FROM documents WHERE lang = 'en')",
    ),
}


@pytest.mark.parametrize("name", sorted(_BM25_CHAIN_ARGS))
def test_bm25_oracles_embed_the_scoring_chain(name):
    """Every oracle built on ``_bm25_ctes`` carries the chain verbatim
    (with its document and candidate filters)."""
    text = _oracle_text(name)
    assert retrieval._bm25_ctes(*_BM25_CHAIN_ARGS[name]) in text
