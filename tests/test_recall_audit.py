"""The twelve vector recall audits (queries/llm.py ``recall_audit``).

Each audit reports, per query of the fixed 20-query sample, how many of
the exact top-3 neighbors each approximate leg found.  These tests pin
every audit's output schema and the recall arithmetic, pin the bytes of
their DuckDB oracles, and check that a vector of the wrong width fails
the query instead of being ranked.
"""

from __future__ import annotations

import hashlib

import pytest

from conftest import SF_DIR

_BASE = [("query_id", "bigint"), ("n_exact", "bigint")]
_HIT = [("n_hit", "bigint"), ("recall_at_3", "double")]
_IVF = [
    ("query_id", "bigint"),
    ("n_cells", "bigint"),
    ("n_cand", "bigint"),
    ("n_exact", "bigint"),
    ("n_hit_adc", "bigint"),
    ("n_hit", "bigint"),
    ("recall_adc", "double"),
    ("recall_at_3", "double"),
]

# audit -> (pinned dtypes, its legs as (n_hit column, recall column))
AUDITS = {
    "ann_recall_audit": (_BASE + _HIT, [("n_hit", "recall_at_3")]),
    "ann_mt_recall_audit": (_BASE + _HIT, [("n_hit", "recall_at_3")]),
    "ann_mp_recall_audit": (_BASE + _HIT, [("n_hit", "recall_at_3")]),
    "ann_ivf_recall_audit": (_BASE + _HIT, [("n_hit", "recall_at_3")]),
    "sq8_recall_audit": (
        _BASE + _HIT + [("avg_recon_err", "double")],
        [("n_hit", "recall_at_3")],
    ),
    "pq_adc_recall_audit": (
        _BASE
        + [
            ("n_hit_adc", "bigint"),
            ("n_hit_reranked", "bigint"),
            ("recall_adc", "double"),
            ("recall_reranked", "double"),
        ],
        [("n_hit_adc", "recall_adc"), ("n_hit_reranked", "recall_reranked")],
    ),
    "pq_trained_recall_audit": (
        _BASE
        + [
            ("n_hit_adc_base", "bigint"),
            ("n_hit_adc_trained", "bigint"),
            ("n_hit_rr_trained", "bigint"),
            ("recall_adc_base", "double"),
            ("recall_adc_trained", "double"),
            ("recall_rr_trained", "double"),
        ],
        [
            ("n_hit_adc_base", "recall_adc_base"),
            ("n_hit_adc_trained", "recall_adc_trained"),
            ("n_hit_rr_trained", "recall_rr_trained"),
        ],
    ),
    "opq_rotation_recall_audit": (
        _BASE
        + [
            ("n_hit_adc_plain", "bigint"),
            ("n_hit_adc_rot", "bigint"),
            ("recall_adc_plain", "double"),
            ("recall_adc_rot", "double"),
        ],
        [
            ("n_hit_adc_plain", "recall_adc_plain"),
            ("n_hit_adc_rot", "recall_adc_rot"),
        ],
    ),
    "ann_ivfpq_recall_audit": (
        [("query_id", "bigint"), ("n_cand", "bigint"), ("n_exact", "bigint")]
        + _HIT,
        [("n_hit", "recall_at_3")],
    ),
    "ann_ivfpq_adaptive_recall_audit": (
        _IVF,
        [("n_hit_adc", "recall_adc"), ("n_hit", "recall_at_3")],
    ),
    "ann_ivfpq_residual_recall_audit": (
        _IVF,
        [("n_hit_adc", "recall_adc"), ("n_hit", "recall_at_3")],
    ),
    "ann_ivfpq_trained_recall_audit": (
        _IVF
        + [
            ("skew_id_sliced", "double"),
            ("skew_trained", "double"),
            ("skew_capped", "double"),
            ("coarse_err_id", "double"),
            ("coarse_err_trained", "double"),
        ],
        [("n_hit_adc", "recall_adc"), ("n_hit", "recall_at_3")],
    ),
}

# sha256 of each audit's DuckDB oracle SQL: the Spark side may be
# refactored freely, the ground truth it is checked against may not
ORACLE_SHA256 = {
    "ann_recall_audit": "57dd318782df5b6691333b178f657c6103913ab47e7fda17b577d9e59cdcb765",
    "pq_adc_recall_audit": "90c5ed2b9d33a2d07ae8af1c71e6fba3dda12db5365ba65c37745d70a1026c5c",
    "pq_trained_recall_audit": "b49bf64bc5311663337ba071c68ba372e1c9b19ca0186fe497aa38829a24807a",
    "ann_ivfpq_recall_audit": "b7a9ef267796afabf2a5166380e5037149782685055e4cda149b3703c40d5969",
    "ann_ivfpq_adaptive_recall_audit": "94d51bd4417fbfd653d98cac48ec31951b89dc4b083b78ff6136fb8646bc7527",
    "ann_ivfpq_residual_recall_audit": "5f5893024c9d660bd7dcdada04c30a1244878ed4d90af75986bc9e84aefc7d2e",
    "sq8_recall_audit": "1d229ddfbdad74c0ffc78d3664a6befdeea75c7068c38cc0a8add5e42b9db850",
    "ann_mt_recall_audit": "84bb72faaa04b766bab85e41d35f0ead6a05908057c6220f9e4662d05a5ea149",
    "ann_mp_recall_audit": "5273b45a390f7d73221a105a5b27825a3d361d3b526ad6414633b2486b23125d",
    "ann_ivf_recall_audit": "0184d7004e5f709f0a8ba387ac4d94560159407280e19499182afcdb8a3688d5",
    "ann_ivfpq_trained_recall_audit": "56c8dc828a8ac82474652ab8157d5dc0e6895b19f4c54784e49435c77d82088f",
    "opq_rotation_recall_audit": "dd0a6d971c4e390372489a77622552da09b8fb341bdf05f713e305a2be3e65c6",
}


@pytest.mark.parametrize("name", list(AUDITS))
def test_vector_recall_audit_schema_and_bounds(spark, name):
    """Every sampled query reports; each leg's hits are bounded by the
    exact top-3 and its recall is exactly n_hit / n_exact at 6 dp."""
    from quant_market_data_pipeline_spark.queries import load_all

    dtypes, legs = AUDITS[name]
    df = load_all()[name].spark(spark, SF_DIR)
    assert df.dtypes == dtypes
    rows = df.collect()
    assert sorted(r.query_id for r in rows) == list(range(20))
    for r in rows:
        assert 1 <= r.n_exact <= 3
        for n_hit, recall in legs:
            assert 0 <= r[n_hit] <= r.n_exact
            assert r[recall] == round(r[n_hit] / r.n_exact, 6)


def test_recall_audit_oracles_byte_identical():
    from quant_market_data_pipeline_spark.queries import load_all

    reg = load_all()
    got = {
        name: hashlib.sha256(reg[name].oracle.encode()).hexdigest()
        for name in ORACLE_SHA256
    }
    assert got == ORACLE_SHA256


def test_short_embedding_fails_the_audit(spark, tmp_path):
    """A fixture with vector 7 cut to 63 floats: the width check on the
    audits' shared vector frame raises instead of ranking a NULL
    distance first (vector 7 is an IVF centroid, so a NULL there would
    pull every vector into its cell)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from quant_market_data_pipeline_spark.queries import load_all

    t = pq.read_table(f"{SF_DIR}/embeddings.parquet")
    field = t.schema.field("embedding")
    cut = [
        e[:63] if i == 7 else e
        for i, e in zip(
            t.column("vec_id").to_pylist(), t.column("embedding").to_pylist()
        )
    ]
    t = t.set_column(
        t.schema.get_field_index("embedding"),
        field,
        pa.array(cut, type=field.type),
    )
    pq.write_table(t, tmp_path / "embeddings.parquet")
    reg = load_all()
    for name in (
        "sq8_recall_audit",
        "pq_adc_recall_audit",
        "ann_ivfpq_recall_audit",
    ):
        with pytest.raises(Exception, match="EMB_DIM"):
            reg[name].spark(spark, str(tmp_path)).collect()
