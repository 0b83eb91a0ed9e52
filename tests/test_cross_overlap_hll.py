"""Cross-source winnowing-overlap matrix (operators/contamination.py)."""

import pandas as pd
import pytest

from htm_streamer_spark.operators.contamination import cross_source_overlap

SHARED = (
    "the quick brown fox jumps over the lazy dog while the band plays "
    "a familiar tune under the harvest moon tonight"
)


def _corpus():
    rows = [
        # A and B both carry the shared paragraph (a mirrored scrape)
        {"doc_id": 1, "source": "A", "text": SHARED + " alpha only tail"},
        {"doc_id": 2, "source": "A", "text": "completely unrelated alpha page about gardening tools and soil"},
        {"doc_id": 3, "source": "B", "text": "beta preamble text here " + SHARED},
        {"doc_id": 4, "source": "B", "text": "beta material on orbital mechanics and launch windows explained"},
        # C shares nothing long enough to co-fingerprint
        {"doc_id": 5, "source": "C", "text": "gamma corpus covers medieval trade routes salt and amber roads"},
    ]
    return pd.DataFrame(rows)


class TestCrossSourceOverlap:
    def test_mirrored_sources_flagged(self, spark):
        out = cross_source_overlap(
            spark.createDataFrame(_corpus())
        ).toPandas()
        pairs = {(r.source_a, r.source_b): r for r in out.itertuples()}
        assert ("A", "B") in pairs
        ab = pairs[("A", "B")]
        assert ab.n_shared_fp > 0
        assert 0 < ab.overlap <= 1.0
        # C overlaps nobody: pairs touching C either absent or zero
        for k, r in pairs.items():
            if "C" in k:
                assert r.n_shared_fp == 0

    def test_ordering_and_totals(self, spark):
        out = cross_source_overlap(
            spark.createDataFrame(_corpus())
        ).toPandas()
        for r in out.itertuples():
            assert r.source_a < r.source_b
            assert r.n_shared_fp <= min(r.n_a, r.n_b)

    def test_identical_sources_full_containment(self, spark):
        pdf = pd.DataFrame(
            [
                {"doc_id": 1, "source": "X", "text": SHARED},
                {"doc_id": 2, "source": "Y", "text": SHARED},
            ]
        )
        out = cross_source_overlap(spark.createDataFrame(pdf)).toPandas()
        assert len(out) == 1
        assert out.iloc[0]["overlap"] == pytest.approx(1.0, abs=1e-6)
