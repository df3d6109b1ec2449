"""Pipeline mode for the curation composites (VERDICT r2 item 2).

Standalone, every composite (prune_report, source_quality_report,
dup_inflation, leakage_safe_split, source_overlap, canonical_docs)
re-derives the MinHash/LSH pipeline. curation_pipeline computes the
two shared intermediates once; these tests assert

  1. the LSH stage (minhash_band_keys — the entry to the expensive
     shingle/signature work) is invoked exactly ONCE while building
     and fully evaluating every pipeline output, and
  2. each pipeline output is bit-identical to its standalone form.
"""

import pytest

from etl_portfolio_tracker_spark.io import read_table
from etl_portfolio_tracker_spark.operators import dedup as DD


def _rows(df):
    cols = sorted(df.columns)
    return sorted([tuple(str(r[c]) for c in cols) for r in df.collect()])


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return read_table(spark, sf_dir, "documents")


def test_lsh_runs_once_in_pipeline_mode(docs, monkeypatch):
    calls = {"n": 0}
    real = DD.minhash_band_keys

    def counting(*a, **kw):
        calls["n"] += 1
        return real(*a, **kw)

    monkeypatch.setattr(DD, "minhash_band_keys", counting)
    out = DD.curation_pipeline(docs)
    for name in ("canonical_docs", "leakage_safe_split",
                 "source_overlap", "prune_report",
                 "source_quality_report", "dup_inflation"):
        out[name].collect()
    assert calls["n"] == 1, (
        f"LSH stage built {calls['n']} times in pipeline mode")


def test_pipeline_outputs_match_standalone(docs):
    out = DD.curation_pipeline(docs)
    standalone = {
        "canonical_docs": DD.canonical_docs(docs),
        "leakage_safe_split": DD.leakage_safe_split(docs),
        "source_overlap": DD.source_overlap(docs),
        "prune_report": DD.prune_report(docs),
        "source_quality_report": DD.source_quality_report(docs),
        "dup_inflation": DD.dup_inflation(docs),
        "corpus_prune": DD.corpus_prune(docs),
    }
    for name, solo in standalone.items():
        assert _rows(out[name]) == _rows(solo), f"{name} diverges"


def test_registry_state_memoized_and_reset(spark, sf_dir):
    # the registry's shared state is built once per session; the reset
    # drops it and unpersists every frame it held
    import __spark_entry__ as E
    st = E._curation(spark, sf_dir)
    assert E._curation(spark, sf_dir) is st
    frames = [v for v in st.values() if hasattr(v, "unpersist")]
    assert len(frames) == 5 and all(f.is_cached for f in frames)
    E._curation_reset(spark)
    assert not any(f.is_cached for f in frames)
    assert E._curation(spark, sf_dir) is not st


def test_registry_verifies_match_standalone_kernels(spark, sf_dir, docs):
    # the build scores the candidates once; its Jaccard and cosine
    # filters equal the standalone kernels
    import __spark_entry__ as E
    assert _rows(E._verified(spark, sf_dir)) == _rows(DD.minhash_verified(docs))
    assert (_rows(E.queries()["tfidf_cosine_verified"](spark, sf_dir))
            == _rows(DD.tfidf_cosine_verified(docs)))
