"""The offline quantizer artifact workflow (round-5 verdict item 6).

The ANN guards name a runnable command (`python -m
cost_of_living_data_etl_spark.jobs.fit_quantizer`); these tests prove
the workflow it describes is real: the artifact fit is bit-identical
to the in-session fit, priming the cache from the artifact makes the
IVF consumers produce identical results without refitting, and a
non-default k actually changes the fit (the k ∝ N contract is a real
parameter, not a docstring).
"""

from __future__ import annotations

from cost_of_living_data_etl_spark.operators.similarity import (
    IVF_K,
    _fit_ivf_centroids,
    _QUANTIZER_CACHE,
    clear_quantizer_caches,
    corpus_cache_key,
    fit_quantizer,
    load_quantizer,
    use_quantizer_artifact,
    with_norm,
)
from cost_of_living_data_etl_spark.sources.tables import load_table

from conftest import TESTDATA

SF = f"{TESTDATA}/sf0.001"


def test_artifact_fit_is_bit_identical_to_in_session_fit(spark, tmp_path):
    out = str(tmp_path / "quantizer")
    fit_quantizer(spark, SF, out)
    artifact = load_quantizer(spark, out)
    in_session = sorted(
        _fit_ivf_centroids(with_norm(load_table(spark, SF, "embeddings")))
    )
    assert artifact == in_session  # exact float equality: same fit, no RNG
    assert len(artifact) == IVF_K


def test_consumers_accept_artifact_and_skip_refit(spark, tmp_path):
    from cost_of_living_data_etl_spark.operators.similarity import (
        q_ann_ivf_probe,
    )

    out = str(tmp_path / "quantizer")
    fit_quantizer(spark, SF, out)

    clear_quantizer_caches()
    baseline = sorted(map(tuple, q_ann_ivf_probe(spark, SF).collect()))

    clear_quantizer_caches()
    use_quantizer_artifact(spark, SF, out)
    # the cache is primed — the query must NOT refit (the artifact
    # object stays the exact list use_quantizer_artifact installed)
    primed = _QUANTIZER_CACHE[(corpus_cache_key(SF), 1)]
    got = sorted(map(tuple, q_ann_ivf_probe(spark, SF).collect()))
    assert _QUANTIZER_CACHE[(corpus_cache_key(SF), 1)] is primed
    assert got == baseline
    clear_quantizer_caches()


def test_k_is_a_real_parameter(spark, tmp_path):
    out = str(tmp_path / "quantizer_k4")
    fit_quantizer(spark, SF, out, k=4, iters=2)
    artifact = load_quantizer(spark, out)
    assert len(artifact) == 4


def test_cli_main_writes_artifact(spark, tmp_path, capsys):
    """The exact command the guard messages print must run and write
    the artifact (driven with the shared session so the fixture
    survives)."""
    from cost_of_living_data_etl_spark.jobs.fit_quantizer import main

    out = str(tmp_path / "quantizer_cli")
    got = main(
        ["--sf-dir", SF, "--out", out, "--k", "2", "--iters", "1"],
        spark=spark,
    )
    assert got == out
    assert "wrote 2 centroids" in capsys.readouterr().out
    assert len(load_quantizer(spark, out)) == 2


def test_nonstandard_k_requires_explicit_escape_hatch(spark, tmp_path):
    """Round-6 review: a k != IVF_K artifact changes cell geometry, so
    every under-cap consumer whose oracle replays the pinned IVF_K fit
    would hash-mismatch — priming must refuse it by default and accept
    it only through the named production flag."""
    import pytest

    out = str(tmp_path / "q_k5")
    fit_quantizer(spark, SF, out, k=5)
    clear_quantizer_caches()
    with pytest.raises(ValueError, match="allow_nonstandard_k"):
        use_quantizer_artifact(spark, SF, out)
    assert (corpus_cache_key(SF), 1) not in _QUANTIZER_CACHE  # refusal primes nothing
    use_quantizer_artifact(spark, SF, out, allow_nonstandard_k=True)
    assert len(_QUANTIZER_CACHE[(corpus_cache_key(SF), 1)][0]) == 5
    clear_quantizer_caches()


def test_guards_stand_down_only_for_scale_path_primes(
    spark, tmp_path, monkeypatch
):
    """Round-6 review: the SemDeDup / mutual-NN oversized-corpus guards
    advertise the artifact workflow, so a primed session must actually
    get PAST them. Round-7 refinement: ONLY a k ∝ N (k != IVF_K) prime
    is that scale path — a primed STANDARD-k artifact reproduces
    exactly the quadratic within-cell geometry the guards refuse, so
    the refusal must survive it."""
    import pytest

    from cost_of_living_data_etl_spark.operators import similarity
    from cost_of_living_data_etl_spark.plans import mining

    # make the tiny fixture look "oversized" to both guards
    monkeypatch.setattr(similarity, "SEMDEDUP_MAX_ROWS", 3)
    monkeypatch.setattr(mining, "MAX_MNN_ANN_ROWS", 3)
    clear_quantizer_caches()
    with pytest.raises(ValueError, match="fit a k ∝ N quantizer"):
        similarity.q_semdedup_cluster_prune(spark, SF).collect()
    with pytest.raises(ValueError, match="fit a k ∝ N quantizer"):
        mining.q_mutual_nn_ann(spark, SF).collect()

    # a standard-k prime does NOT stand the guards down: same fixed-k
    # quadratic geometry, same refusal
    out_std = str(tmp_path / "q_std")
    fit_quantizer(spark, SF, out_std)  # k = IVF_K: oracle-replayable
    use_quantizer_artifact(spark, SF, out_std)
    assert similarity.is_artifact_primed(SF)
    assert not similarity.is_artifact_primed(SF, scale_path_only=True)
    with pytest.raises(ValueError, match="fit a k ∝ N quantizer"):
        similarity.q_semdedup_cluster_prune(spark, SF).collect()
    with pytest.raises(ValueError, match="fit a k ∝ N quantizer"):
        mining.q_mutual_nn_ann(spark, SF).collect()

    # a k ∝ N prime (through the documented escape hatch the guard
    # message spells out) IS the scale path — guards stand down
    out_scaled = str(tmp_path / "q_scaled")
    fit_quantizer(spark, SF, out_scaled, k=5)
    clear_quantizer_caches()
    use_quantizer_artifact(spark, SF, out_scaled, allow_nonstandard_k=True)
    assert similarity.is_artifact_primed(SF, scale_path_only=True)
    assert similarity.q_semdedup_cluster_prune(spark, SF).count() >= 0
    assert mining.q_mutual_nn_ann(spark, SF).count() >= 0
    clear_quantizer_caches()


def test_guard_messages_advertise_a_runnable_priming_call():
    """ADVICE r06: the remediation text must name the escape hatch —
    the advertised use_quantizer_artifact call primes a k ≠ IVF_K
    artifact, which raises without allow_nonstandard_k=True."""
    import inspect

    from cost_of_living_data_etl_spark.operators import similarity
    from cost_of_living_data_etl_spark.plans import mining

    for fn in (similarity.q_semdedup_cluster_prune, mining.q_mutual_nn_ann):
        src = inspect.getsource(fn)
        assert "allow_nonstandard_k=True" in src, fn.__name__
