"""The output check accepts the stored oracle results in any row order
and rejects a frame with one row perturbed."""

import checks


def clusters():
    return checks.load_expected("q_dedup_clusters")


def blocking():
    return checks.load_expected("q_lsh_blocking_quality")


def test_stored_result_matches_itself_in_any_row_order():
    want = clusters()
    shuffled = want.sample(frac=1.0, random_state=7).reset_index(drop=True)
    assert checks.mismatch(shuffled, want) is None
    assert checks.mismatch(blocking(), blocking()) is None


def test_perturbed_float_is_rejected_at_strict_tolerance():
    got = blocking()
    got.loc[0, "pair_completeness"] *= 1 + 1e-8
    assert "pair_completeness" in checks.mismatch(got, blocking())


def test_perturbed_row_is_rejected():
    got = clusters()
    got.loc[3, "cluster_id"] += 1
    assert "cluster_id" in checks.mismatch(got, clusters())


def test_missing_row_and_wrong_dtype_are_rejected():
    assert "rows" in checks.mismatch(clusters().iloc[1:], clusters())
    got = blocking()
    got["n_docs"] = got["n_docs"].astype("float64")
    assert "dtype" in checks.mismatch(got, blocking())


def test_every_catalog_op_has_a_stored_result():
    from workloads import CATALOG_OPS

    manifest = (checks.EXPECTED / "MANIFEST.json").read_text()
    for ops in CATALOG_OPS.values():
        for op in ops:
            assert op in manifest
            assert len(checks.load_expected(op)) > 0
