"""Entry-local cache lifecycle + bench drift gauge (VERDICT r8 #2/#5).

Entry functions register their local caches through
``session.tracked_cache``; bench.py reaps them after each entry so a
700-entry sweep in one long-lived session cannot accumulate storage
blocks (ADVICE r8). Session-SHARED memos (dedup pair/edge/component
tables, the IVF stages) are deliberately untracked and must survive a
reap.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from clean_census_acs_data_spark import session as S


def _tracked_len() -> int:
    return len(S._TRACKED_CACHES)


def test_tracked_cache_registers_and_reap_unpersists(spark):
    df = spark.range(100).select(F.col("id") * 2)
    before = _tracked_len()
    cached = S.tracked_cache(df)
    assert _tracked_len() == before + 1
    cached.count()  # materialize
    assert cached.storageLevel.useMemory
    reaped = S.reap_tracked_caches()
    assert reaped >= 1
    assert _tracked_len() == 0
    # unpersisted: the storage level is back to NONE
    assert not cached.storageLevel.useMemory


def test_reap_is_idempotent_and_safe_when_empty(spark):
    S.reap_tracked_caches()
    assert S.reap_tracked_caches() == 0


def test_shared_memos_survive_reap(spark):
    """The dedup family's session-shared pair table must keep its
    blocks across a reap — it is NOT entry-local (VERDICT r8: the
    r8 family-sharing wins depend on it)."""
    from clean_census_acs_data_spark.operators import dedup as D

    sf = "/root/testdata/sf0.001"
    pairs = D.standard_near_dup_pairs(spark, sf, threshold=0.5)
    n = pairs.count()  # materializes the memoized cache
    S.reap_tracked_caches()
    # memo still present and still answers without error
    assert pairs.count() == n


def test_entry_with_tracked_cache_still_correct(spark):
    """A representative converted entry (tpch_q21_waiting_suppliers
    caches its joined line table through tracked_cache; market_basket
    _lift lost its cache in the r12 in-row-pairs rewrite) returns
    identical results before and after a reap cycle."""
    from clean_census_acs_data_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    name = "tpch_q21_waiting_suppliers"
    a = sorted(map(tuple, QUERIES[name](spark, sf).collect()))
    S.reap_tracked_caches()
    b = sorted(map(tuple, QUERIES[name](spark, sf).collect()))
    S.reap_tracked_caches()
    assert a == b and len(a) > 0


def test_median_ratio_vs_prev_gauge():
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench_mod", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    prev = {
        "queries": {f"q{i}": 1.0 for i in range(10)},
        "secondary": {f"s{i}": 2.0 for i in range(10)},
    }
    # uniform 1.5x slowdown + one touched outlier → median stays 1.5
    cur_q = {f"q{i}": 1.5 for i in range(10)}
    cur_s = {f"s{i}": 3.0 for i in range(10)}
    cur_s["s0"] = 40.0  # a "touched" entry cannot move the median
    assert bench.median_ratio_vs_prev(prev, cur_q, cur_s) == 1.5
    # sub-0.2s prior entries are excluded (timer noise)
    prev_small = {"queries": {f"q{i}": 0.01 for i in range(20)}, "secondary": {}}
    assert (
        bench.median_ratio_vs_prev(prev_small, {f"q{i}": 1.0 for i in range(20)}, {})
        is None
    )
    # too few overlapping keys → None
    assert bench.median_ratio_vs_prev({"queries": {}}, {"a": 1.0}, {}) is None


def test_pinned_ratio_gauge_and_skew_refusal():
    """VERDICT r9 #3: the pinned sentinel gauge reads pure box skew
    (trivial untouched plans only) and gates the round-keyed artifact
    write at PINNED_GAUGE_BOUND."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench_mod2", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    pins = bench.PINNED_SENTINELS
    assert len(pins) >= 10
    prev = {"queries": {k: 0.5 for k in pins}, "secondary": {}}
    # quiet box: sentinels ~1.0x, heavy entries 3x cannot move the gauge
    cur = {k: 0.55 for k in pins}
    cur["dedup_ngram_jaccard"] = 40.0
    assert bench.pinned_ratio_vs_prev(prev, cur, {}) == 1.1
    # skewed box: sentinels 1.5x
    assert bench.pinned_ratio_vs_prev(prev, {k: 0.75 for k in pins}, {}) == 1.5
    # the gauge feeds the stamp rule (decision table: test_bench_stamp.py)
    stamp = dict(round_closed=False, artifact_exists=False, has_prior=True)
    sf, cpus = bench.CANONICAL_BENCH_SF, str(bench.CANONICAL_BENCH_CPUS)
    assert bench.round_stamp_refusal(sf, cpus, pinned_gauge=1.1, **stamp) is None
    assert "hot" in bench.round_stamp_refusal(sf, cpus, pinned_gauge=1.5, **stamp)
    # sub-0.15s prior sentinels are timer noise -> excluded -> None
    prev_small = {"queries": {k: 0.01 for k in pins}, "secondary": {}}
    assert bench.pinned_ratio_vs_prev(prev_small, {k: 1.0 for k in pins}, {}) is None
    # every sentinel is a real registered query (list can't rot)
    from clean_census_acs_data_spark.queries import QUERIES

    assert all(k in QUERIES for k in pins)



def _load_bench():
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "bench_mod3", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)
    return bench


def _stamp_refusal(bench, **case):
    """round_stamp_refusal for an open, unstamped round at the canonical
    scale on a quiet box, with ``case`` overriding any of those."""
    args = dict(
        sf_val=bench.CANONICAL_BENCH_SF,
        cpus=str(bench.CANONICAL_BENCH_CPUS),
        round_closed=False,
        artifact_exists=False,
        has_prior=True,
        pinned_gauge=1.043,
    )
    args.update(case)
    return bench.round_stamp_refusal(args.pop("sf_val"), args.pop("cpus"), **args)


def test_seal_guard_covers_inferred_round_path():
    """VERDICT r11 #1: the seal guard must protect an EXISTING
    round-keyed artifact regardless of whether the round number came
    from SPARK_GRAFT_ROUND or from inference — the r11 driver bench hit
    the inference path and overwrote the sealed honest 27.49 s stamp
    (pinned 1.043) with a 1.19x-hot 37.30 s one. The stamp rule takes
    no round source at all, so both paths meet the same refusal."""
    import inspect

    bench = _load_bench()
    params = set(inspect.signature(bench.round_stamp_refusal).parameters)
    assert params == {
        "sf_val",
        "cpus",
        "round_closed",
        "artifact_exists",
        "has_prior",
        "pinned_gauge",
    }
    # the exact r11 incident: a hot run against the sealed honest stamp
    refusal = _stamp_refusal(bench, artifact_exists=True, pinned_gauge=1.1885)
    assert refusal and "stamped" in refusal
    # an honest rerun cannot overwrite either, nor can an unknown gauge
    for gauge in (1.043, 0.9, None):
        refusal = _stamp_refusal(bench, artifact_exists=True, pinned_gauge=gauge)
        assert refusal and "stamped" in refusal, gauge
    # the same run on an unstamped round is written
    assert _stamp_refusal(bench, pinned_gauge=1.043) is None


def test_seal_guard_refuses_closed_rounds_unconditionally():
    """r12 review finding: SPARK_GRAFT_ROUND left at a CLOSED round on a
    quiet box would relabel current-round-code timings as the old
    round. Once the driver's BENCH_r{N}.json exists, round N is closed
    and its BENCH_FULL_r{N} is never written, whatever the gauge, and
    the closed check wins over every gauge reading."""
    bench = _load_bench()
    for exists in (False, True):
        for prior, gauge in ((True, 1.0), (True, 0.9468), (True, 1.5), (False, None)):
            refusal = _stamp_refusal(
                bench,
                round_closed=True,
                artifact_exists=exists,
                has_prior=prior,
                pinned_gauge=gauge,
            )
            assert refusal and "closed" in refusal, (exists, prior, gauge)


def test_seal_first_quiet_stamp_is_final():
    """r13 measurement fix (VERDICT r12 'What's wrong #2' / ask #3):
    letting the lowest-cost quiet rerun win made re-running the bench
    strictly improving — the sealed r12 stamp was the BEST of seven
    same-code runs spanning 32.3-46.4 s, a biased-low order statistic.
    A round's first stamp is final: no rerun replaces it, however quiet
    or cheap, and the rule reads no cost at all."""
    bench = _load_bench()
    # the first quiet stamp is written
    assert _stamp_refusal(bench, pinned_gauge=0.9813) is None
    # no later run replaces it: cheaper, tied, sub-1.0 or still quiet
    for gauge in (0.9468, 0.99, 1.0, 0.857, 1.043):
        refusal = _stamp_refusal(bench, artifact_exists=True, pinned_gauge=gauge)
        assert refusal and "final" in refusal, gauge


def test_seal_round_keyed_stamp_requires_canonical_cpus():
    """r13: the driver's scaling probe re-runs bench at
    SPARK_GRAFT_CPUS=8; in r12 that post-close 8-core pass occupied
    BENCH_FULL_r13.json — an 8-core stamp is not a valid 32-core
    cross-round baseline. The stamp rule refuses any non-canonical core
    count (rolling file only), after the non-canonical-SF check, and
    the artifact records the run's cpus."""
    import os

    bench = _load_bench()
    assert bench.CANONICAL_BENCH_CPUS == 32
    for cpus in ("8", "8x", " 8", ""):
        refusal = _stamp_refusal(bench, cpus=cpus)
        assert refusal and f"cpus={cpus!r}" in refusal, cpus
    # the SF check comes first and refuses on its own
    refusal = _stamp_refusal(bench, sf_val=0.001, cpus="8")
    assert refusal and "sf=0.001" in refusal
    for sf in (0.01, "x"):
        refusal = _stamp_refusal(bench, sf_val=sf)
        assert refusal and f"sf={sf}" in refusal, sf
    # the artifact records the core count it was taken at
    with open(os.path.join(os.path.dirname(__file__), "..", "bench.py")) as f:
        assert '"cpus"' in f.read()

def test_teardown_shared_memos_unpersists_and_clears(spark):
    """ADVICE r9: reap-exempt memos need an explicit end-of-session /
    pre-clearCache teardown path. teardown_shared_memos() unpersists
    the cached frames, clears every registered memo dict, and the next
    access re-fills cleanly (fresh handle, same rows)."""
    from clean_census_acs_data_spark.operators import dedup as D

    sf = "/root/testdata/sf0.001"
    sh1 = D.standard_shingle_table(spark, sf)
    n = sh1.count()
    assert sh1.storageLevel.useMemory
    freed = S.teardown_shared_memos()
    assert freed >= 1
    assert not sh1.storageLevel.useMemory
    assert not D._STD_SHINGLES_MEMO and not D._STD_SIG_MEMO
    # idempotent + safe when empty
    assert S.teardown_shared_memos() == 0
    # next access re-fills: NEW handle, identical contents
    sh2 = D.standard_shingle_table(spark, sf)
    assert sh2 is not sh1
    assert sh2.count() == n and sh2.storageLevel.useMemory


def test_teardown_surfaces_bad_handles_fn(spark):
    """ADVICE r10: a handles fn that yields non-DataFrames is a
    registration bug — teardown must raise TypeError, not swallow it
    into a silent leak with an undercounted return value."""
    import pytest

    df = spark.range(1).cache()
    memo = {"k": df}
    S.register_shared_memo(memo, handles=lambda v: ("not-a-dataframe",))
    try:
        with pytest.raises(TypeError, match="yielded non-DataFrame"):
            S.teardown_shared_memos()
        # the error must not abort the sweep: the poisoned memo is still
        # cleared so later memos got their teardown too (review r11)
        assert not memo
    finally:
        # remove the poisoned registration so later tests' teardowns work
        S._SHARED_MEMO_REGISTRY[:] = [
            (m, h) for (m, h) in S._SHARED_MEMO_REGISTRY if m is not memo
        ]
        df.unpersist()


def test_knn_memo_teardown_frees_internal_cache(spark):
    """The IVF stages memo stores its internal cached `sel` stage so
    teardown can actually free blocks (the returned probe/candidate
    frames are uncached derivations)."""
    from clean_census_acs_data_spark import queries_round7 as R7

    sf = "/root/testdata/sf0.001"
    R7._knn_ivf_stages(spark, sf)
    assert R7._KNN_STAGES_MEMO
    sel = next(iter(R7._KNN_STAGES_MEMO.values()))[2]
    assert sel.storageLevel.useMemory
    S.teardown_shared_memos()
    assert not R7._KNN_STAGES_MEMO
    assert not sel.storageLevel.useMemory


def test_minhash_lsh_rejects_shingle_tbl_param_conflict(spark):
    """ADVICE r9: an injected shingle_tbl replaces the shingling stage,
    so pairing it with non-default shingle params must raise instead of
    silently returning pairs from a different corpus/shingle-n."""
    import pytest

    from clean_census_acs_data_spark.operators import dedup as D

    sf = "/root/testdata/sf0.001"
    tbl = D.standard_shingle_table(spark, sf)
    with pytest.raises(ValueError, match="shingle_tbl"):
        D.minhash_lsh_pairs(None, shingle_tbl=tbl, shingle_n=5)
    with pytest.raises(ValueError, match="shingle_tbl"):
        D.minhash_lsh_pairs(None, shingle_tbl=tbl, id_col="other")


def test_shingle_and_signature_memos_are_shared_and_reap_exempt(spark):
    """Round-9 memos: the shingle and signature stages are session-
    shared (reap-exempt) and return the SAME DataFrame handle per
    (session, sf_dir) — the fix for entries that only looked cheap
    while CacheManager substituted an earlier entry's private cache."""
    from clean_census_acs_data_spark.operators import dedup as D

    sf = "/root/testdata/sf0.001"
    sh1 = D.standard_shingle_table(spark, sf)
    sh2 = D.standard_shingle_table(spark, sf)
    assert sh1 is sh2  # memoized handle, not a rebuilt plan
    sig1 = D.standard_minhash_signatures(spark, sf)
    assert sig1 is D.standard_minhash_signatures(spark, sf)
    assert sh1.storageLevel.useMemory and sig1.storageLevel.useMemory
    n_sh, n_sig = sh1.count(), sig1.count()
    S.reap_tracked_caches()
    # still cached after a reap (session-shared artifacts, by design)
    assert sh1.storageLevel.useMemory and sig1.storageLevel.useMemory
    assert sh1.count() == n_sh and sig1.count() == n_sig
    # the signature table is exactly one row per shingled doc
    assert n_sig == n_sh


def test_round_scale_guard_refuses_unparsed_core_counts():
    """ADVICE r13: the core-count guard only refused digit strings, so a
    SPARK_GRAFT_CPUS of '8x' or ' 8' still wrote the round-keyed
    artifact. The guard now refuses unless the value parses and equals
    CANONICAL_BENCH_CPUS, at the canonical SF."""
    import importlib.util
    import os

    import pytest

    spec = importlib.util.spec_from_file_location(
        "bench_mod5", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    sf = bench.CANONICAL_BENCH_SF
    assert bench.require_canonical_round_scale(sf, "32") is None
    for cpus in ("8", "8x", " 8"):
        with pytest.raises(bench._SkipRoundArtifact):
            bench.require_canonical_round_scale(sf, cpus)
    # the SF check still comes first and refuses on its own
    with pytest.raises(bench._SkipRoundArtifact):
        bench.require_canonical_round_scale(0.001, "32")
