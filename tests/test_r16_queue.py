"""Byte-identity and regression pins for the LSH store and sampler
paths: the frozen cross-split oracle strings, the single-pass
`build_lsh_store` against frozen store fingerprints, the unified
samplers against a brute-force reference, and the profiling tool's
watched-movers selection."""

from __future__ import annotations

import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.01"
def test_cross_split_oracle_defaults_unchanged():
    """The r11 `_lsh_cross_split_sql` generalization (pair_pred /
    extra_select for the streaming certification) must leave the
    default-arg strings — the REGISTERED store-query oracles —
    byte-identical to the pre-refactor form (frozen hashes)."""
    import hashlib

    from pudl_spark.plans.queries import _lsh_cross_split_sql

    frozen = {7: "7518f9781b6faeec5843222314fbe6328a5ccb2b"
                 "3b7425a2864430614ee996d7",
              43: "ad8e58bca4b1174392f1bf9302be77b5315b09f7"
                  "e62f2b095ba6cce7c9277f01"}
    for mod, want in frozen.items():
        got = hashlib.sha256(
            _lsh_cross_split_sql(mod).encode()).hexdigest()
        assert got == want, mod


def test_unified_samplers_match_brute_force(spark):
    """Regression pin for the r12 sampler unification (both live
    samplers now run through `stratified_threshold_sample`): on the
    documents table with a NULL stratum and a singleton stratum (the
    shortfall-guard path), each sampler must equal the definitional
    brute-force computed row-by-row in Python — the same evidence
    the pre-swap byte-identity test carried, now anchored to first
    principles instead of a staged copy."""
    import hashlib
    import math

    from pyspark.sql import functions as F

    from pudl_spark.catalog import read_parquet_table
    from pudl_spark.functions.sampling import (
        bottomk_sample, weighted_bottomk_sample,
    )

    d = (read_parquet_table(spark, f"{SF}/documents.parquet")
         .select("doc_id",
                 # NULL stratum + a tiny stratum (guard path): lang
                 # NULL for doc_id % 11 == 0, a singleton stratum
                 # for doc_id == 1.
                 F.when(F.col("doc_id") == 1, F.lit("tiny"))
                 .when(F.col("doc_id") % 11 == 0, F.lit(None))
                 .otherwise(F.col("lang")).alias("lang"),
                 F.octet_length("text").alias("__w")))
    rows = [(r["lang"], r["doc_id"], r["__w"]) for r in d.collect()]

    def brute(key_fn, k):
        strata = {}
        for lang, i, w in rows:
            key = key_fn(i, w)
            if key is not None:
                strata.setdefault(lang, []).append((key, i))
        return {(lang, i, rn + 1)
                for lang, keyed in strata.items()
                for rn, (_, i) in enumerate(sorted(keyed)[:k])}

    got_u = set(map(tuple, bottomk_sample(
        d, ["lang"], "doc_id", k=5).select(
        "lang", "doc_id", "smp_rank").collect()))
    want_u = brute(
        lambda i, w: hashlib.md5(f"{i}:smp".encode()).hexdigest(), 5)
    assert got_u == want_u and got_u

    def wkey(i, w):
        if not w or w <= 0:
            return None
        hex6 = int(hashlib.md5(
            f"{i}:wsmp".encode()).hexdigest()[:6], 16)
        u = (hex6 + 0.5) / 16 ** 6
        return -math.log(u) / float(w)

    got_w = set(map(tuple, weighted_bottomk_sample(
        d, ["lang"], "doc_id", "__w", k=5).select(
        "lang", "doc_id", "smp_rank").collect()))
    want_w = brute(wkey, 5)
    assert got_w == want_w and got_w
    assert any(r[0] is None for r in got_w)  # NULL stratum sampled


@pytest.mark.parametrize("sf,want", [
    ("/root/testdata/sf0.001",
     {"bands": (8000, "68e18de76fa57a31d8048b07e79f1aab"
                      "19c7ab76df11363caad0912f93f431c9"),
      "sets": (500, "bf3797d280f4e359e1946eb81bf4eb72"
                    "3168390555b8a16a5b0a680b70f026ee")}),
    (SF,
     {"bands": (8000, "518fe0a5d71c4104c9d9fcfed187f5c1"
                      "747e3a1a247b4b7860bd0fe2a90caf03"),
      "sets": (500, "d325d2d2ec6bad3b71a8ef5dc3146ff8"
                    "0b9daa10deea4b0a3189dc7327448afe")}),
])
def test_singlepass_build_store_matches_frozen_fingerprint(
        spark, sf, want):
    """Store-level tripwire for the r15 build swap: the live
    (single-text-pass) `build_lsh_store` must leave BOTH bucketed
    tables byte-equal to the pre-swap two-pass build — pinned
    against sha256 fingerprints of the sorted collected rows,
    frozen from the two-pass build at r15 landing time, at two SFs.
    The bands table is `oph_banded_from_sets` over the written
    `shingle_hash_sets` rows, and these band keys feed the pair
    miner, the store append and the probe, so its fingerprint pins
    all of them. The persisted build params the probes/appends
    assert against are checked too."""
    import hashlib
    import os
    import tempfile

    from pudl_spark.catalog import read_parquet_table
    from pudl_spark.functions.dedup import build_lsh_store
    from pudl_spark.sources.files import get_table_build_params

    d = read_parquet_table(spark, f"{sf}/documents.parquet")
    with tempfile.TemporaryDirectory() as td:
        try:
            build_lsh_store(spark, d, "doc_id", "text", "t_sp_frz",
                            os.path.join(td, "a"))
            for suffix in ("bands", "sets"):
                rows = sorted(map(tuple, spark.table(
                    f"t_sp_frz_{suffix}").collect()))
                got = (len(rows),
                       hashlib.sha256(repr(rows).encode()).hexdigest())
                assert got == want[suffix], suffix
            assert (get_table_build_params(spark, "t_sp_frz_bands")
                    == {"num_hashes": "64", "bands": "16",
                        "shingle_k": "3", "num_buckets": "8"})
        finally:
            for t in ("t_sp_frz_bands", "t_sp_frz_sets"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_floor_watched_movers_selection():
    """Pin for the `query_profile.py --all-watched` selection rule: a
    query moves when its sf1 suite ratio changes by >1.5x in either
    direction, and queries tracked in only one artifact are always
    selected (new or dropped watches need a fresh floor)."""
    import json
    import tempfile

    spec = importlib.util.spec_from_file_location(
        "query_profile", os.path.join(REPO, "tools", "query_profile.py"))
    fl = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(fl)

    with tempfile.TemporaryDirectory() as td:
        a, b = os.path.join(td, "a.json"), os.path.join(td, "b.json")
        with open(a, "w") as f:
            json.dump({"sf1": {
                "steady": {"ratio_vs_base": 2.0},
                "mover_up": {"ratio_vs_base": 2.0},
                "mover_down": {"ratio_vs_base": 4.5},
                "dropped": {"ratio_vs_base": 3.0}}}, f)
        with open(b, "w") as f:
            json.dump({"sf1": {
                "steady": {"ratio_vs_base": 2.4},
                "mover_up": {"ratio_vs_base": 3.5},
                "mover_down": {"ratio_vs_base": 2.0},
                "added": {"ratio_vs_base": 1.0},
                "error": "not a dict"}}, f)
        got = fl.watched_movers(a, b)
    assert got == ["added", "dropped", "mover_down", "mover_up"]
