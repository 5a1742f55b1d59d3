from __future__ import annotations

import pytest

from airflow_retail_etl_spark.operators import dedup

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bend"),  # near-dup of 1
    (3, "The quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1 (case)
    (4, "completely unrelated text about database query engines and joins"),
    (5, "spark sql catalyst optimizer rewrites logical plans into physical"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, ["doc_id", "text"])


def test_exact_dedup_groups(docs):
    out = {r["keeper_id"]: r["n_copies"] for r in dedup.exact_dedup(docs, "text", "doc_id").collect()}
    assert out[1] == 2  # docs 1+3 collapse
    assert out[2] == 1 and out[4] == 1 and out[5] == 1


def test_jaccard_pairs_exact(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(docs, "text", "doc_id").collect()
    }
    assert pairs[(1, 3)] == 1.0  # exact dup after normalization
    assert 0.5 < pairs[(1, 2)] < 1.0  # near dup
    assert (1, 4) not in pairs or pairs[(1, 4)] < 0.2


def test_minhash_lsh_finds_neardups_verified(docs):
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(
            docs, "text", "doc_id", min_jaccard=0.5
        ).collect()
    }
    # LSH must catch the exact dup and the near dup; jaccard values are exact
    assert out[(1, 3)] == 1.0
    assert 0.5 < out[(1, 2)] < 1.0
    assert all(j >= 0.5 for j in out.values())


def test_minhash_agrees_with_bruteforce(spark):
    # on a corpus with plenty of near-dups, LSH(τ=0.5) recovers the same
    # pair set as exact jaccard thresholding (high-J pairs ⇒ near-certain
    # LSH collision with 16 bands of 4)
    rows = []
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    for i in range(20):
        words = base.split()
        words[i % 10] = f"w{i}"
        rows.append((i, " ".join(words)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.jaccard_pairs(
            df, "text", "doc_id", min_jaccard=0.6
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(
            df, "text", "doc_id", min_jaccard=0.6
        ).collect()
    }
    assert exact  # sanity: the corpus does contain near-dups
    assert lsh == exact


def test_simhash_properties(docs):
    sigs = {r["id"]: r["simhash"] for r in dedup.simhash(docs, "text", "doc_id").collect()}
    def hamming(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")
    # identical normalized docs → identical signature
    assert sigs[1] == sigs[3]
    # near-dup → closer than unrelated
    assert hamming(sigs[1], sigs[2]) < hamming(sigs[1], sigs[4])


def test_simhash_pairs_banding(docs):
    sigs = dedup.simhash(docs, "text", "doc_id")
    out = {(r["id_a"], r["id_b"]): r["hamming"] for r in dedup.simhash_pairs(sigs, max_hamming=3).collect()}
    assert out[(1, 3)] == 0


def test_md5_hash_families_preserve_semantics(docs):
    # md5km minhash and md5 simhash must find the same structure as the
    # xxhash64 production family (different hashes, same algorithm)
    out = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(
            docs, "text", "doc_id", min_jaccard=0.5, hash="md5km"
        ).collect()
    }
    assert out[(1, 3)] == 1.0
    assert 0.5 < out[(1, 2)] < 1.0
    sigs = {
        r["id"]: r["simhash"]
        for r in dedup.simhash(docs, "text", "doc_id", hash="md5").collect()
    }
    assert sigs[1] == sigs[3]


def test_unknown_hash_family_rejected(docs):
    with pytest.raises(ValueError):
        dedup.simhash(docs, "text", "doc_id", hash="sha1")
    with pytest.raises(ValueError):
        dedup.minhash_signatures(docs, "text", "doc_id", hash="sha1")
    with pytest.raises(ValueError):
        dedup.winnow_fingerprints(docs, "text", "doc_id", hash_family="sha1")


# --- skew guards (SCALE.md): adversarial corpora ---------------------------

def _boilerplate_corpus(spark):
    """Every doc shares one ubiquitous boilerplate trigram; true near-dup
    pairs also share rare shingles."""
    footer = "copyright acme corp all rights reserved"
    rows = []
    for i in range(40):
        rows.append((i, f"unique document body number {i} {footer}"))
    # one true near-dup pair with rare overlap
    rows.append((100, f"rare alpha beta gamma delta payload {footer}"))
    rows.append((101, f"rare alpha beta gamma delta payload extra {footer}"))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_jaccard_stop_shingle_cap_bounds_candidates(spark):
    df = _boilerplate_corpus(spark)
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(
            df, "text", "doc_id", min_jaccard=0.5, max_doc_freq=10
        ).collect()
    }
    # the true near-dup pair survives (rare shingles generate it) with an
    # EXACT jaccard — scored on the full sets, cap affects candidates only
    assert (100, 101) in capped
    full = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(
            df, "text", "doc_id", min_jaccard=0.5
        ).collect()
    }
    assert capped[(100, 101)] == full[(100, 101)]
    # candidate generation is bounded: the 40 boilerplate-only docs share
    # ONLY capped shingles, so they form no pairs at all
    boiler_pairs = [
        p for p in capped if p[0] < 100 and p[1] < 100
    ]
    assert boiler_pairs == []


def test_minhash_bucket_cap_bounds_megabucket(spark):
    # 60 exact copies of one doc → every band puts all 60 in one bucket;
    # with the cap they generate no candidates, while a distinct near-dup
    # pair is still found
    rows = [(i, "identical spam content repeated across the corpus") for i in range(60)]
    rows += [
        (200, "legitimate document alpha beta gamma delta epsilon zeta"),
        (201, "legitimate document alpha beta gamma delta epsilon eta"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_lsh_pairs(
            df, "text", "doc_id", min_jaccard=0.5, max_bucket_size=50
        ).collect()
    }
    assert (200, 201) in out
    spam_pairs = [p for p in out if p[0] < 100 and p[1] < 100]
    assert spam_pairs == []  # mega-bucket dropped, not exploded
    # cap disabled → the 60·59/2 spam pairs all come back
    uncapped = dedup.minhash_lsh_pairs(
        df, "text", "doc_id", min_jaccard=0.5, max_bucket_size=None
    ).count()
    assert uncapped == 60 * 59 // 2 + 1


def test_minhash_bands_beyond_hashes_rejected(spark):
    """More bands than hashes leaves empty bands: every doc lands in one
    bucket per band, so under a bucket cap the true pair (100, 101) was
    lost without an error. Such banding is refused; valid banding finds
    the pair under the same cap."""
    df = _boilerplate_corpus(spark)
    with pytest.raises(ValueError, match="bands=16"):
        dedup.minhash_lsh_pairs(
            df, "text", "doc_id", num_hashes=8, bands=16, max_bucket_size=30
        )
    with pytest.raises(ValueError, match="bands=0"):
        dedup.band_rows(dedup.minhash_signatures(df, "text", "doc_id"), bands=0)
    found = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(
            df, "text", "doc_id", max_bucket_size=30
        ).collect()
    }
    assert (100, 101) in found


def test_simhash_pairs_rejects_too_few_blocks(spark):
    """One flipped bit in each of the four 16-bit blocks is Hamming 4 and
    shares no block, so max_hamming=4 over 4 blocks missed the pair
    without an error. That banding is refused; 8-bit blocks find it."""
    one_bit_per_block = sum(1 << (16 * blk) for blk in range(4))
    sigs = spark.createDataFrame(
        [(1, 0), (2, one_bit_per_block)], "id long, simhash long"
    )
    with pytest.raises(ValueError, match="max_hamming=4"):
        dedup.simhash_pairs(sigs, max_hamming=4)
    out = dedup.simhash_pairs(sigs, max_hamming=4, prefix_bits=8).collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in out] == [(1, 2, 4)]


def test_simhash_block_cap_bounds_megabucket(spark):
    rows = [(i, "identical spam content repeated across the corpus") for i in range(60)]
    rows += [(200, "legitimate document alpha beta gamma delta epsilon zeta")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = dedup.simhash(df, "text", "doc_id")
    capped = dedup.simhash_pairs(sigs, max_bucket_size=50).count()
    assert capped == 0  # only spam-cluster pairs exist, and they're capped
    uncapped = dedup.simhash_pairs(sigs, max_bucket_size=None).count()
    assert uncapped == 60 * 59 // 2


def _cc_map(assign):
    return {r["node"]: r["comp"] for r in assign.collect()}


def test_connected_components_transitivity(spark):
    # A~B, B~C but never A~C: all three must share one keeper
    pairs = spark.createDataFrame([(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"])
    out = _cc_map(dedup.connected_components(pairs))
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_connected_components_long_chain_converges(spark):
    # 300-long path: min-propagation alone needs 300 rounds; pointer
    # jumping must close it within the default max_iter=25 (O(log d))
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], ["id_a", "id_b"]
    )
    out = _cc_map(dedup.connected_components(pairs))
    assert set(out.values()) == {0}
    assert len(out) == 301


def test_connected_components_singletons_from_universe(spark):
    pairs = spark.createDataFrame([(2, 5)], ["id_a", "id_b"])
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], ["doc_id"])
    out = _cc_map(dedup.connected_components(pairs, nodes=nodes))
    assert out == {1: 1, 2: 2, 3: 3, 4: 4, 5: 2, 6: 6, 7: 7}


def test_connected_components_star_and_reversed_edges(spark):
    # hub id is NOT the minimum; edges arrive in both orientations
    pairs = spark.createDataFrame(
        [(50, 7), (50, 9), (3, 50), (50, 12)], ["id_a", "id_b"]
    )
    out = _cc_map(dedup.connected_components(pairs))
    assert set(out.values()) == {3}


def test_winnow_guarantee_shared_substring_surfaces(spark):
    """Any shared run of >= k+window-1 chars yields a common fingerprint."""
    from airflow_retail_etl_spark.operators.dedup import (
        winnow_fingerprints,
        winnow_overlap_pairs,
    )

    shared = "the quick brown fox jumps over the lazy dog tonight"
    docs = spark.createDataFrame(
        [
            (1, "AAAA " + shared + " BBBB"),
            (2, "CCCC " + shared + " DDDD"),
            (3, "totally different content with nothing in common xyz"),
        ],
        ["doc_id", "text"],
    )
    fps = winnow_fingerprints(docs, "text", "doc_id", k=5, window=4)
    pairs = winnow_overlap_pairs(fps, min_shared=2).collect()
    assert {(r.id_a, r.id_b) for r in pairs} == {(1, 2)}


def test_winnow_density_and_determinism(spark):
    from airflow_retail_etl_spark.operators.dedup import winnow_fingerprints

    docs = spark.createDataFrame(
        [(1, "x" * 10 + "abcdefghijklmnopqrstuvwxyz" * 4)], ["doc_id", "text"]
    )
    r1 = winnow_fingerprints(docs, "text", "doc_id").collect()[0]
    r2 = winnow_fingerprints(
        docs.repartition(3), "text", "doc_id"
    ).collect()[0]
    assert sorted(r1.fps) == sorted(r2.fps)
    n_grams = len("x" * 10 + "abcdefghijklmnopqrstuvwxyz" * 4) - 4
    # winnowing keeps roughly 2/(w+1) of positions; distinct-set is smaller
    assert 0 < len(r1.fps) < n_grams / 2


def test_winnow_short_doc_single_fingerprint(spark):
    from airflow_retail_etl_spark.operators.dedup import winnow_fingerprints

    docs = spark.createDataFrame([(1, "ab")], ["doc_id", "text"])
    fps = winnow_fingerprints(docs, "text", "doc_id").collect()[0].fps
    assert len(fps) == 1


def test_winnow_md5_family_matches_duckdb(spark):
    import duckdb
    import pandas as pd

    from airflow_retail_etl_spark.functions import xhash
    from airflow_retail_etl_spark.operators.dedup import winnow_fingerprints

    texts = ["hello winnowing world", "ab", "", "aaaaaaaaaa"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    got = {
        r.id: sorted(r.fps)
        for r in winnow_fingerprints(
            docs, "text", "doc_id", hash_family="md5"
        ).collect()
    }
    con = duckdb.connect()
    con.register("docs", pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
    norm = "lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))"
    duck = dict(
        con.sql(f"""
        WITH n AS (SELECT doc_id, {norm} AS t FROM docs),
        h AS (SELECT doc_id,
                list_transform(generate_series(1, greatest(length(t) - 4, 1)),
                    i -> {xhash.duck_md5_long("substr(t, CAST(i AS INTEGER), 5)")}) AS hs
              FROM n)
        SELECT doc_id,
               list_sort(list_distinct(list_transform(
                   generate_series(1, greatest(len(hs) - 3, 1)),
                   j -> list_min(list_slice(hs, j, j + 3))))) AS fps
        FROM h
        """).fetchall()
    )
    assert got == {k: list(v) for k, v in duck.items()}


def test_incremental_dedup_semantics(spark):
    """Incoming docs drop vs existing matches and smaller-id batch
    siblings; non-duplicates and the whole existing side survive."""
    mk = lambda rows: spark.createDataFrame(rows, ["doc_id", "text"])
    base = "alpha beta gamma delta epsilon zeta eta theta"
    existing = mk([
        (1, base),
        (2, "one two three four five six seven eight"),
    ])
    incoming = mk([
        (10, base),                                   # dup of existing 1
        (11, "unique penguin walrus narwhal dolphin seal otter orca"),
        (12, "unique penguin walrus narwhal dolphin seal otter orca"),
        # ^ dup of smaller-id sibling 11 → drops even though 11 survives
        (13, "totally fresh content nine ten eleven twelve thirteen"),
    ])
    out = dedup.incremental_dedup(
        existing, incoming, "text", "doc_id", min_jaccard=0.5
    )
    assert sorted(r["doc_id"] for r in out.collect()) == [11, 13]


def _admit(spark, batch, bands_path, sh_path):
    """Sign the batch, take the verdict against the persisted index and
    anti-join the batch: the admitted rows."""
    drops = dedup.incremental_lsh_dedup(
        spark.read.parquet(bands_path),
        dedup.minhash_signatures(batch, "text", "doc_id"),
        index_shingles=spark.read.parquet(sh_path),
    )
    return batch.join(drops, batch["doc_id"] == drops["drop_id"], "left_anti")


def test_incremental_lsh_dedup_with_persisted_index(spark, tmp_path):
    """Multi-batch admission against a persisted band index: batch work
    never re-signs the corpus, survivors append their own index rows.
    Bands persist partitioned by band (keys only); shingles persist once
    per doc in the companion store."""
    mk = lambda rows: spark.createDataFrame(rows, ["doc_id", "text"])
    corpus_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    other = "one two three four five six seven eight nine ten"
    existing = mk([(1, corpus_text), (2, other)])
    bands_path = str(tmp_path / "index" / "bands")
    sh_path = str(tmp_path / "index" / "shingles")
    dedup.band_rows(
        dedup.minhash_signatures(existing, "text", "doc_id")
    ).write.partitionBy("band").parquet(bands_path)
    dedup.shingle_store(existing, "text", "doc_id").write.parquet(sh_path)

    # day 1: one dup of the corpus, one fresh, one within-batch dup pair
    fresh = "penguin walrus narwhal dolphin seal otter orca whale manatee dugong"
    day1 = mk([(10, corpus_text), (11, fresh), (12, fresh)])
    s1 = _admit(spark, day1, bands_path, sh_path)
    assert sorted(r["doc_id"] for r in s1.collect()) == [11]

    # append survivors' index rows; day 2 dup of day-1 survivor must drop
    survivors1 = day1.join(s1.select("doc_id"), "doc_id", "left_semi")
    dedup.band_rows(
        dedup.minhash_signatures(survivors1, "text", "doc_id")
    ).write.mode("append").partitionBy("band").parquet(bands_path)
    dedup.shingle_store(survivors1, "text", "doc_id").write.mode(
        "append"
    ).parquet(sh_path)
    day2 = mk([(20, fresh), (21, "completely novel words paint garden "
                                 "bicycle mountain river cloud stone fire")])
    s2 = _admit(spark, day2, bands_path, sh_path)
    assert sorted(r["doc_id"] for r in s2.collect()) == [21]

    # the band table is keys-only (no shingle payload ×21), and a
    # band-filtered read prunes at the DIRECTORY level — the plan's scan
    # carries a partition filter, not a data filter over all files
    bands_df = spark.read.parquet(bands_path)
    assert "shingles" not in bands_df.columns
    plan = bands_df.filter("band = 3")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "band" in plan.split("PartitionFilters")[1][:80]


def test_incremental_lsh_agrees_with_exact_on_catchable_pairs(spark, sf_dir):
    """On the real corpus at J>=0.5 the banded path admits the same set
    as the exact-Jaccard incremental_dedup (the 21x3 S-curve catches
    these pairs; both use the same drop rule)."""
    from airflow_retail_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    incoming = docs.filter("doc_id % 10 = 0")
    existing = docs.filter("doc_id % 10 != 0")
    exact = dedup.incremental_dedup(
        existing, incoming, "text", "doc_id", min_jaccard=0.5
    )
    index = dedup.band_rows(
        dedup.minhash_signatures(existing, "text", "doc_id")
    )
    drops = dedup.incremental_lsh_dedup(
        index,
        dedup.minhash_signatures(incoming, "text", "doc_id"),
        min_jaccard=0.5,
        index_shingles=dedup.shingle_store(existing, "text", "doc_id"),
    )
    lsh = incoming.join(
        drops, incoming["doc_id"] == drops["drop_id"], "left_anti"
    )
    assert sorted(r["doc_id"] for r in exact.collect()) == sorted(
        r["doc_id"] for r in lsh.collect()
    )


def test_containment_catches_excerpt_jaccard_misses(spark):
    from airflow_retail_etl_spark.operators.dedup import containment_pairs

    long_doc = " ".join(f"w{i}" for i in range(100))
    excerpt = " ".join(f"w{i}" for i in range(10))  # verbatim prefix
    df = spark.createDataFrame(
        [(1, long_doc), (2, excerpt)], "doc_id long, text string"
    )
    rows = containment_pairs(
        df, "text", "doc_id", kind="token", n=3
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    # 8 shingles in the excerpt, all inside the long doc
    assert r["containment"] == 1.0
    assert r["jaccard"] == pytest.approx(8 / 98, abs=1e-12)


def test_containment_capped_close_to_exact(spark):
    from airflow_retail_etl_spark.operators.dedup import containment_pairs

    docs = [(i, " ".join(f"t{(i * 7 + j) % 40}" for j in range(30)))
            for i in range(20)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    exact = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(df, "text", "doc_id").collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs(
            df, "text", "doc_id", max_doc_freq=1000
        ).collect()
    }
    assert set(capped) == set(exact)
    for k, v in capped.items():
        assert v == pytest.approx(exact[k], abs=1e-9)


def test_entry_dedup_threshold_sweep_monotone(spark):
    """Higher thresholds can only shrink the pair set and the touched-doc
    set; every row is consistent with a direct jaccard_pairs run."""
    import __spark_entry__ as entry
    from pyspark.sql import functions as SF

    sf = "/root/testdata/sf0.001"
    rows = entry.queries()["dedup_threshold_sweep"](spark, sf).collect()
    assert [r["threshold"] for r in rows] == [0.5, 0.6, 0.7, 0.8, 0.9]
    for a, b in zip(rows, rows[1:]):
        assert a["n_pairs"] >= b["n_pairs"]
        assert a["n_docs"] >= b["n_docs"]
    from airflow_retail_etl_spark.sources.tables import load_table

    docs = load_table(spark, sf, "documents")
    direct = dedup.jaccard_pairs(
        docs, "text", "doc_id", kind="token", n=3, min_jaccard=0.7
    ).count()
    assert direct == next(
        r["n_pairs"] for r in rows if r["threshold"] == 0.7
    )


def test_edit_distance_pairs_complete_vs_bruteforce(spark):
    """PassJoin pigeonhole blocking must find EVERY pair within the
    distance bound — pinned against a pure-Python all-pairs Levenshtein
    on a corpus with engineered substitutions/insertions/deletions at
    segment boundaries and interiors, plus length-edge cases."""
    def lev(a: str, b: str) -> int:
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the quick brown fox jumps over the lazy dot",      # sub @ end
        "Xhe quick brown fox jumps over the lazy dog",      # sub @ start
        "the quick brown fox jumXps over the lazy dog",     # insert mid
        "the quick brown fox jmps over the lazy dog",       # delete mid
        "the quick brown fox jumps over lazy dog",          # word del (4)
        "a completely different sentence about spark",
        "ab",                                               # len < m
        "abc",
        "",                                                 # empty
        "the quick brown fox jumps over the lazy dog  ",    # ws-normalized dup
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    for k in (1, 2, 4):
        got = sorted(
            (r.id_a, r.id_b, r.dist)
            for r in dedup.edit_distance_pairs(
                df, "text", "doc_id", max_dist=k, max_bucket_size=None
            ).collect()
        )
        import re as _re

        norm = [
            _re.sub(r"\s+", " ", t.strip().lower())[:80] for t in texts
        ]
        want = sorted(
            (i, j, lev(norm[i], norm[j]))
            for i in range(len(texts))
            for j in range(i + 1, len(texts))
            if lev(norm[i], norm[j]) <= k
        )
        assert got == want, (k, got, want)


def test_edit_distance_pairs_bucket_cap_drops_hot_blocks(spark):
    # 40 docs sharing one boilerplate prefix: uncapped finds the clique,
    # a tiny cap suppresses candidate generation from the hot blocks
    rows = [(i, "common boilerplate prefix here") for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    full = dedup.edit_distance_pairs(
        df, "text", "doc_id", max_dist=2, max_bucket_size=None
    ).count()
    capped = dedup.edit_distance_pairs(
        df, "text", "doc_id", max_dist=2, max_bucket_size=10
    ).count()
    assert full == 40 * 39 // 2
    assert capped == 0


def test_cap_dropped_mass_reports_exact_counts(spark):
    """Round-9 verdict item 7: caps drop candidate pairs by design — the
    dropped mass must be reportable, not inferred. Hand-built bucketed
    frame: bucket A has 3 members, bucket B has 1; cap=2 drops exactly
    bucket A's 3 rows (2 distinct members)."""
    rows = [
        (0, "x", "m1"), (0, "x", "m2"), (0, "x", "m1"),
        (0, "y", "m3"),
    ]
    df = spark.createDataFrame(rows, ["band", "bucket", "id"])
    r = dedup.cap_dropped_mass(
        df, ["band", "bucket"], 2, member_col="id"
    ).first()
    assert r.n_buckets == 2
    assert r.n_buckets_over_cap == 1
    assert r.rows_total == 4
    assert r.rows_dropped == 3
    assert r.frac_rows_dropped == 0.75
    assert r.n_members_affected == 2
    # cap=None: nothing is ever over-cap
    r0 = dedup.cap_dropped_mass(df, ["band", "bucket"], None).first()
    assert r0.rows_dropped == 0 and r0.n_buckets_over_cap == 0


def test_minhash_cap_dropped_mass_over_band_rows(spark):
    """cap_dropped_mass over the band rows minhash_lsh_pairs caps
    surfaces the dropped mass: a 30-doc exact-dup clique under a tiny
    cap loses every band bucket it fills, and the report says so while
    the pair output is empty (the cap suppressed the mega-clique, the
    documented trade)."""
    rows = [(i, "identical text shared by every doc in the clique")
            for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = dedup.minhash_lsh_pairs(df, "text", "doc_id", max_bucket_size=5)
    assert pairs.count() == 0
    r = dedup.cap_dropped_mass(
        dedup.band_rows(dedup.minhash_signatures(df, "text", "doc_id")),
        ["band", "bucket"],
        5,
        member_col="id",
    ).first()
    # every band puts all 30 ids in one bucket -> all rows dropped
    assert r.n_buckets_over_cap == r.n_buckets
    assert r.rows_dropped == r.rows_total > 0
    assert r.frac_rows_dropped == 1.0
    assert r.n_members_affected == 30


def test_span_cap_dropped_counts_hot_anchor_occurrences(spark):
    """span_cap_dropped: per-doc occurrences of anchors whose corpus df
    exceeds the cap. 5 docs share one 16-char prefix (df=5 > cap=3);
    each doc's unique tail contributes only rare anchors."""
    rows = [
        (i, f"zzzzzzzzzzzzzzzz unique tail number {i} with extra words")
        for i in range(5)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.id: r.capped_anchor_rows
        for r in dedup.span_cap_dropped(
            df, "text", "doc_id", k=16, max_doc_freq=3,
            hash_family="md5",
        ).collect()
    }
    # the shared prefix yields the same anchor positions in every doc;
    # every doc must report the SAME positive dropped count
    assert set(got) == set(range(5))
    assert len(set(got.values())) == 1 and got[0] > 0
    # cap above the clique df: no hot anchors, empty report
    assert dedup.span_cap_dropped(
        df, "text", "doc_id", k=16, max_doc_freq=5, hash_family="md5"
    ).count() == 0
