"""r6 optimization internals: widen() scan-parallelism guard and the
hashed-shingle basis the pair screens share (operators/partitioning.py,
dedup._hashed_shingles)."""

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    import sys

    sys.path.insert(0, "/root/repo")
    from kneaddata_spark.session import get_spark

    s = get_spark(app="test_partitioning", cores=8)
    yield s


def test_widen_raises_degenerate_parallelism(spark):
    """A single-split source comes out at the session's shuffle width;
    rows and values are untouched."""
    from kneaddata_spark.operators.partitioning import widen

    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id")
    assert d.rdd.getNumPartitions() < n_parts  # the degenerate premise
    w = widen(d, "doc_id")
    assert w.rdd.getNumPartitions() == n_parts
    assert sorted(r["doc_id"] for r in w.collect()) == sorted(
        r["doc_id"] for r in d.collect()
    )


def test_widen_is_noop_on_wide_sources(spark):
    """A source already at (or above) the shuffle width is returned
    UNCHANGED — the at-scale contract (no repartition of a well-split
    scan)."""
    from kneaddata_spark.operators.partitioning import widen

    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    d = spark.range(0, 1000, 1, n_parts)
    assert widen(d, "id") is d


def test_widen_streaming_guard(spark, tmp_path):
    """A streaming frame passes through untouched (.rdd is illegal on
    streaming sources)."""
    from kneaddata_spark.operators.partitioning import widen

    spark.range(5).write.mode("overwrite").parquet(str(tmp_path / "in"))
    s = spark.readStream.schema("id long").parquet(str(tmp_path / "in"))
    assert widen(s, "id") is s


def test_hashed_shingles_guard_matches_string_guard(spark):
    """_hashed_shingles' df-guard over xxhash64 values keeps EXACTLY the
    (id, shingle) survivors of word_shingles' string guard — the hashed
    basis is the string basis, one xxhash64 away."""
    from kneaddata_spark.operators import dedup
    from kneaddata_spark.plans.entry_queries import _docs_with_dups

    d = _docs_with_dups(spark, SF_DIR)
    # force the guard to actually drop something at this tiny sf
    strings = dedup.word_shingles(d, "doc_id", "text", n=3, max_df=20)
    want = {
        (r["id"], r["h"])
        for r in strings.select(
            "id", F.xxhash64("shingle").alias("h")
        ).collect()
    }
    got = {
        (r["id"], r["h"])
        for r in dedup._hashed_shingles(
            d, "doc_id", "text", 3, 20, part_col="h"
        ).collect()
    }
    assert got == want and len(got) > 0
    from kneaddata_spark.operators.caching import release_tracked

    release_tracked()


def test_simhash_bitcount_signature_matches_pm1_definition(spark):
    """The r6 bit-count aggregate (b_i = 2*c_i - n) must reproduce the
    per-bit +/-1 sums sign-for-sign — checked via a direct python
    replica of the +/-1 definition over the same token hashes."""
    from collections import defaultdict

    from kneaddata_spark.operators import dedup

    rows = [(1, "alpha beta gamma alpha"), (2, "beta beta delta")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = {
        r["id"]: r["simhash"]
        for r in dedup.simhash_signatures(df, "doc_id", "text").collect()
    }
    toks = df.select(
        F.col("doc_id").alias("id"),
        F.explode(F.split(F.lower("text"), r"\s+")).alias("tok"),
    ).where("tok != ''")
    hashes = defaultdict(list)
    for r in toks.select("id", F.xxhash64("tok").alias("h")).collect():
        hashes[r["id"]].append(r["h"])
    for i, hs in hashes.items():
        sig = 0
        for b in range(64):
            s = sum(1 if (h >> b) & 1 else -1 for h in hs)
            if s > 0:
                sig |= 1 << b
        # interpret as signed 64-bit like the engine column
        if sig >= 1 << 63:
            sig -= 1 << 64
        assert sigs[i] == sig


def test_clip_fixture_scan_width_matches_session(spark):
    """r6 session 3: the shared audio fixture is written one ~1 MB file
    per core (floor 8), so the Python decode stage — which has NO
    exchange before it — plans a scan split per core instead of the old
    4-8. The file count must track the session's parallelism and the
    scan must not pack the files back together."""
    from kneaddata_spark.plans.entry_queries import _clip_parts, _synth_clips

    want = _clip_parts(spark)
    clips = _synth_clips(spark, 400)
    # one split per file: the decode stage inherits this width
    assert clips.rdd.getNumPartitions() >= want - 1  # openCost packing slack
    assert clips.count() == 400


def _cached_relations(plan: str) -> set[str]:
    """Distinct cached relations of a formatted plan: explain numbers each
    plan node object once, so every print of one cache shows the same id
    on the node directly under its InMemoryRelation."""
    import re

    lines = plan.splitlines()
    return {
        re.search(r"\+- \w[\w ]* \((\d+)\)", lines[i + 1]).group(1)
        for i, line in enumerate(lines)
        if re.search(r"\+- InMemoryRelation \(\d+\)$", line)
    }


def test_dup_screens_pin_their_self_join_inputs(spark):
    """r6 session 3: the frames feeding both self-join sides are
    persist_tracked — without the pin each side re-evaluates the
    corpus-wide aggregate (and, for images, the Python decode). The pin
    is visible as InMemoryTableScan in the physical plan. MinHash pins
    exactly two frames — the hashed shingles, and the per-doc hash arrays
    with the signatures derived from them — and has no 64-min aggregate."""
    from tools.audit_plans import plan_of
    from kneaddata_spark.operators import dedup
    from kneaddata_spark.operators.caching import release_tracked

    rows = [(i, f"tok{i} alpha beta gamma delta epsilon zeta") for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    release_tracked()
    p = plan_of(dedup.minhash_dedup_pairs(df, "doc_id", "text"))
    assert len(_cached_relations(p)) == 2, p
    assert "min(__x" not in p
    release_tracked()
    sigs = dedup.simhash_signatures(df, "doc_id", "text")
    p = plan_of(dedup.simhash_near_dup_pairs(sigs))
    assert "InMemoryTableScan" in p
    release_tracked()


def test_minhash_array_signatures_match_python(spark):
    """minhash_signatures (collect_list + one SQL transform) equals an
    independent Python MinHash over the same shingle sets, on a seeded
    corpus with the hot-shingle guard ON: per permutation (a, b) from
    _perm_coeffs, min over ((xxhash64(s) mod p) * a + b) mod p. A doc
    shorter than n tokens and a doc whose shingles are all hot have no
    signature row."""
    import random

    from kneaddata_spark.operators import dedup

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(40)]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 30)))) for i in range(40)]
    rows += [(100 + i, "hot shingle text here") for i in range(4)]  # df 4 > max_df
    rows += [(200, "Too Short")]
    n, max_df, num_hashes = 3, 3, 16
    df = spark.createDataFrame(rows, "doc_id long, text string")

    shingles = {}
    for i, t in rows:
        toks = t.lower().split()
        shingles[i] = {" ".join(toks[k : k + n]) for k in range(len(toks) - n + 1)}
    doc_freq = {}
    for sh in shingles.values():
        for s in sh:
            doc_freq[s] = doc_freq.get(s, 0) + 1
    kept = {i: {s for s in sh if doc_freq[s] <= max_df} for i, sh in shingles.items()}
    kept = {i: sh for i, sh in kept.items() if sh}
    assert 200 not in kept and not any(100 + i in kept for i in range(4))

    # the base hash is Spark's xxhash64 of each shingle string; everything
    # after it is recomputed here
    all_sh = sorted({s for sh in kept.values() for s in sh})
    base = dict(
        spark.createDataFrame([(s,) for s in all_sh], "s string")
        .select("s", F.xxhash64("s").alias("h"))
        .collect()
    )
    p = (1 << 31) - 1
    a, b = dedup._perm_coeffs(num_hashes)
    want = {
        i: [min(((base[s] % p) * a[k] + b[k]) % p for s in sh) for k in range(num_hashes)]
        for i, sh in kept.items()
    }

    sh_frame = dedup.word_shingles(df, "doc_id", "text", n, max_df=max_df)
    got = {
        r["id"]: list(r["sig"])
        for r in dedup.minhash_signatures(sh_frame, num_hashes).collect()
    }
    assert got == want
