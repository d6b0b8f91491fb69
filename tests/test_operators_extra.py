"""Extra operator coverage: ANN recall, SimHash pair dedup, tombstone GC."""

import os

import pyspark.sql.functions as F

from gobblin_spark.lakehouse import LakeTable, merge_lww
from gobblin_spark.lakehouse.merge import (
    DELETED_COL,
    SEQ_COL,
    gc_tombstones,
    read_current,
)
from gobblin_spark.operators.dedup import simhash_dedup
from gobblin_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    lsh_topk,
    select_centroids,
)
from gobblin_spark.engine import target_schema_for, default_registry, KEYS


def test_lsh_topk_recall_vs_exact(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    dim = len(emb.select("embedding").first()[0])
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries, k=10).select("query_id", "vec_id")
    approx = lsh_topk(emb, queries, dim=dim, k=10, n_planes=6, n_tables=8)
    hits = exact.join(approx.select("query_id", "vec_id"),
                      ["query_id", "vec_id"]).count()
    total = exact.count()
    recall = hits / total
    # every query's own vector must rank #1 (cosine 1.0 with itself)
    self_hits = approx.filter(
        (F.col("rank") == 1) & (F.col("query_id") == F.col("vec_id"))
    ).count()
    assert self_hits == queries.count()
    # The synthetic embeddings are ~uniform random (no cluster structure) —
    # the adversarial case for LSH, where top-10 "neighbors" are barely
    # closer than random vectors. Mechanism correctness is the self-hit
    # above; recall here just bounds the cost/recall dial sanity.
    assert recall >= 0.25, f"LSH recall too low: {recall:.2f}"


def test_ivf_topk_recall_and_partition(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(emb, queries, k=10).select("query_id", "vec_id")
    approx = ivf_topk(emb, queries, k=10, n_centroids=16, n_probe=4)
    hits = exact.join(approx.select("query_id", "vec_id"),
                      ["query_id", "vec_id"]).count()
    recall = hits / exact.count()
    # self-vector is in its own probe list by construction → must rank #1
    self_hits = approx.filter(
        (F.col("rank") == 1) & (F.col("query_id") == F.col("vec_id"))
    ).count()
    assert self_hits == queries.count()
    # uniform-random embeddings are IVF's adversarial case too; probing
    # 4/16 lists should still beat the 25% random-partition floor
    assert recall >= 0.25, f"IVF recall too low: {recall:.2f}"
    # probing every list makes IVF exhaustive → must equal brute force
    full = ivf_topk(emb, queries, k=10, n_centroids=16, n_probe=16)
    assert (
        full.select("query_id", "vec_id")
        .exceptAll(exact.select("query_id", "vec_id"))
        .count()
        == 0
    )


def test_ivf_centroid_selection_deterministic(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = select_centroids(emb, "vec_id", "embedding", 8)
    b = select_centroids(emb, "vec_id", "embedding", 8)
    assert a == b
    assert len(a) == 8
    # codebook must be quantized ints with positive self-dots
    assert all(isinstance(v, int) for _, qv, _ in a for v in qv)
    assert all(n > 0 for _, _, n in a)


def test_simhash_dedup_hamming_bound(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    pairs = simhash_dedup(docs, "doc_id", "text", bits=32,
                          max_hamming=6, band_bits=8).toPandas()
    assert (pairs["hamming"] <= 6).all()
    assert (pairs["id_a"] < pairs["id_b"]).all()
    assert not pairs.duplicated(["id_a", "id_b"]).any()


def test_gc_tombstones_drops_only_old_deletes(spark, tmp_table_dir):
    reg = default_registry()
    table = LakeTable.create(
        spark, os.path.join(tmp_table_dir, "t"),
        target_schema_for(reg, 1), KEYS, n_buckets=4,
        properties={"registry_version": 1},
    )
    rows = [
        # (seq, op, repo, path, commit, lang, content)
        (1, "I", "r1", "a", "c1", "py", "x1"),
        (2, "D", "r1", "a", None, None, None),     # old tombstone (GC-able)
        (3, "I", "r1", "b", "c2", "py", "x2"),
        (9, "D", "r2", "a", None, None, None),     # young tombstone (keep)
    ]
    batch = spark.createDataFrame(
        rows, "seq long, op string, repo string, path string, commit string,"
        " lang string, content string"
    )
    merge_lww(table, batch, KEYS, seq_col="seq", op_col="op")
    raw = table.read()
    assert raw.filter(F.col(DELETED_COL)).count() == 2
    gc_tombstones(table, horizon_seq=5)
    raw2 = table.read()
    tombs = raw2.filter(F.col(DELETED_COL)).select("repo", "path").collect()
    assert [(t["repo"], t["path"]) for t in tombs] == [("r2", "a")]
    # visible state unchanged by GC
    vis = read_current(table).select("repo", "path", "content").orderBy("repo")
    assert [tuple(r) for r in vis.collect()] == [("r1", "b", "x2")]


def test_from_json_max_failures_ratio(spark):
    from gobblin_spark.operators.converters import (
        ConversionFailureExceeded,
        FromJsonConverter,
    )

    good = [(f'{{"a": {i}}}',) for i in range(8)]
    bad = [("{not json",), ("also bad",)]
    df = spark.createDataFrame(good + bad, ["json"])
    # 2/10 corrupt: allowed at 0.3 (drops them), aborts at 0.1
    conv = FromJsonConverter(field="json", schema_ddl="a int",
                             max_failures_ratio=0.3)
    assert conv.convert(df).count() == 8
    strict = FromJsonConverter(field="json", schema_ddl="a int",
                               max_failures_ratio=0.1)
    import pytest as _pytest
    with _pytest.raises(ConversionFailureExceeded):
        strict.convert(df)
    # None (default) = permissive drop, no counting
    assert FromJsonConverter(field="json",
                             schema_ddl="a int").convert(df).count() == 8


def test_quarantine_replay_is_idempotent(spark, tmp_table_dir):
    """Crash-replaying a batch must not duplicate err-file rows: the sink is
    keyed by run_id and overwritten."""
    import pyspark.sql.functions as F

    from gobblin_spark.operators.quality import (
        PolicyType,
        RowLevelPolicy,
        RowLevelPolicyChecker,
    )

    df = spark.range(20).select(
        F.col("id"), (F.col("id") % 5 == 0).alias("bad"))
    pol = [RowLevelPolicy("no_bad", ~F.col("bad"), PolicyType.ERR_FILE)]
    err = tmp_table_dir + "/err"
    chk = RowLevelPolicyChecker(pol, err_path=err)
    chk.execute(df, run_id="batch1")
    chk.execute(df, run_id="batch1")  # replay after simulated crash
    quarantined = spark.read.parquet(err + "/run_id=batch1")
    assert quarantined.count() == 4  # ids 0,5,10,15 — once each


def test_exact_dedup_plan_has_no_collect_list(spark):
    """Scale guard: the dedup pairing must be min-per-group + join-back —
    a collect_list per content-hash group would materialize a degenerate
    group (e.g. billions of empty docs) as one giant array row."""
    import pyspark.sql.functions as F

    from gobblin_spark.operators.dedup import exact_dedup

    df = spark.range(100).select(
        F.col("id"), (F.col("id") % 7).cast("string").alias("c"))
    pairs = exact_dedup(df, ["c"], "id")
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan
    # 100 rows in 7 groups -> 93 shed duplicates
    assert pairs.count() == 93
    kept = {r["kept_id"] for r in pairs.collect()}
    assert kept == set(range(7))


def test_untested_converters_roundtrip(spark):
    """Covers the converters flagged 'untested' in round 1:
    FieldRetriever, ToJson, Identity, and the SchemaCompatibilityPolicy."""
    import json as _json

    import pyspark.sql.functions as F

    from gobblin_spark.operators.converters import (
        FieldRetrieverConverter,
        IdentityConverter,
        ToJsonConverter,
    )
    from gobblin_spark.operators.quality import SchemaCompatibilityPolicy

    df = spark.range(3).select(
        F.col("id"),
        F.struct(F.lit("x").alias("a"),
                 (F.col("id") * 2).alias("b")).alias("nested"),
    )
    # field retriever: nested path becomes the record
    got = FieldRetrieverConverter(field="nested.b").convert(df)
    assert got.columns == ["b"]
    assert [r["b"] for r in got.orderBy("b").collect()] == [0, 2, 4]
    # identity: exact same plan/rows
    assert IdentityConverter().convert(df) is df
    # to_json: whole record to one parseable JSON string
    j = ToJsonConverter(out_col="payload").convert(df.select("id"))
    assert j.columns == ["payload"]
    parsed = [_json.loads(r["payload"]) for r in j.collect()]
    assert sorted(p["id"] for p in parsed) == [0, 1, 2]
    # schema compatibility policy: names+types match, nullability ignored
    pol = SchemaCompatibilityPolicy(expected=df.schema)
    assert pol.check(df.schema)
    assert not pol.check(df.select("id").schema)


def test_compact_with_gc_horizon_drops_dead_tombstones(spark, tmp_table_dir):
    """GC folded into the compaction rewrite: tombstones at or below the
    horizon vanish, younger tombstones survive and still block late
    out-of-order updates (no resurrection) — on both compaction paths."""
    from gobblin_spark.lakehouse.merge import compact, merge_lww_mor

    from tests.test_merge import COMPACT_PATHS

    reg = default_registry()
    schema = ("seq long, op string, repo string, path string, commit string,"
              " lang string, content string")
    b1 = spark.createDataFrame([
        (1, "I", "r1", "a", "c1", "py", "x1"),
        (2, "D", "r1", "a", None, None, None),     # dead tombstone (<=5)
        (3, "I", "r1", "b", "c2", "py", "x2"),
    ], schema)
    b2 = spark.createDataFrame([
        (9, "D", "r2", "a", None, None, None),     # young tombstone (>5)
    ], schema)
    for path, on_path in COMPACT_PATHS.items():
        table = LakeTable.create(
            spark, os.path.join(tmp_table_dir, path),
            target_schema_for(reg, 1), KEYS, n_buckets=4,
            properties={"registry_version": 1},
        )
        merge_lww_mor(table, b1, KEYS, seq_col="seq", op_col="op")
        merge_lww_mor(table, b2, KEYS, seq_col="seq", op_col="op")
        with on_path():
            snap = compact(table, gc_horizon_seq=5)
        assert snap.properties["compact_path"] == path
        assert int(snap.properties["mor_deltas"]) == 0
        tombs = (table.read().filter(F.col(DELETED_COL))
                 .select("repo", "path").collect())
        assert [(t["repo"], t["path"]) for t in tombs] == [("r2", "a")]
        # late out-of-order update BELOW the surviving tombstone's seq:
        # blocked
        late = spark.createDataFrame(
            [(8, "U", "r2", "a", "c9", "py", "late")], schema)
        merge_lww_mor(table, late, KEYS, seq_col="seq", op_col="op")
        vis = (read_current(table).select("repo", "path", "content")
               .orderBy("path"))
        assert [tuple(r) for r in vis.collect()] == [("r1", "b", "x2")]


def test_minhash_xxhash64_variant_matches_md5_pairs(spark):
    """hash_fn='xxhash64' (production tier: JVM-intrinsic hashing, ~10x
    cheaper per shingle than the md5 oracle tier) verifies the same pairs:
    candidates differ only by hash family, and exact-Jaccard verification
    makes the output hash-agnostic wherever recall overlaps — exact
    duplicates collide in every band under any hash."""
    from gobblin_spark.operators.dedup import minhash_lsh_pairs

    docs = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "the quick brown fox jumps over the lazy dog again and again"),
        (3, "pack my box with five dozen liquor jugs for the long trip"),
        (4, "pack my box with five dozen liquor jugs for the long trip"),
        (5, "completely unrelated text about parquet column statistics"),
    ]
    df = spark.createDataFrame(docs, "id int, body string")
    got_md5 = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(df, "id", "body",
                                   threshold=0.9).collect()
    }
    got_xx = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(df, "id", "body", threshold=0.9,
                                   hash_fn="xxhash64").collect()
    }
    assert got_md5 == got_xx == {(1, 2), (3, 4)}


def test_connected_components_chain_and_islands(spark):
    """A long chain (forces pointer jumping past 1-hop propagation), a
    triangle, and an isolated pair must resolve to min-id components."""
    from gobblin_spark.operators.dedup import connected_components

    # chain 1-2-3-...-9, triangle 20-21-22 (+ redundant edge), pair 30-31
    edges = [(i, i + 1) for i in range(1, 9)]
    edges += [(20, 21), (21, 22), (20, 22), (30, 31)]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {
        r["node"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    for n in range(1, 10):
        assert got[n] == 1
    for n in (20, 21, 22):
        assert got[n] == 20
    assert got[30] == 30 and got[31] == 30


def test_neardup_clusters_keeps_one_rep(spark):
    from gobblin_spark.operators.dedup import neardup_clusters

    pairs = spark.createDataFrame(
        [(5, 7), (7, 9), (2, 3)], ["id_a", "id_b"]
    )
    rows = {r["doc_id"]: r for r in neardup_clusters(pairs).collect()}
    assert rows[5]["is_kept"] and rows[5]["cluster_size"] == 3
    assert not rows[7]["is_kept"] and rows[7]["component"] == 5
    assert rows[2]["is_kept"] and rows[2]["cluster_size"] == 2
    kept = [r for r in rows.values() if r["is_kept"]]
    assert len(kept) == 2  # exactly one representative per cluster


def test_token_repetition_stats_edges(spark):
    import pyspark.sql.functions as F

    from gobblin_spark.operators.text import token_repetition_stats

    df = spark.createDataFrame(
        [
            (1, "a a a a"),            # one token repeated: top frac 1.0
            (2, "x y z w"),            # all distinct
            (3, ""),                   # empty
            (4, "p q p q p q"),        # bigram 'p q' dominates
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in token_repetition_stats(
        df, "doc_id", "text").collect()}
    assert got[1]["top_token_frac"] == 1.0
    assert got[1]["distinct_token_ratio"] == 0.25
    assert got[2]["top_token_frac"] == 0.25
    assert got[2]["distinct_token_ratio"] == 1.0
    assert got[3]["top_token_frac"] == 0.0
    assert got[3]["distinct_token_ratio"] == 0.0
    assert got[4]["top_bigram_frac"] == 0.6  # 'p q' 3 of 5 bigrams
    assert len(got) == 4  # empty doc still present (left joins)


def test_pii_scrub_and_counts(spark):
    import pyspark.sql.functions as F

    from gobblin_spark.operators.text import pii_counts, pii_scrub

    df = spark.createDataFrame(
        [(1, "mail a.b+c@ex-am.ple.org or http://h.io/p?q=1 at 192.168.0.1 "
             "and 10.1.2.3; plain text stays")],
        ["id", "t"],
    )
    row = df.select(
        pii_scrub(F.col("t")).alias("s"), pii_counts(F.col("t")).alias("c")
    ).collect()[0]
    assert row["s"] == ("mail <EMAIL> or <URL> at <IP> and <IP>; "
                        "plain text stays")
    assert row["c"]["n_email"] == 1
    assert row["c"]["n_url"] == 1
    assert row["c"]["n_ipv4"] == 2


def test_connected_components_random_graphs_match_union_find(spark):
    """Property check: on deterministic pseudo-random graphs, the Spark CC
    operator must equal a driver-side union-find ground truth."""
    from gobblin_spark.operators.dedup import connected_components

    def union_find_components(edges, nodes):
        parent = {n: n for n in nodes}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # fully compress, then label = min member per root
        roots = {}
        for n in nodes:
            roots.setdefault(find(n), []).append(n)
        return {n: min(members) for members in roots.values() for n in members}

    # deterministic LCG so the test needs no RNG seed plumbing
    state = 12345
    def nxt(mod):
        nonlocal state
        state = (state * 1103515245 + 12345) % (1 << 31)
        return state % mod

    for n_nodes, n_edges in [(30, 15), (60, 80), (100, 40)]:
        edges = []
        for _ in range(n_edges):
            a, b = nxt(n_nodes), nxt(n_nodes)
            if a != b:
                edges.append((min(a, b), max(a, b)))
        if not edges:
            continue
        nodes = sorted({x for e in edges for x in e})
        expected = union_find_components(edges, nodes)
        pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
        got = {
            r["node"]: r["component"]
            for r in connected_components(pairs).collect()
        }
        assert got == expected


def test_stratified_sample_deterministic_and_proportional(spark):
    """The sample must be a pure function of the id (identical across
    repartitionings), respect per-group fractions approximately, and drop
    unknown groups by default."""
    import pyspark.sql.functions as F

    from gobblin_spark.operators.text import stratified_sample

    df = spark.createDataFrame(
        [(i, "a" if i % 2 == 0 else "b") for i in range(2000)]
        + [(9999, "zz")],
        ["id", "g"],
    )
    fracs = {"a": 0.25, "b": 1.0}
    s1 = {r["id"] for r in
          stratified_sample(df, "g", fracs, "id").collect()}
    s2 = {r["id"] for r in
          stratified_sample(df.repartition(13), "g", fracs, "id").collect()}
    assert s1 == s2  # identical sample regardless of physical layout
    n_a = sum(1 for i in s1 if i != 9999 and i % 2 == 0)
    n_b = sum(1 for i in s1 if i != 9999 and i % 2 == 1)
    assert abs(n_a / 1000 - 0.25) < 0.06   # md5 draws ~uniform
    assert n_b == 1000                      # frac 1.0 keeps everything
    assert 9999 not in s1                   # unknown group -> default 0.0


def test_contamination_flags_ngram_overlap(spark):
    """A doc sharing an n-gram with a probe is flagged with the hit count;
    clean docs are absent; overlap shorter than n does not flag."""
    from gobblin_spark.operators.text import contamination_flags

    probes = spark.createDataFrame(
        [(100, "the quick brown fox jumps over")], ["pid", "ptext"]
    )
    docs = spark.createDataFrame(
        [
            (1, "intro text the quick brown fox jumps away"),  # 2 shared 4-grams
            (2, "quick brown fox somewhere"),                  # only 3 shared words
            (3, "completely unrelated content here now"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in contamination_flags(
        docs, probes, "doc_id", "text", "pid", "ptext", n=4).collect()}
    assert set(got) == {1}
    assert got[1]["n_hits"] == 2  # 'the quick brown fox', 'quick brown fox jumps'
    assert got[1]["first_probe"] == 100


def test_pack_sequences_greedy_semantics(spark):
    """Greedy reset packing per bucket: fills to the window, oversize docs
    take their own pack, bucket boundaries restart numbering."""
    import pyspark.sql.functions as F

    from gobblin_spark.operators.packing import pack_sequences

    rows = [
        # bucket 0 (ids 0..9), window 10
        (0, 4), (1, 5),          # pack 0 (4+5=9 <= 10)
        (2, 3),                  # pack 1 (9+3 > 10 -> reset)
        (3, 25),                 # pack 2 (oversize -> own pack)
        (4, 2),                  # pack 3 (25+2 > 10)
        # bucket 1 restarts at pack 0
        (10, 6), (11, 4),        # pack 0 (6+4=10, fits exactly)
        (12, 1),                 # pack 1
    ]
    df = spark.createDataFrame(rows, ["doc_id", "n"])
    got = {
        r["doc_id"]: (r["bucket"], r["pack_idx"])
        for r in pack_sequences(
            df, "doc_id", F.col("n"), window_tokens=10, bucket_size=10
        ).collect()
    }
    assert got[0] == (0, 0) and got[1] == (0, 0)
    assert got[2] == (0, 1)
    assert got[3] == (0, 2)
    assert got[4] == (0, 3)
    assert got[10] == (1, 0) and got[11] == (1, 0)
    assert got[12] == (1, 1)


def test_err_path_requires_run_id(spark):
    """The quarantine write path must refuse to run without a run_id — a
    plain append would duplicate rows on crash-replay."""
    import pyspark.sql.functions as F
    import pytest

    from gobblin_spark.operators.quality import (
        PolicyType,
        RowLevelPolicy,
        RowLevelPolicyChecker,
    )

    df = spark.range(10).select(
        F.col("id"), (F.col("id") % 2 == 0).alias("bad"))
    pol = [RowLevelPolicy("no_bad", ~F.col("bad"), PolicyType.ERR_FILE)]
    chk = RowLevelPolicyChecker(pol, err_path="/tmp/unused-err")
    with pytest.raises(ValueError, match="run_id"):
        chk.execute(df)


def test_connected_components_raises_when_unconverged(spark):
    """Exhausting max_iter without the label-sum fixpoint must raise, not
    silently publish partially-merged clusters."""
    import pytest

    from gobblin_spark.operators.dedup import connected_components

    # a long chain needs ~log2(diameter) rounds; max_iter=1 can't converge
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=1)


def test_pack_sequences_zero_token_and_negative_ids(spark):
    """Oracle-parity edge cases: (a) leading zero-token docs followed by an
    oversize doc roll to a new pack (unconditional acc+t>window, matching
    the recursive CTE); (b) the FIRST doc of a bucket is always pack 0 even
    if oversize; (c) bucket ids use integer division that agrees with
    DuckDB's `//` (truncation toward zero) for negative ids."""
    import pyspark.sql.functions as F

    from gobblin_spark.operators.packing import pack_sequences

    rows = [
        # bucket 0, window 10: first doc oversize -> still pack 0
        (0, 99),
        (1, 0),                 # 99+0 > 10 -> pack 1
        (2, 4),                 # 0+4 <= 10 -> stays pack 1
        # bucket 1: zero-token leads, then oversize
        (10, 0),                # first row -> pack 0, acc=0
        (11, 0),                # 0+0 <= 10 -> pack 0
        (12, 25),               # 0+25 > 10 -> pack 1 (oracle CTE semantics)
        # negative id: DuckDB -17 // 10 == -1 (truncate toward zero;
        # floor would give -2) — isolated in its own bucket
        (-17, 3),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "n"])
    got = {
        r["doc_id"]: (r["bucket"], r["pack_idx"])
        for r in pack_sequences(
            df, "doc_id", F.col("n"), window_tokens=10, bucket_size=10
        ).collect()
    }
    assert got[0] == (0, 0)
    assert got[1] == (0, 1)
    assert got[2] == (0, 1)
    assert got[10] == (1, 0)
    assert got[11] == (1, 0)
    assert got[12] == (1, 1)
    assert got[-17] == (-1, 0)  # truncation toward zero, matching DuckDB //
