"""Driver-side point lookup (pointread.py): the ms-latency primary-key
read. Two contracts: (1) the Python xxhash64 port is BIT-EXACT against
Spark's expression (the bucket routing depends on it); (2) the local read
returns exactly what the distributed point_lookup returns — live, deleted,
missing keys, across COW and unfolded-MOR tables — and falls back rather
than guessing for layouts it doesn't handle."""

import random
import string
import time

import pyspark.sql.functions as F

from gobblin_spark.lakehouse import LakeTable
from gobblin_spark.lakehouse.merge import (
    merge_lww,
    merge_lww_mor,
    point_lookup,
    read_current,
)
from gobblin_spark.lakehouse.pointread import (
    FALLBACK,
    bucket_of,
    key_bucket,
    point_lookup_local,
    xxhash64,
)

from tests.test_merge import (
    KEYS,
    data_events,
    make_events,
    new_table,
)


def test_xxhash64_parity_with_spark(spark):
    """Random strings (incl. unicode + empty), ints, longs, null chaining:
    the Python port must produce Spark's exact signed 64-bit values —
    lengths cross every XXH64 stripe boundary (0, <4, <8, <32, >=32)."""
    random.seed(11)
    rows = []
    for n in [0, 1, 3, 4, 7, 8, 31, 32, 33, 100]:
        rows.append(("".join(random.choices(string.printable, k=n)),
                     "αβγ日本語🙂"[: n % 7],
                     random.randint(-2**31, 2**31 - 1),
                     random.randint(-2**63, 2**63 - 1)))
    for _ in range(60):
        rows.append(
            ("".join(random.choices(string.printable,
                                    k=random.randint(0, 80))),
             "".join(random.choices("abc/._-日本語", k=random.randint(0, 40))),
             random.randint(-2**31, 2**31 - 1),
             random.randint(-2**63, 2**63 - 1)))
    df = spark.createDataFrame(rows, "s string, t string, i int, l long")
    got = df.select(
        F.xxhash64("s").alias("hs"),
        F.xxhash64("s", "t").alias("hst"),
        F.xxhash64("i").alias("hi"),
        F.xxhash64("l").alias("hl"),
        F.xxhash64("s", "t", "i", "l").alias("hall"),
    ).collect()
    for (s, t, i, l), r in zip(rows, got):
        assert xxhash64([s]) == r["hs"]
        assert xxhash64([s, t]) == r["hst"]
        assert xxhash64([i], int_sizes=[32]) == r["hi"]
        assert xxhash64([l]) == r["hl"]
        assert xxhash64([s, t, i, l],
                        int_sizes=[64, 64, 32, 64]) == r["hall"]
    h = df.select(F.xxhash64(F.lit(None).cast("string"),
                             F.lit("x")).alias("h")).first()["h"]
    assert xxhash64([None, "x"]) == h


def test_bucket_of_matches_buckets_of(spark, tmp_table_dir):
    ev = make_events(spark, 400)
    t = new_table(spark, tmp_table_dir + "/t")
    merge_lww(t, data_events(ev), KEYS)
    snap = t.snapshot()
    keys = [(r["repo"], r["path"]) for r in
            data_events(ev).select(*KEYS).distinct().limit(20).collect()]
    for repo, path in keys:
        one = spark.createDataFrame([(repo, path)], KEYS)
        want = next(iter(t.buckets_of(one)))
        assert bucket_of([repo, path], snap.n_buckets) == want


def _parity(spark, t, keys_live, keys_deleted):
    want = {(r["repo"], r["path"]): r["commit"]
            for r in read_current(t).collect()}
    for k in keys_live:
        local = point_lookup_local(t, {"repo": k[0], "path": k[1]})
        assert local is not FALLBACK and local is not None
        assert local["commit"] == want[k]
        spark_rows = point_lookup(
            t, {"repo": k[0], "path": k[1]}, prefer_local=False).collect()
        assert len(spark_rows) == 1
        assert {c: spark_rows[0][c] for c in local} == local
    for k in keys_deleted:
        assert point_lookup_local(t, {"repo": k[0], "path": k[1]}) is None
    assert point_lookup_local(t, {"repo": "no_such", "path": "x"}) is None


def test_local_lookup_parity_cow_and_mor(spark, tmp_table_dir):
    ev = make_events(spark, 2500)
    d = data_events(ev)

    cow = new_table(spark, tmp_table_dir + "/cow")
    merge_lww(cow, d, KEYS)
    mor = new_table(spark, tmp_table_dir + "/mor")
    for i in range(4):  # several unfolded delta batches
        merge_lww_mor(mor, d.filter(F.pmod(F.col("seq"), F.lit(4)) == i),
                      KEYS, seq_col="seq")

    live = {(r["repo"], r["path"]) for r in read_current(cow).collect()}
    seen = {(r["repo"], r["path"])
            for r in d.select(*KEYS).distinct().collect()}
    deleted = sorted(seen - live)[:3]
    probe = sorted(live)[:5]
    _parity(spark, cow, probe, deleted)
    _parity(spark, mor, probe, deleted)

    # and through the public API: point_lookup uses the local path by
    # default and returns an identical DataFrame
    k = probe[0]
    a = point_lookup(cow, {"repo": k[0], "path": k[1]}).collect()
    b = point_lookup(cow, {"repo": k[0], "path": k[1]},
                     prefer_local=False).collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]


def test_local_lookup_parity_patch_and_cell_dialects(spark, tmp_table_dir):
    """Both dialects fold locally: whole-row LWW, and 'cell' partial
    updates (null = unchanged), per-column write seqs, pre-delete cell
    exclusion — each probe must equal the distributed path exactly."""
    rows = [
        # key a: partial updates — b set at seq 2, a updated at seq 3
        (1, "I", "r", "a", "a1", "b1"),
        (2, "U", "r", "a", None, "b2"),
        (3, "U", "r", "a", "a3", None),
        # key b: delete at 5 supersedes; late pre-delete patch at 4 must
        # NOT resurface column state under 'cell'
        (1, "I", "r", "b", "x1", "y1"),
        (5, "D", "r", "b", None, None),
        (4, "U", "r", "b", "x4", None),
        # key c: live after delete
        (2, "D", "r", "c", None, None),
        (6, "U", "r", "c", "c6", None),
    ]
    for dialect in ("row", "cell"):
        batch = spark.createDataFrame(
            rows, ["seq", "op", "repo", "path", "ca", "cb"])
        from pyspark.sql.types import (
            BooleanType, LongType, StringType, StructField, StructType,
        )
        fields = [
            StructField("repo", StringType()),
            StructField("path", StringType()),
            StructField("ca", StringType()),
            StructField("cb", StringType()),
            StructField("__seq", LongType()),
            StructField("__deleted", BooleanType()),
        ]
        if dialect == "cell":
            from pyspark.sql.types import MapType
            fields += [
                StructField("__cells", MapType(StringType(), LongType())),
                StructField("__del_seq", LongType()),
            ]
        t = LakeTable.create(
            spark, f"{tmp_table_dir}/{dialect}", StructType(fields),
            ["repo", "path"], n_buckets=4,
            properties={"merge_dialect": dialect})
        # two MOR deltas split mid-history → the local fold must resolve
        # across files, not just pick a row
        merge_lww_mor(t, batch.filter(F.col("seq") <= 2), ["repo", "path"],
                      seq_col="seq")
        merge_lww_mor(t, batch.filter(F.col("seq") > 2), ["repo", "path"],
                      seq_col="seq")
        for p in ("a", "b", "c", "missing"):
            key = {"repo": "r", "path": p}
            local = point_lookup(t, key).collect()
            dist = point_lookup(t, key, prefer_local=False).collect()
            assert [r.asDict() for r in local] == \
                [r.asDict() for r in dist], (dialect, p)
        # spot-check the semantics themselves
        got = {r["path"]: (r["ca"], r["cb"])
               for r in point_lookup(
                   t, {"repo": "r", "path": "a"}).collect()}
        assert got == {"a": ("a3", "b2" if dialect == "cell" else None)}
        assert point_lookup(t, {"repo": "r", "path": "b"}).count() == 0


def test_local_lookup_fallbacks(spark, tmp_table_dir):
    """Schema-version drift answers FALLBACK (the Spark path owns schema
    conformance) and the public API still answers correctly; an unknown
    dialect is a named error, not a guess."""
    import pytest
    import dataclasses

    ev = make_events(spark, 600)
    t = new_table(spark, tmp_table_dir + "/t")
    merge_lww(t, data_events(ev), KEYS)
    k = read_current(t).select(*KEYS).first()
    key = {"repo": k["repo"], "path": k["path"]}

    snap = t.snapshot()
    odd = dataclasses.replace(
        snap, properties={**snap.properties, "merge_dialect": "exotic"})
    t.snapshot = lambda v=None: odd
    with pytest.raises(ValueError, match="exotic"):
        point_lookup(t, key)
    t2 = LakeTable(spark, tmp_table_dir + "/t")
    drift = dataclasses.replace(
        t2.snapshot(), schema_version=t2.snapshot().schema_version + 1)
    t2.snapshot = lambda v=None: drift
    assert point_lookup_local(t2, key) is FALLBACK
    # oversized candidate sets also defer to the distributed read
    t3 = LakeTable(spark, tmp_table_dir + "/t")
    assert point_lookup_local(t3, key, max_candidate_files=0) is FALLBACK
    rows = point_lookup(t3, key).collect()
    assert len(rows) == 1


def test_local_lookup_prunes_by_bounds_before_gates(spark, tmp_table_dir):
    """Files of the key's bucket whose key_bounds exclude the key are
    pruned BEFORE the candidate cap and the schema-drift check: delta
    files the key cannot be in neither exceed max_candidate_files nor, at
    an older schema version, force the distributed read."""
    import dataclasses

    t = new_table(spark, tmp_table_dir + "/t")
    merge_lww(t, spark.createDataFrame(
        [(1, "I", "a", "x", "c1", "py", "v1")],
        "seq long, op string, repo string, path string, commit string, "
        "lang string, content string"), KEYS)
    key = {"repo": "a", "path": "x"}
    bucket = key_bucket(t.snapshot(), key)
    # three one-event MOR deltas into the same bucket, every repo > "a"
    others = (k for k in (f"z{i}" for i in range(10_000))
              if key_bucket(t.snapshot(), {"repo": k, "path": "x"}) == bucket)
    for seq, repo in zip((2, 3, 4), others):
        merge_lww_mor(t, spark.createDataFrame(
            [(seq, "I", repo, "x", "c1", "py", "v")],
            "seq long, op string, repo string, path string, commit string, "
            "lang string, content string"), KEYS)
    snap = t.snapshot()
    in_bucket = [f for f in snap.files if f.bucket == bucket]
    assert len(in_bucket) == 4

    got = point_lookup_local(t, key, max_candidate_files=2)
    assert got is not FALLBACK and got["content"] == "v1"
    # the deltas' files at an older schema version: still answered locally
    drift = dataclasses.replace(snap, files=[
        f if f.bucket != bucket or f.key_bounds["repo"][0] == "a"
        else dataclasses.replace(f, schema_version=snap.schema_version - 1)
        for f in snap.files])
    t.snapshot = lambda v=None: drift
    got = point_lookup_local(t, key, max_candidate_files=2)
    assert got is not FALLBACK and got["content"] == "v1"
    # ... while a key inside a drifted file's bounds does fall back
    z = next(f for f in drift.files
             if f.bucket == bucket and f.key_bounds["repo"][0] != "a")
    assert point_lookup_local(
        t, {"repo": z.key_bounds["repo"][0], "path": "x"}) is FALLBACK

    before = len(spark.sparkContext.statusTracker().getJobIdsForGroup())
    rows = point_lookup(t, key).collect()
    after = len(spark.sparkContext.statusTracker().getJobIdsForGroup())
    assert [r["content"] for r in rows] == ["v1"]
    assert after == before, "point_lookup launched a Spark job"


def test_local_lookup_is_fast(spark, tmp_table_dir):
    """The product claim: after table open, a key resolves in milliseconds
    with ZERO Spark jobs (asserted via the status tracker)."""
    ev = make_events(spark, 2500)
    t = new_table(spark, tmp_table_dir + "/t")
    merge_lww(t, data_events(ev), KEYS)
    keys = [(r["repo"], r["path"])
            for r in read_current(t).limit(10).collect()]
    point_lookup_local(t, {"repo": keys[0][0], "path": keys[0][1]})  # warm

    jobs_before = len(spark.sparkContext.statusTracker().getJobIdsForGroup())
    t0 = time.perf_counter()
    for repo, path in keys:
        point_lookup_local(t, {"repo": repo, "path": path})
    per_key = (time.perf_counter() - t0) / len(keys)
    jobs_after = len(spark.sparkContext.statusTracker().getJobIdsForGroup())
    assert jobs_after == jobs_before, "local lookup must launch no Spark job"
    assert per_key < 0.25, f"{per_key * 1e3:.0f} ms/key"

    # the public API hands the local answer to Spark as an Arrow local
    # relation: collecting it, hit or miss, launches no job either
    for key, n in ((keys[0], 1), (("no_such", "x"), 0)):
        before = len(spark.sparkContext.statusTracker().getJobIdsForGroup())
        rows = point_lookup(t, {"repo": key[0], "path": key[1]}).collect()
        after = len(spark.sparkContext.statusTracker().getJobIdsForGroup())
        assert len(rows) == n
        assert after == before, f"point_lookup{key} launched a Spark job"


def test_point_lookup_reads_one_snapshot(spark, tmp_table_dir):
    """The schema and the row of one lookup come from one snapshot read,
    so a commit landing mid-lookup can't pair them across versions."""
    ev = make_events(spark, 400)
    t = new_table(spark, tmp_table_dir + "/t")
    merge_lww(t, data_events(ev), KEYS)
    k = read_current(t).select(*KEYS).first()
    calls = []
    real = t.snapshot
    t.snapshot = lambda v=None: calls.append(v) or real(v)
    assert len(point_lookup(t, {"repo": k[0], "path": k[1]}).collect()) == 1
    assert calls == [None]


def test_local_lookup_parity_typed_columns(spark, tmp_table_dir):
    """The Arrow local relation carries every column type the distributed
    read does: a full row, an all-null row and an absent key answer the
    same through the local and the prefer_local=False path — and an
    integer-keyed table routes the distributed path to the key's bucket
    (the key hashes at its stored int width, as the data was bucketed)."""
    import datetime
    from decimal import Decimal

    from pyspark.sql.types import (
        ArrayType, BinaryType, BooleanType, DateType, DecimalType,
        DoubleType, IntegerType, LongType, StringType, StructField,
        StructType, TimestampType,
    )

    payload = [
        StructField("i", IntegerType()),
        StructField("d", DoubleType()),
        StructField("b", BooleanType()),
        StructField("ts", TimestampType()),
        StructField("dt", DateType()),
        StructField("dec", DecimalType(12, 3)),
        StructField("bin", BinaryType()),
        StructField("arr", ArrayType(StringType())),
    ]
    full = (7, 2.5, True, datetime.datetime(2024, 3, 1, 12, 30, 45, 123456),
            datetime.date(2024, 3, 1), Decimal("123456789.125"),
            b"\x00\xffbin", ["x", None, "z"])
    nulls = (None,) * len(payload)
    meta = [StructField("__seq", LongType()),
            StructField("__deleted", BooleanType())]
    batch_meta = [StructField("seq", LongType()), StructField("op", StringType())]

    for key_field, keys in (
            (StructField("id", StringType()), ["full", "nulls", "gone"]),
            (StructField("id", IntegerType()), [3, 11, 42])):
        root = f"{tmp_table_dir}/{key_field.dataType.typeName()}"
        t = LakeTable.create(
            spark, root, StructType([key_field] + payload + meta),
            ["id"], n_buckets=8)
        batch_schema = StructType(batch_meta + [key_field] + payload)
        a, b, gone = keys
        # two MOR deltas: the full row's key is overwritten across files,
        # the deleted key's tombstone lands in the second delta
        merge_lww_mor(t, spark.createDataFrame(
            [(1, "I", a, *nulls), (1, "I", b, *full), (1, "I", gone, *full)],
            batch_schema), ["id"], seq_col="seq")
        merge_lww_mor(t, spark.createDataFrame(
            [(2, "U", a, *full), (2, "U", b, *nulls), (2, "D", gone, *nulls)],
            batch_schema), ["id"], seq_col="seq")
        absent = "missing" if isinstance(a, str) else 99
        for k in (a, b, gone, absent):
            local = point_lookup(t, {"id": k}).collect()
            dist = point_lookup(t, {"id": k}, prefer_local=False).collect()
            assert [r.asDict() for r in local] == \
                [r.asDict() for r in dist], (key_field, k)
        assert tuple(point_lookup(t, {"id": a}, prefer_local=False)
                     .first())[1:] == full
        assert tuple(point_lookup(t, {"id": b}).first())[1:] == nulls
        assert point_lookup(t, {"id": gone}, prefer_local=False).count() == 0
