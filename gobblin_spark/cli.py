"""spark-submit entry point for the CDC engine.

The reference launches jobs from a properties file via CLI/MR launchers
(gobblin-runtime/src/main/java/gobblin/runtime/local/CliLocalJobLauncher.java,
mapreduce/CliMRJobLauncher.java); the Spark-native equivalent is one driver
script submitted with the package zip:

    scripts/package.sh                        # builds dist/gobblin_spark.zip
    spark-submit --py-files dist/gobblin_spark.zip \
        --master <cluster-master> \
        scripts/run_job.py ingest \
        --events /path/to/change_events \
        --table  /lake/target_table \
        --state  /lake/_state/target_table \
        --max-records-per-batch 50000000

On a real cluster the session master/executors come from spark-submit;
this module never builds its own SparkSession unless --local-cores is given
(dev convenience). The job is resumable: rerunning the same command continues
from the last committed watermark, and a crash mid-batch is re-applied
idempotently (verify-then-skip against the commit log).
"""

from __future__ import annotations

import argparse
import json
import re
import sys
import time


def _get_session(args):
    from pyspark.sql import SparkSession

    if args.local_cores:
        from gobblin_spark.session import get_spark

        return get_spark("gobblin-spark-job", parallelism=args.local_cores,
                         shuffle_partitions=max(16, args.local_cores))
    return SparkSession.builder.getOrCreate()


def _resolve_table(args) -> None:
    """``--catalog ROOT`` makes ``--table`` (and ``--err``) a catalog NAME:
    resolve it to the registered roots, and default --state/--err from the
    entry when the flag wasn't given (≙ a Hive consumer addressing the
    reference's published datasets by registered name,
    HiveRegistrationPublisher.java:56)."""
    cat = getattr(args, "catalog", "")
    if not cat or getattr(args, "register_as", ""):
        # no catalog, or registration mode (--register-as: --table is the
        # PATH being registered, not a name to resolve)
        if getattr(args, "state", None) == "" and hasattr(args, "events"):
            raise SystemExit("--state is required (or pass --catalog with "
                             "a registered state_root)")
        return
    from gobblin_spark.catalog import Catalog

    e = Catalog(cat).get(args.table)
    args.table = e.table_root
    if getattr(args, "state", None) in ("", None) and hasattr(args, "state"):
        if not e.state_root:
            raise SystemExit(
                f"catalog entry {e.name!r} has no state_root; pass --state")
        args.state = e.state_root
    if getattr(args, "err", None) in ("", None) and hasattr(args, "err"):
        if e.err_root:
            args.err = e.err_root


def _maybe_resolve_name(args) -> None:
    """clone/agg-sync: ``--table`` may be a registered catalog name OR a
    raw path (these commands register a DIFFERENT artifact via
    --register-as, so the ingest convention of 'register_as makes --table
    a path' does not apply). A registered name rewrites to its table
    root; anything else passes through as a path. No state defaulting —
    these commands' --state flags have their own explicit semantics."""
    cat = getattr(args, "catalog", "")
    if not cat:
        return
    from gobblin_spark.catalog import Catalog, CatalogError

    try:
        args.table = Catalog(cat).get(args.table).table_root
    except (CatalogError, FileNotFoundError, KeyError):
        pass  # not a registered name: treat as a path


def cmd_ingest(args) -> int:
    from gobblin_spark.engine import CdcEngine

    _resolve_table(args)
    spark = _get_session(args)
    events = spark.read.parquet(args.events)
    if args.shard:
        # multi-executor deployment: one ingest job per shard, each with its
        # own --table/--state; shard K/S owns pmod(event_group, S) = K
        # (≙ KafkaWorkUnitPacker assigning Kafka partitions to containers).
        # The density-adaptive planner learns the 1/S row density from its
        # committed history, so shards still fill batches to the record cap.
        try:
            k, s = (int(x) for x in args.shard.split("/", 1))
        except ValueError:
            raise SystemExit(f"--shard must be K/S, got {args.shard!r}")
        if not (0 <= k < s):
            raise SystemExit(f"--shard K/S requires 0 <= K < S, got {args.shard!r}")
        import pyspark.sql.functions as F

        events = events.filter(F.expr(f"pmod(event_group, {s}) = {k}"))
    eng = CdcEngine(
        spark,
        events,
        table_root=args.table,
        state_root=args.state,
        max_records_per_batch=args.max_records_per_batch,
        max_records_per_unit=args.max_records_per_unit,
        salt_buckets=args.salt_buckets,
        n_buckets=args.buckets,
        stats_cols=args.stats_cols or None,
        auto_rescale_bytes=(args.auto_rescale_mb * 1024 * 1024
                            if args.auto_rescale_mb else None),
        merge_mode=args.merge_mode,
        merge_dialect=args.merge_dialect,
        compact_every=args.compact_every,
        compact_bucket_ratio=args.compact_bucket_ratio,
        compact_max_rows_per_file=args.compact_max_rows_per_file or None,
        log_keep_last=args.log_keep_last or None,
        branch=args.branch or None,
    )
    t0 = time.time()
    results = eng.run_until_caught_up(max_batches=args.max_batches)
    wall = time.time() - t0
    applied = sum(r.rows_read for r in results)
    if args.register_as:
        # registration rides the publish, like the reference's
        # HiveRegistrationPublisher registering what it just published
        if not args.catalog:
            raise SystemExit("--register-as needs --catalog")
        from gobblin_spark.catalog import Catalog

        Catalog(args.catalog).register(
            args.register_as, args.table, state_root=args.state,
            overwrite=True)
    print(json.dumps({
        "batches": len(results),
        "events_applied": applied,
        "wall_sec": round(wall, 3),
        "events_per_sec": round(applied / wall, 1) if wall > 0 else 0.0,
        "snapshot_version": eng.table.current_version(),
        "table_stats": eng.table.stats(),
    }))
    return 0


def cmd_catalog(args) -> int:
    """Catalog CRUD: register/list/describe/drop named tables (no Spark
    needed — pure CommitFs metadata)."""
    from gobblin_spark.catalog import Catalog

    cat = Catalog(args.catalog)
    if args.action == "register":
        if not args.name or not args.table:
            raise SystemExit("register needs --name and --table")
        props = dict(kv.split("=", 1) for kv in args.prop) if args.prop else {}
        e = cat.register(args.name, args.table, state_root=args.state or None,
                         err_root=args.err or None, properties=props,
                         overwrite=args.overwrite)
        print(json.dumps(e.to_json()))
    elif args.action == "list":
        print(json.dumps([e.to_json() for e in cat.list()]))
    elif args.action == "describe":
        if not args.name:
            raise SystemExit("describe needs --name")
        print(json.dumps(cat.describe(args.name)))
    elif args.action == "drop":
        if not args.name:
            raise SystemExit("drop needs --name")
        cat.drop(args.name)
        print(json.dumps({"dropped": args.name}))
    return 0


def cmd_sync(args) -> int:
    """Changelog-driven incremental sync: ship the table's row-level
    changes since the last synced snapshot version into a downstream
    format sink, exactly-once (own watermark in --state)."""
    from gobblin_spark.sync import sync_changes

    if not args.state:
        # must come BEFORE catalog resolution: the entry's state_root is
        # the INGEST's log — writing the sync's version watermark into the
        # ingest's group-0 seq watermark would corrupt planning
        raise SystemExit("sync needs its own --state root (never the "
                         "ingest's)")
    _resolve_table(args)
    spark = _get_session(args)
    res = sync_changes(
        spark, args.table, args.state, args.out, fmt=args.format,
        from_version=args.from_version or None)
    print(json.dumps(res))
    return 0


def cmd_agg_sync(args) -> int:
    """Incrementally-maintained aggregate view: advance a downstream
    per-group COUNT/SUM table from the upstream's changelog (preimage
    retractions), exactly-once (own watermark under --state)."""
    from gobblin_spark.aggview import agg_sync

    if not args.state:
        raise SystemExit("agg-sync needs its own --state root (never the "
                         "ingest's)")
    _maybe_resolve_name(args)
    spark = _get_session(args)
    res = agg_sync(
        spark, args.table, args.state, args.view,
        group_cols=[c for c in args.group_cols.split(",") if c],
        sum_cols=[c for c in args.sum_cols.split(",") if c],
        minmax_cols=[c for c in args.minmax_cols.split(",") if c],
        n_buckets=args.buckets)
    if args.register_as:
        if not args.catalog:
            raise SystemExit("--register-as needs --catalog")
        from gobblin_spark.catalog import Catalog

        Catalog(args.catalog).register(
            args.register_as, args.view, state_root=args.state,
            overwrite=True)
    print(json.dumps(res))
    return 0


def cmd_clone(args) -> int:
    """Clone a pinned snapshot to a new root (≙ the reference's dataset
    replication / distcp job family): executor-distributed byte copy of
    the data files + a fresh v1 manifest; optionally copies the ingest
    state checkpoint FIRST so a disaster-recovery clone resumes ingest
    exactly where the source stopped."""
    from gobblin_spark.clone import clone_table

    _maybe_resolve_name(args)
    spark = _get_session(args)
    res = clone_table(
        spark, args.table, args.out,
        version=args.version or None,
        tag=args.tag or None,
        state_src=args.state or None,
        state_dst=args.state_out or None)
    if args.register_as:
        if not args.catalog:
            raise SystemExit("--register-as needs --catalog")
        from gobblin_spark.catalog import Catalog

        Catalog(args.catalog).register(
            args.register_as, args.out, state_root=args.state_out,
            overwrite=True)
    print(json.dumps(res))
    return 0


def cmd_replay_errors(args) -> int:
    """Dead-letter replay: re-merge quarantined err-file rows at their
    ORIGINAL seq (LWW keeps newer data authoritative), skipping rows at or
    below the table's tombstone-GC horizon (they could resurrect GC'd
    deletes). Exactly-once per run_id via the commit log."""
    from gobblin_spark.replay import replay_errors

    spark = _get_session(args)
    res = replay_errors(
        spark, args.err, args.table, args.state,
        run_ids=args.run_ids.split(",") if args.run_ids else None,
        force=args.force,
    )
    print(json.dumps(res))
    return 0


def cmd_bootstrap(args) -> int:
    """Initial full-snapshot load + CDC handoff (≙ the reference's
    SNAPSHOT_ONLY full dump before APPEND watermark pulls; Debezium
    initial snapshot → binlog position handoff). After this, `ingest`
    against the same --state tails only events with seq > --watermark."""
    from gobblin_spark.bootstrap import bootstrap_snapshot

    spark = _get_session(args)
    snapshot = spark.read.parquet(args.source)
    if args.groups:
        groups = list(range(args.groups))
    elif args.events:
        rows = (spark.read.parquet(args.events)
                .select("event_group").distinct().collect())
        groups = [int(r.event_group) for r in rows]
    else:
        raise SystemExit("one of --groups / --events is required (the "
                         "change stream's partition list)")
    t0 = time.time()
    res = bootstrap_snapshot(
        spark, snapshot, args.table, args.state,
        watermark=args.watermark, groups=groups,
        n_buckets=args.buckets, merge_dialect=args.merge_dialect,
        verify_unique=args.verify_unique,
    )
    res["wall_sec"] = round(time.time() - t0, 3)
    print(json.dumps(res))
    return 0


def cmd_tail(args) -> int:
    """Incremental directory tail: snapshot-diff file discovery composed
    with the CDC batch loop (≙ the reference's FileBasedSource feeding a
    job run, FileBasedSource.java:74-140 + AbstractJobLauncher).

    Exactly-once end-to-end with no coordination between the two
    checkpoints: a crash after the engine's commit but before the file
    snapshot commit re-plans the same files next run, and the engine's
    watermark planning (seq > committed watermark) skips every
    already-applied event — re-reading a file is idempotent by design.
    """
    from gobblin_spark.engine import CdcEngine
    from gobblin_spark.sources.filebased import FileDiffSource

    spark = _get_session(args)
    src = FileDiffSource(args.state, pattern=args.pattern,
                         max_partitions=args.max_partitions)
    plan = src.plan(args.events_dir)
    if plan.empty:
        print(json.dumps({"files_pulled": 0, "batches": 0,
                          "events_applied": 0}))
        return 0
    events = src.read(spark, plan, fmt=args.format)
    eng = CdcEngine(
        spark,
        events,
        table_root=args.table,
        state_root=args.state,
        max_records_per_batch=args.max_records_per_batch,
        merge_mode=args.merge_mode,
        compact_every=args.compact_every,
    )
    t0 = time.time()
    results = eng.run_until_caught_up(max_batches=args.max_batches)
    wall = time.time() - t0
    src.commit(plan)
    applied = sum(r.rows_read for r in results)
    print(json.dumps({
        "files_pulled": len(plan.files_to_pull),
        "batches": len(results),
        "events_applied": applied,
        "wall_sec": round(wall, 3),
        "snapshot_version": eng.table.current_version(),
    }))
    return 0


def cmd_status(args) -> int:
    from gobblin_spark.state.store import StateStore

    _resolve_table(args)
    if not args.state:
        raise SystemExit("--state is required (or --catalog + --table NAME)")
    store = StateStore(args.state)
    wm = store.last_committed_watermarks()
    print(json.dumps({
        "committed_batches": len(store.committed_batches()),
        "pending_batches": [b["batch_id"] for b in store.pending_batches()],
        "watermarks": {str(k): v for k, v in sorted(wm.items())},
        "group_cost_stats": store.group_cost_stats(),
    }, indent=2))
    return 0


def cmd_metrics(args) -> int:
    """Run-history metrics report from the commit log — the read-back half
    of the reference's metrics/lineage emitters (Instrumented mixins +
    task-state stores, gobblin-metrics/.../Instrumented.java, persisted here
    per batch by engine.commit_batch). Pure state-store reads, no Spark.

    Per committed batch: rows, wall, throughput, phase breakdown, seq span,
    quality violations, hot keys. Aggregate: sustained events/sec across the
    run's commit timeline, phase totals, slowest groups."""
    from gobblin_spark.state.store import StateStore

    store = StateStore(args.state)
    commits = sorted(store.committed_batches(),
                     key=lambda c: c.get("committed_ms", 0))
    batches = []
    phase_totals: dict[str, int] = {}
    rows_total = 0
    for c in commits:
        m = c.get("metrics", {})
        lineage = c.get("lineage", [])
        seq_lo = min((ln["low_seq"] for ln in lineage), default=None)
        seq_hi = max((ln["high_seq"] for ln in lineage
                      if ln.get("high_seq") is not None), default=None)
        wall_ms = m.get("wall_ms", 0)
        rows = m.get("rows_read", 0)
        rows_total += rows
        for ph, ms in (m.get("phase_ms") or {}).items():
            phase_totals[ph] = phase_totals.get(ph, 0) + ms
        batches.append({
            "batch_id": c["batch_id"],
            "committed_ms": c.get("committed_ms"),
            "snapshot_version": c.get("snapshot_version"),
            "rows_read": rows,
            "rows_merged": m.get("rows_merged"),
            "wall_ms": wall_ms,
            "events_per_sec": round(rows / (wall_ms / 1000), 1)
            if wall_ms else None,
            "seq_span": [seq_lo, seq_hi],
            "n_units": len(lineage),
            "hot_repos": m.get("hot_repos"),
            "quality_violations": m.get("quality_violations"),
            "phase_ms": m.get("phase_ms"),
        })
    walls = sum(b["wall_ms"] or 0 for b in batches)
    cost = store.group_cost_stats()
    slowest = sorted(cost.items(), key=lambda kv: -kv[1]["avg_ms_per_record"])
    out = {
        "committed_batches": len(batches),
        "pending_batches": [b["batch_id"] for b in store.pending_batches()],
        "rows_read_total": rows_total,
        "apply_wall_ms_total": walls,
        "sustained_events_per_sec": round(rows_total / (walls / 1000), 1)
        if walls else None,
        "phase_ms_totals": dict(
            sorted(phase_totals.items(), key=lambda kv: -kv[1])),
        "slowest_groups": [
            {"event_group": g, **{k: round(v, 4) for k, v in s.items()}}
            for g, s in slowest[:args.top_groups]
        ],
        "batches": batches if args.per_batch else batches[-3:],
    }
    print(json.dumps(out, indent=2))
    return 0


def cmd_compact(args) -> int:
    from gobblin_spark.lakehouse import LakeTable
    from gobblin_spark.lakehouse.merge import compact

    _resolve_table(args)
    spark = _get_session(args)
    table = LakeTable(spark, args.table)
    if getattr(args, "branch", ""):
        table = table.branch(args.branch)
    snap = compact(table, max_rows_per_file=args.max_rows_per_file or None)
    print(json.dumps({
        "snapshot_version": snap.version,
        "table_stats": table.stats(),
    }))
    return 0


def cmd_rescale(args) -> int:
    """Grow the table's bucket spec (metadata-only, O(1) at any size; no
    Spark needed). Existing files stay valid under their recorded spec;
    normal compaction churn migrates them to the new spec."""
    from gobblin_spark.lakehouse import LakeTable

    _resolve_table(args)
    table = LakeTable(None, args.table)
    if getattr(args, "branch", ""):
        table = table.branch(args.branch)
    before = table.snapshot()
    snap = table.rescale_buckets(args.to_buckets)
    print(json.dumps({
        "from_buckets": before.n_buckets,
        "to_buckets": snap.n_buckets,
        "new_version": snap.version,
        "files": len(snap.files),
    }))
    return 0


def cmd_fingerprint(args) -> int:
    """Order-independent content fingerprint of the visible table state
    (merge.table_fingerprint) — the replay-convergence verification the
    north-star criterion names: replaying the same stream into two tables
    (any batch split, any crash/retry history) must fingerprint-match."""
    from gobblin_spark.lakehouse import LakeTable
    from gobblin_spark.lakehouse.merge import table_fingerprint

    _resolve_table(args)
    spark = _get_session(args)
    table = LakeTable(spark, args.table)
    if getattr(args, "branch", ""):
        if getattr(args, "tag", ""):
            raise SystemExit("--tag names a main-chain version; it cannot "
                             "select a snapshot on --branch")
        table = table.branch(args.branch)
    version = args.version or None
    if getattr(args, "tag", ""):
        version = table.resolve_tag(args.tag)
    out = table_fingerprint(table, version=version, algo=args.algo)
    print(json.dumps(out))
    return 0


def cmd_verify(args) -> int:
    """Compare the visible state of two tables (or two versions of one
    table) by content fingerprint; exit 0 on match, 2 on mismatch."""
    from gobblin_spark.lakehouse import LakeTable
    from gobblin_spark.lakehouse.merge import table_fingerprint

    _resolve_table(args)
    spark = _get_session(args)
    left = LakeTable(spark, args.table)
    if getattr(args, "branch", ""):
        left = left.branch(args.branch)
    # --other may be the SAME root with --other-branch: the WAP audit
    # "does this branch match main (or another branch)?" in one command
    right = LakeTable(spark, args.other)
    if getattr(args, "other_branch", ""):
        right = right.branch(args.other_branch)
    a = table_fingerprint(left, version=args.version or None, algo=args.algo)
    b = table_fingerprint(right,
                          version=args.other_version or None, algo=args.algo)
    match = (a["rows"] == b["rows"]
             and a["fingerprint"] == b["fingerprint"]
             and a["columns"] == b["columns"])
    print(json.dumps({"match": match, "left": a, "right": b}))
    return 0 if match else 2


def cmd_pull(args) -> int:
    """Query-based incremental pull: watermark-partitioned pushdown
    predicates against an external JDBC table, composed with the CDC batch
    loop (≙ the reference's QueryBasedSource jobs configured with
    source.querybased.* properties). The source high watermark persists
    under --state; rerunning resumes from committed-high + 1s."""
    from datetime import datetime, timezone

    from gobblin_spark.plans.time_partition import ExtractType, WatermarkType
    from gobblin_spark.sources.jdbc import JdbcIncrementalSource, incremental_pull

    spark = _get_session(args)
    src = JdbcIncrementalSource(
        url=args.url,
        table=args.source_table,
        watermark_column=args.watermark_column,
        watermark_type=WatermarkType(args.watermark_type),
        extract_type=ExtractType(args.extract_type),
        partition_interval=args.partition_interval,
        max_partitions=args.max_partitions,
        start_value=args.start_value,
        properties=dict(kv.split("=", 1) for kv in (args.jdbc_property or [])),
    )
    now = (datetime.strptime(args.current_time, "%Y-%m-%d %H:%M:%S")
           if args.current_time else datetime.now(timezone.utc).replace(tzinfo=None))
    out = incremental_pull(
        spark, src, table_root=args.table, state_root=args.state,
        current_time=now, max_batches=args.max_batches,
        max_records_per_batch=args.max_records_per_batch,
        merge_mode=args.merge_mode, compact_every=args.compact_every,
    )
    print(json.dumps(out))
    return 0


def cmd_tag(args) -> int:
    """Named snapshot refs (≙ Iceberg tags; no Spark needed): set pins a
    version under a stable name, retention keeps tagged versions forever
    (expire_snapshots skips them), list/drop manage the refs."""
    from gobblin_spark.lakehouse import LakeTable

    _resolve_table(args)
    table = LakeTable(None, args.table)
    if args.action == "set":
        if not args.name:
            raise SystemExit("tag set requires --name")
        v = table.set_tag(args.name, args.version or None)
        print(json.dumps({"tag": args.name, "version": v}))
    elif args.action == "drop":
        if not args.name:
            raise SystemExit("tag drop requires --name")
        table.drop_tag(args.name)
        print(json.dumps({"dropped": args.name}))
    else:
        print(json.dumps(table.tags(), indent=2))
    return 0


def cmd_branch(args) -> int:
    """Zero-copy branches + write-audit-publish (LakeTable.create_branch /
    fast_forward; ≙ Iceberg branch refs / the WAP pattern). create forks
    the snapshot chain at a version (metadata-only, O(1) at any table
    size); ingest/compaction then target the branch with --branch; audit
    with fingerprint/export --branch; publish atomically fast-forwards
    main to the branch head (refused if main advanced since the fork —
    the audited state would no longer describe main+branch). No Spark
    needed for any of these: all four are manifest-level operations."""
    from gobblin_spark.lakehouse import LakeTable

    _resolve_table(args)
    table = LakeTable(None, args.table)
    if args.action == "create":
        if not args.name:
            raise SystemExit("branch create requires --name")
        version = args.version or None
        if args.tag:
            version = table.resolve_tag(args.tag)
        b = table.create_branch(args.name, version=version)
        print(json.dumps({"branch": args.name,
                          "base_version": b.snapshot().version}))
    elif args.action == "drop":
        if not args.name:
            raise SystemExit("branch drop requires --name")
        table.drop_branch(args.name)
        print(json.dumps({"dropped": args.name}))
    elif args.action == "publish":
        if not args.name:
            raise SystemExit("branch publish requires --name")
        snap = table.fast_forward(args.name)
        print(json.dumps({
            "published": args.name,
            "main_version": snap.version,
            "branch_head_version": snap.properties["branch_head_version"],
        }))
    else:
        out = []
        for name, base in sorted(table.branches().items()):
            head = table.branch(name).current_version()
            out.append({"name": name, "base_version": base,
                        "head_version": head})
        print(json.dumps(out, indent=2))
    return 0


def cmd_delete(args) -> int:
    """Targeted deletion: DELETE FROM table WHERE col=value [...] as a
    normal LWW merge of tombstones (crash-safe, changelog-visible).
    --dry-run counts the matching live keys without writing."""
    from gobblin_spark.lakehouse import LakeTable
    from gobblin_spark.lakehouse.merge import delete_matching, read_where

    _resolve_table(args)
    spark = _get_session(args)
    table = LakeTable(spark, args.table)
    pred = _bind_where(args, table.snapshot(), "delete")
    if args.dry_run:
        n = read_where(table, pred).count()
        print(json.dumps({"deleted": 0, "would_delete": n,
                          **pred.render()}))
        return 0
    out = delete_matching(table, pred, seq=args.seq or None)
    print(json.dumps({**out, **pred.render()}))
    return 0


def cmd_purge(args) -> int:
    """Physical-erasure pipeline for a targeted deletion: delete matching
    keys, fold + GC the tombstones at the deletion seq, expire old
    snapshots down to the current one, and vacuum the unreferenced files
    off disk. After this, neither the live table, the retained manifests,
    nor the data directory holds the deleted rows (≙ the reference's
    retention/cleanup job family, composed into one auditable command).

    Tags are durable retention pins: expire_snapshots keeps tag-pinned
    versions and vacuum keeps the files they reference, so a tag on any
    PRE-deletion snapshot defeats physical erasure. Purge therefore audits
    the tag set after expiry: any tag pinning a snapshot older than the
    delete commit is reported in ``pinned_snapshots_blocking_erasure`` and
    the command exits 2 (erasure INCOMPLETE — drop the tags and re-run
    purge, or pass --drop-blocking-tags to do it in one step). A
    compliance command must fail loudly, not print success over retained
    data."""
    from gobblin_spark.lakehouse import LakeTable
    from gobblin_spark.lakehouse.merge import (
        compact, delete_matching, gc_tombstones,
    )

    _resolve_table(args)
    spark = _get_session(args)
    table = LakeTable(spark, args.table)
    pred = _bind_where(args, table.snapshot(), "purge")
    res = delete_matching(table, pred, seq=args.seq or None)
    delete_version = res["snapshot_version"]
    if getattr(args, "drop_blocking_tags", False):
        for name, v in table.tags().items():
            if v < delete_version:
                table.drop_tag(name)
    compact(table)  # fold any outstanding deltas first (GC requires it)
    gc_tombstones(table, horizon_seq=res["seq"])
    expired = table.expire_snapshots(keep_last=1)
    removed = table.vacuum()
    blocking = {name: v for name, v in table.tags().items()
                if v < delete_version}
    print(json.dumps({
        "deleted": res["deleted"], "seq": res["seq"], **pred.render(),
        "snapshots_expired": len(expired),
        "files_removed": removed,
        "snapshot_version": table.current_version(),
        "erasure_complete": not blocking,
        "pinned_snapshots_blocking_erasure": blocking,
    }))
    return 2 if blocking else 0


_WHERE_CLAUSE = re.compile(r"\s*([A-Za-z_]\w*)\s*(>=|<=|>|<|=)(.*)",
                           re.DOTALL)


def _parse_where(items: list[str]) -> tuple[dict, dict]:
    """Parse --where clauses into (value_eq, value_range).

    Supported: col=value (equality; bloom-skipped), col>=v / col<=v /
    col>v / col<v (range; [min,max]-bounds-skipped). Multiple clauses AND;
    two range clauses on one column form an interval (BETWEEN). A second
    equality, or a second bound on the same side, for one column is an
    error, never a silent overwrite."""
    eq: dict = {}
    rng: dict = {}
    for kv in items or []:
        # anchored on the column identifier: the first operator after it
        # is the clause's, so a value may hold '<', '>' or '='
        m = _WHERE_CLAUSE.fullmatch(kv)
        if m is None:
            raise SystemExit(f"--where needs col=value or col>=/<=/>/<"
                             f"value, got {kv!r}")
        c, op, v = m.group(1), m.group(2), m.group(3).strip()
        if op == "=":
            if c in eq:
                raise SystemExit(f"--where: duplicate '=' clause for {c!r}")
            eq[c] = v
        else:
            iv = rng.setdefault(
                c, {"lo": None, "hi": None,
                    "lo_strict": False, "hi_strict": False})
            side = "lo" if op[0] == ">" else "hi"
            if iv[side] is not None:
                raise SystemExit(
                    f"--where: duplicate {side!r} bound for {c!r}")
            iv[side] = v
            iv[f"{side}_strict"] = (len(op) == 1)
    return eq, rng


def _bind_where(args, snap, command: str | None = None):
    """``--where`` bound to ``snap``'s schema, failing before any read or
    write; ``command`` names a command that needs a clause."""
    from gobblin_spark.lakehouse.predicate import bind

    eq, rng = _parse_where(args.where)
    if command and not eq and not rng:
        raise SystemExit(f"{command} requires at least one --where clause")
    return bind(snap, value_eq=eq, value_range=rng)


def cmd_export(args) -> int:
    """Export the visible table state (optionally filtered) to a format
    sink. ``--where col=value`` uses manifest value-stats blooms to skip
    non-matching files at planning time on compacted tables; range
    predicates (``--where 'col>=v'``) skip via the per-file [min,max]
    value bounds recorded in the same stats pass."""
    from gobblin_spark.lakehouse import LakeTable
    from gobblin_spark.lakehouse.merge import read_where
    from gobblin_spark.sinks import write_files

    _resolve_table(args)
    spark = _get_session(args)
    table = LakeTable(spark, args.table)
    if getattr(args, "branch", ""):
        if getattr(args, "tag", ""):
            raise SystemExit("--tag names a main-chain version; it cannot "
                             "select a snapshot on --branch")
        table = table.branch(args.branch)
    version = args.version or None
    if getattr(args, "tag", ""):
        version = table.resolve_tag(args.tag)
    pred = _bind_where(args, table.snapshot(version))
    df = read_where(table, pred)
    import pyspark.sql.functions as F
    from pyspark.sql.observation import Observation

    obs = Observation("export")
    df = df.observe(obs, F.count(F.lit(1)).alias("n"))
    write_files(df, args.out, fmt=args.format)
    print(json.dumps({"rows": int(obs.get["n"]), "out": args.out,
                      **pred.render()}))
    return 0


def cmd_vacuum(args) -> int:
    from gobblin_spark.lakehouse import LakeTable

    spark = _get_session(args)
    removed = LakeTable(spark, args.table).vacuum()
    print(json.dumps({"orphan_files_removed": removed}))
    return 0


def cmd_maintain(args) -> int:
    """Catalog-scoped maintenance sweep (maintenance.sweep_catalog): every
    registered table's maintain.* policy applied in one run — the
    reference's scheduled retention job family as one command. Exits 1
    when any table failed; the report names its error, and every other
    table was still swept."""
    from gobblin_spark.maintenance import SweepFailed, sweep_catalog

    spark = _get_session(args)
    try:
        report = sweep_catalog(spark, args.catalog,
                               sweep_id=args.sweep_id or None)
    except SweepFailed as exc:  # every other table was still swept
        print(json.dumps(exc.report))
        return 1
    print(json.dumps(report))
    return 0


def cmd_changes(args) -> int:
    """Incremental changelog read between two snapshots: emit the
    insert/update/delete rows to stdout-count + an optional parquet sink
    (the CDC-consumer side of the engine; see merge.table_changes)."""
    import pyspark.sql.functions as F

    from gobblin_spark.lakehouse import LakeTable

    _resolve_table(args)
    from gobblin_spark.lakehouse.merge import table_changes

    spark = _get_session(args)
    table = LakeTable(spark, args.table)
    if getattr(args, "branch", ""):
        if getattr(args, "from_tag", "") or getattr(args, "to_tag", ""):
            raise SystemExit("tags name main-chain versions; use "
                             "--from-version/--to-version with --branch")
        table = table.branch(args.branch)
    from_v = args.from_version
    if getattr(args, "from_tag", ""):
        if from_v:
            raise SystemExit("pass --from-version or --from-tag, not both")
        from_v = table.resolve_tag(args.from_tag)
    if not from_v:  # snapshot versions start at 1
        raise SystemExit("changes needs --from-version or --from-tag")
    to_v = args.to_version if args.to_version else None
    if getattr(args, "to_tag", ""):
        if to_v:
            raise SystemExit("pass --to-version or --to-tag, not both")
        to_v = table.resolve_tag(args.to_tag)
    df = table_changes(table, from_v, to_v)
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        df = spark.read.parquet(args.out)  # count what was written
    counts = {
        r["_change_type"]: r["n"]
        for r in df.groupBy("_change_type").agg(
            F.count(F.lit(1)).alias("n")).collect()
    }
    print(json.dumps({
        "from_version": from_v,
        "to_version": to_v or table.current_version(),
        "changes": counts,
        "total": sum(counts.values()),
        "out": args.out or None,
    }))
    return 0


def cmd_expire(args) -> int:
    """Snapshot retention + storage reclaim: expire old manifests, then
    vacuum the files only they referenced."""
    from gobblin_spark.lakehouse import LakeTable

    spark = _get_session(args)
    table = LakeTable(spark, args.table)
    if getattr(args, "branch", ""):
        table = table.branch(args.branch)
    expired = table.expire_snapshots(
        keep_last=args.keep_last, older_than_ms=args.older_than_ms
    )
    # vacuum is table-wide (all chains) and main-handle-only; run it on
    # the main handle regardless of which chain was expired
    removed = (LakeTable(spark, args.table).vacuum()
               if args.vacuum else 0)
    print(json.dumps({
        "expired_versions": expired,
        "retained_versions": table.versions(),
        "files_reclaimed": removed,
    }))
    return 0


def cmd_stream(args) -> int:
    """Structured-Streaming front-end as a launchable job: readStream over
    the event directory, foreachBatch applying the engine's idempotent LWW
    MERGE (exactly-once via the commit log; see streaming/ingest.py).
    availableNow drains the current backlog and exits — re-running resumes
    from the streaming checkpoint; --interval turns it into a forever-tail."""
    from gobblin_spark.lakehouse import LakeTable
    from gobblin_spark.streaming.ingest import stream_ingest

    spark = _get_session(args)
    q = stream_ingest(
        spark, args.events, args.table, args.state, args.checkpoint,
        available_now=not args.interval,
        processing_interval=args.interval or None,
        salt_buckets=args.salt_buckets,
        n_buckets=args.buckets,
        max_files_per_trigger=args.max_files_per_trigger,
        merge_dialect=args.merge_dialect,
        stats_cols=args.stats_cols or None,
    )
    q.awaitTermination()
    table = LakeTable(spark, args.table)
    print(json.dumps({
        "snapshot_version": table.current_version(),
        "table_stats": table.stats(),
    }))
    return 0


def cmd_history(args) -> int:
    """Snapshot history (≙ Iceberg's snapshots metadata table). Pure
    manifest reads — no Spark session."""
    from gobblin_spark.lakehouse import LakeTable

    _resolve_table(args)
    table = LakeTable(None, args.table)
    if getattr(args, "branch", ""):
        table = table.branch(args.branch)
    out = []
    for s in table.history():
        out.append({
            "version": s.version,
            "parent": s.parent,
            "timestamp_ms": s.timestamp_ms,
            "schema_version": s.schema_version,
            "files": len(s.files),
            "rows": sum(f.rows for f in s.files),
            "bytes": sum(f.bytes for f in s.files),
            "properties": s.properties,
        })
    print(json.dumps(out, indent=2))
    return 0


def cmd_rollback(args) -> int:
    """Restore a previous snapshot as a new commit (metadata-only; see
    LakeTable.rollback for the state-store caveat)."""
    from gobblin_spark.lakehouse import LakeTable

    table = LakeTable(None, args.table)
    if getattr(args, "branch", ""):
        if getattr(args, "tag", ""):
            raise SystemExit("tags name main-chain versions; use "
                             "--to-version with --branch")
        table = table.branch(args.branch)
    to_v = args.to_version
    if getattr(args, "tag", ""):
        if to_v:
            raise SystemExit("pass --to-version or --tag, not both")
        to_v = table.resolve_tag(args.tag)
    if not to_v:
        raise SystemExit("rollback needs --to-version or --tag")
    snap = table.rollback(to_v)
    print(json.dumps({
        "rolled_back_to": to_v,
        "new_version": snap.version,
        "files": len(snap.files),
        "rows": sum(f.rows for f in snap.files),
    }))
    return 0


def cmd_dedup(args) -> int:
    """Near-dup corpus dedup as a launchable job: LSH pairs → connected
    components → keep one representative per cluster, staged-publish the
    kept corpus. ≙ running the reference's compaction-dedup as a standalone
    job, generalized to content similarity."""
    import pyspark.sql.functions as F

    from gobblin_spark.operators.dedup import (
        minhash_lsh_pairs,
        neardup_clusters,
    )
    from gobblin_spark.sinks import write_files

    from pyspark.sql import Observation

    # Fail fast on an unwritable format BEFORE the dedup compute: the kept
    # corpus is multi-column, so `text` (single string column) can never
    # hold it, and avro/kafka are env-gated.
    if args.format not in {"parquet", "orc", "json", "csv"}:
        print(json.dumps({
            "error": f"--format {args.format} cannot hold the multi-column "
                     "kept corpus; use parquet/orc/json/csv",
        }))
        return 2

    spark = _get_session(args)
    docs = spark.read.parquet(args.input)
    pairs = minhash_lsh_pairs(
        docs, args.id_col, args.text_col,
        n=args.shingle, n_hashes=args.hashes, bands=args.bands,
        threshold=args.threshold, hash_fn=args.hash_fn,
    )
    clusters = neardup_clusters(pairs, "id_a", "id_b")
    drop = (
        clusters.filter(~F.col("is_kept"))
        .select(F.col("doc_id").alias(args.id_col))
    )
    # Count kept rows via an Observation DURING the publish write — one
    # pass, no sink re-read (csv/json round-trips lose schema and parquet
    # re-reads are wasted IO at corpus scale).
    obs = Observation("dedup_kept")
    kept = docs.join(F.broadcast(drop), args.id_col, "left_anti").observe(
        obs, F.count(F.lit(1)).alias("n_kept")
    )
    write_files(kept, args.output, fmt=args.format, mode="overwrite")
    n_in = docs.count()
    n_out = int(obs.get["n_kept"])
    print(json.dumps({
        "docs_in": n_in,
        "docs_kept": n_out,
        "docs_dropped": n_in - n_out,
        "output": args.output,
    }))
    return 0


def cmd_curate(args) -> int:
    """End-to-end training-corpus curation as ONE launchable job:

      language filter → quality-score threshold → repetition filter →
      PII scrub → near-dup dedup (LSH + connected components) →
      deterministic stratified sample → sequence packing → staged publish

    Every stage is a JVM-expression or Arrow-vectorized operator from
    gobblin_spark.operators; the composition is one DataFrame plan up to the
    dedup clustering (iterative) and one more to publish, so Catalyst
    pipelines the per-doc stages into a single corpus scan."""
    import pyspark.sql.functions as F

    from gobblin_spark.operators import text as T
    from gobblin_spark.operators.dedup import (
        minhash_lsh_pairs,
        neardup_clusters,
    )
    from gobblin_spark.operators.packing import pack_sequences
    from gobblin_spark.sinks import write_files

    spark = _get_session(args)
    docs = spark.read.parquet(args.input)
    stats = {"docs_in": docs.count()}

    d = docs
    if args.langs:
        keep = [x for x in args.langs.split(",") if x]
        d = d.filter(T.lang_id(F.col(args.text_col)).isin(keep))
    d = d.filter(T.quality_score(F.col(args.text_col)) >= args.min_quality)
    rep = T.token_repetition_stats(d, args.id_col, args.text_col)
    d = d.join(
        rep.filter(F.col("top_bigram_frac") <= args.max_bigram_frac)
        .select(args.id_col),
        args.id_col,
    )
    d = d.withColumn(args.text_col, T.pii_scrub(F.col(args.text_col)))
    d = d.localCheckpoint(eager=False)  # the dedup loop re-reads this
    stats["docs_after_filters"] = d.count()

    pairs = minhash_lsh_pairs(
        d, args.id_col, args.text_col,
        threshold=args.dedup_threshold, hash_fn="xxhash64",
    )
    drop = (
        neardup_clusters(pairs).filter(~F.col("is_kept"))
        .select(F.col("doc_id").alias(args.id_col))
    )
    d = d.join(F.broadcast(drop), args.id_col, "left_anti")

    if args.sample_frac < 1.0:
        from gobblin_spark.operators.text import hash_uniform_expr

        d = d.filter(hash_uniform_expr(args.id_col) < args.sample_frac)

    packs = pack_sequences(
        d, args.id_col, T.token_count_ws(F.col(args.text_col)),
        window_tokens=args.window_tokens,
    ).withColumnRenamed("doc_id", args.id_col)
    out = d.join(packs.select(args.id_col, "bucket", "pack_idx"),
                 args.id_col)
    write_files(out, args.output, fmt="parquet", mode="overwrite")
    published = spark.read.parquet(args.output)
    stats["docs_out"] = published.count()
    stats["packs_out"] = published.select("bucket", "pack_idx").distinct().count()
    stats["output"] = args.output
    print(json.dumps(stats))
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="gobblin_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    ing = sub.add_parser("ingest", help="run the CDC batch loop to caught-up")
    ing.add_argument("--events", required=True, help="change-event parquet path")
    ing.add_argument("--table", required=True,
                     help="target LakeTable root, or a catalog NAME when "
                          "--catalog is given")
    ing.add_argument("--state", default="", help="checkpoint/state root "
                     "(defaults from the catalog entry with --catalog)")
    ing.add_argument("--catalog", default="",
                     help="catalog root: --table becomes a registered name")
    ing.add_argument("--register-as", default="",
                     help="after a successful run, register --table/--state "
                          "under this name in --catalog (publish-time "
                          "registration)")
    ing.add_argument("--max-records-per-batch", type=int, default=2_000_000)
    ing.add_argument("--max-records-per-unit", type=int, default=250_000)
    ing.add_argument("--salt-buckets", type=int, default=8)
    ing.add_argument("--buckets", type=int, default=32,
                     help="hash buckets of a newly created target table")
    ing.add_argument("--stats-cols", action="append", default=[],
                     help="record value-stats blooms for this column on a "
                          "newly created table (repeatable) — enables "
                          "export --where file skipping")
    ing.add_argument("--auto-rescale-mb", type=int, default=0,
                     help="grow the bucket spec (metadata-only rescale) "
                          "when average bytes per bucket exceeds this — "
                          "keeps file sizes/parallelism bounded as the "
                          "table grows")
    ing.add_argument("--max-batches", type=int, default=1000)
    ing.add_argument("--merge-dialect", choices=["row", "cell"],
                     default="row", help="'cell' = patch semantics (null "
                     "payload column in an update means unchanged) with "
                     "per-column write seqs: order-independent folds, valid "
                     "for batch, streaming and DLQ replay")
    ing.add_argument("--merge-mode", choices=["cow", "mor", "auto"],
                     default="cow",
                     help="cow: rewrite affected buckets per batch; "
                          "mor: append deltas, compact periodically")
    ing.add_argument("--compact-every", type=int, default=8,
                     help="mor: compact after this many batches")
    ing.add_argument("--compact-max-rows-per-file", type=int, default=0,
                     help="mor: hash-split a compacted bucket over "
                          "ceil(rows/cap) output files — bounds the giant-"
                          "bucket straggler task and file size")
    ing.add_argument("--compact-bucket-ratio", type=float, default=None,
                     help="mor: per-bucket temperature trigger — fold a "
                          "bucket as soon as ITS delta rows reach this "
                          "ratio of its base rows (skew-friendly: one hot "
                          "bucket compacts without rewriting cold ones)")
    ing.add_argument("--log-keep-last", type=int, default=64,
                     help="commit-log retention: fold older commits into a "
                          "rollup (watermarks merged, metrics summed) so "
                          "planning stays O(keep_last) on long streams; "
                          "0 = never fold")
    ing.add_argument("--shard", default=None, metavar="K/S",
                     help="this consumer owns event groups with "
                          "pmod(event_group, S) = K; run S ingest jobs "
                          "(one per executor/container), each with its own "
                          "--table/--state, to divide a stream")
    ing.add_argument("--branch", default="",
                     help="write-audit-publish: ingest into this branch "
                          "of an EXISTING table (auto-created at main's "
                          "current version); main is untouched until "
                          "`branch publish`. Use a dedicated --state root "
                          "per branch")
    ing.add_argument("--local-cores", type=int, default=0,
                     help="dev only: build a local[N] session instead of "
                          "using the spark-submit session")

    rp = sub.add_parser(
        "replay-errors",
        help="re-merge quarantined err-file rows (DLQ replay) at their "
             "original seq; GC-horizon-guarded, exactly-once per run_id")
    rp.add_argument("--err", required=True,
                    help="err quarantine root (run_id=<batch> partitions)")
    rp.add_argument("--table", required=True)
    rp.add_argument("--state", required=True)
    rp.add_argument("--run-ids", default="",
                    help="comma list; empty = every quarantined run")
    rp.add_argument("--force", action="store_true",
                    help="merge even rows that still fail current policies")
    rp.add_argument("--local-cores", type=int, default=0)

    bo = sub.add_parser(
        "bootstrap",
        help="initial full-snapshot load, then ingest tails seq > watermark")
    bo.add_argument("--source", required=True,
                    help="parquet path of the source table's consistent "
                         "snapshot (payload columns of schema v1)")
    bo.add_argument("--table", required=True)
    bo.add_argument("--state", required=True)
    bo.add_argument("--watermark", type=int, required=True,
                    help="change-stream position the snapshot reflects; "
                         "ingest resumes at seq > watermark")
    bo.add_argument("--groups", type=int, default=0,
                    help="number of event groups (stream partitions): "
                         "groups 0..N-1 get the handoff watermark")
    bo.add_argument("--events", default=None,
                    help="alternative to --groups: derive the group list "
                         "from this change-event parquet path")
    bo.add_argument("--buckets", type=int, default=32)
    bo.add_argument("--merge-dialect", choices=["row", "cell"],
                    default="row")
    bo.add_argument("--verify-unique", action="store_true",
                    help="assert the snapshot has no duplicate keys "
                         "(one extra counting scan)")
    bo.add_argument("--local-cores", type=int, default=0)

    tl = sub.add_parser(
        "tail", help="incremental directory tail: ingest only new/changed "
                     "event files since the last committed run")
    tl.add_argument("--events-dir", required=True,
                    help="directory that event files land in")
    tl.add_argument("--table", required=True)
    tl.add_argument("--state", required=True)
    tl.add_argument("--pattern", default="*.parquet")
    tl.add_argument("--format", default="parquet",
                    choices=["parquet", "json", "csv", "text", "orc"])
    tl.add_argument("--max-partitions", type=int, default=32)
    tl.add_argument("--max-records-per-batch", type=int, default=2_000_000)
    tl.add_argument("--max-batches", type=int, default=1000)
    tl.add_argument("--merge-mode", choices=["cow", "mor", "auto"],
                    default="cow")
    tl.add_argument("--compact-every", type=int, default=8)
    tl.add_argument("--local-cores", type=int, default=0)

    pl = sub.add_parser(
        "pull", help="incremental JDBC pull: watermark-partitioned pushdown "
                     "queries against an external table, then the batch loop")
    pl.add_argument("--url", required=True, help="jdbc:… connection url")
    pl.add_argument("--source-table", required=True)
    pl.add_argument("--table", required=True, help="target LakeTable root")
    pl.add_argument("--state", required=True)
    pl.add_argument("--watermark-column", required=True)
    pl.add_argument("--watermark-type", default="timestamp",
                    choices=["simple", "timestamp", "date", "hour"])
    pl.add_argument("--extract-type", default="snapshot",
                    choices=["snapshot", "append_daily", "append_hourly"])
    pl.add_argument("--partition-interval", type=int, default=1,
                    help="hours per pull partition (days for append_daily)")
    pl.add_argument("--max-partitions", type=int, default=32)
    pl.add_argument("--start-value", type=int, default=None,
                    help="first-run low watermark as yyyyMMddHHmmss "
                         "(or plain number for simple)")
    pl.add_argument("--current-time", default=None,
                    help="override 'now' (yyyy-MM-dd HH:mm:ss, for "
                         "deterministic replans); default wall clock UTC")
    pl.add_argument("--jdbc-property", action="append", default=[],
                    help="k=v passed to the JDBC driver (repeatable)")
    pl.add_argument("--max-records-per-batch", type=int, default=2_000_000)
    pl.add_argument("--max-batches", type=int, default=1000)
    pl.add_argument("--merge-mode", choices=["cow", "mor", "auto"],
                    default="cow")
    pl.add_argument("--compact-every", type=int, default=8)
    pl.add_argument("--local-cores", type=int, default=0)

    st = sub.add_parser("status", help="print watermarks + pending batches")
    st.add_argument("--state", default="")
    st.add_argument("--table", default="",
                    help="catalog NAME (with --catalog) to resolve --state")
    st.add_argument("--catalog", default="")

    mt = sub.add_parser(
        "metrics", help="run-history metrics/lineage report from the "
        "commit log (per-batch throughput, phase breakdown, hot groups)")
    mt.add_argument("--state", required=True)
    mt.add_argument("--per-batch", action="store_true",
                    help="include every batch (default: last 3)")
    mt.add_argument("--top-groups", type=int, default=5)

    cp = sub.add_parser("compact", help="fold MOR delta files (LWW by "
                        "key); migrates a 'column'-dialect table to 'cell'")
    cp.add_argument("--table", required=True,
                    help="LakeTable root, or a catalog NAME with --catalog")
    cp.add_argument("--catalog", default="")
    cp.add_argument("--max-rows-per-file", type=int, default=0,
                    help="hash-split buckets above this row count over "
                         "multiple output files (giant-bucket guard)")
    cp.add_argument("--branch", default="",
                    help="compact a branch's chain (pre-publish fold)")
    cp.add_argument("--local-cores", type=int, default=0)

    rs = sub.add_parser(
        "rescale",
        help="grow the bucket spec (metadata-only; integer multiple of "
             "the current spec; no Spark needed)",
    )
    rs.add_argument("--table", required=True,
                    help="LakeTable root, or a catalog NAME with --catalog")
    rs.add_argument("--catalog", default="")
    rs.add_argument("--to-buckets", type=int, required=True)
    rs.add_argument("--branch", default="",
                    help="rescale a branch's chain (main picks it up at "
                         "publish)")

    fp = sub.add_parser(
        "fingerprint",
        help="order-independent content fingerprint of the visible table "
             "state (replay-convergence verification)",
    )
    fp.add_argument("--table", required=True,
                    help="LakeTable root, or a catalog NAME with --catalog")
    fp.add_argument("--catalog", default="")
    fp.add_argument("--version", type=int, default=0,
                    help="snapshot version (default: current)")
    fp.add_argument("--tag", default="", help="fingerprint at a named tag")
    fp.add_argument("--branch", default="",
                    help="fingerprint a branch's chain (audit step of "
                         "write-audit-publish)")
    fp.add_argument("--algo", choices=["sha256", "xxhash64"],
                    default="sha256")
    fp.add_argument("--local-cores", type=int, default=0)

    vf = sub.add_parser(
        "verify",
        help="compare two tables (or two versions) by content fingerprint; "
             "exit 0 on match, 2 on mismatch",
    )
    vf.add_argument("--table", required=True)
    vf.add_argument("--catalog", default="")
    vf.add_argument("--other", required=True, help="second table root")
    vf.add_argument("--version", type=int, default=0)
    vf.add_argument("--other-version", type=int, default=0)
    vf.add_argument("--branch", default="",
                    help="compare --table's branch instead of its main")
    vf.add_argument("--other-branch", default="",
                    help="compare --other's branch (e.g. --other same "
                         "root: branch-vs-main WAP audit in one command)")
    vf.add_argument("--algo", choices=["sha256", "xxhash64"],
                    default="sha256")
    vf.add_argument("--local-cores", type=int, default=0)

    tg = sub.add_parser(
        "tag",
        help="named snapshot refs: set/list/drop; tagged versions are "
             "retention-pinned (expire never drops them); no Spark needed",
    )
    tg.add_argument("action", choices=["set", "list", "drop"])
    tg.add_argument("--table", required=True,
                    help="LakeTable root, or a catalog NAME with --catalog")
    tg.add_argument("--catalog", default="")
    tg.add_argument("--name", default="")
    tg.add_argument("--version", type=int, default=0,
                    help="version to pin (default: current)")

    br = sub.add_parser(
        "branch",
        help="zero-copy branches + write-audit-publish: create forks the "
             "snapshot chain (metadata-only), ingest --branch writes to "
             "it, publish atomically fast-forwards main to the audited "
             "branch head; no Spark needed",
    )
    br.add_argument("action", choices=["create", "list", "drop", "publish"])
    br.add_argument("--table", required=True,
                    help="LakeTable root, or a catalog NAME with --catalog")
    br.add_argument("--catalog", default="")
    br.add_argument("--name", default="")
    br.add_argument("--version", type=int, default=0,
                    help="create: fork base version (default: current)")
    br.add_argument("--tag", default="",
                    help="create: fork at this tag's version")

    dl = sub.add_parser(
        "delete",
        help="targeted deletion: tombstone every live key matching "
             "--where, merged through the normal LWW apply "
             "(changelog-visible; value-stats blooms skip files)",
    )
    dl.add_argument("--table", required=True,
                    help="LakeTable root, or a catalog NAME with --catalog")
    dl.add_argument("--catalog", default="")
    dl.add_argument("--where", action="append", default=[], required=True,
                    help="predicate col=value or col>=/<=/>/<value "
                         "(repeatable, ANDed; two range clauses on one "
                         "column form a BETWEEN)")
    dl.add_argument("--seq", type=int, default=0,
                    help="tombstone seq (default: table max seq + 1)")
    dl.add_argument("--dry-run", action="store_true")
    dl.add_argument("--local-cores", type=int, default=0)

    pg = sub.add_parser(
        "purge",
        help="physical erasure: delete --where, then compact + tombstone-GC"
             " + expire + vacuum so no retained manifest or data file holds"
             " the deleted rows",
    )
    pg.add_argument("--table", required=True)
    pg.add_argument("--catalog", default="")
    pg.add_argument("--where", action="append", default=[], required=True)
    pg.add_argument("--seq", type=int, default=0)
    pg.add_argument("--drop-blocking-tags", action="store_true",
                    help="drop tags pinning pre-deletion snapshots so "
                         "erasure can complete (otherwise such tags are "
                         "reported and purge exits 2)")
    pg.add_argument("--local-cores", type=int, default=0)

    xp = sub.add_parser(
        "export",
        help="export the visible table state (optionally filtered via "
             "value-stats file skipping) to a format sink",
    )
    xp.add_argument("--table", required=True,
                    help="LakeTable root, or a catalog NAME with --catalog")
    xp.add_argument("--catalog", default="")
    xp.add_argument("--out", required=True)
    xp.add_argument("--format", default="parquet",
                    choices=["parquet", "orc", "json", "csv", "text",
                             "avro"])
    xp.add_argument("--version", type=int, default=0)
    xp.add_argument("--tag", default="", help="read at a named tag")
    xp.add_argument("--branch", default="",
                    help="read a branch's visible state (audit step of "
                         "write-audit-publish)")
    xp.add_argument("--where", action="append", default=[],
                    help="predicate col=value (bloom file skipping) or "
                         "col>=/<=/>/<value (min-max-bounds file "
                         "skipping); repeatable, clauses AND; two range "
                         "clauses on one column form a BETWEEN")
    xp.add_argument("--local-cores", type=int, default=0)

    vac = sub.add_parser("vacuum", help="remove orphaned data files")
    vac.add_argument("--table", required=True)
    vac.add_argument("--local-cores", type=int, default=0)

    mt = sub.add_parser(
        "maintain",
        help="catalog-scoped maintenance sweep: apply each registered "
             "table's maintain.* policy (compact / rescale / expire / "
             "vacuum); --sweep-id makes a crashed sweep resumable "
             "(completed tables are skipped on rerun)",
    )
    mt.add_argument("--catalog", required=True)
    mt.add_argument("--sweep-id", default="",
                    help="stable id for this sweep: per-table completion "
                         "markers under <catalog>/maintenance/<id>/ let a "
                         "rerun skip finished tables")
    mt.add_argument("--local-cores", type=int, default=0)

    ch = sub.add_parser(
        "changes",
        help="incremental changelog read: insert/update/delete rows "
             "between two snapshots (bucket-pruned diff)",
    )
    ch.add_argument("--table", required=True,
                    help="LakeTable root, or a catalog NAME with --catalog")
    ch.add_argument("--catalog", default="")
    ch.add_argument("--from-version", type=int, default=0)
    ch.add_argument("--from-tag", default="",
                    help="start at a named tag instead of --from-version")
    ch.add_argument("--to-tag", default="",
                    help="end at a named tag (default: current)")
    ch.add_argument("--to-version", type=int, default=0,
                    help="default: current version")
    ch.add_argument("--out", default="", help="optional parquet sink")
    ch.add_argument("--branch", default="",
                    help="read the changelog of a branch's chain (version "
                         "selectors refer to branch versions)")
    ch.add_argument("--local-cores", type=int, default=0)

    ex = sub.add_parser(
        "expire",
        help="expire old snapshots (retention) and optionally vacuum the "
             "files only they referenced",
    )
    ex.add_argument("--table", required=True)
    ex.add_argument("--keep-last", type=int, default=2)
    ex.add_argument("--older-than-ms", type=int, default=None)
    ex.add_argument("--no-vacuum", dest="vacuum", action="store_false")
    ex.add_argument("--branch", default="",
                    help="expire a branch chain's snapshots (vacuum still "
                         "runs table-wide on the main handle)")
    ex.add_argument("--local-cores", type=int, default=0)

    st = sub.add_parser(
        "stream",
        help="Structured-Streaming ingest: drain the event directory "
             "(availableNow) or tail it forever (--interval)",
    )
    st.add_argument("--events", required=True,
                    help="event parquet directory (readStream source)")
    st.add_argument("--table", required=True)
    st.add_argument("--state", required=True)
    st.add_argument("--checkpoint", required=True,
                    help="Spark streaming checkpoint dir")
    st.add_argument("--merge-dialect", choices=["row", "cell"],
                    default="row",
                    help="'cell' = patch semantics with per-column write "
                         "seqs (order-independent, as streaming epochs "
                         "require)")
    st.add_argument("--interval", default="",
                    help="processing-time trigger (e.g. '30 seconds'); "
                         "empty = availableNow drain-and-exit")
    st.add_argument("--salt-buckets", type=int, default=0)
    st.add_argument("--buckets", type=int, default=32)
    st.add_argument("--max-files-per-trigger", type=int, default=None)
    st.add_argument("--stats-cols", action="append", default=[],
                    help="value-stats bloom columns on a newly created "
                         "table (repeatable)")
    st.add_argument("--local-cores", type=int, default=0)

    hi = sub.add_parser(
        "history",
        help="list snapshot history (no Spark needed)",
    )
    hi.add_argument("--table", required=True,
                    help="LakeTable root, or a catalog NAME with --catalog")
    hi.add_argument("--catalog", default="")
    hi.add_argument("--branch", default="", help="a branch's chain")

    rb = sub.add_parser(
        "rollback",
        help="restore a previous snapshot as a new commit (metadata-only, "
             "no Spark needed); ingest watermarks are NOT rolled back",
    )
    rb.add_argument("--table", required=True)
    rb.add_argument("--to-version", type=int, default=0)
    rb.add_argument("--tag", default="",
                    help="roll back to a named tag instead of --to-version")
    rb.add_argument("--branch", default="",
                    help="roll back a branch's chain (e.g. undo audit "
                         "commits before publish)")

    dd = sub.add_parser(
        "dedup",
        help="near-dup corpus dedup: LSH -> connected components -> keep "
             "one representative per cluster, staged publish",
    )
    dd.add_argument("--input", required=True, help="documents parquet path")
    dd.add_argument("--output", required=True, help="kept-corpus output dir")
    dd.add_argument("--id-col", default="doc_id")
    dd.add_argument("--text-col", default="text")
    dd.add_argument("--shingle", type=int, default=3)
    dd.add_argument("--hashes", type=int, default=12)
    dd.add_argument("--bands", type=int, default=4)
    dd.add_argument("--threshold", type=float, default=0.5)
    dd.add_argument("--hash-fn", default="xxhash64",
                    choices=["xxhash64", "md5"],
                    help="xxhash64 = production tier; md5 = oracle tier")
    dd.add_argument("--format", default="parquet")
    dd.add_argument("--local-cores", type=int, default=0)

    cu = sub.add_parser(
        "curate",
        help="full corpus curation: filter -> score -> scrub -> dedup -> "
             "sample -> pack -> publish",
    )
    cu.add_argument("--input", required=True)
    cu.add_argument("--output", required=True)
    cu.add_argument("--id-col", default="doc_id")
    cu.add_argument("--text-col", default="text")
    cu.add_argument("--langs", default="",
                    help="comma list of predicted langs to keep (empty=all)")
    cu.add_argument("--min-quality", type=float, default=0.3)
    cu.add_argument("--max-bigram-frac", type=float, default=0.5)
    cu.add_argument("--dedup-threshold", type=float, default=0.5)
    cu.add_argument("--sample-frac", type=float, default=1.0)
    cu.add_argument("--window-tokens", type=int, default=2048)
    cu.add_argument("--local-cores", type=int, default=0)

    sy = sub.add_parser(
        "sync",
        help="changelog-driven incremental sync: ship row-level changes "
             "since the last synced version into a format sink, "
             "exactly-once (own watermark under --state)",
    )
    sy.add_argument("--table", required=True,
                    help="LakeTable root, or a catalog NAME with --catalog")
    sy.add_argument("--catalog", default="")
    sy.add_argument("--state", default="",
                    help="the SYNC's own state root (not the ingest's)")
    sy.add_argument("--out", required=True, help="downstream sink root")
    sy.add_argument("--format", default="parquet")
    sy.add_argument("--from-version", type=int, default=0,
                    help="first-run start version (default: the table's "
                         "first snapshot = full-snapshot initial sync)")
    sy.add_argument("--local-cores", type=int, default=0)

    cl = sub.add_parser(
        "clone",
        help="clone a pinned snapshot to a new root (distcp-style "
             "distributed byte copy + fresh v1 manifest; --state/"
             "--state-out also copy the ingest checkpoint for DR)",
    )
    cl.add_argument("--table", required=True,
                    help="source LakeTable root, or a catalog NAME with "
                         "--catalog")
    cl.add_argument("--catalog", default="")
    cl.add_argument("--out", required=True, help="destination table root")
    cl.add_argument("--version", type=int, default=0,
                    help="pin a snapshot version (default: current)")
    cl.add_argument("--tag", default="", help="pin a named tag")
    cl.add_argument("--state", default="",
                    help="source state root to copy (DR)")
    cl.add_argument("--state-out", default="",
                    help="destination state root (DR)")
    cl.add_argument("--register-as", default="",
                    help="register the CLONE in --catalog under this name")
    cl.add_argument("--local-cores", type=int, default=0)

    ag = sub.add_parser(
        "agg-sync",
        help="incrementally-maintained aggregate view: per-group "
             "COUNT/SUM table advanced from the upstream changelog "
             "(preimage retractions), exactly-once (own watermark under "
             "--state)",
    )
    ag.add_argument("--table", required=True,
                    help="upstream LakeTable root, or a catalog NAME with "
                         "--catalog")
    ag.add_argument("--catalog", default="")
    ag.add_argument("--state", default="",
                    help="the VIEW's own state root (not the ingest's)")
    ag.add_argument("--view", required=True, help="view LakeTable root")
    ag.add_argument("--group-cols", required=True,
                    help="comma-separated GROUP BY columns (the view's key)")
    ag.add_argument("--sum-cols", default="",
                    help="comma-separated numeric columns to SUM")
    ag.add_argument("--minmax-cols", default="",
                    help="comma-separated orderable columns to MIN/MAX "
                         "(retraction of a stored extremum triggers a "
                         "group-restricted upstream rescan)")
    ag.add_argument("--buckets", type=int, default=32,
                    help="view bucket count (bootstrap only)")
    ag.add_argument("--register-as", default="",
                    help="register the VIEW in --catalog under this name")
    ag.add_argument("--local-cores", type=int, default=0)

    ca = sub.add_parser(
        "catalog",
        help="named-table registry CRUD (register/list/describe/drop); "
             "no Spark needed",
    )
    ca.add_argument("action", choices=["register", "list", "describe",
                                       "drop"])
    ca.add_argument("--catalog", required=True, help="catalog root dir")
    ca.add_argument("--name", default="")
    ca.add_argument("--table", default="", help="LakeTable root to register")
    ca.add_argument("--state", default="")
    ca.add_argument("--err", default="")
    ca.add_argument("--prop", action="append", default=[],
                    metavar="K=V", help="registration property (repeatable)")
    ca.add_argument("--overwrite", action="store_true")

    args = p.parse_args(argv)
    return {"ingest": cmd_ingest, "bootstrap": cmd_bootstrap,
            "replay-errors": cmd_replay_errors,
            "tail": cmd_tail, "pull": cmd_pull,
            "status": cmd_status, "metrics": cmd_metrics,
            "compact": cmd_compact,
            "fingerprint": cmd_fingerprint, "verify": cmd_verify,
            "rescale": cmd_rescale, "export": cmd_export,
            "delete": cmd_delete, "purge": cmd_purge, "tag": cmd_tag,
            "branch": cmd_branch,
            "vacuum": cmd_vacuum, "maintain": cmd_maintain,
            "dedup": cmd_dedup,
            "changes": cmd_changes, "expire": cmd_expire,
            "history": cmd_history, "rollback": cmd_rollback,
            "stream": cmd_stream,
            "sync": cmd_sync, "agg-sync": cmd_agg_sync,
            "clone": cmd_clone,
            "catalog": cmd_catalog,
            "curate": cmd_curate}[args.cmd](args)


if __name__ == "__main__":
    sys.exit(main())
