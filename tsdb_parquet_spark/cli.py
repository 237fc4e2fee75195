"""Command-line entry points mirroring the reference's cmd/ tools.

- ``scan``    — the CLI scan path (`cmd/read/main.go:31-128`): open a chunk
  store, apply matchers/time bounds, project columns, print rows with
  per-phase timings.
- ``convert`` — the ingest conversion (`cmd/convert/main.go:23-126`): turn a
  samples-shaped parquet (ts/value/labels) into a sorted chunk store
  (parts + compact).

- ``snapshots`` / ``vacuum`` — the maintenance surface the reference lacks
  (it compacts once at conversion end and never cleans up): list published
  snapshot manifests; compact over-threshold parts with deferred cleanup
  and drop retired dirs past the snapshot grace window plus day partitions
  past the retention horizon.

Usage:
    python -m tsdb_parquet_spark.cli scan --store DIR \
        --matcher event_type=click --mint 0 --maxt 9e15 --limit 10
    python -m tsdb_parquet_spark.cli convert --events events.parquet \
        --out DIR --span-ms 86400000
    python -m tsdb_parquet_spark.cli snapshots --store DIR
    python -m tsdb_parquet_spark.cli vacuum --store DIR --keep-versions 2
"""

from __future__ import annotations

import argparse
import os
import sys
import time


def _parse_matchers(values: list[str]):
    from tsdb_parquet_spark.operators.selection import Matcher

    matchers = []
    for v in values or []:
        for op in ("!~", "=~", "!=", "="):
            if op in v:
                name, val = v.split(op, 1)
                matchers.append(Matcher(name.strip(), op, val.strip()))
                break
        else:
            raise SystemExit(f"bad matcher {v!r}; expected label[=|!=|=~|!~]value")
    return matchers


def cmd_scan(args) -> int:
    from tsdb_parquet_spark.querier import ChunkQuerier
    from tsdb_parquet_spark.session import get_spark

    spark = get_spark(app_name="tsdb-scan")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    q = ChunkQuerier.from_parquet(spark, args.store)
    t_open = time.perf_counter() - t0

    t0 = time.perf_counter()
    df = q.select_chunks(
        mint=args.mint,
        maxt=args.maxt,
        matchers=_parse_matchers(args.matcher),
        columns=args.columns.split(",") if args.columns else None,
    )
    if args.limit:
        df = df.limit(args.limit)
    rows = df.collect()
    t_scan = time.perf_counter() - t0

    for row in rows:
        print(row.asDict())
    print(
        f"# open={t_open * 1000:.0f}ms scan+project={t_scan * 1000:.0f}ms "
        f"rows={len(rows)}",
        file=sys.stderr,
    )
    spark.stop()
    return 0


def cmd_promql(args) -> int:
    """Evaluate a PromQL range query over a chunk store — the
    query-surface analog of ``scan`` (`cmd/read/main.go:31-128` reads
    chunks; the reference delegates PromQL to external engines,
    `prometheus/chunks_iterator.go:8-41`).  With ``--wal``, the input
    is `tsdb_wal.live_samples_frame`: store plus the not-yet-synced
    head delta, Prometheus-fresh."""
    from tsdb_parquet_spark.plans.promql import PromQLEngine
    from tsdb_parquet_spark.querier import ChunkQuerier
    from tsdb_parquet_spark.session import get_spark

    spark = get_spark(app_name="tsdb-promql")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    if not args.store and not args.data_dir:
        raise SystemExit("promql needs --store or --data-dir")
    labels = args.labels.split(",") if args.labels else None
    if args.data_dir:
        # PromQL STRAIGHT off a raw Prometheus data dir — blocks + head
        # WAL, no conversion step, no store: the engine as a drop-in
        # query tool over an untouched installation
        from tsdb_parquet_spark.chunks import chunks_to_samples
        from tsdb_parquet_spark.plans.promql import data_window, parse_promql
        from tsdb_parquet_spark.tsdb_wal import data_dir_to_chunk_frame

        if not labels:
            raise SystemExit("--data-dir requires --labels")
        # prune whole blocks by the query's own data window — a bounded
        # query over a multi-year farm touches a handful of its blocks —
        # and push the query's name set into the block decode (postings
        # selection: only matching series' chunk records are fetched)
        from tsdb_parquet_spark.plans.routing import _metric_names

        node = parse_promql(args.query)
        window = data_window(
            node, args.start, args.end, lookback_ms=args.lookback
        )
        mint, maxt = window if window else (None, None)
        names = _metric_names(node)
        frame = data_dir_to_chunk_frame(
            spark, args.data_dir, labels, mint=mint, maxt=maxt,
            select={"__name__": sorted(names)} if names else None,
        )
        samples = chunks_to_samples(frame, labels)
    elif args.wal:
        from tsdb_parquet_spark.tsdb_wal import live_samples_frame

        if not labels:
            raise SystemExit("--wal requires --labels")
        samples = live_samples_frame(spark, args.wal, args.store, labels)
    else:
        q = ChunkQuerier.from_parquet(spark, args.store)
        samples = q.select_samples(labels=labels)
    engine = PromQLEngine(samples)
    out = engine.query_range(
        args.query,
        args.start,
        args.end,
        args.step,
        lookback_ms=args.lookback,
    )
    if args.api_json:
        import json as _json

        from tsdb_parquet_spark.plans.promql import to_api_response

        resp = to_api_response(out)
        n = sum(len(s["values"]) for s in resp["data"]["result"])
        print(_json.dumps(resp))
    else:
        from tsdb_parquet_spark.names import unescape_name
        from tsdb_parquet_spark.plans.promql import parse_promql, sort_vector

        # the frame is unordered: print each step's samples in the
        # order an instant query at that step would render them
        label_cols = [c for c in out.columns if c not in ("t", "value")]
        samples = [
            ({unescape_name(c): row[c] for c in label_cols if row[c]},
             row["value"], row)
            for row in out.collect()
        ]
        sort_vector(parse_promql(args.query), samples)
        samples.sort(key=lambda s: s[2]["t"])
        n = len(samples)
        for _metric, _value, row in samples:
            print(row.asDict())
    print(
        f"# evaluated in {time.perf_counter() - t0:.1f}s rows={n}",
        file=sys.stderr,
    )
    spark.stop()
    return 0


def cmd_exemplars(args) -> int:
    """``/api/v1/query_exemplars`` over an exemplar store: a plain
    PromQL selector plus a closed ``[start, end]`` ms range, compiled
    to the fully pushed-down scan (`sources.exemplars.select_exemplars`).
    ``--api-json`` prints the Prometheus response body — exemplars
    grouped per series, values as strings, timestamps in seconds."""
    from tsdb_parquet_spark.api import parse_match_selectors
    from tsdb_parquet_spark.session import get_spark
    from tsdb_parquet_spark.sources.exemplars import select_exemplars

    try:
        [matchers] = parse_match_selectors(
            [args.query], "__name__", param="query"
        )
    except ValueError as exc:
        raise SystemExit(str(exc)) from None
    spark = get_spark(app_name="tsdb-exemplars")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    out = select_exemplars(spark, args.store, matchers, args.start, args.end)
    if args.api_json:
        import json as _json

        from tsdb_parquet_spark.api import exemplars_result

        result = exemplars_result(out)
        n = sum(len(s["exemplars"]) for s in result)
        print(_json.dumps({"status": "success", "data": result}))
    else:
        rows = out.collect()
        n = len(rows)
        for row in rows:
            print(row.asDict())
    print(
        f"# {n} exemplars in {time.perf_counter() - t0:.1f}s",
        file=sys.stderr,
    )
    spark.stop()
    return 0


def cmd_convert(args) -> int:
    from pyspark.sql import functions as F

    from tsdb_parquet_spark.chunks import samples_to_chunks
    from tsdb_parquet_spark.schema import sort_columns
    from tsdb_parquet_spark.session import get_spark
    from tsdb_parquet_spark.sources.writer import (
        SortedParquetWriter,
        WriterOptions,
    )

    spark = get_spark(app_name="tsdb-convert")
    spark.sparkContext.setLogLevel("ERROR")

    if args.data_dir:
        # the FULL Prometheus data dir: compacted blocks AND the head
        # WAL (the reference converter stops at blocks; the most recent
        # ~2-3 h exist only in the WAL)
        from tsdb_parquet_spark.schema import label_columns, sort_columns
        from tsdb_parquet_spark.sources.writer import (
            SortedParquetWriter,
            WriterOptions,
        )
        from tsdb_parquet_spark.tsdb_wal import data_dir_to_chunk_frame

        t0 = time.perf_counter()
        in_labels = args.labels.split(",")
        if args.histograms and "le" not in in_labels:
            # expanded native-histogram series carry the classic `le`
            # label; float chunks fill it "" (missing-label convention)
            in_labels = in_labels + ["le"]
        frame = data_dir_to_chunk_frame(spark, args.data_dir, in_labels)
        labels = label_columns(frame.schema)
        opts = WriterOptions(
            sort_columns=sort_columns(labels),
            bloom_columns=[c for c in labels if c != "__name__"],
            max_files=args.max_files,
        )
        writer = SortedParquetWriter(spark, args.out, opts)
        writer.write(frame)
        if args.histograms:
            # WAL native-histogram records (types 7/8), classic-expanded
            # into the SAME store as an id-less part — compaction's
            # mixed-schema path drops the block ordinals and assigns
            # dense ids over the union
            from tsdb_parquet_spark.tsdb_wal import (
                discover_data_dir,
                wal_to_histogram_frame,
            )

            _, wal_dir = discover_data_dir(args.data_dir)
            if wal_dir is not None:
                hsamples = wal_to_histogram_frame(
                    spark,
                    wal_dir,
                    [c for c in labels if c != "le"],
                )
                hchunks = samples_to_chunks(
                    hsamples, labels, assign_series_ids=False
                )
                if hchunks.limit(1).count():
                    writer.write(hchunks)
        compact = writer.compact()
        n = spark.read.parquet(compact).count()
        print(
            f"# converted data dir (blocks + WAL): {n} chunks -> "
            f"{compact} in {time.perf_counter() - t0:.1f}s",
            file=sys.stderr,
        )
        spark.stop()
        return 0
    if args.block_parent:
        from tsdb_parquet_spark.tsdb_block import discover_blocks

        args.block = discover_blocks(args.block_parent)
        if not args.block:
            raise SystemExit(f"no blocks under {args.block_parent}")
    if args.block:
        # the reference converter's ACTUAL input (`cmd/convert/main.go:
        # 30-126`): one or more on-disk Prometheus TSDB block dirs.
        # One block -> driver-parsed index, chunk fetches spread over
        # all cores; several -> executor-parsed, one task per block
        # (the farm shape).  Labels derive from the index itself for a
        # single block; a farm needs --labels (per-block schemas are
        # data-inferred, and deriving the union would serialize every
        # index parse on the driver).
        from tsdb_parquet_spark.schema import label_columns, sort_columns
        from tsdb_parquet_spark.sources.writer import (
            SortedParquetWriter,
            WriterOptions,
        )
        from tsdb_parquet_spark.tsdb_block import (
            block_to_chunk_frame,
            blocks_to_chunk_frame,
        )

        t0 = time.perf_counter()
        if len(args.block) == 1:
            frame = block_to_chunk_frame(spark, args.block[0])
        else:
            frame = blocks_to_chunk_frame(
                spark, args.block, args.labels.split(",")
            )
        labels = label_columns(frame.schema)
        opts = WriterOptions(
            sort_columns=sort_columns(labels),
            bloom_columns=[c for c in labels if c != "__name__"],
            max_files=args.max_files,
        )
        writer = SortedParquetWriter(spark, args.out, opts)
        writer.write(frame)
        compact = writer.compact()
        n = spark.read.parquet(compact).count()
        print(
            f"# converted {len(args.block)} block(s): {n} chunks -> "
            f"{compact} in {time.perf_counter() - t0:.1f}s",
            file=sys.stderr,
        )
        spark.stop()
        return 0

    df = spark.read.parquet(args.events)
    labels = args.labels.split(",")
    if "__name__" in labels and "__name__" not in df.columns:
        # metric name injected like the converter names series from block
        # metadata (`cmd/convert/main.go:79-117`)
        df = df.withColumn("__name__", F.lit(args.metric_name))
    missing = [c for c in labels + [args.ts_col, args.value_col]
               if c not in df.columns]
    if missing:
        raise SystemExit(f"columns not in input: {missing}")

    if dict(df.dtypes).get(args.ts_col) in ("timestamp", "timestamp_ntz"):
        # timestamp input: the unit flag describes numeric columns only
        ts_expr = F.unix_millis(F.col(args.ts_col).cast("timestamp"))
    else:
        ts_expr = {
            "ms": F.col(args.ts_col),
            "ns": F.expr(f"{args.ts_col} div 1000000"),
            "us": F.expr(f"{args.ts_col} div 1000"),
            "s": F.col(args.ts_col) * 1000,
        }[args.ts_unit]
    samples = df.select(
        *[F.col(c).cast("string").alias(c) for c in labels],
        ts_expr.cast("long").alias("ts"),
        F.col(args.value_col).cast("double").alias("value"),
    )
    t0 = time.perf_counter()
    chunks = samples_to_chunks(samples, labels, chunk_span_ms=args.span_ms)
    opts = WriterOptions(
        sort_columns=sort_columns(labels),
        bloom_columns=[c for c in labels if c != "__name__"],
        max_files=args.max_files,
    )
    writer = SortedParquetWriter(spark, args.out, opts)
    writer.write(chunks)
    compact = writer.compact()
    n = spark.read.parquet(compact).count()
    print(
        f"# wrote {n} chunks to {compact} in "
        f"{time.perf_counter() - t0:.1f}s",
        file=sys.stderr,
    )
    spark.stop()
    return 0


def cmd_export(args) -> int:
    """REVERSE converter: chunk store -> real Prometheus TSDB block
    (`tsdb_block.export_block`) — hand a parquet store back to
    promtool/Thanos/Grafana for backfill or federation.  Chunk payloads
    stream executor-side into segment files; optional matchers/time
    bounds export a slice instead of the whole store."""
    from tsdb_parquet_spark.querier import ChunkQuerier
    from tsdb_parquet_spark.session import get_spark
    from tsdb_parquet_spark.tsdb_block import export_block

    spark = get_spark(app_name="tsdb-export")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    if args.matcher or args.mint is not None or args.maxt is not None:
        q = ChunkQuerier.from_parquet(spark, args.store)
        frame = q.select_chunks(
            mint=args.mint,
            maxt=args.maxt,
            matchers=_parse_matchers(args.matcher),
        )
    else:
        frame = spark.read.parquet(args.store)
    import json as _json

    if args.span_ms:
        from tsdb_parquet_spark.tsdb_block import export_blocks

        blocks = export_blocks(
            frame, args.out, block_span_ms=args.span_ms,
            max_segment_bytes=args.max_segment_bytes,
        )
        print(
            f"# exported {len(blocks)} block(s) -> {args.out} in "
            f"{time.perf_counter() - t0:.1f}s",
            file=sys.stderr,
        )
        for ulid, _d in blocks:
            print(ulid)
        spark.stop()
        return 0
    ulid = export_block(
        frame, args.out, max_segment_bytes=args.max_segment_bytes
    )
    meta = _json.load(open(os.path.join(args.out, "meta.json")))
    print(
        f"# exported block {ulid}: {meta['stats']['numSeries']} series, "
        f"{meta['stats']['numChunks']} chunks, time "
        f"[{meta['minTime']}, {meta['maxTime']}] -> {args.out} in "
        f"{time.perf_counter() - t0:.1f}s",
        file=sys.stderr,
    )
    print(ulid)
    spark.stop()
    return 0


def cmd_ingest(args) -> int:
    """One-shot receiver-spool drain (cron-friendly, like ``sync``):
    remote-write POST bodies or scrape-text captures spooled as files
    drain into sorted store parts; the streaming checkpoint remembers
    processed files, so re-runs ingest only new ones."""
    from tsdb_parquet_spark.session import get_spark
    from tsdb_parquet_spark.streaming.receiver import (
        otlp_spool_ingestor,
        remote_write_spool_ingestor,
        scrape_spool_ingestor,
    )

    spark = get_spark(app_name="tsdb-ingest")
    spark.sparkContext.setLogLevel("ERROR")
    labels = args.labels.split(",")
    relabel = None
    if args.relabel:
        import json as _json

        from tsdb_parquet_spark.operators.relabel import (
            parse_relabel_configs,
        )

        with open(args.relabel) as fh:
            text = fh.read()
        try:
            specs = _json.loads(text)
        except ValueError:
            import yaml

            specs = yaml.safe_load(text)
        relabel = parse_relabel_configs(specs)
    t0 = time.perf_counter()
    if args.format == "remote-write":
        ingestor, stream = remote_write_spool_ingestor(
            spark, args.spool, args.store, labels,
            chunk_span_ms=args.span_ms, histograms=args.histograms,
            path_glob=args.path_glob, relabel=relabel,
        )
    elif args.format == "otlp":
        ingestor, stream = otlp_spool_ingestor(
            spark, args.spool, args.store, labels,
            chunk_span_ms=args.span_ms, relabel=relabel,
            translation=args.otlp_translation,
        )
    else:
        ingestor, stream = scrape_spool_ingestor(
            spark, args.spool, args.store, labels,
            chunk_span_ms=args.span_ms, scrape_ts_ms=args.scrape_ts,
            relabel=relabel,
            **(
                {"path_glob": args.path_glob} if args.path_glob else {}
            ),
        )
    ingestor.ingest(stream)
    msg = f"# drained spool {args.spool} -> {args.store}"
    if args.finalize:
        compact = ingestor.finalize()
        n = spark.read.parquet(compact).count()
        msg += f"; finalized {n} chunks -> {compact}"
    print(f"{msg} in {time.perf_counter() - t0:.1f}s", file=sys.stderr)
    spark.stop()
    return 0


def cmd_reblock(args) -> int:
    """Distributed block compaction (`promtool tsdb` compactor analog,
    cluster-shaped): merge N blocks — overlapping allowed — into fresh
    time-partitioned blocks, applying pending tombstones and resolving
    duplicate (series, ts) collisions first-write-wins."""
    from tsdb_parquet_spark.session import get_spark
    from tsdb_parquet_spark.tsdb_block import compact_blocks, discover_blocks

    spark = get_spark(app_name="tsdb-reblock")
    spark.sparkContext.setLogLevel("ERROR")
    blocks = args.block or []
    if args.block_parent:
        blocks = discover_blocks(args.block_parent)
    if not blocks:
        raise SystemExit("reblock needs --block or --block-parent")
    t0 = time.perf_counter()
    out = compact_blocks(
        spark, blocks, args.out, args.labels.split(","),
        block_span_ms=args.span_ms,
    )
    print(
        f"# compacted {len(blocks)} block(s) -> {len(out)} block(s) "
        f"under {args.out} in {time.perf_counter() - t0:.1f}s",
        file=sys.stderr,
    )
    for ulid, _d in out:
        print(ulid)
    spark.stop()
    return 0


def cmd_sync(args) -> int:
    """Incremental migration from a live Prometheus data dir: convert
    new blocks (ULID sidecar skips converted ones) AND drain new head-
    WAL samples past the per-segment watermark — both idempotent and
    crash-safe (`tsdb_block.sync_blocks`, `tsdb_wal.sync_wal`).  Run on
    a schedule and the store follows the TSDB completely: blocks as
    they compact, head samples within one sync interval of scrape."""
    import os

    from tsdb_parquet_spark.session import get_spark
    from tsdb_parquet_spark.tsdb_block import sync_blocks

    spark = get_spark(app_name="tsdb-sync")
    spark.sparkContext.setLogLevel("ERROR")
    result = sync_blocks(
        spark, args.data_dir, args.store, args.labels.split(","),
    )
    print(
        f"# converted {len(result['converted'])} block(s), skipped "
        f"{len(result['skipped'])}"
        + (f" -> {result['part']}" if result["part"] else ""),
        file=sys.stderr,
    )
    for u in result["converted"]:
        print(u)
    if not args.blocks_only:
        from tsdb_parquet_spark.tsdb_wal import discover_data_dir, sync_wal

        _, wal_dir = discover_data_dir(args.data_dir)
        if wal_dir is not None:
            head = sync_wal(
                spark, wal_dir, args.store, args.labels.split(","),
            )
            print(
                f"# head: {head['samples']} new sample(s)"
                + (f" -> {head['part']}" if head["part"] else "")
                + (" [gap checkpoint drained — schedule a deduplicating"
                   " compaction]" if head["gap_drained"] else ""),
                file=sys.stderr,
            )
            if head.get("retro_stones"):
                print(
                    f"# WARNING: {head['retro_stones']} tombstone(s) "
                    f"arrived after their samples were synced (refs "
                    f"{head['retro_refs']}) — the store still holds "
                    "those samples; run a store-side delete pass",
                    file=sys.stderr,
                )
    spark.stop()
    return 0


def cmd_delete(args) -> int:
    """Store-side sample deletion (Prometheus delete-series admin API /
    thanos bucket-rewrite analog): drop matching series' samples inside
    a closed [mint, maxt] interval, rewriting only the directories that
    hold affected chunks (`sources.maintenance.delete_samples`).  With
    --from-wal, resolve and apply the WAL's delete-API tombstones
    instead — the remedy for `sync`'s retro_stones warning."""
    import json as _json

    from tsdb_parquet_spark.operators.selection import EQ, Matcher
    from tsdb_parquet_spark.session import get_spark
    from tsdb_parquet_spark.sources.maintenance import (
        apply_retro_tombstones,
        delete_samples,
    )

    spark = get_spark(app_name="tsdb-delete")
    spark.sparkContext.setLogLevel("ERROR")
    if args.from_wal:
        rep = apply_retro_tombstones(
            spark, args.from_wal, args.store, args.labels.split(",")
        )
    else:
        if not args.match or args.mint is None or args.maxt is None:
            print(
                "# delete needs --match (repeatable) and --mint/--maxt,"
                " or --from-wal <wal_dir>",
                file=sys.stderr,
            )
            return 2
        matchers = []
        for m in args.match:
            name, _, value = m.partition("=")
            matchers.append(Matcher(name, EQ, value))
        rep = delete_samples(
            spark,
            args.store,
            matchers,
            mint=args.mint,
            maxt=args.maxt,
            label_names=args.labels.split(","),
        )
    print(_json.dumps(rep))
    spark.stop()
    return 0


def cmd_maintain_blocks(args) -> int:
    """One maintenance tick for a block farm (Thanos-compactor
    semantics): downsample aged raw blocks into recording-rule rollup
    blocks, then delete blocks past the retention horizon crash-safely
    (`tsdb_block.maintain_block_farm`)."""
    import json as _json
    import time

    from tsdb_parquet_spark.session import get_spark
    from tsdb_parquet_spark.tsdb_block import maintain_block_farm

    now_ms = args.now_ms if args.now_ms is not None else int(
        time.time() * 1000
    )
    spark = get_spark(app_name="tsdb-maintain-blocks")
    spark.sparkContext.setLogLevel("ERROR")
    rep = maintain_block_farm(
        spark,
        args.data_dir,
        args.labels.split(","),
        now_ms=now_ms,
        retention_ms=args.retention_ms,
        downsample_step_ms=args.downsample_step_ms,
        downsample_dir=args.downsample_dir,
        downsample_after_ms=args.downsample_after_ms,
        block_span_ms=args.span_ms,
    )
    print(_json.dumps(rep))
    spark.stop()
    return 0


def cmd_snapshots(args) -> int:
    """List a store's published snapshots (sources/manifest.py) — version,
    age-defining timestamp, and directory set — newest last."""
    from tsdb_parquet_spark.sources.manifest import (
        current_snapshot,
        list_versions,
    )

    versions = list_versions(args.store)
    if not versions:
        print("# no snapshots published", file=sys.stderr)
        return 1
    cur = current_snapshot(args.store)
    for v in versions:
        snap = current_snapshot(args.store, v)
        marker = "*" if cur and v == cur.version else " "
        paths = ", ".join(snap.paths) if snap else "<missing manifest>"
        print(f"{marker} v{v} created_ms={snap.created_ms if snap else '-'} "
              f"[{paths}]")
    return 0


def cmd_stats(args) -> int:
    """Print a store's cardinality statistics (Prometheus
    /api/v1/status/tsdb analog): per-label distinct-value counts and
    the series count, via `ChunkQuerier.tsdb_stats`."""
    from tsdb_parquet_spark.querier import ChunkQuerier
    from tsdb_parquet_spark.session import get_spark

    spark = get_spark()
    q = ChunkQuerier.from_parquet(spark, args.store)
    for row in q.tsdb_stats().orderBy("stat").collect():
        print(f"{row['stat']}\t{row['n']}")
    return 0


def cmd_vacuum(args) -> int:
    """Run the maintenance sweep on a store: compact when over the part
    threshold, then drop retired snapshot dirs past the grace window and
    (optionally) day partitions past the retention horizon."""
    from tsdb_parquet_spark.schema import sort_columns
    from tsdb_parquet_spark.session import get_spark
    from tsdb_parquet_spark.sources.maintenance import (
        maybe_compact,
        retention_sweep,
    )
    from tsdb_parquet_spark.sources.manifest import vacuum_snapshots
    from tsdb_parquet_spark.sources.writer import (
        SortedParquetWriter,
        WriterOptions,
    )

    spark = get_spark(app_name="tsdb-vacuum")
    spark.sparkContext.setLogLevel("ERROR")
    labels = args.labels.split(",")
    opts = WriterOptions(
        sort_columns=sort_columns(labels),
        bloom_columns=[c for c in labels if c != "__name__"],
        max_files=args.max_files,
    )
    writer = SortedParquetWriter(spark, args.store, opts)
    compacted = maybe_compact(
        writer, max_parts=args.max_parts, defer_cleanup=True
    )
    result = vacuum_snapshots(args.store, keep_versions=args.keep_versions)
    removed_days: list[str] = []
    if args.keep_days is not None:
        target = writer._resolve_compact() or args.store
        removed_days = retention_sweep(
            target, now_ms=int(time.time() * 1000), keep_days=args.keep_days
        )
    print(
        f"# compacted={compacted or '-'} "
        f"removed_dirs={result['removed_dirs']} "
        f"removed_manifests={len(result['removed_manifests'])} "
        f"removed_day_partitions={removed_days}",
        file=sys.stderr,
    )
    spark.stop()
    return 0


def _wal_serve_metadata(spark, wal_dir: str) -> list[tuple]:
    """Metric metadata for a ``serve --wal`` head: the WAL's Metadata
    records (type 6 — one entry per metric, replay-ordered) joined to
    metric names, deduped into the ``(metric, type, help, unit)``
    entries ``/api/v1/metadata`` and ``/federate`` consume — like
    Prometheus, a live head surfaces its own metadata without a
    hand-written file."""
    from tsdb_parquet_spark.tsdb_wal import wal_metadata_frame

    try:
        return sorted(
            {
                (r["__name__"], r["type"], r["help"] or "",
                 r["unit"] or "")
                for r in wal_metadata_frame(
                    spark, wal_dir, ["__name__"]
                ).collect()
            }
        )
    except (ValueError, OSError):
        return []  # empty/missing WAL dir: serve without metadata


def cmd_serve(args) -> int:
    """Serve the Prometheus HTTP query API (`api.PromApiServer`) over
    one or more chunk stores: /api/v1/query[_range], /series, /labels,
    /label/<n>/values, /query_exemplars (with --exemplar-store),
    /metadata, /status/tsdb, /api/v1/read (remote-read), /federate.
    Repeat ``--store`` to fan several stores into one series set
    (schemas merged, missing labels ""), and pass ``--replica-label``
    to dedup HA pairs Thanos-Query-style (`operators.replicas`) — the
    vote runs per REQUEST, bounded to each query's time range, never as
    a startup full-store aggregate.  Prints the base URL on stdout
    (flushed) and
    serves until interrupted or ``--max-seconds`` elapses —
    cron/systemd-friendly, the read twin of ``ingest``."""
    from tsdb_parquet_spark.api import PromApiServer
    from tsdb_parquet_spark.plans.promql import PromQLEngine
    from tsdb_parquet_spark.querier import ChunkQuerier
    from tsdb_parquet_spark.session import get_spark

    spark = get_spark(app_name="tsdb-serve")
    spark.sparkContext.setLogLevel("ERROR")
    labels = args.labels.split(",") if args.labels else None
    if args.wal:
        from tsdb_parquet_spark.tsdb_wal import live_samples_frame

        if not labels:
            raise SystemExit("--wal requires --labels")
        if len(args.store) != 1:
            raise SystemExit("--wal serves exactly one store")
        samples = live_samples_frame(spark, args.wal, args.store[0], labels)
    elif len(args.store) == 1:
        q = ChunkQuerier.from_store(spark, args.store[0])
        samples = q.select_samples(labels=labels)
    else:
        # multi-store fan-in: resolve each writer ROOT to its live
        # directory set first, then schema-merge (from_stores ""-fills
        # labels absent from a store)
        from tsdb_parquet_spark.sources.writer import live_store_dirs

        paths = []
        for store in args.store:
            if os.path.isdir(store) and any(
                e == "_snapshots" or e.startswith(("part.", "compact"))
                for e in os.listdir(store)
            ):
                paths += live_store_dirs(store)
            else:
                paths.append(store)
        q = ChunkQuerier.from_stores(spark, paths)
        samples = q.select_samples(labels=labels)
    transform = None
    if args.replica_label:
        from tsdb_parquet_spark.operators.replicas import dedup_replicas

        # per-REQUEST bounded vote (r13 verdict): instead of deduping
        # the whole store once at startup (a full-store aggregate +
        # semi-join before the first query answers — the 100 TB
        # scale-killer), the vote runs per selector evaluation with
        # that query's exact ts bounds, pruning to touched buckets
        # before any shuffle.  Matcher pushdown still reaches the scan
        # (Catalyst pushes label predicates through the vote plan);
        # metadata endpoints project the replica label away without
        # voting at all (PromQLEngine.metadata_frame).  The join
        # strategy stays AQE's call — never a forced broadcast.
        def transform(
            df,
            lo,
            hi,
            _lbl=args.replica_label,
            _win=args.dedup_window,
        ):
            bounds = (lo, hi) if lo is not None and hi is not None else None
            return dedup_replicas(df, _lbl, window_ms=_win, ts_bounds=bounds)

    # a server answers MANY queries over one working set: shared_scan
    # pays one decode and serves every request from the checkpoint
    # (the transform runs ABOVE the pinned blocks, per query)
    engine = PromQLEngine(
        samples, shared_scan=True, samples_transform=transform
    )
    metadata = []
    if args.metadata:
        import json as _json

        with open(args.metadata) as fh:
            metadata = [tuple(m) for m in _json.load(fh)]
    elif args.wal:
        metadata = _wal_serve_metadata(spark, args.wal)
    external = dict(
        kv.split("=", 1) for kv in (args.external_label or [])
    )
    rule_groups = []
    if args.rules:
        from tsdb_parquet_spark.rules import parse_rule_file

        with open(args.rules) as fh:
            rule_groups = parse_rule_file(fh.read())
    admin_kwargs = {}
    if args.admin:
        # the admin API rewrites ONE writer root surgically and the
        # factory rebuilds the serving frame post-delete; multi-store /
        # WAL-live serving has no single rewrite target
        if len(args.store) != 1 or args.wal:
            raise SystemExit(
                "--admin requires exactly one --store (a writer root) "
                "and no --wal"
            )
        if not labels:
            raise SystemExit("--admin requires --labels (store schema)")
        admin_root = args.store[0]

        def _rebuild_samples():
            # the rebuilt frame runs the SAME pipeline as the served
            # one; --replica-label dedup rides along automatically (the
            # api server carries samples_transform onto the rebuilt
            # engine), so delete_series cannot silently resurrect
            # duplicated samples or the replica column
            return ChunkQuerier.from_store(
                spark, admin_root
            ).select_samples(labels=labels)

        admin_kwargs = {
            "admin_store": admin_root,
            "admin_label_names": labels,
            "samples_factory": _rebuild_samples,
        }
    server = PromApiServer(
        engine,
        lookback_ms=args.lookback,
        metadata=metadata,
        exemplar_store=args.exemplar_store,
        external_labels=external,
        rule_groups=rule_groups,
        **admin_kwargs,
    )
    url = server.start()
    print(url, flush=True)
    import threading as _threading

    try:
        if args.max_seconds:
            _threading.Event().wait(args.max_seconds)
        else:  # pragma: no cover - interactive
            _threading.Event().wait()
    except KeyboardInterrupt:  # pragma: no cover - interactive
        pass
    finally:
        server.stop()
        spark.stop()
    return 0


def cmd_rules(args) -> int:
    """Run one evaluation interval for every group in a rule file and
    append the recording + ALERTS + ALERTS_FOR_STATE series to a store
    (`rules.run_rule_group_to_store`) — the Prometheus rule manager's
    write-back loop as a cron-friendly one-shot.  ``--rules`` takes the
    standard Prometheus rule-file YAML (``groups:`` — the
    prometheus.rules.yml every deployment already has; ``for`` /
    ``keep_firing_for`` durations included) or this engine's
    single-group JSON shape (`rules.parse_rule_file`)."""
    from tsdb_parquet_spark.plans.promql import PromQLEngine
    from tsdb_parquet_spark.querier import ChunkQuerier
    from tsdb_parquet_spark.rules import (
        parse_rule_file,
        run_rule_group_to_store,
    )
    from tsdb_parquet_spark.session import get_spark

    with open(args.rules) as fh:
        groups = parse_rule_file(fh.read())

    spark = get_spark(app_name="tsdb-rules")
    spark.sparkContext.setLogLevel("ERROR")
    t0 = time.perf_counter()
    q = ChunkQuerier.from_store(spark, args.store)
    in_labels = args.labels.split(",") if args.labels else None
    engine = PromQLEngine(q.select_samples(labels=in_labels))
    out_labels = args.out_labels.split(",")
    counts: dict[str, int] = {}
    writer = None
    for group in groups:
        gcounts, writer = run_rule_group_to_store(
            spark,
            engine,
            group,
            args.out,
            out_labels,
            args.start,
            args.end,
            args.step,
            lookback_ms=args.lookback,
            include_alerts=not args.no_alerts,
            restore_for_state=args.restore,
        )
        for name, n in gcounts.items():
            counts[f"{group.name}/{name}"] = n
    if args.compact and writer is not None:
        writer.compact()
    for name, n in counts.items():
        print(f"{name}\t{n}")
    print(
        f"# wrote {sum(counts.values())} samples "
        f"({len(counts)} rules, {len(groups)} groups) "
        f"in {time.perf_counter() - t0:.1f}s",
        file=sys.stderr,
    )
    spark.stop()
    return 0


def cmd_check_rules(args) -> int:
    """Validate rule file(s) without a Spark session — the promtool
    ``check rules`` analog: the file must parse (YAML ``groups:`` or
    single-group JSON), every expression must parse as PromQL, rule
    names must be legal metric names, and duplicate rule names within
    a group are flagged.  Exit 1 on the first broken file."""
    import json as _json
    import re as _re

    from tsdb_parquet_spark.plans.promql import parse_promql
    from tsdb_parquet_spark.rules import (
        AlertingRule,
        RecordingRule,
        parse_rule_file,
    )

    name_re = _re.compile(r"^[a-zA-Z_:][a-zA-Z0-9_:]*$")
    rc = 0
    for path in args.rules:
        errors: list[str] = []
        n_groups = n_rules = 0
        try:
            with open(path) as fh:
                groups = parse_rule_file(fh.read())
        except Exception as exc:
            errors.append(f"parse: {type(exc).__name__}: {exc}")
            groups = []
        for g in groups:
            n_groups += 1
            seen: set[str] = set()
            for rule in g.rules:
                n_rules += 1
                if isinstance(rule, RecordingRule):
                    name, expr = rule.record, rule.expr
                    if not name_re.match(name):
                        errors.append(
                            f"{g.name}: record {name!r} is not a "
                            "valid metric name"
                        )
                else:
                    assert isinstance(rule, AlertingRule)
                    name, expr = rule.alert, rule.expr
                try:
                    parse_promql(expr)
                except ValueError as exc:
                    errors.append(f"{g.name}/{name}: expr: {exc}")
                if name in seen:
                    errors.append(f"{g.name}: duplicate rule {name!r}")
                seen.add(name)
        report = {
            "file": path,
            "ok": not errors,
            "groups": n_groups,
            "rules": n_rules,
            "errors": errors,
        }
        print(_json.dumps(report))
        if errors:
            rc = 1
    return rc


def cmd_verify_block(args) -> int:
    """Integrity-check TSDB block dir(s) (`tsdb_block.verify_block`) —
    the promtool-style pre-flight before trusting a block: meta/index
    CRCs, every chunk record's CRC (``--no-decode`` skips the XOR
    decode + bounds check), tombstone refs.  No Spark session.  Exit 1
    on the first broken block."""
    import json as _json

    from tsdb_parquet_spark.tsdb_block import verify_block

    rc = 0
    for block in args.block:
        try:
            report = verify_block(block, decode=not args.no_decode)
        except (ValueError, OSError, KeyError) as exc:
            print(_json.dumps({"block": block, "ok": False,
                               "error": str(exc)}))
            rc = 1
            continue
        print(_json.dumps(report))
    return rc


def cmd_scrape_targets(args) -> int:
    """One scrape tick (`scrape.scrape_targets_once`): GET each
    target's /metrics, weave its ``job``/``instance`` labels in, spool
    for ``ingest --format scrape``.  Target syntax:
    ``URL[;label=value,...]``.  No Spark session — this is the cheap
    edge half; the drain is the Spark half."""
    import json as _json

    from tsdb_parquet_spark.scrape import scrape_targets_once

    targets = []
    for raw in args.target:
        url, _, rest = raw.partition(";")
        labels = {}
        if rest:
            for pair in rest.split(","):
                k, _, v = pair.partition("=")
                labels[k.strip()] = v.strip()
        targets.append((url, labels))
    ts = args.ts if args.ts is not None else int(time.time() * 1000)
    reports = scrape_targets_once(
        targets, args.spool, ts, timeout_s=args.timeout
    )
    for rep in reports:
        print(_json.dumps(rep))
    return 0 if all(r["ok"] for r in reports) and reports else 1


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="tsdb_parquet_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)

    scan = sub.add_parser("scan", help="scan a chunk store (cmd/read analog)")
    scan.add_argument("--store", required=True)
    scan.add_argument("--matcher", action="append", default=[],
                      help="label=value | label!=v | label=~re | label!~re")
    scan.add_argument("--mint", type=int, default=None)
    scan.add_argument("--maxt", type=int, default=None)
    scan.add_argument("--columns", default=None,
                      help="comma-separated projection")
    scan.add_argument("--limit", type=int, default=20)
    scan.set_defaults(fn=cmd_scan)

    conv = sub.add_parser("convert",
                          help="samples parquet OR TSDB block dir(s) -> "
                               "chunk store (cmd/convert)")
    group = conv.add_mutually_exclusive_group(required=True)
    group.add_argument("--events", help="samples parquet input")
    group.add_argument(
        "--block", action="append",
        help="Prometheus TSDB block directory (repeat for a farm; one "
             "task per block when repeated)",
    )
    group.add_argument(
        "--block-parent",
        help="Prometheus DATA dir: converts every block found inside "
             "(subdirs with meta.json, minTime order)",
    )
    group.add_argument(
        "--data-dir",
        help="FULL Prometheus data dir: every block plus the head WAL "
             "(wal/ segments + latest checkpoint) — nothing in the "
             "installation is left behind",
    )
    conv.add_argument("--out", required=True)
    conv.add_argument("--labels", default="__name__,event_type")
    conv.add_argument("--metric-name", default="app_events")
    conv.add_argument("--ts-col", default="ts")
    conv.add_argument("--ts-unit", choices=["ms", "ns", "us", "s"], default="ms")
    conv.add_argument("--value-col", default="value")
    conv.add_argument("--span-ms", type=int, default=86_400_000)
    conv.add_argument("--max-files", type=int, default=32)
    conv.add_argument("--histograms", action="store_true",
                      help="--data-dir mode: also drain WAL native-"
                           "histogram records, classic-expanded (adds "
                           "an 'le' label; float chunks carry le='')")
    conv.set_defaults(fn=cmd_convert)

    pq = sub.add_parser(
        "promql",
        help="evaluate a PromQL range query over a chunk store "
             "(--wal adds the live head for Prometheus-fresh results)",
    )
    pq.add_argument("query", help="PromQL expression")
    pq.add_argument("--store",
                    help="chunk store (or use --data-dir for a raw "
                         "Prometheus installation)")
    pq.add_argument("--data-dir",
                    help="evaluate straight off a Prometheus data dir "
                         "(blocks + head WAL), no conversion step; "
                         "requires --labels")
    pq.add_argument("--start", type=int, required=True,
                    help="start of the step grid, Unix ms")
    pq.add_argument("--end", type=int, required=True)
    pq.add_argument("--step", type=int, required=True, help="step ms")
    pq.add_argument("--lookback", type=int, default=5 * 60 * 1000,
                    help="instant-vector lookback ms (default 5m)")
    pq.add_argument("--labels", default=None,
                    help="label columns (required with --wal)")
    pq.add_argument("--wal",
                    help="live WAL dir: union the not-yet-synced head "
                         "delta into the evaluation input")
    pq.add_argument("--api-json", action="store_true",
                    help="print the Prometheus /api/v1/query_range "
                         "response body instead of rows")
    pq.set_defaults(fn=cmd_promql)

    exq = sub.add_parser(
        "exemplars",
        help="query an exemplar store by PromQL selector + time range "
             "(/api/v1/query_exemplars semantics)",
    )
    exq.add_argument("query",
                     help="plain PromQL selector, e.g. "
                          "'app_events{event_type=\"click\"}'")
    exq.add_argument("--store", required=True,
                     help="exemplar store dir "
                          "(sources.exemplars.write_exemplar_store)")
    exq.add_argument("--start", type=int, required=True,
                     help="range start, Unix ms (closed)")
    exq.add_argument("--end", type=int, required=True,
                     help="range end, Unix ms (closed)")
    exq.add_argument("--api-json", action="store_true",
                     help="print the Prometheus /api/v1/query_exemplars "
                          "response body instead of rows")
    exq.set_defaults(fn=cmd_exemplars)

    sync = sub.add_parser(
        "sync",
        help="incrementally convert NEW blocks from a Prometheus data "
             "dir into a chunk store (idempotent; run on a schedule)",
    )
    sync.add_argument("--data-dir", required=True)
    sync.add_argument("--store", required=True)
    sync.add_argument("--labels", default="__name__,event_type,shard")
    sync.add_argument(
        "--blocks-only", action="store_true",
        help="skip the head-WAL drain (blocks only, the pre-WAL behavior)",
    )
    sync.set_defaults(fn=cmd_sync)

    reb = sub.add_parser(
        "reblock",
        help="distributed block compaction: merge blocks (overlap OK) "
             "into fresh time-partitioned ones, applying tombstones, "
             "first-write-wins on duplicate samples",
    )
    reb.add_argument("--block", action="append",
                     help="input block dir (repeatable)")
    reb.add_argument("--block-parent",
                     help="compact every block under this data dir")
    reb.add_argument("--out", required=True)
    reb.add_argument("--labels", default="__name__,event_type,shard")
    reb.add_argument("--span-ms", type=int, default=86_400_000)
    reb.set_defaults(fn=cmd_reblock)

    dele = sub.add_parser(
        "delete",
        help="store-side sample deletion: drop matching series' samples "
             "in [mint, maxt], rewriting only affected directories; "
             "--from-wal applies the WAL's delete-API tombstones (the "
             "retro_stones remedy)",
    )
    dele.add_argument("--store", required=True)
    dele.add_argument("--match", action="append", default=[],
                      help="label=value equality matcher (repeatable)")
    dele.add_argument("--mint", type=int, default=None)
    dele.add_argument("--maxt", type=int, default=None)
    dele.add_argument("--from-wal", default=None,
                      help="WAL dir: resolve+apply its tombstones instead")
    dele.add_argument("--labels", default="__name__,event_type,shard")
    dele.set_defaults(fn=cmd_delete)

    mnt = sub.add_parser(
        "maintain-blocks",
        help="one block-farm maintenance tick (Thanos-compactor "
             "semantics): downsample aged raw blocks into "
             "recording-rule rollup blocks, then delete blocks past "
             "the retention horizon crash-safely",
    )
    mnt.add_argument("--data-dir", required=True,
                     help="raw block farm (Prometheus data dir layout)")
    mnt.add_argument("--labels", default="__name__,event_type,shard")
    mnt.add_argument("--retention-ms", type=int, default=None,
                     help="delete blocks whose window aged past this")
    mnt.add_argument("--downsample-step-ms", type=int, default=None,
                     help="rollup resolution (e.g. 300000 for 5m)")
    mnt.add_argument("--downsample-dir", default=None,
                     help="where rollup blocks land (required with "
                          "--downsample-step-ms)")
    mnt.add_argument("--downsample-after-ms", type=int, default=0,
                     help="only roll up blocks entirely older than this")
    mnt.add_argument("--span-ms", type=int, default=86_400_000)
    mnt.add_argument("--now-ms", type=int, default=None,
                     help="clock override for reproducible runs")
    mnt.set_defaults(fn=cmd_maintain_blocks)

    ing = sub.add_parser(
        "ingest",
        help="drain a receiver spool (remote-write bodies, scrape "
             "captures, or OTLP bodies) into a chunk store; re-runs "
             "pick up only new files (streaming checkpoint)",
    )
    ing.add_argument("--spool", required=True,
                     help="directory of spooled request/capture files")
    ing.add_argument("--store", required=True)
    ing.add_argument("--path-glob", default=None,
                     help="only drain spool files matching this glob — "
                          "pass req-*.bin when the spool is MIXED (one "
                          "receiver port serving remote-write AND OTLP)")
    ing.add_argument("--format", choices=["remote-write", "scrape", "otlp"],
                     required=True)
    ing.add_argument("--labels", default="__name__,event_type,shard")
    ing.add_argument("--span-ms", type=int, default=86_400_000)
    ing.add_argument("--scrape-ts", type=int, default=None,
                     help="scrape format: timestamp (ms) for lines "
                          "without one")
    ing.add_argument("--relabel", default=None,
                     help="relabel rules file (YAML or JSON list, the "
                     "Prometheus relabel_configs shape) applied to "
                     "decoded samples before the store write")
    ing.add_argument("--otlp-translation",
                     choices=["underscores", "no_utf8_escaping"],
                     default="underscores",
                     help="otlp format: 'no_utf8_escaping' keeps dotted/"
                          "UTF-8 attribute names losslessly (stored as "
                          "U__ value-encoded columns; pass RAW names in "
                          "--labels)")
    ing.add_argument("--histograms", action="store_true",
                     help="remote-write format: also drain native "
                          "histograms, classic-expanded (labels must "
                          "include 'le')")
    ing.add_argument("--finalize", action="store_true",
                     help="compact parts and assign dense series ids "
                          "after the drain")
    ing.set_defaults(fn=cmd_ingest)

    exp = sub.add_parser(
        "export",
        help="chunk store -> real Prometheus TSDB block dir (reverse "
             "converter; promtool/Thanos can open the result)",
    )
    exp.add_argument("--store", required=True)
    exp.add_argument("--out", required=True, help="block directory to write")
    exp.add_argument("--matcher", action="append", default=[],
                     help="export only matching series (repeatable)")
    exp.add_argument("--mint", type=int, default=None)
    exp.add_argument("--maxt", type=int, default=None)
    exp.add_argument("--max-segment-bytes", type=int, default=512 << 20)
    exp.add_argument("--span-ms", type=int, default=None,
                     help="split the export into time-bounded blocks of "
                          "this span, ULID-named under --out (the "
                          "Prometheus data-dir layout) instead of one "
                          "monolithic block")
    exp.set_defaults(fn=cmd_export)

    snaps = sub.add_parser(
        "snapshots", help="list a store's published snapshot manifests"
    )
    snaps.add_argument("--store", required=True)
    snaps.set_defaults(fn=cmd_snapshots)

    stats = sub.add_parser(
        "stats",
        help="print per-label cardinalities + series count "
        "(/api/v1/status/tsdb analog)",
    )
    stats.add_argument("--store", required=True)
    stats.set_defaults(fn=cmd_stats)

    vac = sub.add_parser(
        "vacuum",
        help="compact over-threshold parts, drop retired snapshot dirs "
        "past the grace window, optionally sweep day-partition retention",
    )
    vac.add_argument("--store", required=True)
    vac.add_argument("--labels", default="__name__,event_type")
    vac.add_argument("--max-parts", type=int, default=8)
    vac.add_argument("--max-files", type=int, default=32)
    vac.add_argument("--keep-versions", type=int, default=2)
    vac.add_argument("--keep-days", type=int, default=None)
    vac.set_defaults(fn=cmd_vacuum)

    srv = sub.add_parser(
        "serve",
        help="serve the Prometheus HTTP query API (+ remote-read, "
        "federation) over a chunk store",
    )
    srv.add_argument("--store", action="append", required=True,
                     help="chunk store or writer root (repeat to fan "
                          "several stores into one series set)")
    srv.add_argument("--replica-label", default=None,
                     help="dedup HA replicas on this label "
                          "(Thanos-Query-style windowed vote)")
    srv.add_argument("--dedup-window", type=int, default=5 * 60 * 1000,
                     help="replica-dedup vote window ms")
    srv.add_argument("--labels", default=None,
                     help="comma-separated label columns")
    srv.add_argument("--wal", default=None,
                     help="head WAL dir: serve store + live head delta")
    srv.add_argument("--exemplar-store", default=None)
    srv.add_argument("--admin", action="store_true",
                     help="enable /api/v1/admin/tsdb/* (delete_series "
                     "store rewrite, snapshot, clean_tombstones) — "
                     "requires exactly one --store writer root and "
                     "--labels, like --web.enable-admin-api")
    srv.add_argument("--rules", default=None,
                     help="rule file (Prometheus groups: YAML or JSON) "
                     "listed and state-evaluated by /api/v1/rules")
    srv.add_argument("--external-label", action="append", default=None,
                     metavar="K=V",
                     help="external label stamped onto /federate output "
                     "where a series lacks it (repeatable; "
                     "prometheus.yml global.external_labels)")
    srv.add_argument("--metadata", default=None,
                     help="JSON file of [metric, type, help] or "
                          "[metric, type, help, unit] entries for "
                          "/api/v1/metadata and /federate")
    srv.add_argument("--lookback", type=int, default=5 * 60 * 1000)
    srv.add_argument("--max-seconds", type=float, default=None,
                     help="exit after N seconds (default: run forever)")
    srv.set_defaults(fn=cmd_serve)

    rul = sub.add_parser(
        "rules",
        help="one rule-group evaluation interval -> recording + ALERTS "
        "series appended to a store",
    )
    rul.add_argument("--store", required=True, help="input chunk store")
    rul.add_argument("--rules", required=True, help="Prometheus rule-file YAML (groups:) or single-group JSON")
    rul.add_argument("--out", required=True, help="output store root")
    rul.add_argument("--labels", default=None,
                     help="input store label columns")
    rul.add_argument("--out-labels", required=True,
                     help="output store label schema (comma-separated)")
    rul.add_argument("--start", type=int, required=True)
    rul.add_argument("--end", type=int, required=True)
    rul.add_argument("--step", type=int, required=True)
    rul.add_argument("--lookback", type=int, default=5 * 60 * 1000)
    rul.add_argument("--no-alerts", action="store_true")
    rul.add_argument("--restore", action="store_true",
                     help="read ALERTS_FOR_STATE back from --out before "
                     "evaluating so chained interval runs carry `for` "
                     "state across restarts")
    rul.add_argument("--compact", action="store_true")
    rul.set_defaults(fn=cmd_rules)

    cr = sub.add_parser(
        "check-rules",
        help="validate rule files (promtool `check rules` analog): "
        "YAML/JSON shape, PromQL expressions, names; no Spark session",
    )
    cr.add_argument("rules", nargs="+", help="rule file path(s)")
    cr.set_defaults(fn=cmd_check_rules)

    vb = sub.add_parser(
        "verify-block",
        help="integrity-check TSDB block dir(s): meta/index/chunk CRCs, "
        "sample bounds, tombstone refs",
    )
    vb.add_argument("--block", action="append", required=True,
                    help="block directory (repeat for several)")
    vb.add_argument("--no-decode", action="store_true",
                    help="skip XOR decode + sample-bounds check")
    vb.set_defaults(fn=cmd_verify_block)

    sct = sub.add_parser(
        "scrape-targets",
        help="one scrape tick: GET /metrics from targets into a spool "
        "(pair with `ingest --format scrape`)",
    )
    sct.add_argument("--spool", required=True)
    sct.add_argument(
        "--target", action="append", required=True,
        help="URL[;label=value,...] (repeat); labels are woven into "
        "every scraped sample (the job/instance a Prometheus attaches)",
    )
    sct.add_argument("--ts", type=int, default=None,
                     help="scrape timestamp ms (default: now)")
    sct.add_argument("--timeout", type=float, default=10.0)
    sct.set_defaults(fn=cmd_scrape_targets)

    args = parser.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
