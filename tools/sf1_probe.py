#!/usr/bin/env python3
"""sf1-scale validation of the heavy LLM-pipeline rows (round-5 verdict
item 7).  The driver ships testdata only up to sf0.1, so this tool
synthesizes a 10x corpus (.work/sf1/) FROM sf0.1 with Spark itself and
measures each heavy row at sf0.1 vs sf1, writing BENCH_local_sf1.json
with per-row walls and the growth ratio per 10x data step.

Synthesis preserves the statistical shape the operators care about while
making copies genuinely distinct (no artificial cross-copy duplicates):

- ``documents``: 10 copies; copy k suffixes every word with ``·k`` (one
  regexp_replace), so every shingle/n-gram differs across copies while
  WITHIN-copy near-dup structure mirrors the original exactly — the
  dup-rate distribution scales, the dup content doesn't collide.
- ``embeddings``: 10 copies; copy k cyclically rotates the 64 dims by k
  (norms and within-copy geometry preserved; cross-copy cosines are
  generic-vector noise, so copies don't pile into the same SemDeDup
  ε-balls).

Semantic dedup is probed at the paper's operating point — k scaled with
n (arXiv:2303.09540) — because the fixed-k corpus row q92 is
DOCUMENTED (and now guard-enforced) to require k ∝ n; holding k fixed
across a 10x step measures the misconfiguration, not the operator.

Usage: python tools/sf1_probe.py [--rebuild]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF01 = "/root/testdata/sf0.1"
WORK = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".work"
)
SF1 = os.path.join(WORK, "sf1")
BENCH_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "BENCH_local_sf1.json",
)


def _load_bench() -> dict:
    if not os.path.exists(BENCH_PATH):
        return {}
    try:
        with open(BENCH_PATH) as fh:
            return json.load(fh)
    except Exception:
        return {}


COPIES = 10
ID_STRIDE = 10_000_000

# TSDB/PromQL rows that read events directly (not the chunk store):
# probed with --tsdb; the default probe set is the LLM-pipeline block
HEAVY_TSDB = [
    "q34_promql_rate",
    "q43_promql_counter_reset",
    # r17 fused paths at 10x: composed-agg pushdown, query_range_many
    # batch fusion, histogram mean-side fusion
    "q19_promql_count_over_time",
    "q133_promql_ts_of",
    "q140_histogram_stddev",
    "q46_sessionize",
    "q53_promql_histogram_quantile",
    "q56_promql_quantile_over_time",
    "q67_promql_quantile_agg",
    "q73_promql_time_functions",
    "q74_promql_subquery",
    "q75_promql_holt_winters",
    # WAL ingest at 10x samples/series: the head-drain and the full
    # data-dir convert (block + WAL union)
    "q108_wal_head_drain",
    "q109_data_dir_convert",
    # the r09 push/pull ingest additions at 10x: remote-write protobuf
    # decode (16 payloads, ~62k samples each at sf1) and the JVM-side
    # scrape-text parse (~1M exposition lines)
    "q111_remote_write_ingest",
    "q113_scrape_text_parse",
    # distributed block compaction: two overlapping ~1M-sample blocks +
    # tombstone -> merged day blocks (fixture caches per sf; the timed
    # row is the output-farm decode+aggregate)
    "q114_block_compaction",
    # the r10 operational additions at 10x: the full receiver push path
    # (POST -> spool -> streaming drain -> store -> PromQL; fixture
    # caches per sf, the timed row is the PromQL range query over the
    # pushed store) and the block-farm maintenance tick (downsample +
    # retention fixture, timed row decodes the rollup farm)
    "q115_remote_write_push_to_promql",
    "q116_block_farm_maintenance",
    # store-side delete pass: fixture builds the store AND runs the
    # delete once per sf; the timed row reads the post-delete live set
    "q117_store_delete_pass",
    # native histograms at 10x: per-(event_type, day) sparse histograms
    # in a WAL (fixture caches per sf), drain + classic expansion +
    # histogram_quantile is the timed row
    "q118_native_histogram_quantile",
    "q119_native_histogram_fraction",
    # the r11 additions at 10x: exemplar drain (~10x exemplar records),
    # metadata decode (volume stays one entry per family — the probe
    # verifies the SERIES pass scales, not the metadata walk), and the
    # native-histogram store lifecycle on the signed metric (negative
    # buckets + the le<=0 quantile rule at scale)
    "q120_wal_exemplars",
    "q121_wal_metric_metadata",
    "q122_native_histogram_store_roundtrip",
    "q123_exemplar_store_query",
    # OTLP ingest at 10x: ~10x the datapoints per captured POST body,
    # decode one task per payload (+ the r14 delta->cumulative window)
    "q124_otlp_ingest",
    # the r14 additions at 10x: relabel pipeline over ~1M scrape lines
    # (all-JVM column ops after the parse), limitk/limit_ratio series
    # hashing over 10x samples, and the stddev/stdvar bucket variance
    # over 10x observations.  q139 (admin delete API) is deliberately
    # absent: it builds + mutates a pid-scoped store per call and its
    # scale surfaces are q117 (delete pass) + q126 (API wire), both
    # probed.
    "q137_relabel_sharding",
    "q138_promql_limit",
    "q140_histogram_stddev",
    # r15 additions at 10x: live rules state + alert restore (query_range
    # per alerting rule over 10x samples), the UTF-8 name round-trip
    # (U__ column store + quoted-selector eval over 10x day-counts), and
    # the serve-path bounded replica vote behind a real socket
    "q141_rules_api",
    "q142_alert_restore",
    "q143_utf8_names_roundtrip",
    "q144_serve_replica_dedup",
]

HEAVY = [
    "q22_exact_dedup",
    "q23_minhash_lsh_pairs",
    "q26_cosine_topk",
    "q27_ann_lsh_topk",
    "q28_embedding_near_dup",
    "q47_dedup_clusters",
    "q69_decontaminate",
    "q70_repetition_stats",
    "q93_exact_substring_spans",
    "q98_exact_substring_removal",
    "q99_lm_perplexity_score",
    # r12: sequence packing at 10x docs — the distributed prefix sum
    # (quantile buckets + per-bucket window) is the scale surface
    "q128_sequence_packing",
]


def build_sf1_events(spark) -> None:
    """10x events: copy k shifts every sample by +k ms (same series set,
    10x the samples per series — the TSDB long-retention shape) and
    offsets event_id so dedup keys stay unique.  Written as
    timestamp[us] ts like the shipped testdata, so the DuckDB oracles'
    ``epoch_ms(ts)`` keeps its timestamp->bigint overload and corpus
    rows can be hash-checked against this dir too."""
    from pyspark.sql import functions as F

    from tsdb_parquet_spark.catalog import normalize_event_time

    ev = normalize_event_time(
        spark.read.parquet(f"{SF01}/events.parquet")
    )
    copies = []
    for k in range(COPIES):
        copies.append(
            ev.select(
                (F.col("event_id") + F.lit(k * 1_000_000_000)).alias(
                    "event_id"
                ),
                # integer division: `/` is double-typed and epoch-nanos
                # (~1.8e18) exceed a double's 2^53 exact-integer range,
                # which would skew ~half the written timestamps by 1us
                F.timestamp_micros(
                    F.expr(f"(ts + {k * 1_000_000}L) div 1000L")
                ).alias("ts"),  # +k ms, back to timestamp[us]
                "user_id",
                "event_type",
                "value",
                "props",
            )
        )
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    out.repartition(16).write.mode("overwrite").parquet(
        f"{SF1}/events.parquet"
    )


def build_sf1(spark) -> None:
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF01}/documents.parquet")
    emb = spark.read.parquet(f"{SF01}/embeddings.parquet")
    dim = emb.select(F.size("embedding")).head()[0]
    doc_copies = []
    emb_copies = []
    for k in range(COPIES):
        d = docs
        if k > 0:
            # every word gets a copy-specific suffix: all shingles differ
            # across copies, within-copy structure untouched
            d = d.withColumn(
                "text", F.regexp_replace(F.col("text"), r"(\S+)", f"$1·{k}")
            )
        doc_copies.append(
            d.withColumn("doc_id", F.col("doc_id") + F.lit(k * ID_STRIDE))
        )
        rot = emb
        if k > 0:
            rot = rot.withColumn(
                "embedding",
                F.expr(
                    f"concat(slice(embedding, {dim - k + 1}, {k}), "
                    f"slice(embedding, 1, {dim - k}))"
                ),
            )
        emb_copies.append(
            rot.withColumn("vec_id", F.col("vec_id") + F.lit(k * ID_STRIDE))
        )
    out_docs = doc_copies[0]
    for c in doc_copies[1:]:
        out_docs = out_docs.unionByName(c)
    out_emb = emb_copies[0]
    for c in emb_copies[1:]:
        out_emb = out_emb.unionByName(c)
    # multiple row groups / files so sf1 scans parallelize like real data
    out_docs.repartition(16).write.mode("overwrite").parquet(
        f"{SF1}/documents.parquet"
    )
    out_emb.repartition(8).write.mode("overwrite").parquet(
        f"{SF1}/embeddings.parquet"
    )


def build_sf3_events(spark) -> None:
    """30x events with the same +k ms shift as sf1 — the second scale
    step for the INGEST rows (WAL drain, data-dir convert, scrape
    parse), so their growth carries a measured exponent like the heavy
    text rows instead of a single-step ratio."""
    from pyspark.sql import functions as F

    from tsdb_parquet_spark.catalog import normalize_event_time

    ev = normalize_event_time(
        spark.read.parquet(f"{SF01}/events.parquet")
    )
    copies = []
    for k in range(COPIES_SF3):
        copies.append(
            ev.select(
                (F.col("event_id") + F.lit(k * 1_000_000_000)).alias(
                    "event_id"
                ),
                F.timestamp_micros(
                    F.expr(f"(ts + {k * 1_000_000}L) div 1000L")
                ).alias("ts"),
                "user_id",
                "event_type",
                "value",
                "props",
            )
        )
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    out.repartition(32).write.mode("overwrite").parquet(
        f"{SF3}/events.parquet"
    )


#: second scale step (round-6 verdict item 5): 30x documents, so the
#: sf1->sf3 ratio turns the "overhead-dominated at sf1" ARGUMENT into a
#: MEASUREMENT — per-10x growth extrapolated from the 3x step must stay
#: <= 3.0 for the heavy text rows
COPIES_SF3 = 30
SF3 = os.path.join(WORK, "sf3")


def build_sf3_documents(spark) -> None:
    """30x documents with the same word-suffix decorrelation as sf1 (the
    flagged heavy rows — q69/q70/q93 — are documents-only, so sf3 skips
    embeddings/events)."""
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF01}/documents.parquet")
    copies = []
    for k in range(COPIES_SF3):
        d = docs
        if k > 0:
            d = d.withColumn(
                "text", F.regexp_replace(F.col("text"), r"(\S+)", f"$1·{k}")
            )
        copies.append(
            d.withColumn("doc_id", F.col("doc_id") + F.lit(k * ID_STRIDE))
        )
    out = copies[0]
    for c in copies[1:]:
        out = out.unionByName(c)
    out.repartition(32).write.mode("overwrite").parquet(
        f"{SF3}/documents.parquet"
    )


def semantic_dedup_scaled(spark, sf_dir: str):
    """SemDeDup at the paper's operating point: k ∝ n (here n/250 so
    clusters stay ~250 vectors at both scales)."""
    from pyspark.sql import functions as F

    from tsdb_parquet_spark.functions import similarity as SIM

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    n = emb.count()
    k = max(8, n // 250)
    cents = SIM.ivf_centroids(dim=64, n_centroids=k, seed="sf1-probe")
    return SIM.semantic_dedup(
        emb, cents, threshold=0.95, keep="first"
    ).agg(F.sum(F.col("dropped").cast("long")).alias("n_dropped"))


def embedding_near_dup_scaled(spark, sf_dir: str):
    """near_duplicate_pairs at its scale operating point: bucket width
    derived from n (target ~16 rows/bucket) instead of the fixed 8 bits
    the oracle-scale corpus row q28 uses — q28's fixed width is the
    measured quadratic (4.5x per 10x), this is the documented remedy."""
    from pyspark.sql import functions as F

    from tsdb_parquet_spark.functions import similarity as SIM

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return SIM.near_duplicate_pairs(
        emb, threshold=0.99, target_bucket_rows=16
    ).agg(F.count(F.lit(1)).alias("n_pairs"))


def block_export_scaled(spark, sf_dir: str):
    """Reverse convert at scale (q112's kernel WITHOUT its fixture
    cache): re-export the sf's chunk store to a throwaway block dir
    every rep, so the timed wall is the export itself — executor-side
    RAW->XOR re-encode + segment writes + driver index assembly — not
    a cached readback."""
    import shutil

    from tsdb_parquet_spark.corpus import events_chunk_store
    from tsdb_parquet_spark.tsdb_block import export_block

    tag = os.path.basename(sf_dir.rstrip("/"))
    out = os.path.join(WORK, f"export_probe_{tag}")
    shutil.rmtree(out, ignore_errors=True)
    store = events_chunk_store(spark, sf_dir)
    export_block(spark.read.parquet(store), out)
    return spark.range(1)


def store_probe(spark) -> dict:
    """S5/S6 write path at 10x: time the COLD chunk-store build
    (samples -> chunks -> sorted parts -> compact) at sf0.1 and at the
    synthetic sf1 events, plus a chunk-store read (q16-shape select)
    over each result."""
    import shutil

    from pyspark.sql import functions as F

    from tsdb_parquet_spark.corpus import build_events_chunk_store
    from tsdb_parquet_spark.querier import ChunkQuerier

    # untimed warm build (sf0.001) so neither timed build pays the
    # one-time codegen/JIT of the write pipeline — without this the
    # first-timed scale looks ~4x slower than the second
    warm_dir = os.path.join(WORK, "sf1_store_probe_warm")
    shutil.rmtree(warm_dir, ignore_errors=True)
    build_events_chunk_store(
        spark, "/root/testdata/sf0.001", os.path.join(warm_dir, "compact")
    )
    shutil.rmtree(warm_dir, ignore_errors=True)
    out: dict = {}
    for label, sf_dir in [("sf0.1", SF01), ("sf1", SF1)]:
        tmp = os.path.join(WORK, f"sf1_store_probe_{label}")
        shutil.rmtree(tmp, ignore_errors=True)
        t0 = time.perf_counter()
        compact = build_events_chunk_store(
            spark, sf_dir, os.path.join(tmp, "compact")
        )
        build_s = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        q = ChunkQuerier.from_parquet(spark, compact)
        n = (
            q.select_samples(labels=["event_type"])
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()[0]["n"]
        )
        read_s = round(time.perf_counter() - t0, 3)
        out[label] = {"build": build_s, "read": read_s, "rows": int(n)}
        shutil.rmtree(tmp, ignore_errors=True)
    out["build_ratio_per_10x"] = round(
        out["sf1"]["build"] / out["sf0.1"]["build"], 2
    )
    out["read_ratio_per_10x"] = round(
        out["sf1"]["read"] / out["sf0.1"]["read"], 2
    )
    return out


def main() -> None:
    from tsdb_parquet_spark.session import get_spark

    spark = get_spark(app_name="sf1-probe")
    spark.sparkContext.setLogLevel("ERROR")
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    if "--rebuild" in sys.argv or not os.path.exists(
        f"{SF1}/documents.parquet"
    ):
        t0 = time.perf_counter()
        build_sf1(spark)
        print(f"built {SF1} in {time.perf_counter() - t0:.1f}s")

    if "--oracle" in sys.argv:
        # correctness at 10x, not just wall time: hash-exact DuckDB
        # cross-check of corpus rows over the synthetic sf1 tables
        from tsdb_parquet_spark.oracle import check_corpus

        if not os.path.exists(f"{SF1}/documents.parquet"):
            build_sf1(spark)
        if not os.path.exists(f"{SF1}/events.parquet"):
            build_sf1_events(spark)
        names = [
            "q22_exact_dedup",
            # q28 at sf1 is the REAL dynamic-width proof: n=20050 derives
            # bits_per_band=11 (above the 8-bit floor), so a hash match
            # here shows engine and oracle computing the SAME width from
            # COUNT(*) — not just agreeing at the floor like sf0.01
            "q28_embedding_near_dup",
            "q30_text_analysis",
            "q34_promql_rate",
            "q43_promql_counter_reset",
            "q67_promql_quantile_agg",
            "q70_repetition_stats",
            "q93_exact_substring_spans",
            "q101_png_pixel_pipeline",
            "q102_promql_sort_by_label",
            # r17 fused paths, hash-exact at 10x: composed-agg
            # pushdown, batch fusion, histogram mean fusion
            "q19_promql_count_over_time",
            "q133_promql_ts_of",
            "q140_histogram_stddev",
            # the r08 block chain at 10x: real-block convert (q105),
            # block -> store -> PromQL (q106), 3-block farm (q107)
            "q105_tsdb_block_convert",
            "q106_block_convert_promql",
            "q107_multi_block_convert",
            # the r09 WAL chain at 10x — where the fixture's first-write-
            # wins dedup rule actually engages (shifted event copies
            # collide at ms resolution), so a hash match proves engine
            # and oracle apply the SAME append semantics, not just agree
            # on collision-free data like sf0.01
            "q108_wal_head_drain",
            "q109_data_dir_convert",
            # the r09 ingest additions at 10x: remote-write (v1+v2
            # protobuf, series split across payloads), the reverse
            # block export roundtrip, and scrape-text parse (shifted
            # copies make escape-heavy lines 10x denser per target)
            "q111_remote_write_ingest",
            "q112_block_export_roundtrip",
            "q113_scrape_text_parse",
            "q114_block_compaction",
            # the r10 chains at 10x: receiver push -> store -> PromQL
            # (instant-vector parity over the pushed store) and the
            # maintenance tick's rollup blocks (order-independent
            # aggregates, so collisions cannot tie-break differently)
            "q115_remote_write_push_to_promql",
            "q116_block_farm_maintenance",
            "q117_store_delete_pass",
            # native-histogram quantiles at 10x: engine and oracle must
            # compute the SAME exponential buckets over 10x the values
            "q118_native_histogram_quantile",
            "q119_native_histogram_fraction",
            # the r11 additions at 10x: exemplar/metadata decode and the
            # signed-metric store lifecycle (negative buckets + the
            # le<=0 lowest-bucket rule under 10x the observations)
            "q120_wal_exemplars",
            "q121_wal_metric_metadata",
            "q122_native_histogram_store_roundtrip",
            "q123_exemplar_store_query",
            "q124_otlp_ingest",
            # the r12 additions at 10x: the query-API JSON wire and the
            # remote-read protobuf wire round-trips over 10x events
            # (value/timestamp string formats must stay bit-exact at any
            # magnitude the bigger corpus produces), and sequence
            # packing's distributed prefix sum vs DuckDB's global window
            # over 10x docs
            "q126_query_api_roundtrip",
            "q129_remote_read",
            "q128_sequence_packing",
            # rules + replica dedup: the for-state islands and the
            # windowed replica vote over 10x samples per bucket
            "q130_alerting_rule",
            "q131_rule_group",
            "q134_replica_dedup",
            # r13 additions at 10x: exemplar attribute/trace-id
            # translation over 10x days, and the streamed remote-read
            # chunk frames (XOR encode + CRC per frame) over 10x samples
            "q135_otlp_exemplars",
            "q136_remote_read_streamed",
            # r14 additions at 10x: the hashmod shard assignment must
            # agree with DuckDB's md5 recomputation over 10x lines, the
            # limit family's complement partition must stay exact over
            # 10x series-step pairs, the stddev variance over 10x
            # observations, and the OTLP delta running sum over 10x
            # increments (q124 above now carries the delta arms too)
            "q137_relabel_sharding",
            "q138_promql_limit",
            "q140_histogram_stddev",
            # r15 additions at 10x: rules live-state wire, alert
            # restore adoption, the UTF-8 quoted-name eval vs DuckDB
            # recomputing per-day cells, and the socket replica vote
            # vs the clipped SQL vote
            "q141_rules_api",
            "q142_alert_restore",
            "q143_utf8_names_roundtrip",
            "q144_serve_replica_dedup",
            # r16 addition at 10x: the federate round-trip now carries
            # the quoted UTF-8 dotted-metric arm (writer + parser over
            # 10x series; the final-day counts grow 10x)
            "q127_federate",
        ]
        results = {}
        for name in names:
            for r in check_corpus(spark, SF1, names=[name]):
                results[name] = {
                    "ok": bool(r.ok),
                    "rows": int(r.spark_rows),
                }
                print("sf1-oracle", "OK" if r.ok else "FAIL", name,
                      r.spark_rows, flush=True)
        doc = _load_bench()
        doc["oracle_at_sf1"] = results
        with open(BENCH_PATH, "w") as fh:
            json.dump(doc, fh, indent=1)
            fh.write("\n")
        print(json.dumps({k: v["ok"] for k, v in results.items()}))
        return

    if "--step2" in sys.argv:
        # two-step growth: time the flagged heavy text rows at sf1 AND
        # sf3 (30x), extrapolate a per-10x ratio from the 3x step —
        # log-linear: ratio_10x = (t_sf3/t_sf1) ^ (ln 10 / ln 3)
        import math

        names = [a for a in sys.argv[1:] if not a.startswith("--")] or [
            "q69_decontaminate",
            "q70_repetition_stats",
            "q93_exact_substring_spans",
        ]
        if not os.path.exists(f"{SF1}/documents.parquet"):
            build_sf1(spark)
        if not os.path.exists(f"{SF3}/documents.parquet"):
            t0 = time.perf_counter()
            build_sf3_documents(spark)
            print(f"built {SF3} in {time.perf_counter() - t0:.1f}s")
        step2: dict[str, dict] = {}
        for name in names:
            fn = qs[name]
            # warm the plan shape untimed at sf0.1
            try:
                fn(spark, SF01).write.format("noop").mode("overwrite").save()
            except Exception as exc:
                print(f"warm {name}: {exc}", file=sys.stderr)
            row = {}
            # min-of-3: the first q70 step2 run measured a phantom 1.12
            # growth exponent from min-of-2 under memory pressure; the
            # isolated-warm re-measurement was 0.58 — one more rep keeps
            # the min honest
            for label, sf_dir in [("sf1", SF1), ("sf3", SF3)]:
                best = None
                for _ in range(3):
                    start = time.perf_counter()
                    fn(spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    elapsed = round(time.perf_counter() - start, 3)
                    best = elapsed if best is None else min(best, elapsed)
                row[label] = best
            ratio_3x = row["sf3"] / row["sf1"]
            row["ratio_sf1_to_sf3"] = round(ratio_3x, 2)
            row["ratio_per_10x_extrapolated"] = round(
                ratio_3x ** (math.log(10) / math.log(3)), 2
            )
            row["growth_exponent"] = round(
                math.log(ratio_3x) / math.log(3), 2
            )
            step2[name] = row
            print(name, row, flush=True)
        doc = _load_bench()
        doc["step2_sf1_to_sf3"] = {
            "note": (
                "second scale step: sf3 = 30x sf0.1 documents (same "
                "word-suffix decorrelation). growth_exponent e means "
                "wall ~ n^e over the sf1->sf3 step; "
                "ratio_per_10x_extrapolated = (t3/t1)^(ln10/ln3), "
                "target <= 3.0"
            ),
            "rows": step2,
        }
        with open(BENCH_PATH, "w") as fh:
            json.dump(doc, fh, indent=1)
            fh.write("\n")
        print(
            json.dumps(
                {
                    k: v["ratio_per_10x_extrapolated"]
                    for k, v in step2.items()
                }
            )
        )
        return

    if "--tsdb-step2" in sys.argv:
        # growth EXPONENTS for the ingest rows: measure at sf1 (10x)
        # and sf3 (30x) events, extrapolate per-10x from the 3x step —
        # the same math as --step2 for the text rows
        import math

        names = [a for a in sys.argv[1:] if not a.startswith("--")] or [
            "q108_wal_head_drain",
            "q109_data_dir_convert",
            "q113_scrape_text_parse",
        ]
        if not os.path.exists(f"{SF1}/events.parquet"):
            build_sf1_events(spark)
        if not os.path.exists(f"{SF3}/events.parquet"):
            t0 = time.perf_counter()
            build_sf3_events(spark)
            print(f"built {SF3}/events in {time.perf_counter() - t0:.1f}s")
        step2: dict[str, dict] = {}
        for name in names:
            fn = qs[name]
            try:
                fn(spark, SF01).write.format("noop").mode("overwrite").save()
            except Exception as exc:
                print(f"warm {name}: {exc}", file=sys.stderr)
            row = {}
            for label, sf_dir in [("sf1", SF1), ("sf3", SF3)]:
                best = None
                for _ in range(3):
                    start = time.perf_counter()
                    fn(spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    elapsed = round(time.perf_counter() - start, 3)
                    best = elapsed if best is None else min(best, elapsed)
                row[label] = best
            r3 = row["sf3"] / row["sf1"]
            row["ratio_sf1_to_sf3"] = round(r3, 2)
            row["ratio_per_10x_extrapolated"] = round(
                r3 ** (math.log(10) / math.log(3)), 2
            )
            row["growth_exponent"] = round(math.log(r3) / math.log(3), 2)
            step2[name] = row
            print(name, row, flush=True)
        doc = _load_bench()
        doc["tsdb_step2_sf1_to_sf3"] = {
            "note": (
                "ingest rows at sf1 (10x) and sf3 (30x) EVENTS (same "
                "+k ms shift synthesis); growth_exponent e means wall "
                "~ n^e over the 3x step; per-10x extrapolation target "
                "<= 3.0.  Fixture builds (WAL/data-dir/scrape payloads "
                "per sf) happen in the first rep and are excluded by "
                "min-of-3."
            ),
            "rows": step2,
        }
        with open(BENCH_PATH, "w") as fh:
            json.dump(doc, fh, indent=1)
            fh.write("\n")
        print(
            json.dumps(
                {k: v["growth_exponent"] for k, v in step2.items()}
            )
        )
        return

    if "--blocks" in sys.argv:
        # r07 verdict item 4 probe: the multi-block farm convert at 10x
        # events — one task per block (blocks_to_chunk_frame) vs the
        # single-block driver-parsed shape, full decode both ways.
        from pyspark.sql import functions as F

        from tsdb_parquet_spark.chunks import sample_structs, with_sample_arrays
        from tsdb_parquet_spark.corpus import (
            _events_tsdb_block,
            _events_tsdb_block_farm,
        )
        from tsdb_parquet_spark.tsdb_block import (
            block_to_chunk_frame,
            blocks_to_chunk_frame,
        )

        if not os.path.exists(f"{SF1}/events.parquet"):
            build_sf1_events(spark)

        t0 = time.perf_counter()
        single_dir = _events_tsdb_block(spark, SF1)
        farm_dirs = _events_tsdb_block_farm(spark, SF1)
        build_s = round(time.perf_counter() - t0, 2)

        def decode_all(frame):
            return (
                with_sample_arrays(frame)
                .select(F.explode(sample_structs()).alias("s"))
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()[0]["n"]
            )

        result = {"fixture_build_s": build_s}
        for label, make in (
            ("single_block", lambda: block_to_chunk_frame(spark, single_dir)),
            (
                "farm_3_blocks",
                lambda: blocks_to_chunk_frame(
                    spark, farm_dirs, ["__name__", "event_type", "shard"]
                ),
            ),
        ):
            n = decode_all(make())  # warm
            best = None
            for _ in range(2):
                start = time.perf_counter()
                decode_all(make())
                e = round(time.perf_counter() - start, 3)
                best = e if best is None else min(best, e)
            result[label] = {"convert_decode_s": best, "n_samples": n}
        result["farm_tasks"] = blocks_to_chunk_frame(
            spark, farm_dirs, ["__name__", "event_type", "shard"]
        ).rdd.getNumPartitions()
        doc = _load_bench()
        doc["block_convert_probe"] = {
            "note": (
                "10x events as a real TSDB block (single, driver-parsed "
                "index, chunk fetches spread over all cores) and a "
                "3-block calendar farm (executor-parsed index, one task "
                "per block); convert+full-XOR-decode wall, min-of-2 "
                "warm.  Expected crossover, measured: with blocks << "
                "cores the farm shape idles cores (3 tasks on 32 cores "
                "-> 2.1 s vs 1.5 s single-block/all-cores); the farm "
                "shape is for blocks >> cores (thousands of blocks), "
                "where the single-block shape serializes index parses "
                "on the driver instead"
            ),
            **result,
        }
        with open(BENCH_PATH, "w") as fh:
            json.dump(doc, fh, indent=1)
            fh.write("\n")
        print(json.dumps(result))
        return

    if "--q70shapes" in sys.argv:
        # r07 verdict item 7: q70's default (codegen-shuffle) shape
        # extrapolated 7.68x/10x (exponent 0.89) — measure BOTH physical
        # shapes at sf1 AND sf3 so the crossover rule in quality.py's
        # docstring carries numbers, not vibes.
        import math

        from tsdb_parquet_spark.catalog import Catalog
        from tsdb_parquet_spark.functions.quality import repetition_stats

        if not os.path.exists(f"{SF1}/documents.parquet"):
            build_sf1(spark)
        if not os.path.exists(f"{SF3}/documents.parquet"):
            build_sf3_documents(spark)

        def run_shape(sf_dir, zero_shuffle):
            docs = Catalog(spark, sf_dir)["documents"]
            out = repetition_stats(docs, zero_shuffle=zero_shuffle)
            best = None
            for _ in range(3):
                start = time.perf_counter()
                out.write.format("noop").mode("overwrite").save()
                elapsed = round(time.perf_counter() - start, 3)
                best = elapsed if best is None else min(best, elapsed)
            return best

        # warm both plan shapes untimed
        for zs in (False, True):
            run_shape(SF01, zs)
        shapes: dict[str, dict] = {}
        for label, zs in (("codegen_shuffle", False), ("zero_shuffle", True)):
            row = {
                "sf1": run_shape(SF1, zs),
                "sf3": run_shape(SF3, zs),
            }
            r3 = row["sf3"] / row["sf1"]
            row["ratio_per_10x_extrapolated"] = round(
                r3 ** (math.log(10) / math.log(3)), 2
            )
            row["growth_exponent"] = round(math.log(r3) / math.log(3), 2)
            shapes[label] = row
            print("q70shape", label, row, flush=True)
        doc = _load_bench()
        doc["q70_shapes"] = {
            "note": (
                "repetition_stats physical shapes at sf1/sf3 (min-of-3 "
                "warm, local[32]); the quality.py docstring carries the "
                "crossover rule derived from these numbers"
            ),
            "rows": shapes,
        }
        with open(BENCH_PATH, "w") as fh:
            json.dump(doc, fh, indent=1)
            fh.write("\n")
        print(json.dumps(shapes))
        return

    if "--store" in sys.argv:
        if not os.path.exists(f"{SF1}/events.parquet"):
            build_sf1_events(spark)
        result = store_probe(spark)
        print(json.dumps(result))
        doc = _load_bench()
        doc["store_probe"] = result
        with open(BENCH_PATH, "w") as fh:
            json.dump(doc, fh, indent=1)
            fh.write("\n")
        return

    wanted = [a for a in sys.argv[1:] if not a.startswith("--")]
    base_set = HEAVY_TSDB if "--tsdb" in sys.argv else HEAVY
    if "--tsdb" in sys.argv and not os.path.exists(
        f"{SF1}/events.parquet"
    ):
        t0 = time.perf_counter()
        build_sf1_events(spark)
        print(f"built {SF1}/events in {time.perf_counter() - t0:.1f}s")
    probes = {
        name: qs[name] for name in base_set if not wanted or name in wanted
    }
    if "--tsdb" not in sys.argv:
        if not wanted or "semantic_dedup_scaled_k" in wanted:
            probes["semantic_dedup_scaled_k"] = semantic_dedup_scaled
        if not wanted or "embedding_near_dup_scaled_bits" in wanted:
            probes["embedding_near_dup_scaled_bits"] = (
                embedding_near_dup_scaled
            )
    else:
        if not wanted or "block_export_scaled" in wanted:
            probes["block_export_scaled"] = block_export_scaled

    # warm codegen per shape on the small side first (untimed)
    for name, fn in probes.items():
        try:
            fn(spark, SF01).write.format("noop").mode("overwrite").save()
        except Exception as exc:
            print(f"warm {name}: {exc}", file=sys.stderr)

    record: dict[str, dict] = {}
    for name, fn in probes.items():
        row = {}
        for label, sf_dir in [("sf0.1", SF01), ("sf1", SF1)]:
            best = None
            for _ in range(2):
                start = time.perf_counter()
                try:
                    fn(spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                except Exception as exc:
                    print(f"{name} @ {label}: {exc}", file=sys.stderr)
                    best = -1.0
                    break
                elapsed = round(time.perf_counter() - start, 3)
                best = elapsed if best is None else min(best, elapsed)
            row[label] = best
        if row["sf0.1"] and row["sf0.1"] > 0 and row["sf1"] > 0:
            row["ratio_per_10x"] = round(row["sf1"] / row["sf0.1"], 2)
        record[name] = row
        print(name, row)

    # merge with a prior (possibly partial/chunked) record so the probe
    # can be run in name-filtered chunks without losing earlier rows
    prior_doc = _load_bench()
    prior_rows = prior_doc.get("rows", {})
    # preserve hand-authored sections (e.g. the committed "analysis"
    # block) across chunked re-runs
    carry = {
        k: v
        for k, v in prior_doc.items()
        if k not in ("metric", "copies", "note", "rows")
    }
    prior_rows.update(record)
    out = {
        "metric": "sf1_growth_probe",
        "copies": COPIES,
        "note": (
            "synthetic sf1 = 10x sf0.1 (word-suffixed docs, dim-rotated "
            "embeddings); ratio_per_10x is wall(sf1)/wall(sf0.1), "
            "min-of-2; target <= 3.0"
        ),
        "rows": prior_rows,
        **carry,
    }
    with open(BENCH_PATH, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    print(json.dumps({k: v.get("ratio_per_10x") for k, v in record.items()}))


if __name__ == "__main__":
    main()
