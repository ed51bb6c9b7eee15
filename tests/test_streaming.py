"""Structured Streaming rollup == batch rollup on the same files."""

import os
import shutil

from pyspark.sql import functions as F

from ffcl_spark.streaming.events import hourly_rollup, read_events_stream, run_available_now


def test_stream_rollup_matches_batch(spark, tmp_path):
    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    # simulate a file-drop directory with several files
    drop = str(tmp_path / "drop")
    src.repartition(4).write.parquet(drop)

    stream = read_events_stream(spark, drop)
    assert stream.isStreaming
    run_available_now(hourly_rollup(stream), "rollup_t")
    got = spark.sql("select * from rollup_t").toPandas()

    cents = F.round(F.col("value") * 100).cast("long")
    exp = (
        src.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents).cast("double") / F.lit(100.0)).alias("sum_value"),
        )
        .toPandas()
    )
    key = ["hour", "event_type"]
    g = got.sort_values(key).reset_index(drop=True)
    e = exp.sort_values(key).reset_index(drop=True)
    assert g[key + ["n", "sum_value"]].equals(e[key + ["n", "sum_value"]])


def test_sessionize_stream_matches_batch(spark, tmp_path):
    """Custom stateful operator (applyInPandasWithState): streamed
    sessionization == the batch lag/cumsum oracle on all sessions the
    watermark has closed. Three availableNow drains against one
    checkpoint also exercise state recovery across restarts."""
    import pandas as pd

    from ffcl_spark.streaming.events import EVENTS_SCHEMA, read_events_stream
    from ffcl_spark.streaming.sessions import sessionize_batch, sessionize_stream

    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet").cache()
    gap_min = 600  # 10 h — median per-user gap is ~7.7 h → real multi-event sessions
    max_ts = src.agg(F.max("ts")).collect()[0][0]

    drop = str(tmp_path / "sess_drop")
    out = str(tmp_path / "sess_out")
    ckpt = str(tmp_path / "sess_ckpt")
    src.repartition(2).write.mode("append").parquet(drop)

    def drain():
        q = (
            sessionize_stream(read_events_stream(spark, drop), gap_minutes=gap_min)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()  # phase 1: ingest all real events (nothing closeable yet)
    # phase 2/3: flush sentinels far past every real session + gap; the
    # second sentinel's batch starts with a watermark that times out
    # every real session
    for days in (30, 60):
        flush = spark.createDataFrame(
            [
                (10_000_000 + d, (pd.Timestamp(max_ts) + pd.Timedelta(days=days)).to_pydatetime(), int(u), "flush", 0.0, "{}")
                for d, u in enumerate(r["user_id"] for r in src.select("user_id").distinct().collect())
            ],
            EVENTS_SCHEMA,
        )
        flush.coalesce(1).write.mode("append").parquet(drop)
        drain()

    got = (
        spark.read.parquet(out)
        .where(F.col("session_start") <= max_ts)  # exclude sentinel sessions
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    exp = (
        sessionize_batch(src, gap_minutes=gap_min)
        .toPandas()
        .sort_values(["user_id", "session_start"])
        .reset_index(drop=True)
    )
    cols = ["user_id", "session_start", "session_end", "n_events", "sum_cents"]
    assert len(got) == len(exp) and len(got) > 20
    assert got[cols].equals(exp[cols])


def test_round_half_up_cents_matches_spark_rule():
    """Exact half cents round AWAY from zero — the F.round / DuckDB
    rule; numpy round() (half-to-even) diverges (ADVICE round-2)."""
    import numpy as np

    from ffcl_spark.streaming.sessions import _round_half_up_cents

    vals = np.array([0.125, 0.135, -0.125, -0.135, 1.005, 2.675, 0.0])
    got = _round_half_up_cents(vals)
    # 12.5→13, 13.5→14 (numpy round gives 12 and 14), -12.5→-13
    assert got.tolist() == [13, 14, -13, -14, 100, 268, 0]


def test_merge_np_matches_python_reference():
    """Vectorized interval merge == the straightforward sequential
    merge, including a hot-user-sized batch."""
    import numpy as np

    from ffcl_spark.streaming.sessions import _merge_np

    rng = np.random.default_rng(5)
    gap = 100
    for n in (1, 2, 17, 50_000):
        s = rng.integers(0, 10_000, size=n).astype(np.int64) * 10
        e = s + rng.integers(0, 50, size=n)
        ns = np.ones(n, dtype=np.int64)
        c = rng.integers(-500, 500, size=n).astype(np.int64)
        gs, ge, gn, gc = _merge_np(s.copy(), e.copy(), ns.copy(), c.copy(), gap)
        # sequential reference
        rows = sorted(zip(s.tolist(), e.tolist(), ns.tolist(), c.tolist()))
        out = []
        for row in rows:
            if out and row[0] - out[-1][1] <= gap:
                out[-1][1] = max(out[-1][1], row[1])
                out[-1][2] += row[2]
                out[-1][3] += row[3]
            else:
                out.append(list(row))
        assert gs.tolist() == [r[0] for r in out]
        assert ge.tolist() == [r[1] for r in out]
        assert gn.tolist() == [r[2] for r in out]
        assert gc.tolist() == [r[3] for r in out]


def test_knn_enrich_stream_matches_batch(spark, tmp_path):
    from ffcl_spark.config import EngineConfig
    from ffcl_spark.operators.knn_kernel import knn_join_grid
    from ffcl_spark.sources.docs import synth_docs
    from ffcl_spark.sources.points import media_points
    from ffcl_spark.streaming.enrich import knn_enrich_stream, read_docs_stream

    cfg = EngineConfig(resolution=3)
    base = spark.range(400).withColumn("text", F.lit("t"))
    docs = synth_docs(base, "id", "text")
    # static reference set: even-doc points; stream: odd-doc documents
    refs = media_points(docs.where(F.substring("doc_id", 5, 10).cast("long") % 2 == 0)).cache()
    stream_docs = docs.where(F.substring("doc_id", 5, 10).cast("long") % 2 == 1)

    drop = str(tmp_path / "enrich_drop")
    out = str(tmp_path / "enrich_out")
    ckpt = str(tmp_path / "enrich_ckpt")
    stream_docs.repartition(3).write.parquet(drop)

    knn_enrich_stream(read_docs_stream(spark, drop), refs, 5, cfg, out, ckpt)
    got = spark.read.parquet(f"{out}/epoch=*").toPandas()

    exp = knn_join_grid(media_points(stream_docs), refs, 5, cfg).toPandas()
    key = ["q_id", "r_id"]
    g = got[key].sort_values(key).reset_index(drop=True)
    e = exp[key].sort_values(key).reset_index(drop=True)
    assert g.equals(e)
    assert len(got) == len(exp)

    # restart with the same checkpoint: all files already consumed —
    # no new epoch output, previously written epochs intact
    n_before = len(spark.read.parquet(f"{out}/epoch=*").toPandas())
    knn_enrich_stream(read_docs_stream(spark, drop), refs, 5, cfg, out, ckpt)
    assert len(spark.read.parquet(f"{out}/epoch=*").toPandas()) == n_before


def test_knn_enrich_stream_no_cache_growth(spark, tmp_path):
    # round-4 ADVICE: the per-batch handler once called knn_join_grid
    # and never released the carried intermediates, so cached
    # partitions accumulated for the life of the stream. Drive
    # ≥10 single-file epochs through the handler and assert the
    # session's persistent-RDD set does not grow.
    from ffcl_spark.config import EngineConfig
    from ffcl_spark.sources.docs import synth_docs
    from ffcl_spark.sources.points import media_points
    from ffcl_spark.streaming.enrich import knn_enrich_stream, read_docs_stream

    cfg = EngineConfig(resolution=3)
    base = spark.range(240).withColumn("text", F.lit("t"))
    docs = synth_docs(base, "id", "text")
    refs = media_points(
        docs.where(F.substring("doc_id", 5, 10).cast("long") % 2 == 0)
    ).cache()
    refs.count()
    stream_docs = docs.where(F.substring("doc_id", 5, 10).cast("long") % 2 == 1)

    drop = str(tmp_path / "leak_drop")
    out = str(tmp_path / "leak_out")
    ckpt = str(tmp_path / "leak_ckpt")
    stream_docs.repartition(12).write.parquet(drop)

    def persistent_ids():
        return {
            int(k)
            for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
        }

    # the guarded property is "the STREAM leaks nothing": count only
    # RDDs created after this point (ids are monotone). A plain
    # count-vs-before compare is noisy late in the full suite — the
    # ContextCleaner concurrently collects OTHER tests' stale caches
    # during the poll, moving the baseline (observed flake at suite
    # position ~150 under host contention).
    id_floor = max(persistent_ids(), default=-1)

    def n_stream_persistent():
        return sum(1 for i in persistent_ids() if i > id_floor)

    # one file per trigger → ≥10 micro-batches through handle()
    knn_enrich_stream(
        read_docs_stream(spark, drop, max_files_per_trigger=1),
        refs, 3, cfg, out, ckpt,
    )
    epochs = {
        p.split("epoch=")[1].split("/")[0]
        for p in spark.read.parquet(f"{out}/epoch=*").inputFiles()
    }
    assert len(epochs) >= 10
    # the handler releases the kernel output each epoch's result
    # carries; anything else a batch persisted is released by the
    # ContextCleaner once the epoch's DataFrame is GC'd — asynchronous,
    # so force GC and poll for the settle. The
    # leak this guards against is O(epochs) persisted kernel
    # intermediates, which no amount of GC would remove (they were
    # carried, never released).
    import gc
    import time

    # terminated queries are retained by the StreamingQueryManager (for
    # awaitAnyTermination) and keep their last batch's execution state
    # reachable — drop them so the poll measures only real leaks
    spark.streams.resetTerminated()
    deadline = time.time() + 180
    while n_stream_persistent() > 0 and time.time() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
    # every RDD the stream persisted (localCheckpoint handles included)
    # must be gone once its epoch's references are GC'd; a leak is
    # O(epochs) carried-but-never-released kernel intermediates, which
    # no amount of GC would remove
    assert n_stream_persistent() == 0
    refs.unpersist()


def test_geo_enrich_stream_matches_batch(spark, tmp_path):
    from ffcl_spark.operators.geo import geo_nearest_tile, sphere_tiles
    from ffcl_spark.sources.docs import synth_docs
    from ffcl_spark.sources.points import media_points
    from ffcl_spark.streaming.enrich import geo_enrich_stream, read_docs_stream

    base = spark.range(300).withColumn("text", F.lit("t"))
    docs = synth_docs(base, "id", "text")
    tiles = sphere_tiles(spark)

    drop = str(tmp_path / "geo_drop")
    out = str(tmp_path / "geo_out")
    ckpt = str(tmp_path / "geo_ckpt")
    docs.repartition(3).write.parquet(drop)

    geo_enrich_stream(read_docs_stream(spark, drop), tiles, out, ckpt)
    got = spark.read.parquet(f"{out}/epoch=*").toPandas()

    pts = media_points(docs).select(
        "id", (F.col("x") * 3).alias("lat"), (F.col("y") * 6).alias("lon")
    )
    exp = geo_nearest_tile(pts, tiles).toPandas()
    key = ["id", "tile_id"]
    assert len(got) == len(exp)
    g = got.sort_values(key).reset_index(drop=True)
    e = exp.sort_values(key).reset_index(drop=True)
    assert g[key].equals(e[key])
    assert (g.dist_m.to_numpy() == e.dist_m.to_numpy()).all()

    # restart on the same checkpoint: nothing new consumed, output intact
    geo_enrich_stream(read_docs_stream(spark, drop), tiles, out, ckpt)
    assert len(spark.read.parquet(f"{out}/epoch=*").toPandas()) == len(exp)


def test_geo_index_stream_builds_probeable_store(spark, tmp_path):
    """Streaming ingest into the geodesic store: a multi-epoch drain
    equals the batch-built store under every probe; restart on the
    same checkpoint consumes nothing new; executor cache state stays
    empty between epochs."""
    import numpy as np

    from ffcl_spark.kernels.geo import haversine_np
    from ffcl_spark.sources.docs import synth_docs
    from ffcl_spark.sources.points import media_points
    from ffcl_spark.sources.geo_index import (
        geo_box_probe,
        geo_knn_probe,
        geo_radius_probe,
    )
    from ffcl_spark.streaming.enrich import geo_index_stream, read_docs_stream

    base = spark.range(300).withColumn("text", F.lit("t"))
    docs = synth_docs(base, "id", "text")
    drop = str(tmp_path / "gidx_drop")
    store = str(tmp_path / "gidx_store")
    ckpt = str(tmp_path / "gidx_ckpt")
    docs.repartition(4).write.parquet(drop)

    # multi-epoch drain (one file per micro-batch → ≥4 epochs)
    geo_index_stream(
        read_docs_stream(spark, drop, max_files_per_trigger=1),
        store,
        ckpt,
        delta_deg=4.0,
    )
    stored = spark.read.parquet(f"{store}/points")
    assert stored.select("epoch").distinct().count() >= 4

    pts = media_points(docs).select(
        "id", (F.col("x") * 3).alias("lat"), (F.col("y") * 6).alias("lon")
    ).toPandas()
    assert stored.count() == len(pts)

    lat, lon, r_m = 10.0, 20.0, 3_000_000.0
    d = haversine_np(
        np.full(len(pts), lat), np.full(len(pts), lon),
        pts.lat.to_numpy(), pts.lon.to_numpy(),
    )
    want = set(pts.id[d < r_m])
    got = set(geo_radius_probe(spark, store, lat, lon, r_m).toPandas().id)
    assert got == want and len(want) > 2

    k = 7
    order = np.lexsort((pts.id.to_numpy(), d))[:k]
    knn = geo_knn_probe(spark, store, lat, lon, k).toPandas()
    assert list(knn.id) == [pts.id.to_numpy()[i] for i in order]

    box = set(
        geo_box_probe(spark, store, -30.0, 30.0, 160.0, -160.0).toPandas().id
    )
    wantb = set(
        pts.id[
            pts.lat.between(-30.0, 30.0)
            & ((pts.lon >= 160.0) | (pts.lon <= -160.0))
        ]
    )
    assert box == wantb

    # restart: file source consumes nothing new, store unchanged
    geo_index_stream(
        read_docs_stream(spark, drop, max_files_per_trigger=1),
        store,
        ckpt,
        delta_deg=4.0,
    )
    assert spark.read.parquet(f"{store}/points").count() == len(pts)


def test_contamination_stream_equals_batch(spark, tmp_path):
    """Multi-epoch streaming decontamination == the batch operator on
    the union (scores, counts, admitted flags); the benchmark is
    shingled once (localCheckpoint hoist); replayed stream consumes
    nothing new."""
    import pandas as pd

    from ffcl_spark.operators.dedup import ngram_contamination
    from ffcl_spark.streaming.dedup import contamination_stream

    bench_rows = [("b0", "the quick brown fox jumps over the lazy dog")]
    corpus = [
        ("c0", "the quick brown fox jumps over the lazy dog"),  # 1.0
        ("c1", "quoting the quick brown fox inside other words here"),
        ("c2", "completely unrelated content about spark shuffles"),
        ("c3", "ab"),  # < n tokens → unscored
    ]
    refs = spark.createDataFrame(bench_rows, "doc_id string, text string")
    drop = str(tmp_path / "drop")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    # two part files → maxFilesPerTrigger=1 forces two epochs
    spark.createDataFrame(
        corpus, "doc_id string, text string"
    ).repartition(2).write.parquet(drop)
    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    contamination_stream(stream, refs, out, ckpt, threshold=0.9)

    got = (
        spark.read.parquet(f"{out}/epoch=*")
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    want = (
        ngram_contamination(
            spark.createDataFrame(corpus, "doc_id string, text string"), refs
        )
        .withColumn("admitted", F.col("ratio") < F.lit(0.9))
        .toPandas()
        .sort_values("id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["id", "n_grams", "n_hit", "ratio", "admitted"]],
        want[["id", "n_grams", "n_hit", "ratio", "admitted"]],
    )
    assert set(got.id) == {"c0", "c1", "c2"}  # short doc unscored
    assert not got.set_index("id").loc["c0"].admitted  # fully contained
    assert got.set_index("id").loc["c2"].admitted

    # replay: restart with same checkpoint consumes nothing
    stream2 = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(drop)
    )
    contamination_stream(stream2, refs, out, ckpt, threshold=0.9)
    again = spark.read.parquet(f"{out}/epoch=*").toPandas()
    assert len(again) == len(got)
