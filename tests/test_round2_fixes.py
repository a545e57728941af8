"""Round-2 regression tests: advisor fixes (short-doc shingles, bool
should semantics, match-field validation, fill presence flag, resume
geometry pinning) + multi-table sources + atomic delete-by-query."""

import pytest
from pyspark.sql import functions as F

from anomaly_detection_spark.pipeline import minhash_lsh_pairs, ngram_jaccard_pairs
from anomaly_detection_spark.query.planner import compile_filter, plan_query, search
from anomaly_detection_spark.sources import load_table
from anomaly_detection_spark.sources.tables import predicate_sql


# --- short docs through the shingle dedup family (ADVICE high) -------------


def test_shingles_short_docs_no_crash(spark):
    df = spark.createDataFrame(
        [(0, ""), (1, "one"), (2, "two words"), (3, None),
         (4, "exactly three tokens"), (5, "a full five token document here"),
         (6, "a full five token document here")],
        "doc_id long, text string")
    pairs = ngram_jaccard_pairs(df, threshold=0.4, n=3).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(5, 6)]
    mh = minhash_lsh_pairs(df, threshold=0.4, num_hashes=16, bands=8).collect()
    assert [(r.id_a, r.id_b) for r in mh] == [(5, 6)]


# --- bool should semantics (ADVICE medium) ----------------------------------


@pytest.fixture(scope="module")
def should_df(spark):
    return spark.createDataFrame(
        [(0, "alpha beta", "x"), (1, "gamma delta", "y"),
         (2, "epsilon zeta", "z"), (3, "alpha zeta", "y")],
        "id long, text string, tag string")


def test_mixed_should_keeps_match_only_docs(should_df):
    # doc 0 matches only the match clause, doc 1 only the term clause —
    # both must be in the filter-context result set (msm defaults to 1)
    cond = compile_filter(should_df, {"bool": {"should": [
        {"match": {"text": "alpha"}}, {"term": {"tag": "y"}}]}})
    got = sorted(r.id for r in should_df.filter(cond).collect())
    assert got == [0, 1, 3]


def test_should_with_filter_is_scoring_only(should_df):
    # OpenSearch: when must/filter exist, minimum_should_match defaults
    # to 0 — the should clause must NOT shrink the result set
    cond = compile_filter(should_df, {"bool": {
        "filter": [{"terms": {"tag": ["x", "y"]}}],
        "should": [{"term": {"tag": "y"}}]}})
    got = sorted(r.id for r in should_df.filter(cond).collect())
    assert got == [0, 1, 3]


def test_explicit_minimum_should_match_one(should_df):
    cond = compile_filter(should_df, {"bool": {
        "filter": [{"terms": {"tag": ["x", "y"]}}],
        "should": [{"term": {"tag": "y"}}],
        "minimum_should_match": 1}})
    got = sorted(r.id for r in should_df.filter(cond).collect())
    assert got == [1, 3]


def test_scored_should_still_routes_to_bm25(should_df):
    plan = plan_query(should_df, {"bool": {"should": [
        {"match": {"text": "alpha"}}, {"match": {"text": "zeta"}}]}})
    assert plan.filter_cond is None
    assert [m[1] for m in plan.matches] == ["alpha", "zeta"]


def test_search_rejects_match_on_non_text_field(should_df):
    from anomaly_detection_spark.query.brute_force import analyze_docs

    analyzed = analyze_docs(should_df.withColumnRenamed("id", "docid"))
    with pytest.raises(ValueError, match="indexed text field"):
        search(analyzed, {"query": {"match": {"tag": "y"}}})


# --- fill presence via join marker (ADVICE low) ------------------------------


def test_fill_presence_not_tied_to_first_column(spark):
    from anomaly_detection_spark.features import impute_linear, nearest_fill

    # bucket 1h exists but its FIRST feature is null; second feature is 7.
    rows = [("2024-01-01 00:00:00", 1.0, 5.0),
            ("2024-01-01 01:00:00", None, 7.0),
            ("2024-01-01 03:00:00", 4.0, 9.0)]
    feats = spark.createDataFrame(rows, "bucket_start string, a double, b double") \
        .withColumn("bucket_start", F.col("bucket_start").cast("timestamp"))
    hour = 3600_000
    out = nearest_fill(feats, hour, ["a", "b"]).orderBy("bucket_start").collect()
    assert len(out) == 4
    # present bucket keeps its own b value and is NOT marked filled
    assert out[1].b == 7.0 and out[1].is_filled is False
    # the truly missing bucket (02:00) does get filled
    assert out[2].is_filled is True and out[2].b in (7.0, 9.0)

    lin = impute_linear(feats, hour, ["a", "b"]).orderBy("bucket_start").collect()
    assert lin[1].b == 7.0                      # present row keeps its value
    assert lin[2].b == pytest.approx(8.0)       # missing row interpolates 7→9


# --- resume geometry pinning (ADVICE low) ------------------------------------


def test_resume_rejects_geometry_change(spark, tiny_transcripts, tmp_path):
    from anomaly_detection_spark.index import (append_index, build_index,
                                               merge_segments)

    idx = str(tmp_path / "idx")
    docs = tiny_transcripts.filter(F.col("docid") < 512)
    build_index(docs, idx, seg_size=128, block_size=64, segments_per_batch=2)
    with pytest.raises(ValueError, match="geometry mismatch"):
        build_index(docs, idx, seg_size=128, block_size=64, segments_per_batch=3)

    dst = str(tmp_path / "merged")
    merge_segments(spark, idx, dst, factor=2, segments_per_batch=2)
    with pytest.raises(ValueError, match="geometry mismatch"):
        merge_segments(spark, idx, dst, factor=4, segments_per_batch=2)
    # a source that grew since the merge must not resume into its dst
    append_index(tiny_transcripts.filter((F.col("docid") >= 512)
                                         & (F.col("docid") < 768)), idx)
    with pytest.raises(ValueError, match="geometry mismatch"):
        merge_segments(spark, idx, dst, factor=2, segments_per_batch=2)


# --- multi-table sources (CompositeRetriever pattern fan-in) ----------------


def test_load_table_glob_and_list(spark, tmp_path):
    a = spark.range(10).select(F.col("id"), F.lit("a").alias("src"))
    b = spark.range(5).select(F.col("id"), F.lit("b").alias("src"),
                              F.lit(1).alias("extra"))
    a.write.parquet(str(tmp_path / "tx_2024a"))
    b.write.parquet(str(tmp_path / "tx_2024b"))
    got = load_table(spark, str(tmp_path / "tx_2024*"))
    assert got.count() == 15
    # union is by name, missing columns null-filled
    assert got.filter(F.col("extra").isNull()).count() == 10
    got2 = load_table(spark, [str(tmp_path / "tx_2024a"),
                              str(tmp_path / "tx_2024b")])
    assert got2.count() == 15
    with pytest.raises(FileNotFoundError):
        load_table(spark, str(tmp_path / "nope_*"))


def test_load_table_identifier_pattern(spark):
    spark.range(3).createOrReplaceTempView("adsq_events_a")
    spark.range(4).createOrReplaceTempView("adsq_events_b")
    got = load_table(spark, "adsq_events_*")
    assert got.count() == 7
    with pytest.raises(ValueError, match="pattern"):
        load_table(spark, "adsq_nothing_*")


# --- embedding near-dup: no cartesian, measured LSH recall -------------------


def test_embedding_neardup_no_cartesian_join(spark):
    import contextlib
    import io

    from anomaly_detection_spark.pipeline import embedding_neardup_pairs

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    for method in ("blocked", "lsh"):
        df = embedding_neardup_pairs(embs, threshold=0.9, method=method)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        p = buf.getvalue()
        assert "CartesianProduct" not in p, method
        assert "BroadcastNestedLoopJoin" not in p, method


def test_embedding_neardup_lsh_precision_and_recall(spark):
    import numpy as np

    from anomaly_detection_spark.pipeline import embedding_neardup_pairs

    embs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pdf = embs.toPandas()
    mat = np.stack(pdf.embedding.to_numpy()).astype(np.float64)
    sims = (mat @ mat.T) / np.outer(np.linalg.norm(mat, axis=1),
                                    np.linalg.norm(mat, axis=1))
    ids = pdf.vec_id.to_numpy()
    tau = 0.4  # the high-similarity tail of this corpus (max ≈ 0.45)
    want = {(int(ids[i]), int(ids[j]))
            for i in range(len(ids)) for j in range(i + 1, len(ids))
            if round(sims[i, j], 6) >= tau}
    got = embedding_neardup_pairs(embs, threshold=tau, method="lsh",
                                  n_planes=32, bands=16).toPandas()
    got_pairs = set(zip(got.id_a.astype(int), got.id_b.astype(int)))
    # exact verification ⇒ precision 1
    assert got_pairs <= want
    # generous banding (16 bands × 2 bits) ⇒ high measured recall
    if want:
        recall = len(got_pairs) / len(want)
        assert recall >= 0.8, recall


# --- S7 time budget -----------------------------------------------------------


def test_time_budget_cancels_runaway_query(spark):
    import time

    from anomaly_detection_spark.query import QueryTimeoutError, time_budget

    @F.udf("long")
    def slow(x):
        import time as _t
        _t.sleep(60)
        return x

    df = spark.range(8, numPartitions=4).select(slow("id").alias("v"))
    t0 = time.time()
    with pytest.raises(QueryTimeoutError):
        with time_budget(spark, 3, desc="runaway scan"):
            df.collect()
    assert time.time() - t0 < 40
    # a fast query inside a generous budget is unaffected
    with time_budget(spark, 60):
        assert spark.range(10).count() == 10


def test_search_with_timeout_happy_path(spark, tiny_transcripts):
    from anomaly_detection_spark.query import analyze_docs

    analyzed = analyze_docs(tiny_transcripts)
    out = search(analyzed, {"query": {"match": {"text": "spark query"}},
                            "size": 5}, timeout_s=120)
    assert out.count() == 5


# --- lineage as a Spark-queryable table ---------------------------------------


def test_build_and_merge_lineage_table(spark, tiny_transcripts, tmp_path):
    from anomaly_detection_spark.index import build_index, merge_segments
    from anomaly_detection_spark.query import IndexReader

    idx = str(tmp_path / "lidx")
    docs = tiny_transcripts.filter(F.col("docid") < 1024)
    build_index(docs, idx, seg_size=256, block_size=64, segments_per_batch=2)
    lin = IndexReader(spark, idx).lineage().toPandas()
    b = lin[lin.stage == "segment_build"].sort_values("batch")
    assert list(b.batch) == [0, 1]
    assert b.rows.sum() == 1024
    assert b.docid_hi.max() == 1024
    assert (b.bytes > 0).all() and (b.wall_s > 0).all()

    dst = str(tmp_path / "lmerged")
    merge_segments(spark, idx, dst, factor=2, segments_per_batch=2)
    mlin = IndexReader(spark, dst).lineage().toPandas()
    m = mlin[mlin.stage == "merge"]
    assert len(m) >= 1 and (m.bytes > 0).all()


# --- streaming end-to-end: events → features → stateful shingles → scores ------


def test_streaming_features_to_shingles_to_scores(spark, tmp_path):
    """The full §2.7 cadence in one pipe: raw event stream → windowed
    per-entity features (watermark = window_delay) → stateful shingles
    → per-entity scoring of the streamed output, spike flagged."""
    import numpy as np
    import pandas as pd

    from anomaly_detection_spark.features import score_entities, zscore_scorer
    from anomaly_detection_spark.streaming import realtime_feature_stream
    from anomaly_detection_spark.streaming.stateful import streaming_shingles

    base = pd.Timestamp("2025-07-01")
    rows = []
    for m in range(30):
        n = 40 if m == 25 else 4   # spike at minute 25
        for i in range(n):
            rows.append(("svc", base + pd.Timedelta(minutes=m, seconds=i), 1.0))
    pdf = pd.DataFrame(rows, columns=["entity", "ts", "v"])
    src = str(tmp_path / "ev_src")
    third = (len(pdf) + 2) // 3
    for j in range(3):  # 3 chronological files → 3 micro-batches
        spark.createDataFrame(pdf.iloc[j * third:(j + 1) * third]).coalesce(1) \
            .write.mode("append").parquet(src)

    # stage 1: windowed per-entity features → parquet sink (Spark can't
    # chain applyInPandasWithState after a streaming agg in append mode;
    # the intermediate sink mirrors the reference persisting feature/
    # result rows between stages)
    stream = (spark.readStream.schema("entity string, ts timestamp, v double")
              .option("maxFilesPerTrigger", 1).parquet(src))
    feats = realtime_feature_stream(stream, "ts", "1 minute", "0 seconds", {},
                                    entity_cols=("entity",))
    feat_dir = str(tmp_path / "feat_rows")
    q1 = (feats.writeStream.outputMode("append").format("parquet")
          .option("path", feat_dir)
          .option("checkpointLocation", str(tmp_path / "ck1")).start())
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()

    # stage 2: feature-row stream → stateful per-entity shingles
    fstream = (spark.readStream
               .schema("window_start timestamp, window_end timestamp, "
                       "entity string, doc_count long")
               .option("maxFilesPerTrigger", 2).parquet(feat_dir))
    shingled = streaming_shingles(
        fstream.select("entity", "window_start",
                       F.col("doc_count").cast("double").alias("v")),
        k=8)
    q = (shingled.writeStream.outputMode("append").format("memory")
         .queryName("e2e_shingles")
         .option("checkpointLocation", str(tmp_path / "ck2")).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("select * from e2e_shingles").toPandas()
    assert len(got) > 0
    # the spike minute's shingle ends with the spiked count
    spike_bucket = base + pd.Timedelta(minutes=25)
    srow = got[got.window_start == spike_bucket]
    assert len(srow) == 1 and srow.shingle.iloc[0][-1] == 40.0

    # score the streamed features per entity: only the spike alarms
    counts = (spark.createDataFrame(got[["entity", "window_start"]])
              .join(spark.sql("select * from e2e_shingles"),
                    ["entity", "window_start"])
              .select("entity", "window_start",
                      F.element_at("shingle", -1).alias("v")))
    scored = score_entities(counts, "v",
                            scorer=zscore_scorer(8, include_current=False),
                            entity_cols=("entity",),
                            bucket_col="window_start").toPandas()
    flagged = scored[np.abs(scored.score) > 3]
    assert list(flagged.window_start) == [spike_bucket]


# --- two-phase WAND (cross-segment theta propagation) --------------------------


def test_two_phase_wand_identical(spark, tiny_transcripts, tmp_path):
    from anomaly_detection_spark.index import build_index
    from anomaly_detection_spark.query import IndexReader, bm25_topk_indexed

    idx = str(tmp_path / "tp_idx")
    build_index(tiny_transcripts, idx, seg_size=512, block_size=64,
                segments_per_batch=4)
    r = IndexReader(spark, idx)
    for q in ("error spark merge query", "the a to", "naïve éclair"):
        a = bm25_topk_indexed(r, q, k=7).collect()
        b = bm25_topk_indexed(r, q, k=7, two_phase=True).collect()
        assert [(x.docid, round(x.score, 9)) for x in a] \
            == [(x.docid, round(x.score, 9)) for x in b], q


# --- duplicate clusters (connected components) ---------------------------------


def test_duplicate_clusters_components(spark):
    from anomaly_detection_spark.pipeline import duplicate_clusters

    # chain 1-2-3-4 (diameter 3), triangle 10-11-12, pair 20-21
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "id_a long, id_b long")
    out = duplicate_clusters(pairs).toPandas()
    got = {int(r.doc_id): (int(r.cluster_id), int(r.cluster_size))
           for r in out.itertuples()}
    assert got == {1: (1, 4), 2: (1, 4), 3: (1, 4), 4: (1, 4),
                   10: (10, 3), 11: (10, 3), 12: (10, 3),
                   20: (20, 2), 21: (20, 2)}


# --- multimodal: real decode for uncompressed formats --------------------------


def test_multimodal_real_wav_and_ppm(spark):
    import io
    import wave

    import numpy as np

    from anomaly_detection_spark.pipeline.multimodal import (
        attach_media,
        extract_features,
        resize_images,
    )

    # 16-bit PCM mono WAV: 0.5-amplitude sine at 440 Hz, 8000 Hz, 0.5 s
    sr, amp = 8000, 0.5
    t = np.arange(4000) / sr
    pcm = (np.sin(2 * np.pi * 440 * t) * amp * 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(pcm.tobytes())
    wav_bytes = buf.getvalue()

    # 4x2 P6 PPM: left half red, right half blue
    img = np.zeros((2, 4, 3), dtype=np.uint8)
    img[:, :2, 0] = 200
    img[:, 2:, 2] = 100
    ppm_bytes = b"P6\n4 2\n255\n" + img.tobytes()

    rows = [(1, bytearray(wav_bytes), "audio", "audio/wav"),
            (2, bytearray(ppm_bytes), "image", "image/x-portable-pixmap")]
    df = spark.createDataFrame(rows, "id long, payload binary, kind string, mime string")
    media_a = attach_media(df.filter("id = 1"), "id", "payload",
                           kind="audio", mime="audio/wav")
    media_i = attach_media(df.filter("id = 2"), "id", "payload",
                           kind="image", mime="image/x-portable-pixmap")

    fa = extract_features(media_a, dim=4).toPandas()
    # RMS of a sine = amp/sqrt(2) in every window
    assert np.allclose(fa.feature.iloc[0], amp / np.sqrt(2), atol=0.01)

    fi = extract_features(media_i, dim=6).toPandas()
    feat = np.array(fi.feature.iloc[0])
    assert len(feat) == 6 and feat.max() <= 1.0 and feat.max() > 0.1

    small = resize_images(media_i, 1, 2).toPandas()
    from anomaly_detection_spark.pipeline.multimodal import decode_ppm
    out = decode_ppm(bytes(small.payload.iloc[0]))
    assert out.shape == (1, 2, 3)
    assert out[0, 0, 0] == 200 and out[0, 1, 2] == 100  # block means exact


# --- per-entity scoring seam ---------------------------------------------------


def test_score_entities_zscore(spark):
    import numpy as np

    from anomaly_detection_spark.features import score_entities

    rows = []
    for ent, base in (("A", 10.0), ("B", 100.0)):
        for i in range(10):
            v = base + (50.0 if i == 9 else float(i % 3))
            rows.append((ent, i, v))
    df = spark.createDataFrame(rows, "entity string, bucket_start int, v double")
    out = score_entities(df, "v", entity_cols=("entity",)).toPandas()
    # warm-up rows (first k-1 = 7 per entity) dropped
    assert sorted(out.bucket_start.unique()) == [7, 8, 9]
    a = out[out.entity == "A"].sort_values("bucket_start")
    vals = np.array([10.0, 11, 12, 10, 11, 12, 10, 11, 12, 60.0])
    win = vals[2:]
    m = win.sum() / 8
    std = np.sqrt((win * win).sum() / 8 - m * m)
    assert a.iloc[-1].score == pytest.approx((60.0 - m) / (std + 1e-9))
    # the spike scores far above the steady rows, per entity
    assert a.iloc[-1].score > 2 * abs(a.iloc[0].score)


# --- block-max pruning actually skips decodes ---------------------------------


def test_blockmax_prunes_and_stays_exact():
    """Kernel-level: a selective term confined to one docid range must
    make the scorer skip the hot term's blocks everywhere else, with a
    top-k identical to the unpruned pass."""
    import numpy as np
    import pandas as pd

    import anomaly_detection_spark.query.index_search as ixs
    from anomaly_detection_spark.index.builder import blocks_from_sorted

    seg_size, block, bucket = 4096, 32, 256
    hot_docs = np.arange(0, seg_size, 2, dtype=np.int64)       # df = 2048
    rare_docs = np.arange(100, 180, dtype=np.int64)            # one range
    docs_u = np.concatenate([hot_docs, rare_docs])
    terms_u = np.array(["hot"] * len(hot_docs) + ["rare"] * len(rare_docs),
                       dtype=object)
    tfs_u = np.concatenate([np.ones(len(hot_docs), dtype=np.int64),
                            np.full(len(rare_docs), 3, dtype=np.int64)])
    dls_u = np.full(len(docs_u), 20, dtype=np.int64)
    posts = blocks_from_sorted(terms_u, docs_u, tfs_u, seg_id=0,
                               block_size=block, dls_u=dls_u,
                               seg_size=seg_size, bucket_size=bucket)
    docs_pdf = pd.DataFrame({"docid": np.arange(seg_size, dtype=np.int64),
                             "doc_len": np.full(seg_size, 20, dtype=np.int64),
                             "seg_id": 0})
    weights = {"hot": 1.0, "rare": 6.0}

    real = ixs.varint_decode
    counts = {}
    results = {}
    for prune in (True, False):
        calls = [0]

        def counting(blob, _r=real, _c=calls):
            _c[0] += 1
            return _r(blob)

        ixs.varint_decode = counting
        try:
            out = ixs._score_segment(posts, docs_pdf, weights, seg_size,
                                     20.0, 10, 1.2, 0.75, prune,
                                     bucket=bucket)
        finally:
            ixs.varint_decode = real
        counts[prune] = calls[0] // 2
        results[prune] = list(zip(out.docid, out.score.round(9)))

    assert results[True] == results[False]
    assert counts[False] == len(posts)
    # hot blocks outside the rare range must not be decoded
    assert counts[True] < counts[False] * 0.2, counts


# --- delete-by-query SQL rendering -------------------------------------------


def test_predicate_sql_rendering():
    q = {"bool": {
        "filter": [{"term": {"grp": 3}}, {"range": {"v": {"gte": 1, "lt": 5}}}],
        "must_not": [{"wildcard": {"name": {"value": "tmp*"}}}]}}
    got = predicate_sql(q)
    assert got == ("grp = 3 AND v >= 1 AND v < 5 "
                   "AND NOT coalesce(name LIKE 'tmp%', FALSE)")
    assert predicate_sql({"terms": {"s": ["a", "b'c"]}}) == "s IN ('a', 'b''c')"
    assert predicate_sql({"match_all": {}}) == "TRUE"
    with pytest.raises(ValueError):
        predicate_sql({"match": {"text": "x"}})
