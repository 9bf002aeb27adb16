"""Structured Streaming layer: windowed agg, sessions, dedup — each
verified against the equivalent batch computation on the same files."""

import pytest
from pyspark.sql import functions as F

from datar_polars_spark import f
from datar_polars_spark.functions import n, sum_, mean
from datar_polars_spark.streaming import (
    stream_read_parquet,
    windowed_agg,
    sessionize,
    stream_dedup,
    run_to_memory,
)

EVENTS = "/root/testdata/sf0.001/events.parquet"


def test_windowed_agg_matches_batch(spark):
    s = stream_read_parquet(spark, EVENTS)
    out = windowed_agg(
        s, f.ts, f.event_type, window="1 day", watermark="1 day",
        n_events=n(), total=sum_(f.value, na_rm=True),
    )
    got = run_to_memory(out, mode="complete")

    from datar_polars_spark import read_parquet

    batch = (
        read_parquet(spark, EVENTS).df
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type", "n_events", "total",
        )
        .toPandas()
    )
    key = ["window_start", "event_type"]
    g = got.sort_values(key).reset_index(drop=True)
    b = batch.sort_values(key).reset_index(drop=True)
    assert len(g) == len(b)
    assert g["n_events"].tolist() == b["n_events"].tolist()
    assert g["total"].tolist() == pytest.approx(b["total"].tolist())


def test_sessionize_runs(spark):
    s = stream_read_parquet(spark, EVENTS)
    out = sessionize(
        s, f.ts, f.user_id, gap="10 minutes", watermark="1 day",
        n_events=n(), avg_value=mean(f.value, na_rm=True),
    )
    got = run_to_memory(out, mode="complete")
    assert len(got) > 0
    assert set(got.columns) == {
        "session_start", "session_end", "user_id", "n_events", "avg_value"
    }
    # sessions per user never exceed that user's event count
    per_user = got.groupby("user_id")["n_events"].sum()
    from datar_polars_spark import read_parquet

    batch_counts = (
        read_parquet(spark, EVENTS).df.groupBy("user_id").count().toPandas()
        .set_index("user_id")["count"]
    )
    for uid, total in per_user.items():
        assert total == batch_counts[uid]


def test_stream_dedup(spark):
    s = stream_read_parquet(spark, EVENTS)
    out = stream_dedup(s, f.user_id, f.event_type, ts=f.ts, watermark="1 day")
    got = run_to_memory(out, mode="append")
    from datar_polars_spark import read_parquet

    n_combos = (
        read_parquet(spark, EVENTS).df
        .select("user_id", "event_type").distinct().count()
    )
    assert len(got) == n_combos


def test_stateful_running_agg(spark):
    from datar_polars_spark import read_parquet
    from datar_polars_spark.streaming import stateful_running_agg

    s = stream_read_parquet(spark, EVENTS)
    out = stateful_running_agg(s, f.user_id, value=f.value)
    got = run_to_memory(out, mode="update")
    # one emitted row per key per micro-batch; the final state per key
    # must equal the batch aggregate
    final = got.groupby("user_id").last()
    batch = (
        read_parquet(spark, EVENTS).df.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
        .toPandas().set_index("user_id")
    )
    for uid, row in batch.iterrows():
        assert final.loc[uid, "n_events"] == row["n"]
        assert final.loc[uid, "total"] == pytest.approx(row["t"])


def test_stream_enrich_static_join(spark):
    from datar_polars_spark import read_parquet, tibble, f
    from datar_polars_spark.streaming import stream_enrich

    s = stream_read_parquet(spark, EVENTS)
    dim = tibble(
        spark,
        event_type=["click", "view", "purchase", "signup", "error"],
        category=["engage", "engage", "convert", "convert", "ops"],
    )
    out = stream_enrich(s, dim, by="event_type").groupBy("category").count()
    got = run_to_memory(out, mode="complete")
    batch = (
        read_parquet(spark, EVENTS).df
        .join(dim.df.select(*dim.columns), "event_type")
        .groupBy("category").count().toPandas()
    )
    g = got.sort_values("category").reset_index(drop=True)
    b = batch.sort_values("category").reset_index(drop=True)
    assert g["category"].tolist() == b["category"].tolist()
    assert g["count"].tolist() == b["count"].tolist()


def test_stream_write_parquet_roundtrip(spark, tmp_path):
    from datar_polars_spark import read_parquet
    from datar_polars_spark.streaming import stream_write_parquet

    s = stream_read_parquet(spark, EVENTS).select("event_id", "event_type")
    stream_write_parquet(
        s, str(tmp_path / "out"), str(tmp_path / "ckpt"), available_now=True
    )
    back = spark.read.parquet(str(tmp_path / "out"))
    assert back.count() == read_parquet(spark, EVENTS).nrow()


def test_stream_stream_join(spark):
    """Watermarked two-sided join: every event inner-joins to itself
    within the time bound, so comparing against the batch self-join
    checks both the key equality and the range predicate."""
    from datar_polars_spark.streaming import stream_stream_join

    left = stream_read_parquet(spark, EVENTS)
    right = stream_read_parquet(spark, EVENTS)
    out = stream_stream_join(
        left,
        right,
        by="user_id",
        left_time=f.ts,
        right_time=f.ts,
        watermark="2 days",
        within="1 hour",
    )
    # stream-stream joins emit in append mode only; aggregate in pandas
    joined = run_to_memory(out.select("user_id"), mode="append")
    got = joined.groupby("user_id").size().rename("count").reset_index()

    from datar_polars_spark import read_parquet

    b = read_parquet(spark, EVENTS).df.select("user_id", "ts")
    b2 = b.withColumnRenamed("ts", "ts2")
    batch = (
        b.join(b2, "user_id")
        .filter(
            (F.col("ts2") >= F.col("ts"))
            & (F.col("ts2") <= F.col("ts") + F.expr("INTERVAL 1 hour"))
        )
        .groupBy("user_id")
        .count()
        .toPandas()
    )
    g = got.sort_values("user_id").reset_index(drop=True)
    bt = batch.sort_values("user_id").reset_index(drop=True)
    assert g["count"].tolist() == bt["count"].tolist()


def test_stream_decontaminate_matches_batch(spark, tmp_path):
    """Streamed docs filtered against a static benchmark must equal the
    batch decontaminate survivors on the same data (both literal-array
    and pandas-UDF strategies)."""
    import pandas as pd

    from datar_polars_spark import read_parquet
    from datar_polars_spark.scale import decontaminate
    from datar_polars_spark.streaming import (
        stream_decontaminate,
        stream_read_parquet,
        run_to_memory,
    )

    src = str(tmp_path / "docs")
    docs = read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")
    docs.df.select("doc_id", "text").write.parquet(src)
    from datar_polars_spark import f, filter_

    bench = docs >> filter_(f.doc_id % 7 == 0)

    expected = sorted(
        r.doc_id
        for r in decontaminate(docs, bench, text="text", id="doc_id", n=3)
        .df.select("doc_id")
        .collect()
    )

    sdf = stream_read_parquet(spark, src)
    for jvm_max in (10_000, 0):  # literal-array path, then pandas-UDF path
        out = stream_decontaminate(
            sdf, bench, f.text, n=3, jvm_literal_max=jvm_max
        )
        got = run_to_memory(out.select("doc_id"), mode="append")
        assert sorted(got["doc_id"].tolist()) == expected, f"jvm_max={jvm_max}"


def test_streaming_multimodal_sniff_and_decode(spark, tmp_path):
    """The multimodal passes are plain mapInPandas, so they run
    unchanged on a STREAMING frame — live binary ingest routes by real
    container headers and probes metadata, matching the batch result on
    the same files."""
    import pandas as pd

    from datar_polars_spark import read_parquet
    from datar_polars_spark.scale import decode_video, sniff_media
    from datar_polars_spark.scale.codecs import make_mp4, make_png, make_wav
    from datar_polars_spark.streaming import run_to_memory
    from datar_polars_spark.tibble import Tibble

    src = str(tmp_path / "media")
    pdf = pd.DataFrame(
        {
            "id": [1, 2, 3],
            "content": [
                make_png(8, 6),
                make_wav(16_000, 1_600),
                make_mp4(640, 360, 9_000),
            ],
        }
    )
    spark.createDataFrame(pdf).write.parquet(src)

    stream = (
        spark.readStream.schema("id bigint, content binary").parquet(src)
    )
    sniffed = sniff_media(Tibble(stream), content="content")
    probed = decode_video(sniffed, content="content")
    got = run_to_memory(probed.df, mode="append")
    got = got.sort_values("id").reset_index(drop=True)
    assert list(got["media_type"]) == ["image", "audio", "video"]
    assert list(got["media_format"]) == ["png", "wav", "mp4"]
    vid = got[got["id"] == 3].iloc[0]
    assert (vid["vid_w"], vid["vid_h"], vid["duration_ms"]) == (640, 360, 9_000)

    # batch parity on the same files
    batch = decode_video(
        sniff_media(read_parquet(spark, src), content="content"),
        content="content",
    ).df.orderBy("id").collect()
    assert [r["media_type"] for r in batch] == ["image", "audio", "video"]


def test_streaming_token_budget_pipeline(spark, tmp_path):
    """r11: the token-budget pipeline (bpe_token_counts -> exact
    chunk_documents) is narrow maps + Arrow passes end to end, so it
    runs unchanged on a STREAMING frame — live ingest chunks under
    exact trained-tokenizer budgets, matching the batch result."""
    from datar_polars_spark import read_parquet
    from datar_polars_spark.scale import (
        bpe_token_counts,
        bpe_train,
        chunk_documents,
    )
    from datar_polars_spark.streaming import run_to_memory
    from datar_polars_spark.tibble import Tibble

    docs = read_parquet(spark, "/root/testdata/sf0.001/documents.parquet")
    model = bpe_train(docs, n_merges=100)
    src = str(tmp_path / "docs_stream")
    docs.df.select("doc_id", "text").limit(50).write.parquet(src)

    stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
    chunked = chunk_documents(
        bpe_token_counts(Tibble(stream), model, counts_col="tc"),
        max_tokens=64,
        overlap=4,
        token_counts="tc",
    )
    got = run_to_memory(chunked.df.select("doc_id", "chunk_id", "chunk_tokens", "text"), mode="append")

    batch = chunk_documents(
        bpe_token_counts(
            Tibble(spark.read.parquet(src)), model, counts_col="tc"
        ),
        max_tokens=64,
        overlap=4,
        token_counts="tc",
    ).df.select("doc_id", "chunk_id", "chunk_tokens", "text").collect()
    want = {(r["doc_id"], r["chunk_id"]): (r["chunk_tokens"], r["text"]) for r in batch}
    got_map = {
        (r.doc_id, r.chunk_id): (r.chunk_tokens, r.text)
        for r in got.itertuples(index=False)
    }
    assert got_map == want and len(want) > 50  # real chunking happened


def test_nanos_detection_ignores_int96(spark, tmp_path):
    """r9 regression: pyarrow reports Spark's legacy INT96 timestamps
    as timestamp[ns], but Spark reads INT96 natively as TIMESTAMP —
    the footer check must flag only genuine INT64 TIMESTAMP(NANOS), or
    the reader divides a TIMESTAMP column by 1000."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from datar_polars_spark.sources import _open_parquet
    from datar_polars_spark.streaming import stream_read_parquet, run_to_memory

    # genuine nanos file (pyarrow INT64 + nanos annotation)
    ns_path = str(tmp_path / "ns.parquet")
    tbl = pa.table({
        "x": pa.array([1, 2]),
        "ts": pa.array(pd.to_datetime(["2026-01-01", "2026-01-02"])).cast(
            pa.timestamp("ns")
        ),
    })
    pq.write_table(tbl, ns_path, store_schema=False)
    assert _open_parquet(spark, ns_path)[1] == ["ts"]

    # Spark-written file (INT96 by default): NOT nanos, reads natively
    sp_dir = str(tmp_path / "spark_ts")
    spark.createDataFrame(
        [(1,)], "x int"
    ).selectExpr("x", "timestamp'2026-01-01 00:00:00' as ts").write.parquet(sp_dir)
    assert _open_parquet(spark, sp_dir)[1] == []
    got = run_to_memory(stream_read_parquet(spark, sp_dir), mode="append")
    assert str(got["ts"].iloc[0]) == "2026-01-01 00:00:00"


def test_explicit_schema_on_dir_without_files(spark, tmp_path):
    """A file-stream source may start before its first file lands:
    with an explicit schema there is nothing to open, and no error."""
    from datar_polars_spark.streaming import stream_read_parquet

    empty = tmp_path / "incoming"
    empty.mkdir()
    sdf = stream_read_parquet(spark, str(empty), schema="x long, s string")
    assert sdf.isStreaming and sdf.columns == ["x", "s"]


def test_streaming_text_extraction_pipeline(spark, tmp_path):
    """r11: html_to_text + normalize_text are pure column expressions,
    so the crawl extraction front-end runs unchanged on a STREAMING
    frame, matching batch byte-for-byte."""
    from datar_polars_spark.scale import html_to_text, normalize_text
    from datar_polars_spark.streaming import run_to_memory
    from datar_polars_spark.tibble import Tibble

    src = str(tmp_path / "raw_pages")
    pages = [
        (1, "<p>First’s “page”.</p><script>x</script><p>Tail&nbsp;bit.</p>"),
        (2, None),
        (3, "<ul><li>a</li><li>b</li></ul>"),
    ]
    spark.createDataFrame(pages, "doc_id long, html string").write.parquet(src)

    def extract(frame):
        return normalize_text(
            html_to_text(Tibble(frame), html="html", out_col="text"),
            text="text",
        )

    stream = spark.readStream.schema("doc_id bigint, html string").parquet(src)
    got = run_to_memory(extract(stream).df.select("doc_id", "text"), mode="append")
    smap = dict(zip(got["doc_id"], got["text"]))
    batch = {
        r["doc_id"]: r["text"]
        for r in extract(spark.read.parquet(src)).df.select("doc_id", "text").collect()
    }
    assert smap == batch
    assert smap[1] == "First's \"page\".\n\nTail bit."
    assert smap[2] is None


def test_streaming_model_scoring_pipeline(spark, tmp_path):
    """r12: the trained-model scoring stages (lang_id_predict and
    quality_classifier_predict) are stateless Arrow passes, so they
    run unchanged on a STREAMING frame — live ingest scores language
    and quality with results identical to the batch path."""
    from datar_polars_spark.scale import (
        lang_id_predict,
        lang_id_train_seed,
        quality_classifier_predict,
        quality_classifier_train,
    )
    from datar_polars_spark.streaming import run_to_memory
    from datar_polars_spark.tibble import Tibble, ensure_tibble

    lid = lang_id_train_seed(spark)
    qclf = quality_classifier_train(
        ensure_tibble(
            spark.createDataFrame(
                [("careful detailed analysis with measured evidence", 1)] * 12
                + [("click free prize buy cheap pills now", 0)] * 12,
                "text string, label int",
            )
        ),
        "text",
        "label",
        buckets=1 << 12,
        iters=8,
    )

    rows = [
        (1, "the storm rolled in over the hills before the evening train"),
        (2, "les enfants jouaient dans le jardin derrière la maison"),
        (3, "careful detailed analysis with measured evidence"),
        (4, "click free prize buy cheap pills now"),
        (5, None),
    ]
    src = str(tmp_path / "score_stream")
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(src)

    def pipe(df):
        scored = lang_id_predict(Tibble(df), lid, text="text")
        return quality_classifier_predict(scored, qclf, text="text").df.select(
            "doc_id", "lang_pred", "quality_prob"
        )

    stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
    got = run_to_memory(pipe(stream), mode="append")
    import pandas as pd

    def norm(v):
        # the memory sink materializes NULL doubles as pandas NaN;
        # Spark collect() gives None — same value, normalize
        return None if v is None or (isinstance(v, float) and pd.isna(v)) else v

    smap = {
        r.doc_id: (norm(r.lang_pred), norm(r.quality_prob))
        for r in got.itertuples(index=False)
    }
    batch = {
        r["doc_id"]: (norm(r["lang_pred"]), norm(r["quality_prob"]))
        for r in pipe(spark.read.parquet(src)).collect()
    }
    assert smap == batch and len(smap) == 5
    assert smap[1][0] == "en" and smap[2][0] == "fr"
    assert smap[3][1] > 0.8 and smap[4][1] < 0.2
    assert smap[5] == (None, None)


def test_streaming_readability_and_link_extraction(spark, tmp_path):
    """r12: readability registry functions are pure Column expressions
    and html_extract_links is a stateless explode — both run unchanged
    on a STREAMING frame with batch-identical results."""
    from datar_polars_spark import mutate
    from datar_polars_spark.functions.registry import builder
    from datar_polars_spark.scale import html_extract_links
    from datar_polars_spark.tibble import Tibble

    fre = builder("flesch_reading_ease")
    ttr = builder("type_token_ratio")
    rows = [
        (1, 'The cat sat. <a href="https://a.com/x">link</a> It sat!'),
        (2, "plain repetitive text text text"),
    ]
    src = str(tmp_path / "read_stream")
    spark.createDataFrame(rows, "doc_id bigint, text string").write.parquet(src)

    def pipe(df):
        td = Tibble(df) >> mutate(fre=fre(f.text), ttr=ttr(f.text))
        return html_extract_links(td, "text").df.select(
            "doc_id", "fre", "ttr", "link"
        )

    stream = spark.readStream.schema("doc_id bigint, text string").parquet(src)
    got = run_to_memory(pipe(stream), mode="append")
    smap = {
        (r.doc_id, r.link, round(r.fre, 6), round(r.ttr, 6))
        for r in got.itertuples(index=False)
    }
    batch = {
        (r["doc_id"], r["link"], round(r["fre"], 6), round(r["ttr"], 6))
        for r in pipe(spark.read.parquet(src)).collect()
    }
    assert smap == batch
    assert {r[1] for r in smap} == {"https://a.com/x"}  # doc 2 has no links
