"""WARC source/sink + HTML extraction (sources/warc.py)."""

from __future__ import annotations

import gzip

import pytest

from dataflowjavasdk_spark.sources.warc import (
    build_warc_record,
    extract_html_text,
    parse_warc,
    read_warc,
    with_extracted_text,
    write_warc,
)


def test_record_roundtrip_plain_and_gzip_members():
    r1 = build_warc_record("https://a.example/1", "<p>Hello &amp; bye</p>")
    req = build_warc_record("https://a.example/1", "", warc_type="request")
    r2 = build_warc_record("https://b.example/2", "<i>x</i>", status=404)
    recs = parse_warc(req + r1 + r2)
    assert [r["url"] for r in recs] == ["https://a.example/1", "https://b.example/2"]
    assert [r["status"] for r in recs] == [200, 404]
    assert recs[0]["content_type"] == "text/html"
    # per-record gzip members parse identically (the random-access layout)
    gz = gzip.compress(req) + gzip.compress(r1) + gzip.compress(r2)
    assert parse_warc(gz) == recs


def test_parse_rejects_malformed_records():
    good = build_warc_record("https://a.example/1", "<p>x</p>")
    with pytest.raises(ValueError, match="bad WARC version line"):
        parse_warc(b"HTTP/1.1 200 OK\r\n\r\n")
    with pytest.raises(ValueError, match="truncated WARC record header"):
        parse_warc(good[:20])
    with pytest.raises(ValueError, match="truncated WARC record body"):
        parse_warc(good[:-10])
    # strip the Content-Length header line
    broken = good.replace(b"Content-Length", b"X-Length")
    with pytest.raises(ValueError, match="missing Content-Length"):
        parse_warc(broken)
    # mangle the HTTP status line
    bad_http = good.replace(b"HTTP/1.1 200 OK", b"HTTP/1.1 OK 200")
    with pytest.raises(ValueError, match="bad HTTP status line"):
        parse_warc(bad_http)


def test_content_length_is_bytes_not_chars():
    """Multi-byte UTF-8 payloads: record framing counts bytes, so a
    charset/byte confusion would truncate or overrun the next record."""
    html = "<p>héllo wörld — ünïcode</p>"
    r1 = build_warc_record("https://u.example/1", html)
    r2 = build_warc_record("https://u.example/2", "<p>next</p>")
    recs = parse_warc(r1 + r2)
    assert recs[0]["html"] == html
    assert recs[1]["url"] == "https://u.example/2"


def test_extract_html_text_semantics():
    assert extract_html_text("<p>Hello &amp; bye</p>") == "Hello & bye"
    assert (
        extract_html_text(
            "<html><head><title>T</title></head>"
            "<body>x<script>var a=1;</script>y</body></html>"
        )
        == "T x y"
    )
    assert extract_html_text("<p>  a\n\nb  </p><style>.c{}</style>") == "a b"
    assert extract_html_text("") == ""
    # nested script inside skipped subtree stays skipped
    assert extract_html_text("<script>a<style>b</style>c</script>d") == "d"
    # unicode whitespace survives: the oracle twin collapses with
    # DuckDB/RE2 '\s+' (ASCII-only), so the Python side must not be
    # unicode-aware — NBSP inside and U+2028 at the end both preserved
    assert extract_html_text("<p>a\u00a0b</p>") == "a\u00a0b"
    assert extract_html_text("<p>c\u2028</p>") == "c\u2028"


def test_spark_write_read_roundtrip(spark, tmp_path):
    rows = [
        (f"https://s.example/{i}", "2024-01-01T00:00:00Z", 200,
         "text/html", f"<html><body><p>doc {i} &amp; more</p></body></html>")
        for i in range(20)
    ]
    df = spark.createDataFrame(
        rows,
        "url string, warc_date string, status int, content_type string, "
        "html string",
    ).repartition(3)
    d = str(tmp_path / "warc_out")
    n_shards = write_warc(df, d, with_requests=True)
    assert 1 <= n_shards <= 3
    back = with_extracted_text(read_warc(spark, d))
    got = {r.url: r for r in back.collect()}
    assert len(got) == 20  # request records filtered out
    r = got["https://s.example/7"]
    assert r.status == 200
    assert r.text == "doc 7 & more"


def test_extracting_read_equals_read_then_extract(spark, tmp_path):
    """`read_warc(..., extract_text=True)` is `with_extracted_text` over
    the plain read, in the read's own Python pass; a shard holding only
    request records contributes nothing to either."""
    from dataflowjavasdk_spark.plans import audit

    rows = [
        (f"https://x.example/{i}", "2024-01-01T00:00:00Z", 200 + i % 2,
         "text/html", f"<p>page {i}</p><script>x={i}</script>&eacute;")
        for i in range(12)
    ]
    df = spark.createDataFrame(
        rows,
        "url string, warc_date string, status int, content_type string, "
        "html string",
    ).repartition(3)
    d = tmp_path / "warc_fused"
    write_warc(df, str(d), with_requests=True)
    (d / "requests-only.warc.gz").write_bytes(gzip.compress(
        build_warc_record("https://x.example/r", "", warc_type="request")))
    fused = read_warc(spark, str(d), extract_text=True)
    assert audit(fused).python_evals == 1
    two_pass = with_extracted_text(read_warc(spark, str(d)))
    assert fused.columns == two_pass.columns
    assert sorted(fused.collect()) == sorted(two_pass.collect())
    assert len(fused.collect()) == 12


def test_write_skips_empty_partitions(spark, tmp_path):
    df = spark.createDataFrame(
        [("https://e.example/1", "2024-01-01T00:00:00Z", 200, "text/html",
          "<p>only</p>")],
        "url string, warc_date string, status int, content_type string, "
        "html string",
    ).repartition(8)
    d = str(tmp_path / "warc_sparse")
    n_shards = write_warc(df, d)
    assert n_shards == 1  # 7 empty partitions write nothing
    assert read_warc(spark, d).count() == 1


def test_read_stream_warc_microbatches_and_batch_equivalence(spark, tmp_path):
    """Streaming WARC drop-dir: crawl segments landed into the dir become
    micro-batches (exactly-once across rounds against one checkpoint),
    and the streamed rows equal the batch read on the same files."""
    from dataflowjavasdk_spark.streaming import core as SC

    def pages(lo, hi):
        return spark.createDataFrame(
            [(f"https://s.example/{i}", "2024-01-01T00:00:00Z", 200,
              "text/html", f"<p>doc {i}</p>") for i in range(lo, hi)],
            "url string, warc_date string, status int, content_type string, "
            "html string",
        ).coalesce(1)

    d = str(tmp_path / "warc_stream")
    ckpt = str(tmp_path / "ckpt")
    write_warc(pages(0, 4), d)

    def run_round():
        got = []

        def sink(batch_df, batch_id):
            got.extend(r.url for r in batch_df.collect())

        q = (
            SC.read_stream_warc(spark, d)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return set(got)

    assert run_round() == {f"https://s.example/{i}" for i in range(4)}
    # second segment lands; exactly-once: only the NEW file this round
    write_warc(pages(4, 7), d)
    assert run_round() == {f"https://s.example/{i}" for i in range(4, 7)}
    # unified-model contract: batch read sees the union of all segments
    batch = {r.url for r in read_warc(spark, d).collect()}
    assert batch == {f"https://s.example/{i}" for i in range(7)}
