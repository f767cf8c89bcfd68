"""WARC source: byte-deterministic writer/reader round-trip (plain AND
member-gzip), HTTP payload parsing, the malformation matrix (soft
per-record failure), composition with html_extract, manifest replica,
and the one-file-one-task plan shape."""

from __future__ import annotations

import gzip

SF_DIR = "/root/testdata/sf0.001"


def _records():
    return [
        {
            "warc_type": "warcinfo",
            "content_type": "application/warc-fields",
            "payload": b"software: kneaddata_spark\r\n",
        },
        {
            "warc_type": "response",
            "target_uri": "https://ex0.example.org/p/1",
            "http_status": 200,
            "http_content_type": "text/html; charset=utf-8",
            "payload": b"<html><head><title>t</title></head><body><p>Hi</p></body></html>",
        },
        {
            "warc_type": "response",
            "target_uri": "https://ex1.example.org/missing",
            "http_status": 404,
            "http_content_type": "text/html",
            "payload": b"<p>gone</p>",
        },
        {
            "warc_type": "request",
            "target_uri": "https://ex0.example.org/p/1",
            "content_type": "application/http",
            "payload": b"GET /p/1 HTTP/1.1\r\nHost: ex0.example.org\r\n\r\n",
        },
        {
            # binary body with CRLFCRLF inside: framing must use lengths,
            # never delimiters
            "warc_type": "response",
            "target_uri": "https://ex0.example.org/bin",
            "http_status": 200,
            "http_content_type": "application/octet-stream",
            "payload": b"\x00\x01\r\n\r\nWARC/1.0\r\n\xff" * 3,
        },
    ]


def test_roundtrip_plain_and_gzip(spark, tmp_path):
    from kneaddata_spark.sources.warc import build_warc_bytes, read_warc

    recs = _records()
    (tmp_path / "a.warc").write_bytes(build_warc_bytes(recs))
    (tmp_path / "b.warc.gz").write_bytes(build_warc_bytes(recs, member_gzip=True))
    got = read_warc(spark, str(tmp_path / "*.warc*")).collect()
    by_file: dict[str, list] = {}
    for r in got:
        by_file.setdefault(r["path"].rsplit("/", 1)[-1], []).append(r)
    assert set(by_file) == {"a.warc", "b.warc.gz"}
    for rows in by_file.values():
        rows = sorted(rows, key=lambda r: r["record_idx"])
        assert [r["warc_type"] for r in rows] == [
            "warcinfo", "response", "response", "request", "response",
        ]
        assert rows[1]["http_status"] == 200
        assert rows[1]["http_content_type"] == "text/html; charset=utf-8"
        assert bytes(rows[1]["payload"]) == recs[1]["payload"]
        assert rows[2]["http_status"] == 404
        # non-HTTP payloads pass through unparsed
        assert rows[3]["http_status"] is None
        assert bytes(rows[3]["payload"]) == recs[3]["payload"]
        # binary body with embedded CRLFCRLF/WARC magic framed by length
        assert bytes(rows[4]["payload"]) == recs[4]["payload"]
        assert all(r["reason"] is None for r in rows)


def test_malformation_matrix(spark, tmp_path):
    from kneaddata_spark.sources.warc import build_warc_bytes, read_warc

    ok = build_warc_bytes(_records()[:2])  # two good records first
    cases = {
        "torn.warc": ok + build_warc_bytes(_records()[1:2])[:-10],
        "magic.warc": ok + b"HTTP/1.1 200 X\r\n\r\n",
        "version.warc": ok + b"WARC/9.9\r\nContent-Length: 0\r\n\r\n\r\n\r\n",
        "nolen.warc": ok + b"WARC/1.0\r\nWARC-Type: response\r\n\r\n\r\n\r\n",
        "noterm.warc": ok
        + b"WARC/1.0\r\nContent-Length: 4\r\n\r\nBODYxxxx"
        + b" " * 8,
        "badgz.warc.gz": b"\x1f\x8b" + b"\x00" * 30,
        # truncated FINAL member: stdlib raises EOFError (not OSError) —
        # must still fail soft as one invalid row
        "teargz.warc.gz": build_warc_bytes(_records()[:2], member_gzip=True)[:-6],
    }
    for name, raw in cases.items():
        (tmp_path / name).write_bytes(raw)
    rows = read_warc(spark, str(tmp_path / "*.warc*")).collect()
    by_file = {}
    for r in rows:
        by_file.setdefault(r["path"].rsplit("/", 1)[-1], []).append(r)
    for name in cases:
        got = sorted(by_file[name], key=lambda r: r["record_idx"])
        if name in ("badgz.warc.gz", "teargz.warc.gz"):
            # whole-stream gzip failure: decompression is all-or-nothing,
            # so the file collapses to ONE invalid row (unlike framing
            # errors, where records before the tear survive)
            assert [r["warc_type"] for r in got] == ["invalid"]
            assert "gzip" in got[0]["reason"]
            continue
        # the two good records SURVIVE, then exactly one invalid row
        assert [r["warc_type"] for r in got] == [
            "warcinfo", "response", "invalid",
        ], (name, got)
        assert got[2]["reason"], name


def test_compose_with_html_extract(spark, tmp_path):
    """The point of the source: response payloads flow straight into the
    stage-zero extractor."""
    from pyspark.sql import functions as F

    from kneaddata_spark.operators.htmlextract import html_extract
    from kneaddata_spark.sources.warc import build_warc_bytes, read_warc

    (tmp_path / "c.warc.gz").write_bytes(
        build_warc_bytes(_records(), member_gzip=True)
    )
    recs = read_warc(spark, str(tmp_path / "c.warc.gz"))
    pages = recs.where(
        (F.col("warc_type") == "response")
        & F.col("http_content_type").startswith("text/html")
        & (F.col("http_status") == 200)
    ).select("target_uri", F.col("payload").cast("string").alias("html"))
    out = {r["target_uri"]: r["text"] for r in
           html_extract(pages, "target_uri", "html").collect()}
    assert out == {"https://ex0.example.org/p/1": "t\nHi"}


def test_manifest_matches_replica(spark, tmp_path):
    from kneaddata_spark.sources.warc import (
        build_warc_bytes,
        parse_warc_bytes,
        read_warc,
        warc_manifest,
    )

    raw = build_warc_bytes(_records())
    (tmp_path / "m.warc").write_bytes(raw)
    want_rows = list(parse_warc_bytes("m.warc", raw))
    m = warc_manifest(read_warc(spark, str(tmp_path / "m.warc"))).collect()
    assert len(m) == 1
    r = m[0]
    assert r["n_records"] == len(want_rows) == 5
    assert r["n_responses"] == 3
    assert r["n_ok"] == 2  # 200 + 200; the 404 is a response but not ok
    assert r["n_invalid"] == 0
    assert r["payload_bytes"] == sum(len(w["payload"]) for w in want_rows)


def test_gzip_member_stream_is_concatenated_members(tmp_path):
    """Each record is its OWN gzip member (the CommonCrawl convention a
    range-request reader relies on), not one stream."""
    from kneaddata_spark.sources.warc import build_warc_bytes

    raw = build_warc_bytes(_records(), member_gzip=True)
    # count gzip member headers: magic + deflate method at member starts
    n_members = 0
    off = 0
    while off < len(raw):
        assert raw[off : off + 2] == b"\x1f\x8b"
        n_members += 1
        # walk to the next member by decompressing exactly one
        d = gzip.zlib.decompressobj(31)
        d.decompress(raw[off:])
        off = len(raw) - len(d.unused_data)
    assert n_members == len(_records())


def test_read_plan_shape(spark, tmp_path):
    """One mapInPandas over the binaryFile scan, no shuffle before the
    record rows exist; the manifest adds exactly the one reduced-card
    aggregation exchange."""
    from kneaddata_spark.sources.warc import build_warc_bytes, read_warc, warc_manifest

    (tmp_path / "p.warc").write_bytes(build_warc_bytes(_records()))
    recs = read_warc(spark, str(tmp_path / "p.warc"))
    plan = recs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan
    mplan = warc_manifest(recs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(path" in mplan


def test_warc_audio_qc_transport_is_lossless(spark):
    """The axes-tying composition: clips packaged as WARC audio responses
    must QC IDENTICALLY to the same clips fed directly — same per-rule
    counts, byte-identical payloads after container round-trip."""
    import pandas as pd
    from pyspark.sql import functions as F

    from kneaddata_spark.pipeline import annotate, broadcast_models
    from kneaddata_spark.plans.entry_queries import (
        QUERIES,
        _WARC_AUDIO_N,
        _warc_audio_dir,
    )
    from kneaddata_spark.sources.warc import read_warc
    from kneaddata_spark.synth import gen_clips_pdf

    got = {
        r["status"]: r["n"]
        for r in QUERIES["warc_audio_qc"](spark, SF_DIR).collect()
    }

    direct_pdf = gen_clips_pdf(_WARC_AUDIO_N)
    direct = annotate(
        spark.createDataFrame(direct_pdf), *broadcast_models(spark)
    ).select(F.coalesce(F.col("drop_rule"), F.lit("kept")).alias("status"))
    want = {
        r["status"]: r["n"]
        for r in direct.groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    assert got == want and sum(got.values()) == _WARC_AUDIO_N

    # byte-identity through the container for every clip
    recs = read_warc(spark, _warc_audio_dir() + "/*.warc.gz")
    trans = {
        r["clip_id"]: bytes(r["payload"])
        for r in recs.where(F.col("http_content_type").startswith("audio/"))
        .select(
            F.regexp_extract("target_uri", r"/([^/]+)\.bin$", 1).alias("clip_id"),
            "payload",
        )
        .collect()
    }
    assert len(trans) == _WARC_AUDIO_N
    for cid, raw in zip(direct_pdf["clip_id"], direct_pdf["bytes"]):
        assert trans[cid] == bytes(raw), cid


def test_stream_warc_matches_batch_and_idempotent(spark, tmp_path):
    """The record walk is stateless per shard, so the SAME plan under
    readStream must emit exactly the batch rows — binary payloads
    byte-equal — and re-triggering on the same checkpoint appends
    nothing (exactly-once)."""
    from kneaddata_spark.sources.warc import build_warc_bytes, read_warc
    from kneaddata_spark.streaming import stream_warc_records

    src = tmp_path / "warc_in"
    src.mkdir()
    recs = _records()
    (src / "a.warc").write_bytes(build_warc_bytes(recs))
    (src / "b.warc.gz").write_bytes(build_warc_bytes(recs, member_gzip=True))
    # a torn shard flows through the stream with the same soft contract
    (src / "c.warc").write_bytes(build_warc_bytes(recs)[:-9])

    def key(r):
        return (r["path"].rsplit("/", 1)[-1], r["record_idx"])

    batch = {
        key(r): (r["warc_type"], r["target_uri"], r["http_status"],
                 None if r["payload"] is None else bytes(r["payload"]), r["reason"])
        for r in read_warc(spark, str(src) + "/*.warc*").collect()
    }

    out, ckpt = str(tmp_path / "warc_out"), str(tmp_path / "warc_ckpt")
    q = stream_warc_records(spark, str(src), out, ckpt)
    q.awaitTermination(300)
    got = {
        key(r): (r["warc_type"], r["target_uri"], r["http_status"],
                 None if r["payload"] is None else bytes(r["payload"]), r["reason"])
        for r in spark.read.parquet(out).collect()
    }
    assert got == batch and len(batch) == 15  # 5 + 5 + (4 good + 1 invalid)

    n_before = spark.read.parquet(out).count()
    q2 = stream_warc_records(spark, str(src), out, ckpt)  # same checkpoint
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == n_before


def test_write_warc_shards_roundtrip_and_deterministic(spark, tmp_path):
    """Distributed sink: records -> shard files from executors, receipt
    frame back; re-reading yields the same parsed records, and a second
    write is byte-identical (mtime=0 gzip, fixed header order)."""
    import hashlib

    from pyspark.sql import functions as F

    from kneaddata_spark.sources.warc import (
        build_warc_bytes,
        read_warc,
        write_warc_shards,
    )

    src = tmp_path / "in"
    src.mkdir()
    (src / "x.warc").write_bytes(build_warc_bytes(_records()))
    recs = read_warc(spark, str(src / "x.warc")).withColumn(
        "shard", (F.col("record_idx") % 2).cast("long")
    )

    def run(d):
        out = str(tmp_path / d)
        receipts = write_warc_shards(recs, out).collect()
        assert {r["shard"] for r in receipts} == {0, 1}
        assert sum(r["n_records"] for r in receipts) == 5
        for r in receipts:
            assert r["n_bytes"] > 0 and r["path"].endswith(".warc.gz")
        return out

    out1, out2 = run("o1"), run("o2")
    h1 = {p.name: hashlib.md5(p.read_bytes()).hexdigest()
          for p in sorted((tmp_path / "o1").iterdir())}
    h2 = {p.name: hashlib.md5(p.read_bytes()).hexdigest()
          for p in sorted((tmp_path / "o2").iterdir())}
    assert h1 == h2 and len(h1) == 2  # byte-deterministic shards

    back = read_warc(spark, out1 + "/*.warc.gz").collect()
    want = {
        (r["warc_type"], r["target_uri"], r["http_status"],
         r["http_content_type"],
         None if r["payload"] is None else bytes(r["payload"]))
        for r in recs.collect()
    }
    got = {
        (r["warc_type"], r["target_uri"], r["http_status"],
         r["http_content_type"],
         None if r["payload"] is None else bytes(r["payload"]))
        for r in back
    }
    assert got == want and all(r["reason"] is None for r in back)

    # multi-source-file case (ADVICE r5): two source files feed ONE output
    # shard, so record_idx values collide across files — shard bytes must
    # still be run-to-run deterministic (the sink sorts on a TOTAL key
    # with a stable sort, not on record_idx alone)
    y_recs = [dict(r) for r in _records()]
    for r in y_recs:
        if r.get("target_uri"):
            r["target_uri"] = r["target_uri"].replace("example.org", "example.net")
    (src / "y.warc").write_bytes(build_warc_bytes(y_recs))
    both = read_warc(spark, str(src) + "/*.warc").withColumn(
        "shard", F.lit(0).cast("long")
    )

    def run_multi(d):
        out = str(tmp_path / d)
        receipts = write_warc_shards(both, out).collect()
        assert [r["shard"] for r in receipts] == [0]
        assert receipts[0]["n_records"] == 10
        return out

    m1, m2 = run_multi("m1"), run_multi("m2")
    mh1 = [hashlib.md5(p.read_bytes()).hexdigest()
           for p in sorted((tmp_path / "m1").iterdir())]
    mh2 = [hashlib.md5(p.read_bytes()).hexdigest()
           for p in sorted((tmp_path / "m2").iterdir())]
    assert mh1 == mh2 and len(mh1) == 1


def test_stream_warc_audio_qc_matches_batch(spark, tmp_path):
    """Streaming crawled-audio QC == the batch composition on the same
    shards: per-status counts identical, kept clip ids identical;
    re-trigger on the same checkpoint appends nothing."""
    from pyspark.sql import functions as F

    from kneaddata_spark.plans.entry_queries import QUERIES, _warc_audio_dir
    from kneaddata_spark.streaming import stream_warc_audio_qc

    d = _warc_audio_dir()
    catalog = spark.read.parquet(d + "/catalog.parquet")
    batch = {
        r["status"]: r["n"]
        for r in QUERIES["warc_audio_qc"](spark, SF_DIR).collect()
    }

    out, ckpt = str(tmp_path / "aqc_out"), str(tmp_path / "aqc_ckpt")
    q = stream_warc_audio_qc(spark, d + "/*.warc.gz", catalog, out, ckpt)
    q.awaitTermination(300)
    streamed = spark.read.parquet(out)
    got = {
        r["status"]: r["n"]
        for r in streamed.groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    assert got == batch and sum(got.values()) == 240

    n_before = streamed.count()
    q2 = stream_warc_audio_qc(spark, d + "/*.warc.gz", catalog, out, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == n_before


def test_parse_warc_bytes_fuzz_never_raises():
    """1,000 seeded byte-level mutations (flips, deletions, insertions)
    of valid plain AND member-gzip shards: the parser must always
    return rows (possibly 'invalid' with a reason), NEVER raise — the
    soft-failure contract under genuinely hostile bytes. Catches the
    exception-type gaps a hand-written malformation matrix misses
    (BadGzipFile vs EOFError vs zlib.error)."""
    import random

    from kneaddata_spark.sources.warc import build_warc_bytes, parse_warc_bytes

    plain = build_warc_bytes(_records())
    gz = build_warc_bytes(_records(), member_gzip=True)
    rng = random.Random(20260820)
    for trial in range(1000):
        base = plain if trial % 2 == 0 else gz
        b = bytearray(base)
        for _ in range(rng.randint(1, 8)):
            op = rng.random()
            pos = rng.randrange(len(b))
            if op < 0.5:
                b[pos] = rng.randrange(256)
            elif op < 0.75:
                del b[pos : pos + rng.randint(1, 24)]
            else:
                b[pos:pos] = bytes(
                    rng.randrange(256) for _ in range(rng.randint(1, 24))
                )
        rows = list(parse_warc_bytes(f"fuzz{trial}", bytes(b)))
        for r in rows:
            assert r["path"] == f"fuzz{trial}" and r["record_idx"] >= 0
            if r["warc_type"] == "invalid":
                assert r["reason"]


def test_wet_from_responses_roundtrip(spark, tmp_path):
    """The third archive product: WET conversion records carry the
    html_extract text of ok html responses; written via the shard sink
    they re-read as a valid WARC container whose payloads equal the
    extractor's output; plan is one shuffle-free projection."""
    from pyspark.sql import functions as F

    from kneaddata_spark.operators.htmlextract import html_extract
    from kneaddata_spark.sources.warc import (
        build_warc_bytes,
        read_warc,
        wet_from_responses,
        write_warc_shards,
    )

    src = tmp_path / "in"
    src.mkdir()
    (src / "x.warc.gz").write_bytes(build_warc_bytes(_records(), member_gzip=True))
    recs = read_warc(spark, str(src) + "/*.warc.gz")
    wet = wet_from_responses(recs)

    plan = wet._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan

    rows = wet.collect()
    # of the 5 fixture records: only the 200 text/html response qualifies
    assert [r["warc_type"] for r in rows] == ["conversion"]
    assert rows[0]["content_type"] == "text/plain"
    want_text = {
        r["target_uri"]: r["text"]
        for r in html_extract(
            recs.where(F.col("http_content_type").startswith("text/html")
                       & (F.col("http_status") == 200))
            .select("target_uri", F.col("payload").cast("string").alias("html")),
            "target_uri", "html",
        ).collect()
    }
    assert bytes(rows[0]["payload"]).decode() == want_text[rows[0]["target_uri"]]

    out = str(tmp_path / "wet_out")
    receipts = write_warc_shards(
        wet.withColumn("shard", F.lit(0)), out
    ).collect()
    assert receipts[0]["n_records"] == 1
    back = read_warc(spark, out + "/*.warc.gz").collect()
    assert back[0]["warc_type"] == "conversion"
    assert bytes(back[0]["payload"]).decode() == want_text[rows[0]["target_uri"]]
