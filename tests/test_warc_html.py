"""WARC source + HTML->text extraction tests.

Builds a real multi-record WARC file byte-by-byte (response with HTTP
headers, request, metadata records), reads it through the lineSep-split
text source, and chains html_to_text + url/dedup ops over the payloads
— the crawl -> corpus head of the pipeline end-to-end.
"""

import pytest
from pyspark.sql import functions as F

from whylogs_spark.core.plan import Plan, named
from whylogs_spark.io.warc import read_warc, warc_responses
from whylogs_spark.ops.html import (extract_links, extract_title,
                                    html_to_text, html_to_text_col)

HTML_A = (
    "<html><head><title> Page  One </title>"
    "<style>body { color: red }</style></head>"
    "<body><h1>Welcome</h1>"
    "<script>var x = '<p>not text</p>';</script>"
    "<p>First paragraph &amp; more.</p>"
    "<div>Second <b>bold</b> bit</div>"
    "<a href=\"http://other.example/x\">link</a>"
    "<!-- a comment --></body></html>"
)
HTML_B = "<html><body><p>Tiny page</p></body></html>"


def _warc_record(headers: dict, payload: bytes) -> bytes:
    head = b"WARC/1.0\r\n" + b"".join(
        f"{k}: {v}\r\n".encode() for k, v in headers.items())
    return head + b"\r\n" + payload


def _warc_bytes() -> bytes:
    http_a = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"
              + HTML_A.encode())
    http_b = (b"HTTP/1.1 404 Not Found\r\nContent-Type: text/html\r\n"
              b"\r\n" + HTML_B.encode())
    recs = [
        _warc_record(
            {"WARC-Type": "warcinfo", "WARC-Record-ID": "<urn:uuid:0>",
             "Content-Type": "application/warc-fields",
             "Content-Length": "10"},
            b"robots: ok"),
        _warc_record(
            {"WARC-Type": "response",
             "WARC-Target-URI": "http://site.example/a",
             "WARC-Date": "2026-01-02T03:04:05Z",
             "WARC-Record-ID": "<urn:uuid:1>",
             "Content-Type": "application/http; msgtype=response",
             "Content-Length": str(len(http_a))},
            http_a),
        _warc_record(
            {"WARC-Type": "request",
             "WARC-Target-URI": "http://site.example/a",
             "WARC-Record-ID": "<urn:uuid:2>",
             "Content-Type": "application/http; msgtype=request",
             "Content-Length": "20"},
            b"GET /a HTTP/1.1\r\n\r\n"),
        _warc_record(
            {"WARC-Type": "response",
             "WARC-Target-URI": "http://site.example/b",
             "WARC-Date": "2026-01-02T03:05:06Z",
             "WARC-Record-ID": "<urn:uuid:3>",
             "Content-Type": "application/http; msgtype=response",
             "Content-Length": str(len(http_b))},
            http_b),
    ]
    return b"\r\n\r\n".join(recs) + b"\r\n\r\n"


@pytest.fixture()
def warc_dir(tmp_path):
    d = tmp_path / "warc"
    d.mkdir()
    (d / "crawl-00000.warc").write_bytes(_warc_bytes())
    return str(d)


def test_read_warc_records(spark, warc_dir):
    rows = {r["record_id"]: r for r in read_warc(spark, warc_dir).collect()}
    assert len(rows) == 4
    a = rows["<urn:uuid:1>"]
    assert a["warc_type"] == "response"
    assert a["target_uri"] == "http://site.example/a"
    assert a["warc_date"] == "2026-01-02T03:04:05Z"
    assert a["http_status"] == 200
    assert a["payload"].startswith("<html><head><title>")
    info = rows["<urn:uuid:0>"]
    assert info["warc_type"] == "warcinfo"
    assert info["http_status"] is None
    assert info["payload"] == "robots: ok"
    assert rows["<urn:uuid:3>"]["http_status"] == 404


def test_warc_responses_filters_to_200(spark, warc_dir):
    got = warc_responses(spark, warc_dir).collect()
    assert len(got) == 1
    r = got[0]
    assert r["url"] == "http://site.example/a"
    assert str(r["fetched_at"]).startswith("2026-01-02 03:04:05")


@pytest.mark.parametrize("impl", ["sql", "parser"])
def test_html_to_text_kernels(spark, impl):
    df = spark.createDataFrame([(HTML_A,)], "payload string")
    r = html_to_text(df, impl=impl).collect()[0]
    assert r["title"] == "Page One"
    text = r["text"]
    assert "Welcome" in text and "First paragraph & more." in text
    assert "Second bold bit" in text
    # script/style/comment content must never leak into corpus text
    assert "not text" not in text
    assert "color: red" not in text
    assert "a comment" not in text
    # block tags produced line structure
    assert text.splitlines()[0] == "Welcome"


def test_extract_links_and_title_exprs(spark):
    df = spark.createDataFrame([(HTML_A,)], "h string")
    row = df.select(
        extract_title(F.col("h")).alias("t"),
        extract_links(F.col("h")).alias("l")).collect()[0]
    assert row["t"] == "Page One"
    assert row["l"] == ["http://other.example/x"]


def test_crawl_to_corpus_pipeline(spark, warc_dir):
    """WARC -> html_to_text -> url canonicalization: the chained head
    of a corpus build, all JVM-side."""
    from whylogs_spark.ops.urls import with_url_parts

    pages = html_to_text(warc_responses(spark, warc_dir))
    out = with_url_parts(pages, url_col="url").select(
        "url_norm", "domain", "title", "text")
    r = out.collect()[0]
    assert r["url_norm"] == "http://site.example/a"
    assert r["domain"] == "site.example"
    assert "First paragraph" in r["text"]

    # plan stays Python-free for the sql kernel
    assert not Plan.of(out).has(named("Python", "Arrow"))


def test_html_entities_single_pass_decode(spark):
    """Escaped entities must decode exactly once: '&amp;lt;' renders
    as '&lt;', never '<'; same for numeric forms."""
    from whylogs_spark.ops.html import html_to_text

    page = "<p>a &amp;lt; b</p><p>x &amp;#39;y</p><p>c &lt; d &amp; e</p>"
    for impl in ("sql", "parser"):
        t = html_to_text(
            spark.createDataFrame([(page,)], "payload string"),
            impl=impl).collect()[0]["text"]
        assert "a &lt; b" in t, (impl, t)
        assert "c < d & e" in t, (impl, t)
        assert "a < b" not in t, (impl, t)


def test_read_warc_gzip_whole_file(spark, tmp_path):
    """.warc.gz reads through Spark's gzip codec (whole-file — the
    docstring's stated parallelism caveat — but correct)."""
    import gzip

    d = tmp_path / "warcgz"
    d.mkdir()
    (d / "crawl-0.warc.gz").write_bytes(gzip.compress(_warc_bytes()))
    rows = {r["record_id"]: r
            for r in read_warc(spark, str(d)).collect()}
    assert len(rows) == 4
    assert rows["<urn:uuid:1>"]["http_status"] == 200


# --------------------------------------------------- MP4 video metadata

def _box(btype: bytes, payload: bytes) -> bytes:
    return (8 + len(payload)).to_bytes(4, "big") + btype + payload


def _synthetic_mp4(version: int = 0) -> bytes:
    import struct

    ftyp = _box(b"ftyp", b"isom" + b"\x00\x00\x02\x00" + b"isomiso2")
    if version == 0:
        mvhd = _box(b"mvhd", bytes([0, 0, 0, 0])
                    + struct.pack(">II", 0, 0)         # times
                    + struct.pack(">II", 1000, 7500))  # timescale, dur
    else:
        mvhd = _box(b"mvhd", bytes([1, 0, 0, 0])
                    + struct.pack(">QQ", 0, 0)
                    + struct.pack(">I", 1000)
                    + struct.pack(">Q", 7500))
    # video track: tkhd v0 (84-byte body) + hdlr vide + stsd avc1
    tkhd = _box(b"tkhd", bytes([0, 0, 0, 0]) + b"\x00" * 72
                + struct.pack(">II", 640 << 16, 360 << 16))
    hdlr_v = _box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12)
    avc1 = _box(b"avc1", b"\x00" * 70)
    stsd_v = _box(b"stsd", b"\x00" * 8 + avc1)
    stbl_v = _box(b"stbl", stsd_v)
    minf_v = _box(b"minf", stbl_v)
    mdia_v = _box(b"mdia", hdlr_v + minf_v)
    trak_v = _box(b"trak", tkhd + mdia_v)
    # audio track
    hdlr_a = _box(b"hdlr", b"\x00" * 8 + b"soun" + b"\x00" * 12)
    mp4a = _box(b"mp4a", b"\x00" * 28)
    stsd_a = _box(b"stsd", b"\x00" * 8 + mp4a)
    mdia_a = _box(b"mdia", hdlr_a + _box(b"minf", _box(b"stbl", stsd_a)))
    trak_a = _box(b"trak", _box(b"tkhd", bytes([0, 0, 0, 0])
                                + b"\x00" * 80) + mdia_a)
    moov = _box(b"moov", mvhd + trak_v + trak_a)
    return ftyp + moov + _box(b"mdat", b"\x00" * 32)


@pytest.mark.parametrize("ver", [0, 1])
def test_parse_mp4_synthetic(ver):
    from whylogs_spark.ops.multimodal import parse_mp4

    m = parse_mp4(_synthetic_mp4(ver))
    assert m["major_brand"] == "isom"
    assert m["duration_sec"] == pytest.approx(7.5)
    assert m["n_tracks"] == 2
    assert m["width"] == 640 and m["height"] == 360
    assert m["video_codec"] == "avc1"
    assert m["audio_codec"] == "mp4a"


def test_parse_mp4_rejects_garbage():
    from whylogs_spark.ops.multimodal import parse_mp4

    assert parse_mp4(b"") == {}
    assert parse_mp4(b"not a video at all, just text" * 4) == {}
    # truncated mid-moov: parser stops cleanly, no exception
    full = _synthetic_mp4()
    m = parse_mp4(full[: len(full) // 2])
    assert m.get("major_brand") == "isom"


def test_extract_video_metadata_dataframe(spark):
    from whylogs_spark.ops.multimodal import extract_video_metadata

    rows = [("a.mp4", bytearray(_synthetic_mp4())),
            ("bad.bin", bytearray(b"\x00" * 40)),
            ("null.mp4", None)]
    df = spark.createDataFrame(rows, "path string, content binary")
    out = {r.path: r for r in extract_video_metadata(df).collect()}
    assert out["a.mp4"].duration_sec == pytest.approx(7.5)
    assert out["a.mp4"].video_codec == "avc1"
    assert out["a.mp4"].n_tracks == 2
    assert out["bad.bin"].major_brand is None
    assert out["null.mp4"].duration_sec is None


def test_sniff_tiff_dimensions():
    import struct

    from whylogs_spark.ops.multimodal import _sniff_image

    for endian, pre in (("<", b"II*\x00"), (">", b"MM\x00*")):
        # IFD0 at offset 8 with ImageWidth=800 (SHORT), ImageLength=600
        # (LONG)
        entries = (
            struct.pack(endian + "HHI", 256, 3, 1)
            + struct.pack(endian + "H", 800) + b"\x00\x00"
            + struct.pack(endian + "HHI", 257, 4, 1)
            + struct.pack(endian + "I", 600)
        )
        tif = (pre + struct.pack(endian + "I", 8)
               + struct.pack(endian + "H", 2) + entries
               + struct.pack(endian + "I", 0))
        assert _sniff_image(tif) == ("tiff", 800, 600)
    # truncated TIFF degrades, never raises
    assert _sniff_image(b"II*\x00\x08\x00\x00\x00")[0] == "tiff"


def test_parse_mp4_v1_tkhd():
    import struct

    from whylogs_spark.ops.multimodal import parse_mp4

    mvhd = _box(b"mvhd", bytes([0, 0, 0, 0])
                + struct.pack(">II", 0, 0)
                + struct.pack(">II", 600, 1200))
    tkhd_v1 = _box(b"tkhd", bytes([1, 0, 0, 0]) + b"\x00" * 84
                   + struct.pack(">II", 1920 << 16, 1080 << 16))
    hdlr_v = _box(b"hdlr", b"\x00" * 8 + b"vide" + b"\x00" * 12)
    stsd_v = _box(b"stsd", b"\x00" * 8 + _box(b"hvc1", b"\x00" * 70))
    mdia_v = _box(b"mdia", hdlr_v + _box(b"minf", _box(b"stbl", stsd_v)))
    moov = _box(b"moov", mvhd + _box(b"trak", tkhd_v1 + mdia_v))
    ftyp = _box(b"ftyp", b"mp42" + b"\x00" * 4 + b"mp42")
    m = parse_mp4(ftyp + moov)
    assert m["duration_sec"] == pytest.approx(2.0)
    assert m["width"] == 1920 and m["height"] == 1080
    assert m["video_codec"] == "hvc1"


def test_parse_mp4_short_v1_mvhd_is_skipped():
    import struct

    from whylogs_spark.ops.multimodal import parse_mp4

    # version-1 mvhd with a 28-byte body: too short to carry the
    # 64-bit duration — must be skipped, not read past the box
    mvhd = _box(b"mvhd", bytes([1, 0, 0, 0]) + b"\x00" * 24)
    ftyp = _box(b"ftyp", b"isom" + b"\x00" * 4 + b"isom")
    m = parse_mp4(ftyp + _box(b"moov", mvhd))
    assert "duration_sec" not in m


# ------------------------------------------------------- robots.txt

def test_glob_match_star_in_path():
    from whylogs_spark.ops.urls import _glob_match

    # '*' is a legal path character; pattern star must still wildcard
    assert _glob_match("/*a", False, "/*ba")
    assert _glob_match("/*secret", False, "/*x-secret")
    assert not _glob_match("/*secret", False, "/open")


def test_robots_filter_enforces_rules(spark):
    from whylogs_spark.ops.urls import robots_filter

    robots_a = "\n".join([
        "User-agent: *",
        "Disallow: /private/",
        "Allow: /private/ok.html",
    ])
    robots_b = "\n".join([
        "User-agent: mybot",
        "Disallow: /",
        "User-agent: *",
        "Disallow:",
    ])
    robots = spark.createDataFrame(
        [("a.com", robots_a), ("b.com", robots_b), ("empty.com", "")],
        "host string, robots_txt string")
    urls = spark.createDataFrame(
        [(0, "https://a.com/index.html"),
         (1, "https://a.com/private/secret.html"),
         (2, "https://a.com/private/ok.html"),
         (3, "https://b.com/anything"),
         (4, "https://empty.com/x"),
         (5, "https://norobots.com/y")],
        "doc_id long, url string")
    kept = sorted(r.doc_id for r in robots_filter(
        urls, robots).select("doc_id").collect())
    # default agent '*': a.com blocks /private/ except ok.html; b.com
    # allows '*'; no/empty robots -> allowed
    assert kept == [0, 2, 3, 4, 5]
    bot = sorted(r.doc_id for r in robots_filter(
        urls, robots, agent="mybot").select("doc_id").collect())
    assert 3 not in bot              # b.com blocks mybot entirely
    audit = sorted(r.doc_id for r in robots_filter(
        urls, robots, keep="disallowed").select("doc_id").collect())
    assert audit == [1]
    import pytest as _pt
    with _pt.raises(ValueError):
        robots_filter(urls, robots, keep="nope")


def test_robots_rules_longest_match_and_wildcards():
    from whylogs_spark.ops.urls import (_robots_allowed,
                                        _robots_rules_for)

    body = "\n".join([
        "User-agent: *",
        "Disallow: /shop/*/checkout",
        "Allow: /shop/",
        "Disallow: /*.pdf$",
        "Disallow: /tmp",
    ])
    rules = _robots_rules_for(body, "anybot")
    assert _robots_allowed(rules, "https://x.com/shop/a/item")
    assert not _robots_allowed(rules, "https://x.com/shop/a/checkout")
    assert not _robots_allowed(rules, "https://x.com/doc.pdf")
    assert _robots_allowed(rules, "https://x.com/doc.pdfx")  # $ anchors
    assert not _robots_allowed(rules, "https://x.com/tmpfile")  # prefix
    assert _robots_allowed(rules, "https://x.com/other")

    # most specific agent group wins over '*'
    body2 = "\n".join([
        "User-agent: greedybot",
        "Disallow: /",
        "User-agent: *",
        "Disallow: /secret/",
    ])
    g = _robots_rules_for(body2, "GreedyBot/2.1")
    assert not _robots_allowed(g, "https://x.com/anything")
    star = _robots_rules_for(body2, "otherbot")
    assert _robots_allowed(star, "https://x.com/anything")
    assert not _robots_allowed(star, "https://x.com/secret/x")


def test_robots_group_merge_and_adversarial_pattern():
    import time

    from whylogs_spark.ops.urls import (_glob_match, _robots_allowed,
                                        _robots_rules_for)

    # RFC 2.2.1: repeated matching groups MERGE
    body = "User-agent: *\nDisallow: /a\n\nUser-agent: *\nDisallow: /b"
    rules = _robots_rules_for(body, "anybot")
    assert not _robots_allowed(rules, "https://x.com/a1")
    assert not _robots_allowed(rules, "https://x.com/b1")
    # non-rule records (sitemap) neither break groups nor flush them
    body2 = ("User-agent: a\nSitemap: https://x.com/s.xml\n"
             "User-agent: b\nDisallow: /x")
    assert not _robots_allowed(
        _robots_rules_for(body2, "a"), "https://x.com/x1")
    # adversarial wildcard rule must evaluate in linear-ish time, not
    # exponential regex backtracking
    evil = "/" + "*a" * 24 + "b"
    t0 = time.time()
    for _ in range(50):
        _glob_match(evil.rstrip("$"), False, "/" + "a" * 30)
    assert time.time() - t0 < 1.0


def test_robots_filter_host_normalization_and_dup_rows(spark):
    from whylogs_spark.ops.urls import robots_filter

    robots = spark.createDataFrame(
        [("WWW.A.com:443", "User-agent: *\nDisallow: /"),
         ("b.com", "User-agent: *\nDisallow: /"),
         ("b.com", "User-agent: *\nDisallow: /")],  # duplicate row
        "host string, robots_txt string")
    urls = spark.createDataFrame(
        [(0, "https://www.a.com/x"), (1, "https://a.com/y"),
         (2, "https://b.com/z"), (3, "https://c.com/ok")],
        "doc_id long, url string")
    out = robots_filter(urls, robots)
    kept = sorted(r.doc_id for r in out.select("doc_id").collect())
    # www/case/port variants of a.com all resolve to its rules; the
    # duplicated b.com row must not duplicate output rows
    assert kept == [3]
    assert out.count() == 1
