"""C1 canonicalization goldens + UDF/pure-function agreement."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from webscraping_video_pipeline_spark.functions.urls import (
    canonicalize_url,
    canonicalize_url_udf,
    host_col,
    host_of,
)

GOLDEN = [
    ("https://EXAMPLE.com/a", "https://example.com/a"),
    ("https://example.com:443/a", "https://example.com/a"),
    ("http://example.com:80/a", "http://example.com/a"),
    ("http://example.com:8080/a", "http://example.com:8080/a"),
    ("https://example.com/a?", "https://example.com/a"),
    ("https://example.com/a#frag", "https://example.com/a"),
    ("https://example.com/a?b=2&a=1", "https://example.com/a?a=1&b=2"),
    ("https://example.com", "https://example.com/"),
    ("https://münchen.de/a", "https://xn--mnchen-3ya.de/a"),
    (None, None),
]


@pytest.mark.parametrize("raw,want", GOLDEN)
def test_canonicalize_golden(raw, want):
    assert canonicalize_url(raw) == want


def test_canonicalize_idempotent():
    for raw, want in GOLDEN:
        if want is not None:
            assert canonicalize_url(want) == want


def test_udf_matches_pure(spark, pages):
    got = (
        pages.select("url", canonicalize_url_udf("url").alias("canon"))
        .toPandas()
    )
    for _, r in got.iterrows():
        assert r.canon == canonicalize_url(r.url)


def test_host_col_matches_host_of(spark, pages):
    df = (
        pages.select(canonicalize_url_udf("url").alias("canon"))
        .select("canon", host_col(F.col("canon")).alias("h_jvm"))
        .toPandas()
    )
    for _, r in df.iterrows():
        assert r.h_jvm == host_of(r.canon)


def test_vectorized_fast_path_parity():
    """The Arrow-kernel batch path inside canonicalize_url_udf must be
    byte-identical to the scalar function on the fast/slow boundary: safe
    1-2-param queries (including the prefix-key tuple-order trap), default
    and leading-zero ports, fallbacks (3 params, encoded chars, userinfo,
    idna hosts, 5-digit/invalid ports, mid-string control chars, Unicode
    whitespace that str.strip() removes), and the row order after the
    fallback rows are scattered back."""
    import pyarrow as pa

    fn = canonicalize_url_udf.func
    cases = [
        None,
        "HTTPS://H7.Example.COM:443/p/123?b=2&a=1#frag",
        "http://h.com:0080/x",
        "http://h.com?",
        "http://h.com/p?a=x&a0=y",  # '=' sorts above digits: tuple order
        "http://h.com/p?a0=y&a=x",
        "http://h.com/p?a=b&a=a",
        "http://h.com/p?a=1&b=2&c=3",  # 3 params -> scalar path
        "http://h.com/p?x=%41",  # encoded -> scalar path
        "http://user@h.com/p",  # userinfo -> scalar path
        "http://h.com:65535/p",  # 5-digit port -> scalar path
        "http://h.com:99999/p",  # invalid port -> scalar path
        "http://ünïcode.example/p",  # idna -> scalar path
        "  http://h.com/p  ",
        "http://h\nx.com/p",  # urlsplit strips mid-string CR/LF/TAB
        "http://h.com:0/p",
        "http://h.com./p?~z=_1&A-a=.2",
        "http://h.com/p#frag#more",
        "not a url",
        "",
        # str.strip() removes trailing spaces and Unicode whitespace
        "http://h.com/p ",
        "http://h.com/p\u2028",
        "http://h.com/p?a=1\u0085",
        "\xa0http://h.com/p",
        "http://h.com/p#a\nb",
        "http://h.com/p?a=",
        "?a=&a=",
        "?b=&a=1",
        "HTTP://H.COM:80",
        "http://h.com:00080/x",
    ]
    # fast, fallback and null rows interleaved: pins the scatter order
    mixed = [
        "http://b.com/2?b=1&a=2",
        "http://user@a.com/1",
        None,
        "HTTP://C.COM:8080",
        "http://d.com/p?a=1&b=2&c=3",
        None,
        "http://e.com",
    ]
    for batch in (cases, mixed, [None, None, None]):
        got = fn(pa.array(batch, pa.string())).to_pylist()
        assert len(got) == len(batch)
        for raw, g in zip(batch, got):
            assert g == canonicalize_url(raw), raw


# (fast-shape spellings, off-shape spellings) per URL component
_FUZZ_PARTS = [
    (
        ["http://", "https://", "HTTP://", "HttpS://", "ftp://", "x+y://"],
        ["h1:", "1h://", "http:/", ""],
    ),
    (
        ["h.com", "H7.Example.COM", "a-b.c", "h.com.", "-"],
        ["münchen.de", "u@h.com", "[::1]", "h_x.com", ""],
    ),
    (
        ["", ":80", ":443", ":0080", ":8080", ":0", ":0000"],
        [":00080", ":65535", ":99999", ":", ":x"],
    ),
    (["", "/", "/p", "/p/1", "//x", "/p;q", "/%41", "/a+b"], ["/a b", "/ü", "/p\t1"]),
    (
        ["", "?a=1", "?b=2&a=1", "?a=x&a0=y", "?a0=y&a=x", "?a=b&a=a", "?a=", "?~z=_1&A-a=.2"],
        ["?", "?a=&a=&a=", "?a=1&b=2&c=3", "?x=%41", "?a", "?=1", "?a=1&&b=2", "?a+b=c"],
    ),
    (["", "#", "#f", "#a#b", "#?x"], ["#a\nb", "# x", "#ü"]),
]
_FUZZ_ALPHABET = "aZ09-._~:/?#&=%+ \t\n@[]ü\x85\xa0"


def test_udf_differential_fuzz(spark):
    """canonicalize_url_udf run by Spark (one Arrow batch per partition, fast
    and fallback rows mixed in each) agrees with the scalar oracle on seeded
    random URLs: well-formed ones varying every component, stray whitespace,
    and strings over a hostile alphabet."""
    import random

    rng = random.Random(0)
    urls = [None]
    for _ in range(6000):
        if rng.random() < 0.2:
            url = "".join(rng.choice(_FUZZ_ALPHABET) for _ in range(rng.randrange(30)))
        else:
            url = "".join(
                rng.choice(ok if rng.random() < 0.9 else bad) for ok, bad in _FUZZ_PARTS
            )
            if rng.random() < 0.1:
                pad = rng.choice([" ", "\xa0", "\x85", "\u2028", "\n"])
                url = rng.choice(["", " "]) + url + pad
        urls.append(url)
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "i long, url string")
    got = dict(
        df.repartition(8).select("i", canonicalize_url_udf("url").alias("canon")).collect()
    )
    bad = [u for i, u in enumerate(urls) if got[i] != canonicalize_url(u)]
    assert len(got) == len(urls)
    assert bad == []
