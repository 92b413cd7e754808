"""C1 — URL canonicalization + hashing (SURVEY.md §2.9 C1).

Reference semantic preserved: URLs/paths are compared as exact strings for
dedup (reference ``enhanced_batch_processor.py:515``,
``orchestrator/pipeline.py:158``); the engine canonicalizes first so that
trivially-distinct spellings of one resource dedup together, then keys
everything on ``xxhash64(canon_url)`` (JVM-side, whole-stage codegen).

Canonicalization rules (pinned; stdlib urllib, IDNA host):

- scheme + host lowercased, host IDNA-encoded;
- default ports stripped (``:80`` http, ``:443`` https);
- fragment dropped; trailing lone ``?`` dropped;
- query parameters sorted by (key, value), preserved otherwise;
- empty path becomes ``/``.
"""

from __future__ import annotations

import re
from urllib.parse import parse_qsl, urlencode, urlsplit, urlunsplit

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

_DEFAULT_PORTS = {"http": "80", "https": "443"}

# query fast path: every segment is k=v over urlencode's always-safe
# alphabet (letters digits _.~-). For such queries parse_qsl's unquoting is
# the identity ('%' and '+' are not in the alphabet) and urlencode's
# quote_plus re-quoting is the identity too, so
# urlencode(sorted(parse_qsl(q))) == '&'.join('='.join(kv) for kv in
# sorted(seg.split('=', 1))) — byte-equal, ~3x cheaper. Anything else
# (encoded chars, blank keys, empty segments, bare keys) takes the full
# urllib path.
_SAFE_QUERY_RE = re.compile(
    r"[A-Za-z0-9_.~-]+=[A-Za-z0-9_.~-]*(?:&[A-Za-z0-9_.~-]+=[A-Za-z0-9_.~-]*)*"
)


def canonicalize_url(url: str | None) -> str | None:
    """Pure single-value canonicalization — the oracle code path."""
    if url is None:
        return None
    try:
        parts = urlsplit(url.strip())
        scheme = parts.scheme.lower()
        host = (parts.hostname or "").lower()
        # idna fast path: for a pure-ascii host the codec either returns the
        # label unchanged (len 1-63) or raises (empty/too-long label), and
        # the except-branch keeps the host unchanged — so the result is
        # always `host` itself; skip the codec round trip entirely.
        if host and not host.isascii():
            try:
                host = host.encode("idna").decode("ascii")
            except (UnicodeError, UnicodeDecodeError):
                pass  # keep the lowercased host as-is
        port = parts.port
        netloc = host
        if port is not None and str(port) != _DEFAULT_PORTS.get(scheme, ""):
            netloc = f"{host}:{port}"
        path = parts.path or "/"
        q = parts.query
        if not q:
            query = ""
        elif _SAFE_QUERY_RE.fullmatch(q):
            query = "&".join(
                "=".join(kv) for kv in sorted(seg.split("=", 1) for seg in q.split("&"))
            )
        else:
            query = urlencode(sorted(parse_qsl(q, keep_blank_values=True)))
        return urlunsplit((scheme, netloc, path, query, ""))
    except ValueError:
        return url


# Arrow-kernel fast shape: one RE2 pattern admits only URLs whose
# canonicalization is expressible in pyarrow.compute kernels with BYTE parity
# to canonicalize_url —
#   - scheme [A-Za-z][A-Za-z0-9+.-]*   (urlsplit's charset)
#   - host [A-Za-z0-9.-]+              (no userinfo/brackets; the idna fast
#     path in canonicalize_url is a no-op for these)
#   - optional 1-4 digit port          (always a VALID port, so urlsplit's
#     .port cannot raise; the int cast drops leading zeros exactly like
#     urlsplit's port formatting)
#   - path with no '?'/'#'             (missing -> '/')
#   - optional query of 1-2 safe k=v segments (the _SAFE_QUERY_RE alphabet),
#     each key and value captured by the pattern itself, so the (key, value)
#     sort is two element-wise compares and no split or list index is needed;
#     >=3 segments would need a per-row sort, so they fall back
#   - optional fragment (dropped)
# Every character must be printable ASCII [\x21-\x7E]: the scalar path
# strip()s Unicode whitespace (\x85, \xa0, \u2028, ...) and urlsplit
# deletes tab/CR/LF mid-string, and neither can occur inside that range.
# Anything else, and nulls, takes the scalar path. Parity is pinned by
# tests/test_urls.py (boundary cases + a Spark-level differential fuzz).
_DEFAULT_SCHEME_PORTS = pa.array([f"{s}:{p}" for s, p in _DEFAULT_PORTS.items()])
_SAFE = r"[A-Za-z0-9_.~\-]"
_FAST_URL_RE2 = (
    r"^(?P<sch>[A-Za-z][A-Za-z0-9+.\-]*)://"
    r"(?P<host>[A-Za-z0-9.\-]+)"
    r"(?::(?P<port>[0-9]{1,4}))?"
    r"(?P<path>/[\x21\x22\x24-\x3E\x40-\x7E]*)?"
    rf"(?:\?(?P<q>(?P<k1>{_SAFE}+)=(?P<v1>{_SAFE}*)(?:&(?P<k2>{_SAFE}+)=(?P<v2>{_SAFE}*))?))?"
    r"(?:#[\x21-\x7E]*)?$"
)


@F.arrow_udf(T.StringType())
def canonicalize_url_udf(urls: pa.Array) -> pa.Array:
    """:func:`canonicalize_url` over an Arrow batch, byte-identical to it."""
    m = pc.extract_regex(urls, _FAST_URL_RE2)
    # one string column per group; an optional group that did not take part
    # reads "", a row off the shape reads null
    sch, host, port, path, q, k1, v1, k2, v2 = (
        pc.struct_field(m, i) for i in range(m.type.num_fields)
    )
    sch = pc.utf8_lower(sch)
    port = pc.cast(pc.cast(pc.if_else(pc.equal(port, ""), None, port), pa.int32()), pa.string())
    drop_port = pc.or_kleene(
        pc.is_null(port),
        pc.is_in(pc.binary_join_element_wise(sch, port, ":"), value_set=_DEFAULT_SCHEME_PORTS),
    )
    port = pc.if_else(drop_port, "", pc.binary_join_element_wise(":", port, ""))
    # (key, value) tuple order — NOT raw segment order ('=' sorts above
    # digits, so "a=x" vs "a0=y" would flip); an absent k2 is "" and never swaps
    swap = pc.and_(
        pc.not_equal(k2, ""),
        pc.or_(pc.less(k2, k1), pc.and_(pc.equal(k1, k2), pc.less(v2, v1))),
    )
    q = pc.if_else(swap, pc.binary_join_element_wise(k2, "=", v2, "&", k1, "=", v1, ""), q)
    out = pc.binary_join_element_wise(
        sch,
        "://",
        pc.utf8_lower(host),
        port,
        pc.if_else(pc.equal(path, ""), "/", path),
        pc.if_else(pc.equal(q, ""), "", "?"),
        q,
        "",
    )
    # only the rows off the fast shape (and nulls) become Python objects;
    # their scalar results are scattered back in place
    slow = pc.is_null(m)
    if pc.any(slow).as_py():
        canon = [canonicalize_url(u) for u in urls.filter(slow).to_pylist()]
        out = pc.replace_with_mask(out, slow, pa.array(canon, pa.string()))
    return out


def host_of(url: str | None) -> str | None:
    if url is None:
        return None
    try:
        return (urlsplit(url).hostname or "").lower() or None
    except ValueError:
        return None


def host_col(canon_url: Column) -> Column:
    """Host of an already-canonical URL, JVM-side (no Python round trip).

    Safe only on canonical URLs (lowercased host, no userinfo); the general
    case goes through :func:`host_of`.
    """
    return F.regexp_extract(canon_url, r"^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1)


def url_hash_col(canon_url: Column) -> Column:
    """xxhash64 of the canonical URL — the engine-wide dedup key (north_rule)."""
    return F.xxhash64(canon_url)
