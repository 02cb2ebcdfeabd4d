"""URL canonicalization for Common-Crawl-style corpora.

The dedup key for web pages is the *canonical* URL: crawls see the
same page as ``HTTP://Example.COM:80/a/`` and
``http://example.com/a?utm=…#frag``.  Canonicalization here follows
RFC 3986 §6 syntax-based normalization (lowercase scheme+host, drop
default port, drop fragment) plus the two crawl-practice rules every
large pipeline adds (sort query parameters, strip trailing path
slashes).  No reference counterpart (ferenda keys on basefile, not
URL) — this is a first-class training-data extension per the build
brief.

Paired forms like ``normalize_space``: :func:`canonical_url` (pure
Python, for tests/golden fixtures) and :func:`canonical_url_col`
(pure Column — regexp/split/sort inside whole-stage codegen, so the
canonical key is computed during the scan with zero Python and zero
shuffle; the groupBy on the key is then the ONLY exchange in a
URL-dedup job).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_SCHEME_RE = r"^([A-Za-z][A-Za-z0-9+.-]*)://"


def canonical_url(url: str) -> str:
    """Pure-Python twin of :func:`canonical_url_col`."""
    no_frag = re.sub(r"#.*$", "", url)
    m = re.match(_SCHEME_RE + r"([^/?]*)([^?]*)(?:\?(.*))?$", no_frag)
    if not m:
        return no_frag
    scheme = m.group(1).lower()
    host = m.group(2).lower()
    path = re.sub(r"/+$", "", m.group(3) or "")
    query = m.group(4)
    if scheme == "http":
        host = re.sub(r":80$", "", host)
    elif scheme == "https":
        host = re.sub(r":443$", "", host)
    out = f"{scheme}://{host}{path}"
    if query:
        out += "?" + "&".join(sorted(query.split("&")))
    return out


def canonical_url_col(url: Column) -> Column:
    """Column form: RFC 3986 syntax normalization + query-param sort
    + trailing-slash strip, all JVM-side."""
    no_frag = F.regexp_replace(url, r"#.*$", "")
    scheme = F.lower(F.regexp_extract(no_frag, _SCHEME_RE, 1))
    host = F.lower(F.regexp_extract(no_frag, _SCHEME_RE + r"([^/?]*)", 2))
    path = F.regexp_replace(
        F.regexp_extract(no_frag, _SCHEME_RE + r"[^/?]*([^?]*)", 2),
        r"/+$", "")
    query = F.regexp_extract(no_frag, r"\?(.*)$", 1)
    host = (F.when(scheme == "http", F.regexp_replace(host, r":80$", ""))
            .when(scheme == "https", F.regexp_replace(host, r":443$", ""))
            .otherwise(host))
    base = F.concat(scheme, F.lit("://"), host, path)
    return F.when(
        scheme == "", no_frag
    ).when(
        query != "",
        F.concat(base, F.lit("?"),
                 F.array_join(F.array_sort(F.split(query, "&")), "&"))
    ).otherwise(base)


#: multi-label public suffixes the registered-domain heuristic knows
#: (a production pipeline broadcasts the full Public Suffix List as a
#: lookup table; this built-in core keeps the Column form list-free)
MULTI_TLDS = ("co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au",
              "org.au", "co.jp", "or.jp", "ne.jp", "co.nz", "com.br",
              "com.cn", "co.in", "co.kr", "com.mx", "co.za")


def url_host(url: str) -> str | None:
    """Lowercased host of a URL: authority minus userinfo and port.
    None when the input has no ``scheme://host`` shape."""
    m = re.match(_SCHEME_RE + r"([^/?#]+)", url or "")
    if not m:
        return None
    host = m.group(2).rsplit("@", 1)[-1].split(":", 1)[0].lower()
    return host or None


def url_host_col(url: Column) -> Column:
    """Column twin of ``url_host`` (pure codegen)."""
    auth = F.regexp_extract(url, _SCHEME_RE + r"([^/?#]+)", 2)
    host = F.lower(
        F.element_at(F.split(
            F.element_at(F.split(auth, "@"), -1), ":"), 1))
    return F.when(host == "", F.lit(None).cast("string")).otherwise(host)


def url_path(url: str) -> str:
    """Path + optional ``?query`` of a URL, fragment stripped — the
    string robots.txt rules match against (RFC 9309 §2.2.2 matches on
    the path and optional query).  A URL with no path yields ``/``."""
    no_frag = re.sub(r"#.*$", "", url or "")
    m = re.search(_SCHEME_RE + r"[^/?#]*(/[^#]*)", no_frag)
    if m:
        return m.group(2)
    # authority with no slash: a bare "?query" still matches rules
    q = re.search(_SCHEME_RE + r"[^/?#]*(\?[^#]*)", no_frag)
    return "/" + (q.group(2) if q else "")


def url_path_col(url: Column) -> Column:
    """Column twin of ``url_path`` (pure codegen)."""
    no_frag = F.regexp_replace(url, r"#.*$", "")
    path = F.regexp_extract(no_frag, _SCHEME_RE + r"[^/?#]*(/[^#]*)", 2)
    query = F.regexp_extract(no_frag, _SCHEME_RE + r"[^/?#]*(\?[^#]*)", 2)
    return F.when(path != "", path).otherwise(F.concat(F.lit("/"), query))


def registered_domain(host: str) -> str | None:
    """eTLD+1 heuristic: the last two labels, or three when the suffix
    is a known multi-label public suffix (``MULTI_TLDS`` core set)."""
    if not host:
        return None
    labels = host.split(".")
    if len(labels) <= 2:
        return host
    if ".".join(labels[-2:]) in MULTI_TLDS:
        return ".".join(labels[-3:])
    return ".".join(labels[-2:])


def registered_domain_col(host: Column) -> Column:
    """Column twin of ``registered_domain`` (pure codegen: split +
    slice, the suffix test an isin over the built-in core set)."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    last2 = F.array_join(F.slice(labels, -2, 2), ".")
    last3 = F.array_join(F.slice(labels, -3, 3), ".")
    return (F.when(host.isNull(), F.lit(None).cast("string"))
            .when(n <= 2, host)
            .when(last2.isin(*MULTI_TLDS), last3)
            .otherwise(last2))


#: URL-template segment classes, most specific first (the order the
#: classifier tests them in — a UUID is hex, hex is digit-bearing)
_UUID_RE = (r"^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}"
            r"-[0-9a-f]{12}$")
_HEX_RE = r"^[0-9a-f]{8,}$"


def url_template(url: str) -> str | None:
    """Pure-Python twin of :func:`url_template_col`.

    Collapses a URL to its path TEMPLATE — the shape crawl-budget
    control and trap detection aggregate on (a calendar trap is one
    template with millions of urls; a product catalog is
    ``/product/{d}``).  Host kept verbatim; each path segment
    becomes ``{d}`` (all digits), ``{uuid}``, ``{x}`` (≥8 lowercase
    hex), ``{a}`` (digit-bearing slug) or its lowercased literal;
    query parameter NAMES survive sorted, values never do; fragments
    drop.  None when the url has no host."""
    host = url_host(url)
    if host is None:
        return None
    path = url_path(url).split("?", 1)[0]
    segs = []
    for s in path.split("/"):
        if not s:
            continue
        if re.fullmatch(r"[0-9]+", s):
            segs.append("{d}")
        elif re.fullmatch(_UUID_RE[1:-1], s):
            segs.append("{uuid}")
        elif re.fullmatch(_HEX_RE[1:-1], s):
            segs.append("{x}")
        elif re.search(r"[0-9]", s):
            segs.append("{a}")
        else:
            segs.append(s.lower())
    out = host + "/" + "/".join(segs)
    m = re.search(r"\?([^#]*)", url)
    if m and m.group(1):
        names = sorted(p.split("=", 1)[0]
                       for p in m.group(1).split("&") if p)
        if names:
            out += "?" + ",".join(names)
    return out


def url_template_col(url: Column) -> Column:
    """Column twin of :func:`url_template` — pure codegen (split +
    transform + regexp inside the scan; the groupBy on the template
    is the only exchange in a template-mining job)."""
    host = url_host_col(url)
    path = F.substring_index(url_path_col(url), "?", 1)
    segs = F.filter(F.split(path, "/"), lambda s: s != "")
    cls = F.transform(
        segs,
        lambda s: (F.when(s.rlike(r"^[0-9]+$"), F.lit("{d}"))
                   .when(s.rlike(_UUID_RE), F.lit("{uuid}"))
                   .when(s.rlike(_HEX_RE), F.lit("{x}"))
                   .when(s.rlike(r"[0-9]"), F.lit("{a}"))
                   .otherwise(F.lower(s))))
    base = F.concat(host, F.lit("/"), F.array_join(cls, "/"))
    query = F.regexp_extract(url, r"\?([^#]*)", 1)
    names = F.array_sort(F.transform(
        F.filter(F.split(query, "&"), lambda p: p != ""),
        lambda p: F.substring_index(p, "=", 1)))
    return F.when(
        host.isNull(), F.lit(None).cast("string")
    ).when(
        F.size(names) > 0,
        F.concat(base, F.lit("?"), F.array_join(names, ","))
    ).otherwise(base)
