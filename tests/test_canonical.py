"""The JVM URL expressions the engine and catalog run, pinned to the
pure-Python fidelity core and to host goldens (no reference tree needed)."""

from __future__ import annotations

from crawler_spark.functions.canonical import (
    host_from_url_expr,
    normalize_site_url,
    normalize_site_url_expr,
)

#: known-case inputs of the C1 normalizer (``test_fidelity.py`` checks the
#: Python core against the reference on these)
URL_CASES = [
    "https://www.imdb.com",
    "http://example.com",
    "www.site.org",
    "site.com",
    "https://example.com/",
    "https://www.example.com/path/",
    "HTTPS://www.example.com",  # scheme regex is case-sensitive in the reference
    "httpx://weird",
    "",
    None,
    "https://wwwx.example.com",
    "http://www.www.double.com",
    "ftp://www.example.com/",
    "https://example.com//",
]

HOST_GOLDENS = {
    "https://www.imdb.com": "www.imdb.com",
    "site.com/path/x.json": "site.com",  # scheme-less
    "HTTPS://WWW.Ex.COM/p": "www.ex.com",  # upper-case
    "http://a.com:8080/x": "a.com",  # port
    "https://user:pw@host.com/x": "host.com",  # userinfo
    # java.net.URI rejects these: host from the authority, never an error
    "https://ex.com/a b": "ex.com",
    "https://ex.com/q?x=1|2": "ex.com",
    "https://ex.com/%zz": "ex.com",
    "https://u:p@Ex.COM:80/a b": "ex.com",
    # no host: NULL
    "": None,
    "_:b0": None,
    "#org": None,
    "urn:isbn:1": None,
    None: None,
}


def test_normalize_expr_matches_python_core(spark):
    cases = URL_CASES + ["a.com/\n"]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(cases)], "i int, u string")
    got = {r["i"]: r["site"] for r in df.select(
        "i", normalize_site_url_expr(df["u"]).alias("site")).collect()}
    for i, url in enumerate(cases):
        assert got[i] == normalize_site_url(url), repr(url)


def test_host_from_url_expr_goldens(spark):
    cases = list(HOST_GOLDENS)
    df = spark.createDataFrame([(i, u) for i, u in enumerate(cases)], "i int, u string")
    got = {r["i"]: r["host"] for r in df.select(
        "i", host_from_url_expr(df["u"]).alias("host")).collect()}
    for i, url in enumerate(cases):
        assert got[i] == HOST_GOLDENS[url], repr(url)
