"""pipeline/web.py — URL canonicalization, domain stats/caps, suffix
blocklists.  Driver parity at sf0.001/0.01 pins the full-corpus
behavior; these tests pin the SEMANTICS on hand-built URLs."""

from __future__ import annotations

from hypothesis import given
from hypothesis import strategies as st
from pyspark.sql import functions as F

from public_transit_data_platform_sql_nosql_spark.pipeline.web import (
    WEB_CAP,
    blocklist_filter,
    canonical_url,
    domain_cap,
    domain_stats,
    host_suffixes,
    registrable_domain,
    url_dedup,
    url_host,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, url string")


def _canon(spark, url):
    return _df(spark, [(1, url)]).select(
        canonical_url(F.col("url")).alias("c")).head()["c"]


def test_canonicalization_semantics(spark):
    # tracking params drop, and a now-empty query drops its '?'
    assert _canon(spark, "https://a.com/x?utm_source=f&utm_medium=r") \
        == "https://a.com/x"
    # identifying params survive, in original order, around dropped ones
    assert _canon(spark, "https://a.com/x?id=7&utm_source=f&page=2") \
        == "https://a.com/x?id=7&page=2"
    # no query at all: unchanged
    assert _canon(spark, "https://a.com/x") == "https://a.com/x"
    # 'utm_' must anchor a PARAM, not match inside a value
    assert _canon(spark, "https://a.com/x?q=utm_test") \
        == "https://a.com/x?q=utm_test"


def test_url_dedup_keeps_min_doc_per_canonical(spark):
    docs = _df(spark, [
        (3, "https://a.com/x?utm_source=f"),
        (1, "https://a.com/x"),
        (2, "https://a.com/x?utm_medium=r"),
        (9, "https://a.com/x?id=1"),
    ])
    got = {r["canonical_url"]: (r["doc_id"], r["n_copies"])
           for r in url_dedup(docs).collect()}
    assert got == {"https://a.com/x": (1, 3),
                   "https://a.com/x?id=1": (9, 1)}


def test_host_and_registrable_domain(spark):
    row = _df(spark, [(1, "https://m0.mid.example.org/p/doc/1?id=2")]) \
        .select(url_host(F.col("url")).alias("h"),
                registrable_domain(F.col("url")).alias("d"),
                host_suffixes(url_host(F.col("url"))).alias("s")).head()
    assert row["h"] == "m0.mid.example.org"
    assert row["d"] == "example.org"
    assert row["s"] == ["m0.mid.example.org", "mid.example.org",
                        "example.org", "org"]


def test_explicit_port_stripped_from_host_and_domain(spark):
    # 'big.example.com:8080' and 'big.example.com' must be ONE host (and
    # one domain under domain_cap/domain_stats) — the port is transport
    # addressing, not identity
    rows = _df(spark, [
        (1, "https://big.example.com:8080/p/doc/1"),
        (2, "https://big.example.com/p/doc/2"),
    ]).select(url_host(F.col("url")).alias("h"),
              registrable_domain(F.col("url")).alias("d")).collect()
    assert {r["h"] for r in rows} == {"big.example.com"}
    assert {r["d"] for r in rows} == {"example.com"}


def test_domain_stats_shares_and_counts(spark):
    docs = _df(spark, [
        (1, "https://a.hot.com/1"), (2, "https://b.hot.com/2"),
        (3, "https://a.hot.com/2"), (4, "https://x.cold.net/1"),
    ])
    got = {r["domain"]: r for r in domain_stats(docs).collect()}
    assert got["hot.com"]["n_docs"] == 3
    assert got["hot.com"]["n_hosts"] == 2
    assert got["hot.com"]["share_pm"] == 750
    assert got["cold.net"]["n_docs"] == 1
    assert got["cold.net"]["share_pm"] == 250


def test_domain_cap_bites_only_oversized_domains(spark):
    rows = [(i, f"https://h{i % 2}.big.com/{i}") for i in range(200)]
    rows += [(1000 + i, f"https://small.net/{i}") for i in range(5)]
    got = domain_cap(_df(spark, rows)).collect()
    by_dom: dict = {}
    for r in got:
        by_dom.setdefault(r["domain"], []).append(r["doc_id"])
    assert len(by_dom["big.com"]) == WEB_CAP
    assert sorted(by_dom["small.net"]) == [1000 + i for i in range(5)]
    # deterministic: same input, same sample
    again = domain_cap(_df(spark, rows)).collect()
    assert sorted((r["doc_id"] for r in again)) == sorted(
        r["doc_id"] for r in got)


def test_blocklist_is_suffix_scoped(spark):
    docs = _df(spark, [
        (1, "https://mid.example.org/a"),       # exact block
        (2, "https://m0.mid.example.org/b"),    # under the block
        (3, "https://pyramid.example.org/c"),   # NOT a dot-suffix match
        (4, "https://other.net/d"),
    ])
    kept = sorted(r["doc_id"] for r in blocklist_filter(
        docs, blocked=("mid.example.org",)).collect())
    assert kept == [3, 4]
    # empty blocklist keeps everything
    assert blocklist_filter(docs, blocked=()).count() == 4


@given(st.lists(st.sampled_from(
    ["a", "b", "m0", "mid", "example", "org", "net"]),
    min_size=1, max_size=5))
def test_host_suffix_structure(labels):
    """The python mirror of host_suffixes: |suffixes| == |labels| and
    each drops exactly one leading label."""
    host = ".".join(labels)
    sfx = [".".join(labels[i:]) for i in range(len(labels))]
    assert len(sfx) == len(labels)
    for i in range(1, len(sfx)):
        assert sfx[i - 1] == labels[i - 1] + "." + sfx[i]
