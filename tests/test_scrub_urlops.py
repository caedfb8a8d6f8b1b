"""PII scrub + URL hygiene operators (north-star pipeline surface).

Covers:
* detection counts and sequential-overlap semantics (an IPv4 inside a
  redacted email span is not double-counted; a non-email ``user@ip``
  still has its IP caught),
* redaction output text and the ``n_pii == n_redacted`` invariant,
* URL component extraction / canonicalization corner cases,
* host_cap_filter keep semantics (== rank-by-id ≤ cap) and its plan
  (no window over raw rows — the bounded two-stage min-k instead),
* zero-shuffle, join-free plan shape for the per-row scrub/url
  extractors and the column forms behind them, and for the oracle
  rows built from them.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from sparkjesse.scrub import pii_cols, pii_signals, redact_pii
from sparkjesse.textops import encode_col
from sparkjesse.urlops import (canonical_urls, host_cap_filter,
                               url_cols, url_components)


def test_pii_signals_and_redact_sequential_overlap(spark):
    rows = [
        (1, "mail bob7@mail.example.org now call 555-123-4567 "
            "ssn 123-45-6789 ip 10.0.0.254 end user@192.168.1.1 x"),
        (2, "clean text with no identifiers at all"),
        (3, "two mails a@b.co c.d@e-f.org and 1.2.3.4"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = {r["doc_id"]: r.asDict()
           for r in pii_signals(df).collect()}
    # doc 1: user@192.168.1.1 is NOT an email (no alpha TLD) but its
    # IP is caught -> 2 ipv4 total
    assert sig[1] == {"doc_id": 1, "n_email": 1, "n_ssn": 1,
                      "n_phone": 1, "n_ipv4": 2, "n_pii": 5,
                      "has_pii": True}
    assert sig[2]["n_pii"] == 0 and sig[2]["has_pii"] is False
    assert sig[3]["n_email"] == 2 and sig[3]["n_ipv4"] == 1

    red = {r["doc_id"]: r for r in redact_pii(df).collect()}
    assert red[1]["redacted"] == (
        "mail [EMAIL] now call [PHONE] ssn [ID] ip [IP] end "
        "user@[IP] x")
    assert red[2]["redacted"] == rows[1][1]
    # the sequential contract: signals total == redaction count
    for i in (1, 2, 3):
        assert red[i]["n_redacted"] == sig[i]["n_pii"]


def test_scrub_plan_is_shuffle_free(spark):
    df = spark.createDataFrame([(1, "x", "https://h/p")],
                               "doc_id long, text string, url string")
    vocab = spark.createDataFrame([("x", 0)], "token string, token_id long")
    frames = {
        "pii_signals": pii_signals(df), "redact_pii": redact_pii(df),
        "url_components": url_components(df),
        "canonical_urls": canonical_urls(df),
        "pii_cols": df.select(*[c.alias(n) for n, c in
                                pii_cols(F.col("text")).items()]),
        "url_cols": df.select(*[c.alias(n) for n, c in
                                url_cols(F.col("url")).items()]),
        "encode_col": df.withColumn("enc", encode_col(vocab)),
    }
    for name, frame in frames.items():
        plan = frame._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, (name, plan)
        assert "Join" not in plan, (name, plan)


def test_entry_result_shapes_join_only_on_host(spark, sf_dir):
    """The txt_redact oracle row is one select (no join at all), and
    web_hostcap's only joins are host_cap_filter's host-keyed
    aggregates: nothing re-joins per-row results on doc_id."""
    import __spark_entry__ as entrymod
    qs = entrymod.queries()

    def plan(name):
        return qs[name](spark, sf_dir)._jdf.queryExecution() \
            .executedPlan().toString()

    assert "Join" not in plan("txt_redact")
    keys = re.findall(r"Join \[([^\]]*)\], \[([^\]]*)\]",
                      plan("web_hostcap"))
    assert keys
    for left, right in keys:
        assert re.fullmatch(r"host#\d+", left), (left, right)
        assert re.fullmatch(r"host#\d+", right), (left, right)


def test_url_components_and_canonical(spark):
    rows = [
        (1, "https://Host1.Example.com:8080/p/5/?q=1&r=2#frag"),
        (2, "HTTP://www.x.org"),
        (3, "https://a.b:443/"),
        (4, "notaurl"),
        (5, "ftp://h/p"),
        (6, "http://site.io:8081/deep/path"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    comp = {r["doc_id"]: r.asDict() for r in url_components(df).collect()}
    assert comp[1] == {"doc_id": 1, "scheme": "https",
                       "host": "host1.example.com", "port": "8080",
                       "path": "/p/5/", "query": "q=1&r=2"}
    assert comp[2]["scheme"] == "http" and comp[2]["host"] == "www.x.org"
    assert comp[2]["port"] == "" and comp[2]["path"] == ""
    assert comp[4] == {"doc_id": 4, "scheme": "", "host": "", "port": "",
                       "path": "", "query": ""}
    canon = {r["doc_id"]: r["canonical_url"]
             for r in canonical_urls(df).collect()}
    assert canon[1] == "https://host1.example.com:8080/p/5"
    assert canon[2] == "http://www.x.org/"          # empty path -> /
    assert canon[3] == "https://a.b/"               # default port dropped
    assert canon[4] is None
    assert canon[6] == "http://site.io:8081/deep/path"


def test_host_cap_filter_keep_matches_rank(spark):
    # host h0 gets 12 docs, h1 gets 3, cap = 5
    rows = [(i, f"https://h{0 if i < 12 else 1}.ex.com/p/{i}")
            for i in range(15)]
    df = spark.createDataFrame(rows, "doc_id long, url string") \
        .repartition(4)  # multiple partitions exercise the 2-stage merge
    out = {r["doc_id"]: r for r in
           host_cap_filter(df, max_per_host=5).collect()}
    assert len(out) == 15
    for i in range(15):
        assert out[i]["url"] == rows[i][1]  # input columns carried
        if i < 12:
            assert out[i]["host"] == "h0.ex.com"
            assert out[i]["host_docs"] == 12
            assert out[i]["keep"] is (i < 5)  # 5 smallest ids kept
        else:
            assert out[i]["host_docs"] == 3 and out[i]["keep"] is True


def test_host_cap_plan_has_no_raw_row_window(spark):
    # persist() gives the optimizer size stats that (observed) tempt it
    # into broadcasting the CORPUS side; the operator must pin the
    # broadcast on the tiny host-meta side instead
    df = spark.createDataFrame([(1, "https://h.ex/p")],
                               "doc_id long, url string").persist()
    df.count()
    plan = host_cap_filter(df, max_per_host=5) \
        ._jdf.queryExecution().executedPlan().toString()
    df.unpersist()
    assert "Window" not in plan, plan
    for line in plan.splitlines():
        if "BroadcastHashJoin" in line:
            assert "BuildRight" in line, line  # corpus always streams


def test_redact_cols_matches_redact_pii(spark):
    """The column-level helper (in-place withColumn scrub — zero
    shuffle, no id join) must agree exactly with redact_pii."""
    from pyspark.sql import functions as F
    from sparkjesse.scrub import redact_cols, redact_pii
    rows = [(1, "mail me at a.b@x.org or 555-123-4567"),
            (2, "clean text"),
            (3, "ids 123-45-6789 and host 10.0.0.1")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    redacted, n_red = redact_cols(F.col("text"))
    via_cols = {r["doc_id"]: (r["t"], r["n"]) for r in
                df.select("doc_id", redacted.alias("t"),
                          n_red.alias("n")).collect()}
    via_df = {r["doc_id"]: (r["redacted"], r["n_redacted"]) for r in
              redact_pii(df).collect()}
    assert via_cols == via_df
    assert via_cols[2] == ("clean text", 0)
