"""URL canonicalization (operators/webcrawl): rule-by-rule unit cases,
the idempotence property canon(canon(u)) == canon(u) over generated
adversarial URLs, and the host-stats aggregate. Oracle parity for the
registered entries lives in tests/test_oracle_parity.py."""

from __future__ import annotations

from pyspark.sql import functions as F

from aws_de_final_project_spark.operators import webcrawl as WC

CASES = [
    # (input, expected canonical)
    ("HTTP://WWW.Example.COM:80/Docs/1/?b=2&a=1#frag",
     "http://example.com/Docs/1?a=1&b=2"),
    ("https://Example.com:443/", "https://example.com"),
    ("https://example.com:8443/x", "https://example.com:8443/x"),
    ("http://www.www.example.com/a", "http://example.com/a"),
    ("https://example.com/a?utm_source=x&utm_medium=y&gclid=1",
     "https://example.com/a"),
    ("https://example.com/a?fbclid=1&keep=1&ref=z",
     "https://example.com/a?keep=1"),
    ("https://example.com/CaseSensitive/Path",
     "https://example.com/CaseSensitive/Path"),
    ("https://example.com/a///", "https://example.com/a"),
    ("https://example.com", "https://example.com"),
    ("not a url at all", "not a url at all"),
    ("https://example.com/?", "https://example.com"),
    ("https://sub.domain.example.co/x?z=1&y=2&z=0",
     "https://sub.domain.example.co/x?y=2&z=0&z=1"),
    # line breaks, as the DuckDB twin (RE2) reads '#.*$' and '...$':
    # the fragment runs to the end of the string, and an anchored rule
    # does not match before a final line break
    ("http://a.com#f\nx", "http://a.com"),
    ("http://a.com#f\n", "http://a.com"),
    ("http://a.com:80\n", "http://a.com:80\n"),
    ("http://a.com/x/\n", "http://a.com/x/\n"),
]


def _canon_all(spark, urls):
    df = spark.createDataFrame(
        [(i, u) for i, u in enumerate(urls)], ["i", "url"]
    )
    rows = (
        df.select("i", WC.canonicalize_url("url").alias("c"))
        .orderBy("i")
        .collect()
    )
    return [r.c for r in rows]


def test_canonicalize_rule_cases(spark):
    got = _canon_all(spark, [u for u, _ in CASES])
    for (u, want), c in zip(CASES, got):
        assert c == want, (u, c, want)


def test_canonicalize_idempotent(spark):
    """canon(canon(u)) == canon(u) for the unit cases AND a generated
    grid of messy URLs (every combination of scheme case, www depth,
    default/odd port, trailing slashes, tracking/plain params,
    fragments)."""
    gen = []
    for scheme in ("http://", "HTTPS://", "HtTp://"):
        for www in ("", "www.", "WWW.www."):
            for port in ("", ":80", ":443", ":8080"):
                for tail in ("", "/", "/A/b/", "/x?b=2&a=1&utm_x=1#f",
                             "/x?utm_a=1&utm_b=2", "?ref=r&Z=26&a=1#x"):
                    gen.append(f"{scheme}{www}Host{len(gen)}.ORG{port}{tail}")
    once = _canon_all(spark, gen)
    twice = _canon_all(spark, once)
    assert once == twice


def test_host_and_domain(spark):
    df = spark.createDataFrame(
        [(1, "HTTP://WWW.a.B.Example.COM/x"), (2, "https://localhost/y")],
        ["doc_id", "url"],
    )
    rows = WC.with_canonical_url(df, "url").orderBy("doc_id").collect()
    assert rows[0].host == "a.b.example.com"
    assert rows[0].domain == "example.com"
    assert rows[1].host == "localhost"
    assert rows[1].domain == "localhost"


def test_host_quality_stats(spark):
    rows = [
        (1, "https://a.com/1", 100),
        (2, "http://WWW.A.com/2", 300),
        (3, "https://b.org/1", 50),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url", "n_chars"])
    got = {
        r.domain: r
        for r in WC.host_quality_stats(
            df, "url", "n_chars", short_doc_chars=200
        ).collect()
    }
    assert got["a.com"].n_docs == 2
    assert got["a.com"].mean_chars == 200.0
    assert got["a.com"].short_doc_share == 0.5
    assert got["b.org"].short_doc_share == 1.0


def test_filter_by_host_stats(spark):
    """Blocklist semantics: a domain with enough evidence of bad
    quality loses its docs; a domain below the evidence floor keeps
    them even when every doc is short; a healthy domain passes."""
    rows = (
        # bad.com: 3 docs, all short -> blocked (min_docs=3)
        [(i, f"https://bad.com/{i}", 50) for i in range(3)]
        # tiny.org: 2 short docs -> below evidence floor, kept
        + [(10 + i, f"https://tiny.org/{i}", 50) for i in range(2)]
        # good.net: 4 docs, 1 short -> kept
        + [(20 + i, f"https://good.net/{i}", 500) for i in range(3)]
        + [(23, "https://good.net/x", 50)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "url", "n_chars"])
    kept = WC.filter_by_host_stats(
        df, "url", "n_chars",
        short_doc_chars=200, max_short_share=0.5, min_docs=3,
    )
    got = {r.doc_id: r.domain for r in kept.collect()}
    assert set(got.values()) == {"tiny.org", "good.net"}
    assert len(got) == 6


def test_filter_by_host_stats_plan(spark):
    """Plan pin: the blocked-domain set is BROADCAST into a left-anti
    hash join — the document probe side is scanned, never shuffled
    (the only exchange in the plan feeds the per-domain aggregate on
    the build side)."""
    df = spark.createDataFrame(
        [(i, f"https://d{i % 4}.com/{i}", 100 + i) for i in range(40)],
        ["doc_id", "url", "n_chars"],
    )
    kept = WC.filter_by_host_stats(df, "url", "n_chars")
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan
    assert "LeftAnti" in plan, plan
    # doc side unshuffled: every Exchange in the plan sits under the
    # broadcast build subtree (between the aggregate and the join);
    # the probe path scan -> join has none, so the total count is
    # exactly the aggregate's shuffle
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_registered_domain_public_suffix(spark):
    """The vendored PSL subset: hosts under a multi-label public
    suffix keep three labels (``a.co.uk`` != ``b.co.uk``); private
    platform suffixes too; unknown suffixes fall back to last-two;
    a bare public suffix and single-label hosts pass through."""
    cases = [
        ("news.bbc.co.uk", "bbc.co.uk"),
        ("a.co.uk", "a.co.uk"),
        ("deep.sub.bbc.co.uk", "bbc.co.uk"),
        ("myproj.github.io", "myproj.github.io"),
        ("shop.example.com.au", "example.com.au"),
        ("plain.example.com", "example.com"),
        ("x.example.zz", "example.zz"),   # unknown TLD -> last-two
        ("co.uk", "co.uk"),               # bare suffix passes through
        ("localhost", "localhost"),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(cases)], ["i", "host"]
    )
    got = [
        r.d for r in df.select(
            "i", WC.registered_domain(F.col("host")).alias("d")
        ).orderBy("i").collect()
    ]
    for (h, want), d in zip(cases, got):
        assert d == want, (h, d, want)


def test_host_quality_stats_psl_separation(spark):
    """a.co.uk and b.co.uk must aggregate as DISTINCT registered
    domains (the r7 weak item: last-two-labels grouped them both
    under co.uk, mis-bucketing any UK/AU host-level blocklist)."""
    rows = [
        (1, "https://a.co.uk/1", 100),
        (2, "https://www.a.co.uk/2", 300),
        (3, "https://b.co.uk/1", 50),
        (4, "https://docs.b.co.uk/2", 70),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "url", "n_chars"])
    got = {
        r.domain: r
        for r in WC.host_quality_stats(
            df, "url", "n_chars", short_doc_chars=200
        ).collect()
    }
    assert set(got) == {"a.co.uk", "b.co.uk"}
    assert got["a.co.uk"].n_docs == 2
    assert got["b.co.uk"].n_docs == 2


def test_canonicalizer_is_shuffle_free(spark):
    """The canonicalizer must stay a projection — no exchange in the
    plan (at 100 TB it runs inside the scan stage)."""
    df = spark.range(10).select(
        F.concat(F.lit("https://example.com/"), F.col("id")).alias("url")
    )
    plan = (
        df.select(WC.canonicalize_url("url").alias("c"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, plan


def test_html_extract_text(spark):
    cases = [
        # script/style contents (with tags inside) are dropped whole
        ("<p>Hello</p><script>var a = '<p>no</p>';</script><b>World</b>",
         "Hello World"),
        ("<STYLE media=all>.x{..}</STYLE>before<!-- c1\nc2 -->after",
         "before after"),
        # entities: &amp; decoded last so '&amp;lt;' stays literal
        ("A &amp; B &lt;x&gt; &amp;lt;", "A & B <x> &lt;"),
        ("a\n\t b   c", "a b c"),
        ("plain text, no markup", "plain text, no markup"),
        ("<div><ul><li>one</li><li>two</li></ul></div>", "one two"),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(cases)], ["i", "html"]
    )
    got = [
        r.t
        for r in df.select(
            "i", WC.html_extract_text("html").alias("t")
        ).orderBy("i").collect()
    ]
    for (h, want), t in zip(cases, got):
        assert t == want, (h, t, want)


def test_scrub_pii(spark):
    # (text, scrubbed, (n_emails, n_ipv6, n_ips, n_phones))
    cases = [
        ("mail me at a.b+c@x-y.example.org today",
         "mail me at <EMAIL> today", (1, 0, 0, 0)),
        ("server 192.168.001.1 and 10.0.0.7 up",
         "server <IP> and <IP> up", (0, 0, 2, 0)),
        ("call 555-0134 or 800-555-0199",
         "call <PHONE> or <PHONE>", (0, 0, 0, 2)),
        # an email's host must not be half-claimed as an IP/phone
        ("x 1.2.3.4@mail.com y", "x <EMAIL> y", (1, 0, 0, 0)),
        ("no pii here 12345", "no pii here 12345", (0, 0, 0, 0)),
        # IPv6: full form, inner ::-compression, leading ::
        ("at 2001:0db8:85a3:0000:0000:8a2e:0370:7334 now",
         "at <IP> now", (0, 1, 0, 0)),
        ("gw 2001:db8::8a2e:370 and lo ::1 up",
         "gw <IP> and lo <IP> up", (0, 2, 0, 0)),
        # parenthesized + +1 phone forms redact as ONE span
        ("office (312) 555-0134 x9", "office <PHONE> x9", (0, 0, 0, 1)),
        ("cell +1 312-555-0134 now", "cell <PHONE> now", (0, 0, 0, 1)),
        ("intl +1-312-555-0134 now", "intl <PHONE> now", (0, 0, 0, 1)),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _, _) in enumerate(cases)], ["i", "t"]
    )
    counts = WC.pii_counts("t")
    rows = df.select(
        "i",
        WC.scrub_pii("t").alias("s"),
        counts["n_emails"].alias("e"),
        counts["n_ipv6"].alias("p6"),
        counts["n_ips"].alias("p4"),
        counts["n_phones"].alias("ph"),
    ).orderBy("i").collect()
    for (t, want, (e, i6, i4, ph)), r in zip(cases, rows):
        assert r.s == want, (t, r.s, want)
        assert (r.e, r.p6, r.p4, r.ph) == (e, i6, i4, ph), (t, r)


def test_scrub_pii_false_positives(spark):
    """Intent pins for the precision/recall trade (VERDICT r7 #3):
    version strings, ISO dates, times, and plain hex words SURVIVE;
    a bare 7-digit 123-4567 is DELIBERATELY redacted (the NANP local
    form — accepted recall>precision trade for a crawl scrub, and it
    equally claims 7-digit order codes)."""
    survivors = [
        "running v1.2.3.4 since 2026-08-15",
        "build 10.2.3 at 12:30:45",        # 3-octet version + time
        "cafe:face is not an address",     # hex words, no :: or 8 groups
        "range 1-800 and 12-3456 stay",    # wrong digit-group shapes
    ]
    redacted = [("order 123-4567 shipped", "order <PHONE> shipped")]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(survivors)], ["i", "t"]
    )
    got = [r.s for r in df.select(
        "i", WC.scrub_pii("t").alias("s")).orderBy("i").collect()]
    for t, s in zip(survivors, got):
        assert s == t, (t, s)
    df2 = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(redacted)], ["i", "t"]
    )
    got2 = [r.s for r in df2.select(
        "i", WC.scrub_pii("t").alias("s")).orderBy("i").collect()]
    for (t, want), s in zip(redacted, got2):
        assert s == want, (t, s, want)


def test_html_and_pii_are_shuffle_free(spark):
    """html_extract_text and scrub_pii must stay projections — no
    exchange anywhere in the plan (at 100 TB both run inside the
    ingest scan stage, same pin as the canonicalizer)."""
    from pyspark.sql import functions as F

    df = spark.range(10).select(
        F.concat(F.lit("<p>x</p> a@b.co 1.2.3.4 "), F.col("id")).alias("t")
    )
    for expr in (WC.html_extract_text("t"), WC.scrub_pii("t")):
        plan = (
            df.select(expr.alias("o"))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "Exchange" not in plan, plan


def test_nfc_normalize(spark):
    """NFC: decomposed sequences compose, composed text is untouched,
    NULLs pass through — and the result matches Python's own
    unicodedata ground truth."""
    import unicodedata

    from aws_de_final_project_spark.functions.text import nfc_normalize

    cases = [
        "café",                    # e + combining acute -> é
        "Ångström",           # Angstrom sign + o+diaeresis
        "already composed éÅ",
        "plain ascii",
        None,
    ]
    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(cases)], ["i", "t"]
    )
    got = [
        r.n
        for r in df.select("i", nfc_normalize("t").alias("n"))
        .orderBy("i")
        .collect()
    ]
    for c, n in zip(cases, got):
        want = unicodedata.normalize("NFC", c) if c is not None else None
        assert n == want, (repr(c), repr(n), repr(want))
    assert got[0] == "café"
    assert got[1] == "Ångström"


def test_extract_anchors_and_term_stats(spark):
    """Anchor (href, text) extraction: restricted profile skips
    anchors wrapping child tags (never mis-spans them), relative and
    self links carry no cross-domain terms, multi-word labels split
    into normalized terms."""
    html = (
        "<html><body>"
        '<a href="http://other.com/x">Visit Other Site</a>'
        '<a href="http://other.com/y">visit again</a>'
        '<a href="/rel">Relative Label</a>'
        '<a href="http://self.com/z">Self Label</a>'
        '<a href="http://skip.com/n"><b>nested</b></a>'
        "</body></html>"
    )
    df = spark.createDataFrame(
        [("http://self.com/page", html)], ["url", "html"]
    )
    pairs = df.select(
        F.explode(WC.extract_anchors("html")).alias("a")
    ).collect()
    got = [(r.a.href, r.a.anchor) for r in pairs]
    assert got == [
        ("http://other.com/x", "Visit Other Site"),
        ("http://other.com/y", "visit again"),
        ("/rel", "Relative Label"),
        ("http://self.com/z", "Self Label"),
        # the nested <b> anchor yields NO pair (restricted profile)
    ]
    stats = {
        (r.dst_domain, r.term): r.n
        for r in WC.anchor_term_stats(df, "url", "html").collect()
    }
    assert stats[("other.com", "visit")] == 2
    assert stats[("other.com", "other")] == 1
    assert stats[("other.com", "again")] == 1
    # relative, self, and nested labels contribute nothing
    assert not any(t in ("relative", "self", "nested") for _, t in stats)


def test_robots_disallow_filter(spark):
    """Disallow semantics: prefix match on the CANONICAL path (messy
    casing/ports/tracking params collapse first), blanket '/',
    rule-less hosts unblocked, and the verdict is a broadcast join +
    scan-side exists — no keyed shuffle of the URL side."""
    urls = spark.createDataFrame(
        [
            (1, "http://a.com/private/x"),
            (2, "HTTP://A.COM:80/Private/x"),  # case-sensitive path
            (3, "http://a.com/public/x?utm_source=z"),
            (4, "http://b.com/anything"),
            (5, "http://c.com/whatever"),
        ],
        ["i", "url"],
    )
    rules = spark.createDataFrame(
        [("a.com", "/private"), ("a.com", "/tmp"), ("b.com", "/")],
        ["host", "prefix"],
    )
    out = WC.robots_disallow_filter(urls, rules, "url")
    got = {r.i: r.blocked for r in out.collect()}
    assert got == {1: True, 2: False, 3: False, 4: True, 5: False}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # the only keyed exchanges are the rules side's per-host
    # aggregate (keyed by host); the URL side reaches the broadcast
    # join unshuffled
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "host#" in line, line


def test_lexicon_hits_whole_token(spark):
    """Word-list filter counts whole normalized tokens only: case
    folds, punctuation strips, and near-miss words (scamper, spammy)
    never count."""
    from aws_de_final_project_spark.functions.text import lexicon_hits

    cases = [
        ("win the JACKPOT at the casino!", 2),
        ("scamper spammy freebies", 0),  # near-misses + plural
        ("freebie", 1),
        ("", 0),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(cases)], ["i", "t"]
    )
    rows = (
        df.select("i", lexicon_hits("t").alias("n")).orderBy("i").collect()
    )
    for (txt, n), r in zip(cases, rows):
        assert r.n == n, (txt, r.n, n)
    plan = (
        df.select(lexicon_hits("t").alias("n"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan and "Join" not in plan


def test_sentence_segmentation(spark):
    """Sentence splitter: terminator runs split, a trailing terminator
    leaves no empty sentence, empty text gives (0, 0, NULL), and the
    vertical-tab boundary (the Java-vs-RE2 \\s dialect edge) splits."""
    from aws_de_final_project_spark.functions.text import (
        sentence_stats,
        sentences,
    )

    cases = [
        ("One two. Three four! Five?? Six.", 4),
        ("No terminator at all", 1),
        ("", 0),
        ("Tab\x0Bsplit. after.", 2),  # \x0B inside a sentence is WS
        ("Ends now.", 1),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, (t, _) in enumerate(cases)], ["i", "t"]
    )
    rows = (
        df.select(
            "i",
            sentences("t").alias("s"),
            sentence_stats("t").alias("st"),
        )
        .orderBy("i")
        .collect()
    )
    for (txt, n), r in zip(cases, rows):
        assert len(r.s) == n, (txt, r.s)
        assert r.st.n_sentences == n
    assert rows[0].s == ["One two", "Three four", "Five", "Six"]
    assert rows[0].st.total_words == 6
    assert rows[0].st.max_chars == 10
    assert rows[2].st.total_words == 0 and rows[2].st.max_chars is None


def test_repair_mojibake_ground_truth(spark):
    """repair(mojibake(s)) == s for text drawn from the pair-table
    alphabet; already-clean accented text survives untouched (the
    false-positive pin); NULLs pass through; chars_recovered is the
    exact length delta and 0 on clean text."""
    from aws_de_final_project_spark.functions.text import (
        _mojibake_form,
        mojibake_chars_recovered,
        repair_mojibake,
    )

    clean = [
        "café “quoted” — don’t… über",
        "naïve déjà-vu œuvre Ångström-free €99 ™",
        "plain ascii stays",
        "ÉÈÀÄÖÜÑÇ øæß",
    ]
    cases = (
        [(_mojibake_form(s), s) for s in clean]  # broken -> repaired
        + [(s, s) for s in clean]                # clean -> untouched
        + [(None, None)]
    )
    df = spark.createDataFrame(
        [(i, raw) for i, (raw, _) in enumerate(cases)], ["i", "t"]
    )
    rows = (
        df.select(
            "i",
            repair_mojibake("t").alias("r"),
            mojibake_chars_recovered("t").alias("n"),
        )
        .orderBy("i")
        .collect()
    )
    for (raw, want), row in zip(cases, rows):
        assert row.r == want, (repr(raw), repr(row.r), repr(want))
        if raw is None:
            assert row.n is None
        else:
            assert row.n == len(raw) - len(want)
            if raw == want:
                assert row.n == 0


def test_mojibake_pair_table_shape():
    """Pair table invariants the chained replace depends on: generated
    (not hand-typed) forms, longest bad form first so a 3-byte
    sequence is never half-claimed by a 2-byte prefix rule, every bad
    form at least 2 chars, and no ASCII quote anywhere (the oracle
    interpolates the literals into SQL)."""
    from aws_de_final_project_spark.functions.text import (
        MOJIBAKE_CHARS,
        MOJIBAKE_PAIRS,
        _mojibake_form,
    )

    assert len(MOJIBAKE_PAIRS) == len(set(MOJIBAKE_CHARS))
    lens = [len(bad) for bad, _ in MOJIBAKE_PAIRS]
    assert lens == sorted(lens, reverse=True)
    for bad, good in MOJIBAKE_PAIRS:
        assert bad == _mojibake_form(good)
        assert len(bad) >= 2 and len(good) == 1
        assert "'" not in bad and "'" not in good


def test_repair_mojibake_is_shuffle_free(spark):
    from aws_de_final_project_spark.functions.text import repair_mojibake

    df = spark.createDataFrame([(1, "cafÃ©")], ["i", "t"])
    plan = (
        df.select(repair_mojibake("t").alias("r"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan


def test_extract_links(spark):
    html = (
        '<html><body>'
        '<a href="http://A.com/1">a</a>'
        '<A HREF="https://b.com/2">b</A>'
        '<a class="x" href="/relative">r</a>'
        '<a href="mailto:u@x.com">m</a>'
        '<p>no links here</p>'
        '</body></html>'
    )
    df = spark.createDataFrame([(0, html), (1, "<p>none</p>")], ["i", "html"])
    rows = (
        df.select("i", WC.extract_links("html").alias("l"))
        .orderBy("i")
        .collect()
    )
    # extraction keeps EVERY href (case-insensitive tag); the
    # absolute-http filter is host_link_graph's job
    assert rows[0].l == [
        "http://A.com/1",
        "https://b.com/2",
        "/relative",
        "mailto:u@x.com",
    ]
    assert rows[1].l == []


def test_host_link_graph_semantics(spark):
    rows = [
        # src example.com links twice to www.Other.COM (one with a
        # default port) and once to itself -> self edge dropped
        (
            "http://example.com/a",
            '<a href="http://www.Other.COM/x">1</a>'
            '<a href="http://other.com:80/y">2</a>'
            '<a href="http://example.com/self">s</a>'
            '<a href="/rel">r</a>'
            '<a href="mailto:a@b.c">m</a>',
        ),
        # src under a public suffix; dst canonicalizes to other.com too
        (
            "https://WWW.news.co.uk/b",
            '<a href="HTTP://Other.com/z">3</a>',
        ),
    ]
    df = spark.createDataFrame(rows, ["url", "html"])
    got = {
        (r.src_domain, r.dst_domain): r.n_links
        for r in WC.host_link_graph(df, "url", "html").collect()
    }
    assert got == {
        ("example.com", "other.com"): 2,
        ("news.co.uk", "other.com"): 1,
    }
    # keep_self variant retains the intra-domain edge
    got2 = {
        (r.src_domain, r.dst_domain): r.n_links
        for r in WC.host_link_graph(
            df, "url", "html", drop_self=False
        ).collect()
    }
    assert got2[("example.com", "example.com")] == 1


def test_host_link_graph_single_shuffle(spark):
    """Extraction + canonicalization are scan-side; the only exchange
    is the final (src,dst) hash aggregate (AQE may add its own
    read node, so count Exchange operators, not substrings)."""
    df = spark.createDataFrame(
        [("http://a.com/x", '<a href="http://b.com/y">l</a>')],
        ["url", "html"],
    )
    plan = (
        WC.host_link_graph(df, "url", "html")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") <= 1, plan


def test_numeric_character_references(spark):
    """One-pass entity decode: decimal, hex (incl. supplementary
    plane via the UTF-16BE surrogate path), the U+FFFD rule for
    &#0;/lone surrogates/out-of-range, the {1,7}-digit bound (an
    8-digit ref stays literal), and single-pass semantics
    (&amp;#65; and &#38;#65; both yield the literal '&#65;')."""
    rows = [
        (0, "<p>&#65;</p>", "A"),
        (1, "<p>&#x41;</p>", "A"),
        (2, "<p>&#X41;</p>", "A"),
        (3, "<p>&#x1F600;</p>", "\U0001F600"),
        (4, "<p>&#0;</p>", "�"),
        (5, "<p>&#xD800;</p>", "�"),
        (6, "<p>&#1114112;</p>", "�"),
        (7, "<p>&#12345678;</p>", "&#12345678;"),
        (8, "<p>&amp;#65;</p>", "&#65;"),
        (9, "<p>&#38;#65;</p>", "&#65;"),
        (10, "<p>a&#65;b&#66;c</p>", "aAbBc"),
        (11, "<p>&#x10FFFF;</p>", "\U0010FFFF"),
        (12, "<p>&#9731;</p>", "☃"),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, h, _ in rows], ["i", "html"]
    )
    got = {
        r.i: r.t
        for r in df.select(
            "i", WC.html_extract_text("html").alias("t")
        ).collect()
    }
    for i, _, want in rows:
        assert got[i] == want, (i, repr(got[i]), repr(want))


def test_extract_links_three_quoting_styles(spark):
    """Double-quoted, single-quoted, and unquoted href values all
    extract, in document order, with quotes stripped; the unquoted
    value stops at whitespace/> per the HTML5 tokenizer profile."""
    html = (
        '<a href="http://a.com/1">d</a>'
        "<a href='http://b.com/2?x=1&y=2'>s</a>"
        "<a class=z href=http://c.com/3>u</a>"
        "<a href=http://d.com/4 rel=nofollow>u2</a>"
        '<a href="">empty</a>'
        "<a href=>novalue</a>"
    )
    df = spark.createDataFrame([(html,)], ["html"])
    links = df.select(WC.extract_links("html").alias("l")).collect()[0].l
    assert links == [
        "http://a.com/1",
        "http://b.com/2?x=1&y=2",
        "http://c.com/3",
        "http://d.com/4",
        "",
    ], links


def test_extract_anchors_three_quoting_styles(spark):
    html = (
        '<a href="http://a.com/1">Alpha One</a>'
        "<a href='http://b.com/2'>Beta Two</a>"
        "<a rel=x href=http://c.com/3>Gamma Three</a>"
    )
    df = spark.createDataFrame([(html,)], ["html"])
    pairs = [
        (a.href, a.anchor)
        for a in df.select(
            WC.extract_anchors("html").alias("a")
        ).collect()[0].a
    ]
    assert pairs == [
        ("http://a.com/1", "Alpha One"),
        ("http://b.com/2", "Beta Two"),
        ("http://c.com/3", "Gamma Three"),
    ], pairs


def test_robots_rfc9309_precedence(spark):
    """RFC 9309: longest matching rule wins; Allow wins an
    equal-length tie; a blanket Disallow '/' is overridden by a
    longer Allow; unmatched and rule-less hosts stay unblocked."""
    urls = spark.createDataFrame(
        [
            (1, "http://a.com/private/x"),     # /private Disallow
            (2, "http://a.com/private/ok/x"),  # longer Allow wins
            (3, "http://a.com/dup/z"),         # equal-length tie -> Allow
            (4, "http://b.com/other"),         # blanket '/'
            (5, "http://b.com/Docs/10"),       # longer Allow over '/'
            (6, "http://c.com/w"),             # no rules
        ],
        ["i", "url"],
    )
    rules = spark.createDataFrame(
        [
            ("a.com", "/private", False),
            ("a.com", "/private/ok", True),
            ("a.com", "/dup", False),
            ("a.com", "/dup", True),
            ("b.com", "/", False),
            ("b.com", "/Docs/1", True),
        ],
        ["host", "prefix", "allow"],
    )
    out = WC.robots_disallow_filter(urls, rules, "url")
    got = {r.i: r.blocked for r in out.collect()}
    assert got == {1: True, 2: False, 3: False, 4: True, 5: False, 6: False}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_lexicon_arrow_agrees_with_inset(spark):
    """Deployment-size lexicon path: the Arrow frozenset probe must
    count exactly what the literal IN-set HOF counts — exercised with
    repeats, near-misses (substring, punctuation-adjacent), unicode,
    and empty docs — and with a 50k-term lexicon the plan must stay
    O(1) in lexicon size (no literal bank) with zero exchanges."""
    import time

    from aws_de_final_project_spark.functions import text as TX

    docs = [
        (0, "win the JACKPOT at our casino casino tonight"),
        (1, "no bad words here at all"),
        (2, "scamper is not scam but scam! is"),
        (3, ""),
        (4, "freebie-giveaway viagra, warez; spam."),
        (5, "unicode tökens and 日本語 with lottery"),
        (6, None),  # NULL text -> NULL hits/flagged on BOTH forms
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    inset = {
        r.doc_id: r.n
        for r in df.select(
            "doc_id", TX.lexicon_hits("text").alias("n")
        ).collect()
    }
    arrow = {
        r.doc_id: r.n_lexicon_hits
        for r in TX.lexicon_hits_arrow(df, "text", "doc_id").collect()
    }
    assert inset == arrow, (inset, arrow)
    assert inset[0] == 3 and inset[2] == 2 and inset[3] == 0
    assert inset[6] is None and arrow[6] is None
    flagged = {
        r.doc_id: r.flagged
        for r in TX.lexicon_hits_arrow(df, "text", "doc_id").collect()
    }
    assert flagged[6] is None and flagged[0] == 1 and flagged[1] == 0

    big_lex = TX.FILTER_LEXICON + tuple(f"badword{i}" for i in range(50_000))
    t0 = time.monotonic()
    out = TX.lexicon_hits_arrow(df, "text", "doc_id", big_lex)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert time.monotonic() - t0 < 5.0
    assert len(plan) < 20_000, len(plan)
    assert "Exchange" not in plan, plan
    got = {r.doc_id: r.n_lexicon_hits for r in out.collect()}
    assert got == inset, (got, inset)


PSL_CASES = [
    # exact 2-label (IN-set territory)
    ("news.bbc.co.uk", "bbc.co.uk"),
    ("a.com.au", "a.com.au"),
    ("shop.a.com.au", "a.com.au"),
    ("shop.b.com.au", "b.com.au"),
    # 3-level exact rules: a.X and b.X under the suffix stay distinct
    ("a.nsw.edu.au", "a.nsw.edu.au"),
    ("www.a.nsw.edu.au", "a.nsw.edu.au"),
    ("www.b.nsw.edu.au", "b.nsw.edu.au"),
    # 4-level exact rule nests inside the 3-level one
    ("school.pvt.k12.ma.us", "school.pvt.k12.ma.us"),
    ("www.school.pvt.k12.ma.us", "school.pvt.k12.ma.us"),
    ("district.k12.ma.us", "district.k12.ma.us"),
    # wildcard: every label under *.ck is itself a public suffix
    ("x.anything.ck", "x.anything.ck"),
    ("www.x.anything.ck", "x.anything.ck"),
    # exception !www.ck carves www.ck back out
    ("www.ck", "www.ck"),
    ("sub.www.ck", "www.ck"),
    ("city.kawasaki.jp", "city.kawasaki.jp"),
    ("sub.city.kawasaki.jp", "city.kawasaki.jp"),
    ("x.b29.kawasaki.jp", "x.b29.kawasaki.jp"),
    # platform wildcards
    ("vm.eu-1.compute.amazonaws.com", "vm.eu-1.compute.amazonaws.com"),
    ("bucket.s3.amazonaws.com", "bucket.s3.amazonaws.com"),
    # default * rule: unknown TLD -> last two
    ("x.example.zz", "example.zz"),
    # bare suffixes / single labels pass through
    ("co.uk", "co.uk"),
    ("anything.ck", "anything.ck"),
    ("localhost", "localhost"),
]


def test_registered_domain_psl_full_algorithm(spark):
    """The generic PSL matcher: longest-match across exact (2-4
    label), wildcard, and exception rules, with the implicit *
    default — codegen output equals the expected table AND the
    Python/Arrow twin on every case."""
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(PSL_CASES)], ["i", "host"]
    )
    got = {
        r.i: r.d
        for r in df.select(
            "i", WC.registered_domain_psl(F.col("host")).alias("d")
        ).collect()
    }
    for i, (h, want) in enumerate(PSL_CASES):
        assert got[i] == want, (h, got[i], want)

    arrow = {
        r.i: r.domain
        for r in WC.registered_domain_psl_arrow(
            df, "host", WC.psl_default_rules()
        ).collect()
    }
    assert arrow == got
    plan = WC.registered_domain_psl_arrow(
        df, "host", WC.psl_default_rules()
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_registered_domain_psl_agrees_with_inset_fast_path(spark):
    """On hosts whose suffix logic the 2-label IN-set covers, the
    full matcher and the fast path agree (the fast path remains the
    oracled default; the full matcher extends, never contradicts)."""
    hosts = [
        "news.bbc.co.uk", "a.co.uk", "deep.sub.bbc.co.uk",
        "myproj.github.io", "shop.example.com.au", "plain.example.com",
        "x.example.zz", "co.uk", "localhost", "sub.domain.example.co",
    ]
    df = spark.createDataFrame([(i, h) for i, h in enumerate(hosts)], ["i", "host"])
    fast = {
        r.i: r.d
        for r in df.select(
            "i", WC.registered_domain(F.col("host")).alias("d")
        ).collect()
    }
    full = {
        r.i: r.d
        for r in df.select(
            "i", WC.registered_domain_psl(F.col("host")).alias("d")
        ).collect()
    }
    assert fast == full, (fast, full)


def test_load_psl_parses_standard_format(tmp_path):
    p = tmp_path / "psl.dat"
    p.write_text(
        "// ===BEGIN ICANN DOMAINS===\n"
        "\n"
        "com\n"
        "co.uk\n"
        "*.ck\n"
        "!www.ck\n"
        "// comment\n"
        "K12.MA.US\n",
        encoding="utf-8",
    )
    rules = WC.load_psl(str(p))
    assert rules == ("com", "co.uk", "*.ck", "!www.ck", "k12.ma.us")
    exact, wild, exc = WC._psl_rule_sets(rules)
    assert "co.uk" in exact and "ck" in wild and "www.ck" in exc


def test_luhn_card_scrub(spark):
    """Checksum-gated card scrub: valid PANs (Visa 16, Amex 15,
    Diners 14) -> <CARD>; checksum-failing runs and short digit runs
    untouched; multiple candidates per doc each judged separately;
    plan stays shuffle-free."""
    rows = [
        (0, "pay 4532015112830366 now", "pay <CARD> now"),
        (1, "ref 4532015112830367 x", "ref 4532015112830367 x"),
        (2, "amex 378282246310005.", "amex <CARD>."),
        (3, "diners 30569309025904 ok", "diners <CARD> ok"),
        (4, "short 123456789012 run", "short 123456789012 run"),
        (5, "a 4532015112830366 b 1234567890123 c 5555555555554444 d",
            "a <CARD> b 1234567890123 c <CARD> d"),
        (6, "no digits here", "no digits here"),
        (7, "", ""),
        # 20 digits: too long for a PAN, not a candidate
        (8, "id 45320151128303660000 x", "id 45320151128303660000 x"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in rows], ["i", "t"]
    )
    out = df.select(
        "i",
        WC.scrub_card_numbers("t").alias("s"),
        *[c.alias(n) for n, c in WC.card_number_counts("t").items()],
    )
    got = {r.i: r for r in out.collect()}
    for i, _, want in rows:
        assert got[i].s == want, (i, got[i].s, want)
    assert (got[5].n_card_candidates, got[5].n_cards_valid) == (3, 2)
    assert (got[1].n_card_candidates, got[1].n_cards_valid) == (1, 0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_script_mix_detection(spark):
    from aws_de_final_project_spark.functions import text as TX

    rows = [
        (0, "hello world", "latin"),
        (1, "привет мир", "cyrillic"),
        (2, "日本語のテキスト", "cjk"),
        (3, "مرحبا بالعالم", "arabic"),
        (4, "ελληνικά", "greek"),
        (5, "1234 !!", "und"),
        (6, "ab пр", "latin"),   # 2-2 tie -> earlier range order wins
        (7, "", "und"),
        (8, "한국어 텍스트", "cjk"),
        (9, "café naïve", "latin"),  # Latin-1 supplement in range
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in rows], ["i", "t"])
    counts = TX.script_counts("t")
    out = df.select(
        "i",
        *[c.alias(n) for n, c in counts.items()],
        TX.dominant_script("t").alias("script"),
    )
    got = {r.i: r for r in out.collect()}
    for i, t, want in rows:
        assert got[i].script == want, (t, got[i].script, want)
    assert got[0].n_latin == 10 and got[0].n_nonspace == 10
    assert got[9].n_latin == 9  # é and ï count as Latin
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_html_main_content_boilerplate_vanishes(spark):
    """jusText-shaped block classification: nav/cookie/footer (short
    and/or link-dense), a LONG link-farm (dies by link density, not
    length) and a LONG zero-stopword keyword block (dies by prose
    score) must all vanish; article paragraphs survive with entities
    decoded; and the whole operator is one scan-side projection —
    zero exchanges in the plan."""
    html = (
        '<html><head><script>var x=1; // <p>not text</p></script>'
        '<style>.a{}</style><title>T</title></head>'
        '<body><nav><a href="/a">Home</a> <a href="/b">About</a> '
        '<a href="/c">Contact</a></nav>'
        '<div class="cookie">We use cookies to improve your '
        'experience <a>Accept</a> <a>Decline</a></div>'
        '<p>the quick brown fox and the lazy dog were reading this '
        'article because it was a good day to learn about Q&amp;A '
        'and the weather was fine so they kept on reading.</p>'
        '<div><a href=/1>read more here now</a> <a href=/2>read more '
        'here now</a> <a href=/3>read more here now</a> <a href=/4>'
        'read more here now</a> <a href=/5>read more here now</a> '
        '<a href=/6>read more here now</a></div>'
        '<div>lorem ipsum dolor sit amet consectetur adipiscing elit '
        'sed eiusmod tempor incididunt labore magna aliqua veniam '
        'quis nostrud</div>'
        '<footer>&copy; 2026 <a href=/p>Privacy</a> '
        '<a href=/t>Terms</a></footer></body></html>'
    )
    df = spark.createDataFrame([(0, html)], ["i", "html"])
    out = df.select(WC.html_main_content("html").alias("m"))
    m = out.collect()[0].m
    assert "quick brown fox" in m and "Q&A" in m
    for boiler in ("Home", "About", "Contact", "cookies", "Accept",
                   "read more", "lorem ipsum", "Privacy", "Terms"):
        assert boiler not in m, (boiler, m)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_html_main_content_density_edges(spark):
    """Rule edges: a long prose block JUST over the link-density cap
    dies; the same block without links survives; an empty page gives
    an empty string (not NULL)."""
    prose = ("the cat and the dog were in the house because it was "
             "raining and they did not want to be wet at all today")
    linky = "<p>" + prose + ' <a href="/x">' + "x" * 60 + "</a></p>"
    clean = "<p>" + prose + "</p>"
    df = spark.createDataFrame(
        [(0, linky), (1, clean), (2, "<html><body></body></html>")],
        ["i", "html"],
    )
    got = {
        r.i: r.m
        for r in df.select(
            "i", WC.html_main_content("html").alias("m")
        ).collect()
    }
    assert got[1] == prose
    assert got[0] == ""  # 60 link chars vs ~100+60 text chars > 0.33
    assert got[2] == ""


ML_BOILER_PREFIX = (
    '<html><head><style>.a{}</style></head><body>'
    '<nav><a href="/a">Home</a> <a href="/b">About</a> '
    '<a href="/c">Contact</a></nav>'
    '<div class="cookie">We use cookies to improve your '
    'experience <a>Accept</a> <a>Decline</a></div><p>'
)
ML_BOILER_SUFFIX = (
    '</p><div><a href=/1>read more here now</a> <a href=/2>read more '
    'here now</a> <a href=/3>read more here now</a> <a href=/4>'
    'read more here now</a> <a href=/5>read more here now</a> '
    '<a href=/6>read more here now</a></div>'
    '<footer>&copy; 2026 <a href=/p>Privacy</a> '
    '<a href=/t>Terms</a></footer></body></html>'
)
ML_ARTICLES = {
    "de": ("Der Hund und die Katze liefen durch den großen Garten "
           "während der Sonne und freuten sich über das schöne Wetter "
           "bei der langen Reise nach Hause zusammen ."),
    "ru": ("Исследователи и студенты были довольны результатами долгой "
           "работы в городе и команда собрала данные для следующей "
           "статьи о погоде и природе этого края ."),
    "ja": ("研究者たちは長い調査の結果にとても満足しており、チームは次の"
           "論文のためにデータを集めました。東京の天気は晴れで、みんなが"
           "公園をゆっくり歩きながら新しい計画について話しました。"),
    "ar": ("كان الباحثون والطلاب سعداء جدا مع نتائج الدراسة الطويلة "
           "في المدينة وقد جمع الفريق كل البيانات من أجل المقالة "
           "القادمة عن الطقس والطبيعة في هذا المكان الجميل ."),
}


#: A mid-sentence content word per language (ja has no spaces to
#: split on, so probes are explicit).
ML_PROBES = {"de": "Katze", "ru": "студенты", "ja": "研究者",
             "ar": "الباحثون"}


def _ml_page(lang: str) -> str:
    return ML_BOILER_PREFIX + ML_ARTICLES[lang] + ML_BOILER_SUFFIX


def test_html_main_content_multilingual_articles_survive(spark):
    """r10 verdict item 1: with the per-row lang bank, German /
    Russian / Japanese / Arabic article paragraphs SURVIVE boilerplate
    removal (de/ru/ar via their stopword banks, ja — no bank — via the
    script-coverage fallback) while the English nav / cookie / link
    farm / footer still vanish on every page; the whole operator
    remains one scan-side projection — zero exchanges."""
    rows = [(i, lg, _ml_page(lg))
            for i, lg in enumerate(ML_ARTICLES)]
    df = spark.createDataFrame(rows, ["i", "lang", "html"])
    out = df.select(
        "i", "lang",
        WC.html_main_content("html", lang=F.col("lang")).alias("m"),
    )
    got = {r.lang: r.m for r in out.collect()}
    for lg in ML_ARTICLES:
        assert ML_PROBES[lg] in got[lg], (lg, got[lg])
        for boiler in ("Home", "About", "cookies", "read more",
                       "Privacy", "Terms"):
            assert boiler not in got[lg], (lg, boiler, got[lg])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def test_html_main_content_bank_vs_fallback_discrimination(spark):
    """The de bank itself (not an accidental shared token) carries the
    German article: this sentence shares NO token with the English
    bank, so under the DEFAULT (en) bank it is dropped (Latin script
    -> no fallback, zero en stopwords -> prose gate fails), while
    lang='de' keeps it. Non-Latin scripts are the opposite: Russian
    and Japanese articles survive even under the DEFAULT bank via the
    script-coverage fallback — the exact r10 'silently deletes
    non-English text' defect, pinned fixed."""
    de = _ml_page("de")
    df = spark.createDataFrame([(0, de)], ["i", "html"])
    got_en = df.select(WC.html_main_content("html").alias("m")).collect()
    got_de = df.select(
        WC.html_main_content("html", lang="de").alias("m")
    ).collect()
    assert "Katze" not in got_en[0].m
    assert "Katze" in got_de[0].m
    # non-Latin scripts survive even with NO lang information
    for lg, probe in (("ru", "студенты"), ("ja", "研究者")):
        m = spark.createDataFrame(
            [(0, _ml_page(lg))], ["i", "html"]
        ).select(WC.html_main_content("html").alias("m")).collect()[0].m
        assert probe in m, (lg, m)
        assert "Privacy" not in m


def test_html_main_content_langid_composition(spark):
    """End-to-end composition with the 14-language classifier: langid
    predicts each page's language from its article text, the
    prediction drives the bank selection, and every article survives
    its own page's boilerplate removal."""
    from aws_de_final_project_spark.operators.langid import (
        lang_id_scores,
    )

    rows = [(i, lg, ML_ARTICLES[lg], _ml_page(lg))
            for i, lg in enumerate(ML_ARTICLES)]
    df = spark.createDataFrame(rows, ["i", "lang", "article", "html"])
    pred = lang_id_scores(df, "article", "i", impl="sql").select(
        "i", F.col("lang_pred")
    )
    joined = df.join(pred, "i")
    out = joined.select(
        "lang", "lang_pred",
        WC.html_main_content(
            "html", lang=F.col("lang_pred")
        ).alias("m"),
    ).collect()
    for r in out:
        assert r.lang_pred == r.lang, (r.lang, r.lang_pred)
        assert ML_PROBES[r.lang] in r.m, (r.lang, r.m)
        assert "cookies" not in r.m


def test_robots_wildcards_and_agent_groups(spark):
    """RFC 9309 §2.2.3 wildcards ('*' any-sequence, trailing-'$'
    anchor) matched against PATH+QUERY, longest-rule-text precedence
    with Allow ties, and §2.2.1 group selection: an agent-specific
    group REPLACES the host's '*' group (case-insensitive token),
    hosts without one fall back to '*'."""
    urls = spark.createDataFrame(
        [(1, "https://a.com/Docs/1?x=1"),
         (2, "https://a.com/Docs/10"),
         (3, "https://a.com/other"),
         (4, "https://b.com/p/q?track=1"),
         (5, "https://b.com/p/q"),
         (6, "https://c.com/file.php"),
         (7, "https://c.com/file.php?id=2"),
         (8, "https://d.com/Docs/5"),
         (9, "https://e.com/Docs/5")],
        ["i", "url"])
    rules = spark.createDataFrame(
        [("a.com", "/Docs/*", False, "*"),
         ("a.com", "/Docs/1*", True, "*"),   # longer rule text wins
         ("b.com", "/*?", False, "*"),       # the real-world classic
         ("c.com", "/*.php$", False, "*"),   # $ anchors the end
         ("d.com", "/", False, "*"),
         ("d.com", "/Docs/", True, "examplebot"),  # overrides '*'
         ("e.com", "/", False, "*")],
        ["host", "prefix", "allow", "agent"])
    out = WC.robots_disallow_filter(urls, rules, "url", agent="ExampleBot")
    got = {r.i: r.blocked for r in out.collect()}
    assert got == {1: False, 2: False, 3: False, 4: True, 5: False,
                   6: True, 7: False, 8: False, 9: True}, got
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_robots_pattern_python_twin_matches_spark(spark):
    """The oracle interpolates py_robots_rule_pattern output; pin it
    bit-equal to the Spark-side compile over every wildcard shape
    (escape-needing metachars, *, trailing $, backslash)."""
    prefixes = ["/Docs/*", "/*?", "/*.php$", "/a+b(c)", "/end$",
                "/x\\y", "/*&b=2$", "/", "/plain/path", "/[br]ackets*"]
    rows = spark.createDataFrame(
        [(p,) for p in prefixes], ["prefix"]
    ).select(
        "prefix", WC.robots_rule_pattern(F.col("prefix")).alias("pat")
    ).collect()
    for r in rows:
        assert r.pat == WC.py_robots_rule_pattern(r.prefix), r


def test_html_main_content_remaining_banks_fr_pt_nl(spark):
    """Every vendored bank is exercised: French / Portuguese / Dutch
    articles (the three banks not covered by the multilingual entry
    fixture) survive under their own lang and the boilerplate
    vanishes."""
    arts = {
        "fr": ("Les chercheurs et les étudiants étaient très contents "
               "des résultats de la longue étude dans la ville et le "
               "groupe a réuni les données pour le prochain travail ."),
        "pt": ("Os pesquisadores e os estudantes estavam muito "
               "contentes com os resultados do longo estudo na cidade "
               "e o grupo reuniu os dados para o próximo trabalho ."),
        "nl": ("De onderzoekers en de studenten waren erg blij met de "
               "resultaten van het lange onderzoek in de stad en het "
               "team heeft de gegevens voor het volgende werk "
               "verzameld ."),
    }
    probes = {"fr": "chercheurs", "pt": "pesquisadores",
              "nl": "onderzoekers"}
    rows = [(i, lg, ML_BOILER_PREFIX + art + ML_BOILER_SUFFIX)
            for i, (lg, art) in enumerate(arts.items())]
    df = spark.createDataFrame(rows, ["i", "lang", "html"])
    got = {r.lang: r.m for r in df.select(
        "lang",
        WC.html_main_content("html", lang=F.col("lang")).alias("m"),
    ).collect()}
    for lg in arts:
        assert probes[lg] in got[lg], (lg, got[lg])
        assert "cookies" not in got[lg] and "Privacy" not in got[lg]


def test_html_table_rows_structure_and_edges(spark):
    """html_table_rows edge rules, pinned: header cells flagged, a
    missing </tr> ends the row at the next <tr> open, entities decode
    inside cells, inline tags become spaces, a NESTED table truncates
    the outer capture at the inner's first </table> (trailing outer
    rows drop — the documented rule-based behavior), and a page with
    no tables yields nothing."""
    from aws_de_final_project_spark.operators import webcrawl as WC

    html = (
        '<p>pre</p><TABLE class="x"><tr><th>H1</th><th>H &amp; 2</th>'
        "</tr><tr><td>a<b>bold</b></td><td>b</td>"  # no </tr>
        "<tr><td>c</td></TABLE>"
        "<table><tr><td>t2</td></tr></table>"
    )
    nested = (
        "<table><tr><td>outer<table><tr><td>inner</td></tr></table>"
        "</td></tr><tr><td>lost</td></tr></table>"
    )
    df = spark.createDataFrame(
        [(1, html), (2, nested), (3, "<p>no tables</p>")],
        ["doc_id", "html"],
    )
    got = [
        tuple(r)
        for r in WC.html_table_rows(df, "html", "doc_id")
        .orderBy("doc_id", "table_idx", "row_idx", "col_idx")
        .collect()
    ]
    assert got == [
        (1, 0, 0, 0, True, "H1"),
        (1, 0, 0, 1, True, "H & 2"),
        (1, 0, 1, 0, False, "a bold"),
        (1, 0, 1, 1, False, "b"),
        (1, 0, 2, 0, False, "c"),
        (1, 1, 0, 0, False, "t2"),
        (2, 0, 0, 0, False, "outer"),
        (2, 0, 1, 0, False, "inner"),
    ]


def test_html_table_rows_plan_is_shuffle_free(spark):
    """Zero exchanges before any output sort: the three posexplodes
    and every regex run scan-side."""
    from aws_de_final_project_spark.operators import webcrawl as WC

    df = spark.createDataFrame([(1, "<table><tr><td>x</td></tr></table>")],
                               ["doc_id", "html"])
    plan = (
        WC.html_table_rows(df, "html", "doc_id")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan


def test_html_table_records_header_keys_and_fallback(spark):
    """Header rule pinned: the FIRST all-<th> row keys the columns;
    other rows are body; a table with no all-th row gets positional
    col_<idx> keys; a body row wider than the header falls back
    positionally for the uncovered column; the header row itself
    never appears as a record."""
    from aws_de_final_project_spark.operators import webcrawl as WC

    html = (
        "<table><tr><th>name</th><th>qty</th></tr>"
        "<tr><td>apple</td><td>3</td></tr>"
        "<tr><td>pear</td><td>5</td><td>extra</td></tr></table>"
        "<table><tr><td>a</td><td>b</td></tr></table>"
    )
    df = spark.createDataFrame([(1, html)], ["doc_id", "html"])
    got = sorted(
        tuple(r)
        for r in WC.html_table_records(df, "html", "doc_id").collect()
    )
    assert got == [
        (1, 0, 1, 0, "name", "apple"),
        (1, 0, 1, 1, "qty", "3"),
        (1, 0, 2, 0, "name", "pear"),
        (1, 0, 2, 1, "qty", "5"),
        (1, 0, 2, 2, "col_2", "extra"),
        (1, 1, 0, 0, "col_0", "a"),
        (1, 1, 0, 1, "col_1", "b"),
    ]


class TestImageCaptionPairs:
    """Image-text pair mining (VERDICT r12 item 3): extraction
    profile, caption precedence, and the relative/self/missing-alt
    exclusions."""

    def _df(self, spark, html, url="http://site.example.com/p/1"):
        return spark.createDataFrame(
            [(1, url, html)], "doc_id long, url string, html string"
        )

    def test_alt_quote_styles_and_entity_decode(self, spark):
        html = (
            '<p><IMG SRC="http://a.com/x.jpg" alt="A &amp; B"></p>'
            "<img src='http://a.com/y.jpg' alt='single'>"
            '<img src=http://a.com/z.jpg alt=unquoted>'
        )
        got = sorted(
            (r.img_url, r.caption)
            for r in WC.image_caption_candidates(
                self._df(spark, html), "doc_id", "url", "html"
            ).collect()
        )
        assert got == [
            ("http://a.com/x.jpg", "A & B"),
            ("http://a.com/y.jpg", "single"),
            ("http://a.com/z.jpg", "unquoted"),
        ]

    def test_figcaption_fallback_and_alt_precedence(self, spark):
        html = (
            "<figure><img src=\"http://a.com/noalt.jpg\">"
            "<figcaption>fig wins &gt; here</figcaption></figure>"
            "<figure><img src=\"http://a.com/hasalt.jpg\" alt=\"alt wins\">"
            "<figcaption>fig loses</figcaption></figure>"
        )
        got = sorted(
            (r.img_url, r.caption)
            for r in WC.image_caption_candidates(
                self._df(spark, html), "doc_id", "url", "html"
            ).collect()
        )
        assert got == [
            ("http://a.com/hasalt.jpg", "alt wins"),
            ("http://a.com/noalt.jpg", "fig wins > here"),
        ]

    def test_exclusions_relative_self_missing(self, spark):
        page = "http://site.example.com/p/1"
        html = (
            '<img src="/relative/x.jpg" alt="rel">'
            '<img src="data:image/png;base64,AAAA" alt="data uri">'
            f'<img src="{page}#frag" alt="self echo">'
            '<img src="http://a.com/nocap.jpg">'
            '<img src="http://a.com/kept.jpg" alt="kept">'
        )
        got = [
            (r.img_url, r.caption)
            for r in WC.image_caption_candidates(
                self._df(spark, html, url=page), "doc_id", "url", "html"
            ).collect()
        ]
        assert got == [("http://a.com/kept.jpg", "kept")]

    def test_best_caption_window(self, spark):
        cands = spark.createDataFrame(
            [
                (3, "http://a.com/i.jpg", "short"),
                (1, "http://a.com/i.jpg", "the longest caption"),
                (2, "http://a.com/i.jpg", "the longest caption"),
                (9, "http://b.com/j.jpg", "only"),
            ],
            "doc_id long, img_url string, caption string",
        )
        got = {
            r.img_url: (r.n_refs, r.best_caption, r.best_doc_id)
            for r in WC.best_caption_per_image(cands).collect()
        }
        assert got == {
            "http://a.com/i.jpg": (3, "the longest caption", 1),
            "http://b.com/j.jpg": (1, "only", 9),
        }


def test_url_host_direct_equals_canonicalize_chain(spark):
    """url_host_direct must be VALUE-IDENTICAL to
    url_host(canonicalize_url(u)) — the r14 host-graph hot-path
    shortcut is only sound if no input can tell them apart. Cases
    cover every canonicalization rule that could touch the host:
    fragment placement (before the scheme, inside the authority,
    after the path), default and non-default ports on both schemes,
    stacked/mixed-case www labels, uppercase scheme+host, IPv6-ish
    bracket hosts, schemeless strings, empty host, userinfo-looking
    strings, tracking params, line breaks, and plain garbage."""
    from pyspark.sql import functions as F

    cases = [
        "http://Example.COM/p/1",
        "HTTPS://WWW.Site3.co.uk:443/x?utm_source=z&b=1",
        "http://www.www.Host.io/a/b/",
        "http://host.com:80/x",
        "https://host.com:80/x",
        "http://host.com:8080/x#frag",
        "http://ho#st.com/x",
        "#http://x.com",
        "http://x.com#f",
        "http://[::1]:80/x",
        "http:///nohost",
        "http://www.",
        "//scheme.less/x",
        "relative/path",
        "mailto:u@example.com",
        "ftp+x.y-z://WwW.Www.Host.io/",
        "http://user:pw@host.com/x",
        "http://host.com?q=1",
        "http://host.com?",
        "http://host.com/x?a=2&utm_campaign=z",
        "",
        "    ",
        "javascript:void(0)",
        "http://UPPER.www.Lower.org/p",
        # line breaks: Java regex '.' stops at them and '$' matches
        # before a final one
        "http://a.com#f\nx",
        "http://a.com#f\n",
        "http://a.com#f\r\nx",
        "http://a.com:80\n",
        "https://www.a.com:443\u2028",
        "http://a.\ncom/x#f",
    ]
    df = spark.createDataFrame([(c,) for c in cases], "u string")
    got = df.select(
        WC.url_host_direct(F.col("u")).alias("direct"),
        WC.url_host(WC.canonicalize_url(F.col("u"))).alias("chain"),
    ).collect()
    for case, r in zip(cases, got):
        assert r.direct == r.chain, (
            f"{case!r}: direct={r.direct!r} chain={r.chain!r}"
        )
