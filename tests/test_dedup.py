"""Dedup operator tests: planted duplicates, LSH-vs-exact agreement,
and hashlib-only references for the MinHash and SimHash families."""

from __future__ import annotations

import pytest

from aws_de_final_project_spark.operators import dedup


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog near the old river bank "
        "while birds sing in the tall green trees above"
    )
    near = base.replace("quick", "fast")  # 1-word edit ≈ J 0.9
    far = "completely different content about spark shuffles and parquet files"
    rows = [
        (1, base),
        (2, base),  # exact dup of 1
        (3, near),  # near dup of 1
        (4, far),
        (5, "the quick brown fox"),  # subset, lower J
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_dedup(docs):
    groups = dedup.exact_dedup_groups(docs, "text", "doc_id").collect()
    by_keeper = {r.keeper_id: r.n_copies for r in groups}
    assert by_keeper[1] == 2  # docs 1 and 2 collapse
    deduped = dedup.exact_dedup(docs, "text", "doc_id")
    assert sorted(r.doc_id for r in deduped.collect()) == [1, 3, 4, 5]


def test_jaccard_pairs(docs):
    pairs = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.jaccard_pairs(docs, "text", "doc_id", 0.5).collect()
    }
    assert pairs[(1, 2)] == 1.0
    assert pairs[(1, 3)] >= 0.8
    assert (1, 4) not in pairs and (2, 4) not in pairs


def test_minhash_lsh_agrees_with_exact(docs):
    exact = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(docs, "text", "doc_id", 0.5).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(docs, "text", "doc_id", 0.5).collect()
    }
    # LSH output is verified by exact shingle-jaccard against the same
    # shingle definition, so no false positives are possible; recall
    # on the planted high-J pairs must be total.
    assert lsh <= exact
    assert {(1, 2), (1, 3)} <= lsh


def test_minhash_family_matches_python_reference(spark):
    """The MinHash family, replayed from hashlib alone: each shingle's
    60-bit hash is the first 15 hex digits of its md5, and mins i is
    min((a_i * (h mod p) + b_i) mod p) with p = 2^31 - 1 and (a_i, b_i)
    derived from md5 of i. The DuckDB oracle replays the same family,
    so a changed coefficient, p or prefix would move both engines
    together; this reference does not move with them."""
    import hashlib

    import pandas as pd
    from pandas.testing import assert_frame_equal

    p = 2**31 - 1
    coeffs = []
    for i in range(64):
        d = int(hashlib.md5(str(i).encode()).hexdigest(), 16)
        coeffs.append((1 + d % (p - 1), (d >> 64) % p))
    texts = {
        1: "alpha beta gamma delta epsilon",
        2: "alpha beta gamma zeta",
        3: "one two",  # shorter than the 3-gram: one whole-doc shingle
    }

    def ref_hashes(text):
        w = text.split()
        shingles = {" ".join(w[i:i + 3]) for i in range(max(len(w) - 2, 1))}
        return sorted(
            int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
            for s in shingles
        )

    ref = {k: ref_hashes(t) for k, t in texts.items()}
    expected = pd.DataFrame(
        [
            (k, *[min((a * (h % p) + b) % p for h in hs) for a, b in coeffs])
            for k, hs in sorted(ref.items())
        ],
        columns=["_id", *[f"_m{i}" for i in range(64)]],
    )
    docs = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )
    sets = dedup._md5_shingle_sets(docs, "text", "doc_id", 3)
    assert {r._id: sorted(r._words) for r in sets.collect()} == ref
    result = dedup._minhash_mins(sets).orderBy("_id").toPandas()
    assert_frame_equal(expected, result)


def test_minhash_lsh_evaluates_each_source_row_once(spark):
    """Through one collect() every source row is evaluated exactly
    once, for MinHash and for SimHash. MinHash's signature aggregate
    and both verify sides read one cut of the hashed shingle sets;
    the Hamming band join reads SimHash's signatures five times (reps,
    both sides of the hamming-0 join, both expansion joins) through
    one cut. Without a cut each consumer re-runs the
    normalize+shingle+md5 pipeline from the source. Pinned with a
    per-row UDF accumulator, as in the union-find over-cap test. The
    two operators run in one test, not a parametrization, so the
    test's name is unchanged."""
    from pyspark.sql import functions as F

    base = (
        "the quick brown fox jumps over the lazy dog near the old river "
        "bank while birds sing in the tall green trees above"
    )
    rows = [
        (i, base.replace("quick", f"w{i // 2}") if i % 2 else
         base.replace("quick", f"w{i // 2}").replace("tall", "short"))
        for i in range(20)
    ]
    ops = {
        "minhash_lsh_pairs": lambda d: dedup.minhash_lsh_pairs(
            d, "text", "doc_id", 0.5
        ),
        "simhash_near_pairs": lambda d: dedup.simhash_near_pairs(
            d, "text", "doc_id", 3
        ),
    }
    for name, op in ops.items():
        acc = spark.sparkContext.accumulator(0)

        @F.udf("string")
        def counted(x, acc=acc):
            acc.add(1)
            return x

        counted = counted.asNondeterministic()  # no dedup/reorder by Catalyst
        docs = spark.createDataFrame(rows, "doc_id long, text string").select(
            "doc_id", counted(F.col("text")).alias("text")
        )
        pairs = {(r.doc_a, r.doc_b) for r in op(docs).collect()}
        if name == "minhash_lsh_pairs":
            # each odd doc pairs with its even neighbour (one-word edit)
            assert pairs >= {(i, i + 1) for i in range(0, 20, 2)}
        assert acc.value == len(rows), (
            f"{name}: source evaluated {acc.value} times for {len(rows)} "
            "rows — a consumer of the hashed shingle sets or signatures "
            "recomputed the pipeline"
        )


def test_minhash_lsh_recall_on_corpus(spark):
    """On the real documents table: recall vs the exact 3-gram-shingle
    operator must match the b=16,r=4 S-curve — >=95% at J>=0.7, ~100%
    at J>=0.9. (100% at 0.7 is NOT expected: the theoretical miss
    rate there is ~1.2%.) Also: no false positives, ever (LSH output
    is shingle-J-verified)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact05 = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(docs, "text", "doc_id", 0.5).collect()
    }
    exact07 = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(docs, "text", "doc_id", 0.7).collect()
    }
    exact09 = {
        (r.doc_a, r.doc_b)
        for r in dedup.ngram_jaccard_pairs(docs, "text", "doc_id", 0.9).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in dedup.minhash_lsh_pairs(docs, "text", "doc_id", 0.5).collect()
    }
    assert lsh <= exact05, f"false positives: {sorted(lsh - exact05)[:5]}"
    assert exact07, "corpus has no planted near-dup pairs?!"
    recall07 = len(exact07 & lsh) / len(exact07)
    assert recall07 >= 0.95, f"recall at J>=0.7: {recall07:.3f}"
    if exact09:
        recall09 = len(exact09 & lsh) / len(exact09)
        assert recall09 >= 0.999, f"recall at J>=0.9: {recall09:.4f}"


def test_simhash_near_pairs(docs):
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_near_pairs(docs, "text", "doc_id", 3).collect()
    }
    assert pairs[(1, 2)] == 0  # identical text -> identical simhash
    assert (1, 4) not in pairs


def test_simhash_portable_family_agrees_on_planted_pairs(docs):
    """The md5/60-bit family (the one the DuckDB oracle replays) keeps
    the planted-pair behavior: identical text -> hamming 0, unrelated
    text -> no pair."""
    pairs = {
        (r.doc_a, r.doc_b): r.hamming
        for r in dedup.simhash_near_pairs(docs, "text", "doc_id", 3).collect()
    }
    assert pairs[(1, 2)] == 0
    assert (1, 4) not in pairs


def test_simhash_matches_python_reference(spark):
    """The SimHash family, replayed from hashlib alone: each 3-gram
    shingle's feature is the first 15 hex digits of its md5 (60
    bits), signature bit i is set iff more of the doc's distinct
    features have bit i set than clear, and the signature travels as
    4 bands of 15 bits, band j = bits [15j, 15j + 15). The DuckDB
    oracle reads the same constants, so a changed bit order, band
    width or prefix would move both engines together; this reference
    does not move with them."""
    import hashlib

    import pandas as pd
    from pandas.testing import assert_frame_equal
    from pyspark.sql import functions as F

    texts = {
        1: "alpha beta gamma delta epsilon zeta eta theta",
        2: "alpha beta gamma delta epsilon zeta eta iota",
        3: "one two",  # shorter than the 3-gram: one whole-doc shingle
        4: "the cat sat on the mat and the dog sat on the log",
    }

    def ref_bands(text):
        w = text.split()
        shingles = {" ".join(w[i:i + 3]) for i in range(max(len(w) - 2, 1))}
        hs = {int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in shingles}
        sig = 0
        for i in range(60):
            if sum(1 if (h >> i) & 1 else -1 for h in hs) > 0:
                sig |= 1 << i
        return [(sig >> (15 * j)) & 0x7FFF for j in range(4)]

    expected = pd.DataFrame(
        [(k, *ref_bands(t)) for k, t in sorted(texts.items())],
        columns=["_id", "b0", "b1", "b2", "b3"],
    )
    docs = spark.createDataFrame(
        sorted(texts.items()), "doc_id long, text string"
    )
    sigs = dedup._simhash_bands(
        dedup._md5_shingle_sets(docs, "text", "doc_id", 3)
    )
    result = (
        sigs.select("_id", *[F.col("_b")[j].alias(f"b{j}") for j in range(4)])
        .orderBy("_id")
        .toPandas()
    )
    assert_frame_equal(expected, result)


def test_connected_components_vs_union_find(spark):
    """Both component paths — the operator's driver union-find (the
    graph is far below the cap) and the relational min-label
    propagation — must agree with an independent union-find on a
    random 200-node graph (including chain-shaped components that need
    several propagation rounds)."""
    import random

    rng = random.Random(3)
    edges = set()
    for _ in range(150):
        a, b = rng.randrange(200), rng.randrange(200)
        if a != b:
            edges.add((min(a, b), max(a, b)))
    # add a long chain to force multi-round convergence
    edges.update((i, i + 1) for i in range(300, 320))
    pairs = spark.createDataFrame(sorted(edges), ["doc_a", "doc_b"])

    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent.setdefault(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in sorted(edges):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {x for e in edges for x in e}
    expected = {n: find(n) for n in nodes}

    got = {
        r.node: r.component
        for r in dedup.connected_components(pairs).collect()
    }
    assert got == expected
    rel = {
        r.node: r.component
        for r in dedup.connected_components_iters(pairs)[0].collect()
    }
    assert rel == expected


def test_connected_components_log_round_convergence(spark):
    """100x-behavior pin (VERDICT r2 #6): pointer doubling must make
    the round count logarithmic in the component diameter, not linear.
    A 200-hop path would take 200 plain-propagation rounds — far past
    max_iter, i.e. a silent wrong answer; with path halving it must
    converge (to the right labels) in <= 12 rounds. A skewed
    hub-and-spoke (one hot node, 150 spokes) must land in <= 3."""
    # long path: worst case for label propagation
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], ["doc_a", "doc_b"]
    )
    labels, iters = dedup.connected_components_iters(path, max_iter=15)
    got = {r.node: r.component for r in labels.collect()}
    assert got == {i: 0 for i in range(201)}
    assert iters <= 12

    # hub-and-spoke: skew case — one hot key in every neighbor join
    hub = spark.createDataFrame(
        [(1000, 1000 + i) for i in range(1, 151)], ["doc_a", "doc_b"]
    )
    labels, iters = dedup.connected_components_iters(hub)
    got = {r.node: r.component for r in labels.collect()}
    assert set(got.values()) == {1000}
    assert iters <= 3


def test_banding_parameter_validation(docs):
    """ADVICE r1: silently-degraded parameter combos must raise."""
    import pytest as _pytest

    with _pytest.raises(ValueError, match="pigeonhole"):
        dedup.simhash_near_pairs(docs, "text", "doc_id", max_hamming=5)


def test_winnow_fingerprints(docs):
    fps = dedup.winnow_fingerprints(docs, "text", "doc_id", n=5, window=4)
    rows = fps.collect()
    # identical docs -> identical fingerprint sets
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] == by_doc[2]
    assert by_doc[1] != by_doc[4]
    # sliding windows self-synchronize: a 1-word edit perturbs only
    # fingerprints near the change, so the near-dup shares most
    # fingerprints; the unrelated doc shares ~none.
    assert len(by_doc[1] & by_doc[3]) / len(by_doc[1] | by_doc[3]) >= 0.7
    assert len(by_doc[1] & by_doc[4]) / len(by_doc[1] | by_doc[4]) < 0.2
    # deterministic across partitionings
    rows2 = dedup.winnow_fingerprints(
        docs.repartition(5), "text", "doc_id", n=5, window=4
    ).collect()
    assert {(r.doc_id, r.fp) for r in rows2} == {
        (r.doc_id, r.fp) for r in rows
    }


def test_dedup_against_state_fold(spark):
    """Incremental registry dedup: first arrival wins across batches,
    within-batch min id wins, and the registry grows by exactly the
    admitted fingerprints."""
    from pyspark.sql import functions as F

    rows = [
        (1, "alpha beta"),     # batch 1 (1%3)
        (2, "gamma delta"),    # batch 2
        (3, "alpha beta"),     # batch 0 — arrives FIRST, beats doc 1
        (4, "epsilon"),        # batch 1
        (5, "gamma delta"),    # batch 2 — same batch as 2, 2 wins
        (6, "zeta"),           # batch 0
        (7, "epsilon"),        # batch 1 — same batch as 4, 4 wins
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    state = spark.createDataFrame([], "fp string, keeper_id long")
    admitted = []
    for i in range(3):
        batch = docs.filter(F.col("doc_id") % 3 == i)
        kept, state = dedup.dedup_against_state(batch, state, "text", "doc_id")
        admitted.extend(r.doc_id for r in kept.collect())
    # batch 0: docs 3, 6; batch 1: 4 (1 loses to 3's content, 7 to 4);
    # batch 2: 2 (5 loses in-batch)
    assert sorted(admitted) == [2, 3, 4, 6]
    st = state.collect()
    assert len(st) == 4
    assert {r.keeper_id for r in st} == {2, 3, 4, 6}

    # a later batch consisting entirely of seen content admits nothing
    rerun, state2 = dedup.dedup_against_state(
        docs.filter(F.col("doc_id").isin(1, 5, 7)), state, "text", "doc_id"
    )
    assert rerun.count() == 0
    assert state2.count() == 4


def test_exact_span_pairs_catches_copied_passage(spark):
    """A 16-token passage copied into two otherwise-different docs:
    word-set Jaccard stays below the usual 0.5 near-dup bar (the
    blind spot substring dedup exists for) while exact_span_pairs
    reports the pair with the exact run length."""
    passage = (
        "in a hole in the ground there lived a hobbit "
        "not a nasty dirty wet hole"
    )  # 16 tokens
    filler_a = " ".join(f"alpha{i} beta{i} gamma{i}" for i in range(12))
    filler_b = " ".join(f"delta{i} epsilon{i} zeta{i}" for i in range(12))
    rows = [
        (1, filler_a + " " + passage + " " + filler_a),
        (2, filler_b + " " + passage + " " + filler_b),
        (3, filler_a + " " + filler_a),  # shares filler with 1 only
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    jac = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup.jaccard_pairs(docs, "text", "doc_id", 0.0).collect()
    }
    assert jac[(1, 2)] < 0.5  # set similarity under-scores the copy

    spans = {
        (r.doc_a, r.doc_b): r.max_span_tokens
        for r in dedup.exact_span_pairs(
            docs, "text", "doc_id", k=8, min_span_tokens=12
        ).collect()
    }
    assert spans[(1, 2)] == 16  # the copied passage, exact length
    assert (1, 3) in spans  # repeated filler_a run inside doc 3
    assert (2, 3) not in spans  # nothing shared


def test_exact_span_pairs_anchor_guard_drops_boilerplate(spark):
    """An anchor present in more documents than max_anchor_docs is
    excluded before the self-join — the quadratic-blowup guard."""
    boiler = "this footer text is identical across every page of the site"
    rows = [(i, f"unique{i} " * 8 + boiler) for i in range(1, 7)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    # guard admits it: all 15 pairs share the boilerplate run
    loose = dedup.exact_span_pairs(
        docs, "text", "doc_id", k=8, min_span_tokens=8, max_anchor_docs=10
    )
    assert loose.count() == 15
    # guard at 3 drops the ubiquitous anchors entirely
    tight = dedup.exact_span_pairs(
        docs, "text", "doc_id", k=8, min_span_tokens=8, max_anchor_docs=3
    )
    assert tight.count() == 0


def test_prefix_filter_matches_quadratic_join(spark):
    """Prefix filtering is EXACT: at several thresholds the output
    equals the brute-force quadratic Jaccard join, and the plan has
    no cartesian/nested-loop stage (candidates come from the
    rare-token prefix equi-join)."""
    from aws_de_final_project_spark.sources.registry import load_tables

    t = load_tables(spark, "/root/testdata/sf0.001", ("documents",))
    docs = t["documents"]
    for thr, ng in ((0.3, 3), (0.5, 3), (0.8, 3), (1.0, 3), (0.5, 1)):
        fast = dedup.prefix_filter_jaccard_pairs(
            docs, "text", "doc_id", threshold=thr, ngram=ng
        )
        slow = dedup.jaccard_pairs(
            docs, "text", "doc_id", threshold=thr, ngram=ng
        )
        got = {tuple(r) for r in fast.collect()}
        want = {tuple(r) for r in slow.collect()}
        assert got == want, (
            f"threshold={thr} ngram={ng}: prefix filter lost/added pairs"
        )
    plan = (
        dedup.prefix_filter_jaccard_pairs(docs, "text", "doc_id", 0.5, ngram=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_prefix_filter_candidate_pruning(spark):
    """The pre-verify candidate set must be a small fraction of
    n(n-1)/2 — the operator's whole scale claim, measured directly
    on the exposed candidate stage."""
    from aws_de_final_project_spark.operators.dedup import (
        _prefix_filter_candidates,
        _shingle_sets,
    )
    from aws_de_final_project_spark.sources.registry import load_tables

    t = load_tables(spark, "/root/testdata/sf0.001", ("documents",))
    docs = t["documents"]
    n = docs.count()
    sets = _shingle_sets(docs, "text", "doc_id", 3)
    n_cand = _prefix_filter_candidates(sets, 0.5).count()
    all_pairs = n * (n - 1) // 2
    assert n_cand < all_pairs * 0.02, (
        f"candidates {n_cand} vs all pairs {all_pairs}: prefix not pruning"
    )


def test_prefix_filter_threshold_validation(spark):
    from aws_de_final_project_spark.sources.registry import load_tables

    t = load_tables(spark, "/root/testdata/sf0.001", ("documents",))
    with pytest.raises(ValueError):
        dedup.prefix_filter_jaccard_pairs(t["documents"], "text", "doc_id", 0.0)


def test_prefix_filter_exact_verify_mode_agrees(spark):
    """exact_verify=True (string verify on every candidate, no hashed
    prefilter) must return the identical pair set as the default
    hashed-pre-verify path."""
    from aws_de_final_project_spark.sources.registry import load_tables

    t = load_tables(spark, "/root/testdata/sf0.001", ("documents",))
    docs = t["documents"]
    fast = dedup.prefix_filter_jaccard_pairs(
        docs, "text", "doc_id", 0.5, ngram=3
    )
    strict = dedup.prefix_filter_jaccard_pairs(
        docs, "text", "doc_id", 0.5, ngram=3, exact_verify=True
    )
    assert {tuple(r) for r in fast.collect()} == {
        tuple(r) for r in strict.collect()
    }


def test_connected_components_driver_impl_matches_relational(spark):
    """The driver union-find must produce identical labels to the
    relational loop."""
    import random

    rng = random.Random(7)
    edges = {(min(a, b), max(a, b))
             for a, b in ((rng.randrange(400), rng.randrange(400))
                          for _ in range(350)) if a != b}
    edges.update((i, i + 1) for i in range(500, 540))
    pairs = spark.createDataFrame(sorted(edges), ["doc_a", "doc_b"])
    rel = {(r.node, r.component)
           for r in dedup.connected_components_iters(pairs)[0].collect()}
    drv = {(r.node, r.component)
           for r in dedup.connected_components(pairs).collect()}
    assert rel == drv


def test_connected_components_nonconvergence_raises(spark):
    """A diameter past max_iter's reach must raise loudly, never
    return mislabeled components (the sf0.1 entity graph needed 26
    rounds — past the old silent default)."""
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], ["doc_a", "doc_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components_iters(path, max_iter=2)


def test_connected_components_reliable_checkpoint(reliable_cut):
    """On a session with a checkpoint dir, ``util.cut`` is a reliable
    ``df.checkpoint()`` (durable on a real cluster, where
    localCheckpoint blocks die with executors): the relational
    components loop must give identical labels and actually write
    checkpoint data under the dir."""
    local_rows, got = reliable_cut
    assert local_rows["connected_components"]
    assert got["rows"]["connected_components"] == local_rows["connected_components"]
    assert got["wrote"]["connected_components"], (
        "reliable checkpoint wrote nothing under spark.checkpoint.dir")


def test_connected_components_null_pairs_dropped_in_both_impls(
    spark, monkeypatch
):
    """Pairs with NULL (or NULL-cast) ids must silently drop on every
    path — the driver union-find, the relational loop, and the
    over-cap fallback that feeds the cleaned pairs to it. Previously
    the driver union-find raised an opaque TypeError on None mid-loop
    while the relational path's equi-joins dropped them."""
    from pyspark.sql import types as T

    from aws_de_final_project_spark.operators import util

    schema = T.StructType([
        T.StructField("doc_a", T.LongType()),
        T.StructField("doc_b", T.LongType()),
    ])
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (None, 4), (5, None), (10, 11)], schema
    )
    expected = {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)}
    rel = {(r.node, r.component)
           for r in dedup.connected_components_iters(pairs)[0].collect()}
    drv = {(r.node, r.component)
           for r in dedup.connected_components(pairs).collect()}
    # 3 non-NULL pairs over a cap of 2: the fallback runs
    monkeypatch.setattr(util, "DRIVER_MAX_ROWS", 2)
    over = {(r.node, r.component)
            for r in dedup.connected_components(pairs).collect()}
    assert rel == expected
    assert drv == expected
    assert over == expected


def test_connected_components_auto_dispatch(spark, monkeypatch):
    """connected_components must use the driver union-find when the
    pair list fits ``util.DRIVER_MAX_ROWS``, and FALL BACK to the
    relational iteration (same labels, no error) when it exceeds the
    cap — the scale-safety contract entity resolution relies on. The
    driver path's labels are a LocalTableScan; the fallback's are
    not."""
    import random

    from aws_de_final_project_spark.operators import util

    rng = random.Random(23)
    edges = {(min(a, b), max(a, b))
             for a, b in ((rng.randrange(150), rng.randrange(150))
                          for _ in range(120)) if a != b}
    pairs = spark.createDataFrame(sorted(edges), ["doc_a", "doc_b"])
    rel = {(r.node, r.component)
           for r in dedup.connected_components_iters(pairs)[0].collect()}
    small = dedup.connected_components(pairs)
    assert {(r.node, r.component) for r in small.collect()} == rel
    assert "LocalTableScan" in _executed_plan(small)
    # cap of 10 forces the over-cap branch: it falls back instead of
    # raising
    monkeypatch.setattr(util, "DRIVER_MAX_ROWS", 10)
    over = dedup.connected_components(pairs)
    assert {(r.node, r.component) for r in over.collect()} == rel
    assert "LocalTableScan" not in _executed_plan(over)


def test_auto_overcap_fallback_runs_pipeline_once(spark, monkeypatch):
    """The over-cap fallback must consume the MATERIALIZED pair
    list, not recompute the candidate pipeline from the original frame
    (r13 VERDICT item 2: the fallback paid a full pipeline run for the
    bound check and then started over). Pinned with a per-row UDF
    accumulator: the source expression must evaluate exactly once per
    row across the whole bound-check + fallback path."""
    from pyspark.sql import functions as F

    from aws_de_final_project_spark.operators import util

    acc = spark.sparkContext.accumulator(0)

    @F.udf("long")
    def counted(x):
        acc.add(1)
        return x

    counted = counted.asNondeterministic()  # no dedup/reorder by Catalyst
    n = 40
    base = spark.range(n).select(
        counted(F.col("id")).alias("doc_a"),
        (F.col("id") + 1).alias("doc_b"),
    )
    monkeypatch.setattr(util, "DRIVER_MAX_ROWS", 5)
    labels = {
        (r.node, r.component)
        for r in dedup.connected_components(base).collect()
    }
    # one 41-node chain: component = 0 for every node
    assert labels == {(i, 0) for i in range(n + 1)}
    assert acc.value == n, (
        f"pipeline evaluated {acc.value} rows for {n} input rows — "
        "the over-cap fallback recomputed the candidate pipeline"
    )


def test_containment_asymmetry_on_embedded_doc(spark):
    """A short document pasted inside a much larger one: high
    C(short, long), low C(long, short), and Jaccard misses the pair
    entirely at the same threshold — the reason the asymmetric
    relation exists."""
    from aws_de_final_project_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "the quick brown fox jumps over the lazy dog again and again"
    filler = " ".join(f"unrelated filler token{i} body" for i in range(40))
    long_doc = filler + " " + short + " " + filler.replace("token", "word")
    df = spark.createDataFrame(
        [(1, short), (2, long_doc), (3, "совсем другой текст без общих слов")],
        ["doc_id", "text"],
    )
    pairs = {
        (r.doc_a, r.doc_b): r.containment
        for r in containment_pairs(
            df, "text", "doc_id", threshold_pct=90
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 0.9
    assert (2, 1) not in pairs  # asymmetric: the long doc isn't contained
    j = ngram_jaccard_pairs(df, "text", "doc_id", threshold=0.5).collect()
    assert not [r for r in j if {r.doc_a, r.doc_b} == {1, 2}]


def test_containment_hot_shingle_guard(spark):
    """Planted hot shingle (one 3-gram in ~50% of docs): the prefix
    filter keeps the candidate count bounded by the TRUE near-pair
    structure instead of the hot shingle's df² blowup, and recall on
    the planted containment pairs is unchanged (the filter is
    lossless for the threshold)."""
    import random

    from aws_de_final_project_spark.operators.dedup import (
        _containment_candidates,
        _containment_hashed_sets,
        containment_pairs,
    )

    rng = random.Random(7)
    n_docs = 200
    hot = "shared boilerplate header"  # one 3-gram shingle
    rows = []
    for i in range(n_docs):
        body = " ".join(
            f"w{rng.randrange(10**9)}x{i} t{rng.randrange(10**9)}"
            for _ in range(25)
        )
        text = (hot + " " + body) if i % 2 == 0 else body
        rows.append((i, text))
    # planted true pairs: doc 1000+i is doc i's text verbatim plus a
    # small unique suffix -> C(i, 1000+i) == 1.0
    planted = []
    for i in range(0, 20):
        rows.append((1000 + i, rows[i][1] + f" uniq{ i } suffix tail"))
        planted.append((i, 1000 + i))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    hs = _containment_hashed_sets(df, "text", "doc_id", 3)
    n_cand = _containment_candidates(hs, 90).count()
    # unguarded join volume on the hot shingle alone would be
    # ~df² = 110² ≈ 12k candidate pairs sharing only boilerplate;
    # the guard keeps candidates proportional to true pairs
    assert n_cand < 500, n_cand

    got = {
        (r.doc_a, r.doc_b)
        for r in containment_pairs(
            df, "text", "doc_id", threshold_pct=90
        ).collect()
    }
    for p in planted:
        assert p in got, p
    # no hot-shingle-only pair qualifies (their true containment is
    # one shared shingle out of dozens)
    spurious = got - set(planted) - {(b, a) for a, b in planted}
    for a, b in spurious:
        assert a >= 1000 or b >= 1000, (a, b)


def _token_lcs(a: list[str], b: list[str]) -> int:
    """True longest-common-substring (in TOKENS) oracle — the exact
    quantity a suffix-array implementation (Lee et al.) computes,
    done as O(n*m) DP since fixtures are tiny."""
    best = 0
    prev = [0] * (len(b) + 1)
    for i in range(1, len(a) + 1):
        cur = [0] * (len(b) + 1)
        for j in range(1, len(b) + 1):
            if a[i - 1] == b[j - 1]:
                cur[j] = prev[j - 1] + 1
                if cur[j] > best:
                    best = cur[j]
        prev = cur
    return best


def test_exact_span_recall_bound_vs_suffix_oracle(spark):
    """VERDICT r9 item 8 — quantify the anchor-k/recall trade against
    a true suffix-array-equivalent oracle: for every anchor length k,
    (a) a shared span of k-1 tokens is INVISIBLE (min detectable span
    == k, by construction: it contains no k-window), and (b) every
    shared span >= k is reported with max_span_tokens EXACTLY equal
    to the true longest common token run — recall 1.0, not an
    approximation — as long as k <= min_span_tokens and no anchor
    trips the boilerplate guard."""
    import random

    from aws_de_final_project_spark.operators import dedup

    for k in (3, 5, 8):
        rng = random.Random(1000 + k)
        uid = iter(f"u{k}x{i}" for i in range(100000))

        def filler(n):
            return [next(uid) for _ in range(n)]

        def span(n, tag):
            return [f"s{k}{tag}{i}" for i in range(n)]

        long_span = span(k + 4, "a")     # detectable, > k
        exact_span = span(k, "b")        # detectable, == k boundary
        tiny_span = span(k - 1, "c")     # invisible: no k-window
        twin1, twin2 = span(k, "d"), span(k + 6, "e")  # max wins

        docs_tok = {
            1: filler(20) + long_span + filler(20),
            2: filler(20) + long_span + filler(20),
            3: filler(15) + exact_span + filler(15),
            4: filler(15) + exact_span + filler(15),
            5: filler(15) + tiny_span + filler(15),
            6: filler(15) + tiny_span + filler(15),
            7: filler(9) + twin1 + filler(9) + twin2 + filler(9),
            8: filler(9) + twin2 + filler(9) + twin1 + filler(9),
            9: filler(40),  # shares nothing
        }
        # sanity: the generator produced the LCS lengths we think
        truth = {}
        ids = sorted(docs_tok)
        for i in ids:
            for j in ids:
                if i < j:
                    truth[(i, j)] = _token_lcs(docs_tok[i], docs_tok[j])
        assert truth[(1, 2)] == k + 4
        assert truth[(3, 4)] == k
        assert truth[(5, 6)] == k - 1
        assert truth[(7, 8)] == k + 6
        assert truth[(1, 9)] == 0

        df = spark.createDataFrame(
            [(i, " ".join(t)) for i, t in docs_tok.items()],
            ["doc_id", "text"],
        )
        got = {
            (r.doc_a, r.doc_b): r.max_span_tokens
            for r in dedup.exact_span_pairs(
                df, "text", "doc_id", k=k, min_span_tokens=k
            ).collect()
        }
        want = {p: s for p, s in truth.items() if s >= k}
        assert got == want, (k, got, want)
        # the k-1 span is the quantified blind spot: one token shorter
        # than the anchor and the pair vanishes even at min_span==k-1
        missed = {
            (r.doc_a, r.doc_b)
            for r in dedup.exact_span_pairs(
                df, "text", "doc_id", k=k, min_span_tokens=k - 1
            ).collect()
        }
        assert (5, 6) not in missed, k


def test_exact_span_guard_truncation_bound(spark):
    """The max_anchor_docs guard's quantified loss channel: when the
    MIDDLE window of a shared span is ubiquitous (> max_anchor_docs
    docs), the detected span truncates to the longest surviving
    consecutive-window stretch + k - 1 — never silently wrong, just
    conservatively shorter; raising the cap restores exactness."""
    from aws_de_final_project_spark.operators import dedup

    k = 4
    # span of 12 tokens -> 9 windows; make windows 4..6 (the middle
    # k+2 tokens) ubiquitous by planting those tokens in many docs
    span = [f"p{i}" for i in range(12)]
    mid = span[3 : 3 + 2 * k - 1]  # tokens covering windows 4..6
    rows = [
        (1, " ".join([f"f1x{i}" for i in range(10)] + span)),
        (2, " ".join([f"f2x{i}" for i in range(10)] + span)),
    ]
    # 5 boilerplate docs carrying ONLY the middle stretch
    rows += [
        (10 + i, " ".join([f"g{i}x{j}" for j in range(8)] + mid))
        for i in range(5)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    tight = {
        (r.doc_a, r.doc_b): r.max_span_tokens
        for r in dedup.exact_span_pairs(
            df, "text", "doc_id", k=k, min_span_tokens=k,
            max_anchor_docs=2,
        ).collect()
    }
    # windows fully inside `mid` appear in 7 docs -> dropped; the
    # surviving prefix/suffix stretches each have >= 3 consecutive
    # windows -> detected span in [3 + k - 1, 12)
    assert (1, 2) in tight
    assert k - 1 + 3 <= tight[(1, 2)] < 12, tight[(1, 2)]

    loose = {
        (r.doc_a, r.doc_b): r.max_span_tokens
        for r in dedup.exact_span_pairs(
            df, "text", "doc_id", k=k, min_span_tokens=k,
            max_anchor_docs=50,
        ).collect()
    }
    assert loose[(1, 2)] == 12  # cap lifted -> exact again
