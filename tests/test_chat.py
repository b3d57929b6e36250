"""Conversation/SFT operators (operators/chat): role-protocol
validation isolation, turn/token stats, prompt dedup (registry +
near-dup via the minhash family) — VERDICT r12 item 6."""

import json

from aws_de_final_project_spark.operators import chat as C


def _line(conv_id, msgs):
    return (conv_id, json.dumps({"messages": [
        {"role": r, "content": c} for r, c in msgs
    ]}))


def _convs(spark, rows):
    df = spark.createDataFrame(rows, "conv_id long, line string")
    return C.parse_chat_lines(df, "line")


CLEAN = [("system", "be helpful"), ("user", "hi there"),
         ("assistant", "hello"), ("user", "thanks"),
         ("assistant", "welcome")]


def test_each_check_isolates_its_violation(spark):
    rows = [
        _line(0, CLEAN),
        _line(1, [("user", "q"), ("bot", "???"), ("assistant", "a")]),
        _line(2, [("user", "q"), ("system", "late"), ("assistant", "a")]),
        _line(3, [("assistant", "a"), ("user", "q"), ("assistant", "a")]),
        _line(4, [("user", "q"), ("user", "q2"), ("assistant", "a")]),
        _line(5, [("user", "q"), ("assistant", "a"), ("user", "bye")]),
        _line(6, [("user", "q"), ("assistant", "   ")]),
        _line(7, [("user", "w " * 70), ("assistant", "a")]),
        (8, "{not json"),
    ]
    suite = C.chat_check_suite(_convs(spark, rows))
    got = {r.check_name: r.violations for r in suite.collect()}
    got = {k.removeprefix("satisfies:"): v for k, v in got.items()}
    assert got == {
        "malformed_json": 1,
        "unknown_role": 1,
        "system_not_leading": 1,
        "first_turn_not_user": 1,
        "role_repeat": 1,
        "last_turn_not_assistant": 1,
        "empty_content": 1,
        "turn_over_token_budget": 1,
    }, got


def test_clean_conversation_passes_everything(spark):
    suite = C.chat_check_suite(_convs(spark, [_line(0, CLEAN)]))
    assert all(r.passed for r in suite.collect())


def test_turn_stats(spark):
    convs = _convs(spark, [_line(7, CLEAN)])
    r = C.chat_turn_stats(convs).collect()[0]
    assert (r.conv_id, r.n_turns, r.n_user_turns,
            r.n_assistant_turns) == (7, 5, 2, 2)
    # "be helpful"=2, "hi there"=2, "hello"=1, "thanks"=1, "welcome"=1
    assert r.total_tokens == 7 and r.max_turn_tokens == 2


def test_prompt_dedup_registry_and_normalization(spark):
    convs = _convs(spark, [
        _line(1, [("user", "What is   Spark?"), ("assistant", "a")]),
        _line(2, [("user", "what is spark?"), ("assistant", "b")]),
        _line(3, [("user", "Fresh question"), ("assistant", "c")]),
        _line(4, [("system", "only system")]),  # no user turn: skipped
    ])
    # registry already holds the normalized "what is spark?" prompt
    from aws_de_final_project_spark.operators.dedup import fingerprint

    seed = spark.createDataFrame(
        [("what is spark?", -1)], "t string, keeper_id long"
    ).select(fingerprint("t").alias("fp"), "keeper_id")
    kept, new_state = C.chat_prompt_dedup_against_registry(convs, seed)
    assert [r.conv_id for r in kept.collect()] == [3]
    assert new_state.count() == 2  # registry grew by the fresh prompt


def test_prompt_near_dup_via_minhash(spark):
    """NEAR-duplicate prompts (one word changed) pair up through the
    existing minhash machinery applied to the prompt column — the
    chat composition of the dedup family."""
    from aws_de_final_project_spark.operators.dedup import minhash_lsh_pairs

    # long shared prompt so one changed word keeps Jaccard ~0.9 —
    # on the b=16/r=4 S-curve a candidate with probability 1 - 4e-8
    # (J=0.5 would be a 64% coin flip; near-dup means NEAR)
    base = ("please summarize this very long document about spark "
            "shuffles and partitions in three short bullet points "
            "and then list every table it mentions together with "
            "the columns it reads and the filters it pushes down "
            "so the review meeting can skim it quickly tomorrow")
    convs = _convs(spark, [
        _line(1, [("user", base), ("assistant", "a")]),
        _line(2, [("user", base.replace("three", "five")),
                  ("assistant", "b")]),
        _line(3, [("user", "a completely different ask entirely "
                           "about cooking pasta tonight"),
                  ("assistant", "c")]),
    ])
    prompts = convs.select(
        "conv_id", C.normalized_prompt().alias("prompt")
    )
    pairs = minhash_lsh_pairs(prompts, "prompt", "conv_id", threshold=0.5)
    got = sorted((r[0], r[1]) for r in pairs.collect())
    assert got == [(1, 2)]


def test_loss_mask_stats_clean(spark):
    convs = _convs(spark, [_line(1, CLEAN), (2, "{broken")])
    rows = C.chat_loss_mask_stats(convs).collect()
    assert len(rows) == 1  # malformed dropped (suite counts it)
    r = rows[0]
    # assistant turns: "hello"(1) + "welcome"(1) = 2 of 7 tokens
    assert (r.total_tokens, r.trainable_tokens, r.masked_tokens) == (7, 2, 5)
    assert r.trainable_pct == 0.2857


def test_prompt_split_is_leakage_free(spark):
    """Conversations sharing a (normalized) prompt MUST land in the
    same split — the property conv-id-keyed splits cannot give."""
    convs = _convs(spark, [
        _line(i, [("user", "Shared   QUESTION here"), ("assistant", "a")])
        for i in range(10)
    ] + [
        _line(100 + i, [("user", f"other ask {i}"), ("assistant", "b")])
        for i in range(30)
    ])
    rows = C.chat_prompt_split(convs).collect()
    by_split = {}
    for r in rows:
        by_split.setdefault(r.split, []).append(r.conv_id)
    shared = {r.split for r in rows if r.conv_id < 100}
    assert len(shared) == 1  # all 10 re-asks in ONE split
    assert set(by_split) <= {"train", "val", "test"}
    assert len(rows) == 40
