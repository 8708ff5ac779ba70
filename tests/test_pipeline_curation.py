"""Round-7 curation-operator tests: PII scrub, duplicated-span coverage,
deterministic shuffle, JSON props extraction, vocabulary top-k — each vs
its DuckDB oracle plus crafted-input behavioral checks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from akumuli_spark.operators import sessions
from akumuli_spark.pipeline import cluster, dedup, pii, text
from akumuli_spark.sources.testdata import load_table
from tests.conftest import SF_DIR, assert_matches_oracle


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents")


@pytest.fixture(scope="module")
def events(spark):
    return load_table(spark, SF_DIR, "events")


# ---------------------------------------------------------------------------
# PII
# ---------------------------------------------------------------------------


def test_pii_signals_oracle(spark, duck, docs):
    out = pii.pii_signals(pii.synth_pii_text(docs))
    assert_matches_oracle(out, duck, pii.pii_signals_sql())


def test_pii_scrub_oracle(spark, duck, docs):
    out = pii.pii_scrub(pii.synth_pii_text(docs))
    assert_matches_oracle(out, duck, pii.pii_scrub_sql())


def test_pii_scrub_crafted(spark):
    # one doc exercising every pattern plus the ordering hazards:
    # an email whose domain contains a digit run, phone (3-3-4) vs
    # SSN-shaped id (3-2-4) disambiguation, and a bare IPv4
    df = spark.createDataFrame(
        [
            (
                1,
                "mail bob.smith+x@mail2.example.co.uk then call "
                "415-555-0199 or ssn 078-05-1120 at 192.168.0.1 done",
            ),
            (2, "no pii here at all"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in pii.pii_scrub(df).collect()}
    assert rows[1]["clean_text"] == (
        "mail <EMAIL> then call <PHONE> or ssn <ID> at <IP> done"
    )
    assert rows[1]["n_redacted"] == 4
    assert rows[2]["clean_text"] == "no pii here at all"
    assert rows[2]["n_redacted"] == 0

    sig = {r["doc_id"]: r for r in pii.pii_signals(df).collect()}
    assert (
        sig[1]["n_email"],
        sig[1]["n_phone"],
        sig[1]["n_id"],
        sig[1]["n_ipv4"],
        sig[1]["has_pii"],
    ) == (1, 1, 1, 1, True)
    assert sig[2]["has_pii"] is False


def test_pii_synth_injects_detectable_spans(spark, docs):
    # every synthesized doc must carry at least the email span, and the
    # residue-gated spans must appear for exactly the gated doc_ids
    sig = pii.pii_signals(pii.synth_pii_text(docs))
    rows = sig.collect()
    assert all(r["n_email"] >= 1 for r in rows)
    for r in rows:
        assert (r["n_ipv4"] >= 1) == (r["doc_id"] % 2 == 0), r
        assert (r["n_phone"] >= 1) == (r["doc_id"] % 3 == 0), r


def test_pii_dialect_parity_adversarial(spark, duck):
    """The PII patterns run under Java regex in Spark and RE2 in the
    DuckDB oracle; Python ``re`` referees (same role as the event-regex
    parity test): on an adversarial ASCII corpus — glued IPs, digit
    salads, emails with digit domains, truncated shapes — Spark's counts
    and scrubbed text AND DuckDB's must equal the reference model's."""
    import re as _re

    corpus = [
        "1.2.3.4.5.6.7.8",              # glued IPs: greedy left-to-right
        "999.999.999.999",               # out-of-range octets still match shape
        "1.2.3.45.6.7.8.9 x",
        "a@b.c",                         # TLD too short: not an email
        "a@b.co",
        "a@1.2.3.4com",                  # digit domain swallowed by email
        "x1@y2.z3.ab cd",
        "no-reply@mail2.example.co.uk",
        "555-123-4567 and 078-05-1120",  # phone then ssn
        "555-12-4567-123-4567",          # ssn glued to phone tail
        "123-456-78901",                 # 5-digit tail: \b kills the match
        "1234-567-8901",                 # 4-digit head: \b kills the match
        ".5.6.7.8",                      # leading dot: still a word boundary
        "v1.2.3.4x",                     # trailing letter: no boundary
        "a@@b.cd a@b..cd",
        "@ . - 078-05-1120@x.yz",        # email right of an ssn shape
        "",
        "plain words only here",
    ]
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(corpus)], "doc_id long, text string"
    )
    got_sig = {r["doc_id"]: r for r in pii.pii_signals(df).collect()}
    got_scrub = {r["doc_id"]: r for r in pii.pii_scrub(df).collect()}
    for i, s in enumerate(corpus):
        clean, total = s, 0
        for name, pat, placeholder in pii.PII_PATTERNS:
            n = len(_re.findall(pat, s))
            total += n
            clean = _re.sub(pat, placeholder, clean)
            assert got_sig[i][f"n_{name}"] == n, (s, name)
            duck_n = duck.execute(
                "SELECT len(regexp_extract_all(?, ?))", [s, pat]
            ).fetchone()[0]
            assert duck_n == n, (s, name, "RE2 divergence")
        assert got_scrub[i]["clean_text"] == clean, s
        assert got_scrub[i]["n_redacted"] == total, s
        duck_clean = s
        for _, pat, placeholder in pii.PII_PATTERNS:
            duck_clean = duck.execute(
                "SELECT regexp_replace(?, ?, ?, 'g')",
                [duck_clean, pat, placeholder],
            ).fetchone()[0]
        assert duck_clean == clean, (s, "RE2 scrub divergence")


# ---------------------------------------------------------------------------
# duplicated-span coverage
# ---------------------------------------------------------------------------


def test_dup_span_coverage_oracle(spark, duck, docs):
    out = dedup.duplicated_span_coverage(docs, n=5)
    assert_matches_oracle(out, duck, dedup.duplicated_span_coverage_sql(5))


def test_dup_span_coverage_crafted(spark):
    # docs 1 and 2 share the 3-gram "x y z" once each; doc 3 repeats a
    # 3-gram WITHIN itself only (must not count: the signal is cross-doc);
    # doc 4 is clean; doc 5 is too short for any 3-gram
    df = spark.createDataFrame(
        [
            (1, "a b x y z c d"),
            (2, "p q x y z r s"),
            (3, "m n o m n o"),
            (4, "u v w t e f"),
            (5, "hi there"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in
            dedup.duplicated_span_coverage(df, n=3).collect()}
    assert rows[1]["n_cov"] == 3 and rows[1]["n_tokens"] == 7
    assert rows[2]["n_cov"] == 3
    assert rows[1]["dup_span_frac"] == pytest.approx(3 / 7)
    assert rows[3]["n_cov"] == 0, "within-doc repetition must not count"
    assert rows[4]["n_cov"] == 0
    assert rows[5]["n_cov"] == 0 and rows[5]["dup_span_frac"] == 0.0


def test_dup_span_coverage_overlapping_spans_union(spark):
    # overlapping duplicated 3-grams: "a b c d" shared ⇒ two 3-grams
    # ("a b c", "b c d") covering positions 0-3 = 4 distinct, not 6
    df = spark.createDataFrame(
        [(1, "a b c d x"), (2, "a b c d y")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in
            dedup.duplicated_span_coverage(df, n=3).collect()}
    assert rows[1]["n_cov"] == 4
    assert rows[2]["n_cov"] == 4


def test_substring_spans_exact_boundaries(spark):
    """Maximal repeated spans with EXACT starts and lengths: docs 1 and 2
    share a 6-token block at different offsets; doc 3 shares a shorter
    block below min_len (must not emit); doc 4's within-doc repeat must
    not count (cross-doc contract)."""
    shared = "s1 s2 s3 s4 s5 s6"
    df = spark.createDataFrame(
        [
            (1, "a1 a2 " + shared + " a3"),          # span at pos 2
            (2, shared + " b1 b2 b3"),               # span at pos 0
            (3, "c1 c2 c3 s1 s2 s3 c4 c5 c6"),       # only 3 shared tokens
            (4, "d1 d2 d3 d1 d2 d3 d1 d2 d3"),       # within-doc only
        ],
        "doc_id long, text string",
    )
    rows = dedup.substring_spans(df, n=3, min_len=5).collect()
    assert [(r["doc_a"], r["start_a"], r["doc_b"], r["start_b"], r["length"])
            for r in rows] == [(1, 2, 2, 0, 6)]
    # min_len at the shared length emits; one above suppresses
    assert dedup.substring_spans(df, n=3, min_len=6).count() == 1
    assert dedup.substring_spans(df, n=3, min_len=7).count() == 0


def test_substring_spans_within_doc(spark):
    """within_doc=True adds self-repeats (doc_a = doc_b, start_a <
    start_b): periodic text emits one span per alignment offset, exactly
    as a suffix array reports repeated pairs; cross-doc rows unchanged."""
    df = spark.createDataFrame(
        [
            (1, "d1 d2 d3 d1 d2 d3 x1 x2"),   # self-repeat at offset 3
            (2, "u1 u2 u3 u4 u5 u6 u7 u8"),
        ],
        "doc_id long, text string",
    )
    cross = dedup.substring_spans(df, n=3, min_len=3)
    assert cross.count() == 0
    rows = sorted(
        (r["doc_a"], r["start_a"], r["doc_b"], r["start_b"], r["length"])
        for r in dedup.substring_spans(
            df, n=3, min_len=3, within_doc=True).collect()
    )
    assert rows == [(1, 0, 1, 3, 3)]


def test_substring_spans_oracle(spark, duck, docs):
    out = dedup.substring_spans(docs, n=5, min_len=15)
    assert out.count() > 0, "planted near-dups must produce true spans"
    assert_matches_oracle(out, duck, dedup.substring_spans_sql(5, 15))


def test_scrub_substring_cuts_only_long_spans(spark):
    """Removal must cut exactly the ≥min_len spans, leaving incidental
    short matches alone — the distinction vs scrub_duplicated_spans."""
    shared = "s1 s2 s3 s4 s5 s6"
    df = spark.createDataFrame(
        [
            (1, "a1 a2 " + shared + " a3"),
            (2, shared + " b1 b2 b3"),
            (3, "c1 c2 c3 s1 s2 s3 c4 c5 c6"),  # short match: untouched
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in
            dedup.scrub_substring_spans(df, n=3, min_len=5).collect()}
    assert rows[1]["text_clean"] == "a1 a2 a3"
    assert rows[2]["text_clean"] == "b1 b2 b3"
    assert rows[3]["text_clean"] == rows[3]["text_clean"] and \
        rows[3]["n_kept"] == rows[3]["n_tokens"] == 9
    # the fixed-width scrub would also have cut doc 3's 3-token match
    old = {r["doc_id"]: r for r in
           dedup.scrub_duplicated_spans(df, n=3).collect()}
    assert old[3]["n_kept"] < 9


def test_scrub_substring_oracle(spark, duck, docs):
    out = dedup.scrub_substring_spans(docs, n=5, min_len=15)
    assert_matches_oracle(out, duck, dedup.scrub_substring_spans_sql(5, 15))


def test_scrub_substring_keep_first(spark):
    """keep='first': each repeated pair keeps its earliest occurrence —
    the lower doc_id survives untouched, only the later copy is cut; a
    transitive triple converges to the earliest copy surviving."""
    shared = "s1 s2 s3 s4 s5 s6"
    df = spark.createDataFrame(
        [
            (1, "a1 a2 " + shared + " a3"),
            (2, shared + " b1 b2 b3"),
            (3, "c1 " + shared + " c2 c3"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in dedup.scrub_substring_spans(
        df, n=3, min_len=5, keep="first").collect()}
    assert rows[1]["n_kept"] == rows[1]["n_tokens"]  # first copy intact
    assert rows[2]["text_clean"] == "b1 b2 b3"
    assert rows[3]["text_clean"] == "c1 c2 c3"
    # keep='all' removes every copy, including doc 1's
    all_rows = {r["doc_id"]: r for r in dedup.scrub_substring_spans(
        df, n=3, min_len=5, keep="all").collect()}
    assert all_rows[1]["text_clean"] == "a1 a2 a3"
    import pytest as _pytest

    with _pytest.raises(ValueError, match="keep"):
        dedup.scrub_substring_spans(df, keep="last")


def test_containment_oracle(spark, duck, docs):
    out = dedup.ngram_containment_pairs(docs, n=5, threshold=0.5, max_df=64)
    assert out.count() > 0, "planted near-dups must clear the threshold"
    assert_matches_oracle(
        out, duck, dedup.ngram_containment_sql(5, 0.5, max_df=64)
    )


def test_containment_asymmetry_crafted(spark):
    # doc 2 is a verbatim quote of doc 1's middle inside a much longer
    # text: containment(1→2) is high, containment(2→1) and Jaccard low
    quote = "q1 q2 q3 q4 q5 q6 q7"
    long_doc = "a1 a2 a3 " + quote + " z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11 z12"
    df = spark.createDataFrame(
        [(1, quote), (2, long_doc), (3, "u1 u2 u3 u4 u5 u6 u7 u8")],
        "doc_id long, text string",
    )
    rows = {(r["doc_src"], r["doc_dst"]): r["containment"]
            for r in dedup.ngram_containment_pairs(
                df, n=5, threshold=0.9).collect()}
    assert rows[(1, 2)] == pytest.approx(1.0)   # quote fully contained
    assert (2, 1) not in rows                     # reverse direction low
    assert (3, 1) not in rows and (1, 3) not in rows
    jac = dedup.ngram_jaccard_pairs(df, n=5, threshold=0.5).collect()
    assert not jac, "Jaccard must miss the partial-copy pair"


# ---------------------------------------------------------------------------
# deterministic shuffle
# ---------------------------------------------------------------------------


def test_deterministic_shuffle_oracle(spark, duck, docs):
    out = cluster.deterministic_shuffle(docs, seed="s0", n_shards=16)
    assert_matches_oracle(
        out, duck, cluster.deterministic_shuffle_sql(seed="s0", n_shards=16)
    )


def test_deterministic_shuffle_properties(spark, docs):
    out = cluster.deterministic_shuffle(docs, seed="s1", n_shards=8)
    rows = out.collect()
    assert len(rows) == docs.count()
    by_shard: dict[int, list[int]] = {}
    for r in rows:
        assert 0 <= r["shard"] < 8
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    # positions are contiguous 1..len within every shard
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    # re-run is bit-identical (no RNG state)
    again = {(r["doc_id"], r["shard"], r["pos"])
             for r in cluster.deterministic_shuffle(
                 docs, seed="s1", n_shards=8).collect()}
    assert again == {(r["doc_id"], r["shard"], r["pos"]) for r in rows}
    # a different seed actually permutes
    other = {(r["doc_id"], r["shard"], r["pos"])
             for r in cluster.deterministic_shuffle(
                 docs, seed="s2", n_shards=8).collect()}
    assert other != again


# ---------------------------------------------------------------------------
# JSON props extraction
# ---------------------------------------------------------------------------


def test_props_field_stats_oracle(spark, duck, events):
    out = sessions.props_field_stats(events, field="k")
    assert_matches_oracle(out, duck, sessions.props_field_stats_sql("k"))


def test_props_field_stats_missing_field(spark, events):
    rows = sessions.props_field_stats(events, field="nope").collect()
    assert all(r["n_with_field"] == 0 for r in rows)
    assert all(r["field_avg"] is None for r in rows)
    # row universe unchanged: every event_type still reports its count
    assert sum(r["n_events"] for r in rows) == events.count()


def test_funnel_oracle(spark, duck, events):
    out = sessions.funnel_counts(events, steps=("view", "click", "purchase"))
    assert_matches_oracle(
        out, duck, sessions.funnel_counts_sql(("view", "click", "purchase"))
    )


def test_retention_oracle(spark, duck, events):
    out = sessions.retention_cohorts(events)
    assert_matches_oracle(out, duck, sessions.retention_cohorts_sql())


def test_retention_crafted(spark):
    # bucket = 100ns for legibility: user 1 active in buckets 0,1,3;
    # user 2 first seen in bucket 1, active 1 and 3; user 3 bucket 0 only
    rows = [
        (1, 10), (1, 150), (1, 320),
        (2, 110), (2, 350),
        (3, 50),
    ]
    df = spark.createDataFrame(
        [(u, t) for u, t in rows], "user_id long, ts_us long"
    ).select(
        "user_id", F.timestamp_micros(F.col("ts_us")).alias("ts")
    )
    got = {(r["cohort_bucket"], r["bucket_offset"]): r
           for r in sessions.retention_cohorts(
               df, bucket_ns=100_000).collect()}
    # cohort 0 = users 1,3; offsets: 0 → both, 1 → user 1, 3 → user 1
    assert got[(0, 0)]["n_active"] == 2
    assert got[(0, 1)]["n_active"] == 1
    assert got[(0, 3)]["n_active"] == 1
    assert got[(0, 1)]["retention_pct"] == pytest.approx(0.5)
    # cohort 1 = user 2; offsets 0 and 2
    assert got[(1, 0)]["n_active"] == 1
    assert got[(1, 2)]["retention_pct"] == pytest.approx(1.0)
    assert set(got) == {(0, 0), (0, 1), (0, 3), (1, 0), (1, 2)}


def test_retention_matches_model_on_random_streams(spark):
    """150 seeded-random users over 6 buckets: the retention triangle
    must equal a direct cohort/offset recount."""
    import random

    rng = random.Random(99)
    bucket_ns = 100_000  # 100 µs buckets over µs-resolution timestamps
    rows, by_user = [], {}
    for u in range(150):
        n = rng.randint(1, 6)
        ts = sorted(rng.sample(range(0, 600), n))
        by_user[u] = ts
        rows += [(u, t) for t in ts]
    df = spark.createDataFrame(
        rows, "user_id long, ts_us long"
    ).select("user_id", F.timestamp_micros(F.col("ts_us")).alias("ts"))
    got = {(r["cohort_bucket"], r["bucket_offset"]): r["n_active"]
           for r in sessions.retention_cohorts(
               df, bucket_ns=bucket_ns).collect()}

    want: dict[tuple[int, int], int] = {}
    for ts in by_user.values():
        buckets = sorted({t * 1000 // bucket_ns for t in ts})
        cohort = buckets[0]
        for b in buckets:
            k = (cohort, b - cohort)
            want[k] = want.get(k, 0) + 1
    assert got == want


def test_funnel_strict_ordering_crafted(spark):
    # user 1 completes view→click→purchase in order; user 2 has all
    # three but the purchase PRECEDES the click (must stop at stage 2);
    # user 3 views only; user 4's click is simultaneous with the view
    # (strict 'after' excludes it)
    rows = [
        (1, 100, "view"), (1, 200, "click"), (1, 300, "purchase"),
        (2, 100, "view"), (2, 300, "click"), (2, 200, "purchase"),
        (3, 100, "view"),
        (4, 100, "view"), (4, 100, "click"),
    ]
    df = spark.createDataFrame(
        [(u, t, e) for u, t, e in rows],
        "user_id long, ts_us long, event_type string",
    ).select(
        "user_id",
        F.timestamp_micros(F.col("ts_us")).alias("ts"),
        "event_type",
    )
    got = {r["step"]: r for r in
           sessions.funnel_counts(df).collect()}
    assert got[1]["n_users"] == 4
    assert got[2]["n_users"] == 2   # users 1 and 2
    assert got[3]["n_users"] == 1   # user 1 only
    assert got[3]["conv_pct"] == pytest.approx(0.25)


def test_funnel_matches_model_on_random_streams(spark):
    """200 seeded-random users with timestamp ties and noise events: the
    funnel must equal a sequential reference model of the strict-after
    first-occurrence rule for every stage."""
    import random

    rng = random.Random(1234)
    steps = ("view", "click", "purchase")
    types = list(steps) + ["error", "signup"]
    rows = []
    events_by_user: dict[int, list] = {}
    for u in range(200):
        n = rng.randint(0, 8)
        evs = [(rng.randint(0, 5), rng.choice(types)) for _ in range(n)]
        events_by_user[u] = evs
        rows += [(u, t * 1_000_000, e) for t, e in evs]
    if not rows:
        return
    df = spark.createDataFrame(
        rows, "user_id long, ts_us long, event_type string"
    ).select(
        "user_id", F.timestamp_micros(F.col("ts_us")).alias("ts"),
        "event_type",
    )
    got = {r["step"]: r["n_users"]
           for r in sessions.funnel_counts(df, steps=steps).collect()}

    # reference: stage i's time = min ts of steps[i] strictly after the
    # previous stage's time
    want = [0] * len(steps)
    for evs in events_by_user.values():
        prev = -1
        for i, s in enumerate(steps):
            cand = [t for t, e in evs if e == s and t > prev]
            if not cand:
                break
            prev = min(cand)
            want[i] += 1
    for i in range(len(steps)):
        assert got.get(i + 1, 0) == want[i], (i, got, want)


# ---------------------------------------------------------------------------
# vocabulary top-k
# ---------------------------------------------------------------------------


def test_normalize_oracle(spark, duck, docs):
    assert_matches_oracle(
        text.normalize_text(docs), duck, text.NORMALIZE_SQL
    )


def test_normalize_crafted(spark):
    df = spark.createDataFrame(
        [(1, "  Hello\tWORLD\x01  x  \x7f  "), (2, "already clean")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text.normalize_text(df).collect()}
    assert rows[1]["norm_text"] == "hello world x"
    assert rows[1]["n_chars_norm"] == len("hello world x")
    assert rows[2]["norm_text"] == "already clean"


def test_vocab_topk_oracle(spark, duck, docs):
    out = text.vocab_topk(docs, k=100)
    assert_matches_oracle(out, duck, text.vocab_topk_sql(100))


def test_length_quantiles_oracle(spark, duck, docs):
    out = text.length_quantiles(docs)
    assert_matches_oracle(out, duck, text.LENGTH_QUANTILES_SQL)


def test_length_quantiles_interpolation(spark):
    # 4 docs of one lang: p50 over [10,20,30,40] interpolates to 25
    df = spark.createDataFrame(
        [(i, "en", 10 * (i + 1)) for i in range(4)],
        "doc_id long, lang string, n_chars long",
    )
    r = text.length_quantiles(df).collect()[0]
    assert r["p50_chars"] == pytest.approx(25.0)
    assert r["max_chars"] == 40 and r["n_docs"] == 4


def test_vocab_topk_tie_break(spark):
    # four terms with equal counts: the top-2 boundary must cut by term
    # ascending, deterministically
    df = spark.createDataFrame(
        [(1, "b a"), (2, "d c"), (3, "a b"), (4, "c d")],
        "doc_id long, text string",
    )
    rows = text.vocab_topk(df, k=2).collect()
    assert [r["term"] for r in rows] == ["a", "b"]
    assert all(r["n_occurrences"] == 2 and r["doc_freq"] == 2 for r in rows)


def test_active_users_oracle(spark, duck, events):
    out = sessions.active_users(events)
    assert_matches_oracle(out, duck, sessions.active_users_sql())


def test_active_users_crafted(spark):
    # day = 100ns; 3-day window.  user 1 active days 0,1; user 2 day 1
    # (twice — dedup); user 3 day 4.
    rows = [(1, 10), (1, 150), (2, 110), (2, 120), (3, 440)]
    df = spark.createDataFrame(
        rows, "user_id long, ts_us long"
    ).select("user_id", F.timestamp_micros(F.col("ts_us")).alias("ts"))
    got = {r["day"]: (r["dau"], r["wau"], r["stickiness"])
           for r in sessions.active_users(
               df, day_ns=100_000, window_days=3).collect()}
    # day 0: dau {1}, window days {-2..0}→ just day 0 → wau {1}
    assert got[0] == (1, 1, pytest.approx(1.0))
    # day 1: dau {1,2}; window {day -1..1} → users {1,2} → 2/2
    assert got[1] == (2, 2, pytest.approx(1.0))
    # day 4: dau {3}; window days {2,3,4} → only user 3
    assert got[4] == (1, 1, pytest.approx(1.0))
    # days without activity are omitted (2, 3 despite nonzero WAU)
    assert set(got) == {0, 1, 4}


def test_active_users_window_counts_once(spark):
    # a user active twice inside one window still counts once in WAU
    rows = [(1, 10), (1, 110), (2, 210)]
    df = spark.createDataFrame(
        rows, "user_id long, ts_us long"
    ).select("user_id", F.timestamp_micros(F.col("ts_us")).alias("ts"))
    got = {r["day"]: (r["dau"], r["wau"])
           for r in sessions.active_users(
               df, day_ns=100_000, window_days=3).collect()}
    assert got[2] == (1, 2)  # window {0,1,2}: users {1,2}, user 1 once
