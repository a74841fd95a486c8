"""Corpus-hygiene filter operators: repetition metrics, C4 line
cleaning, PII scrubbing, contamination — with independent
Python reimplementations as oracles and plan-shape gates (no Python
eval nodes in scalar paths, broadcast joins where promised)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pangeo_forge_recipes_spark.operators import filters


@pytest.fixture()
def docs(spark):
    rows = [
        (1, "The cat sat here.\nThe cat sat here.\nUnique closing line."),
        (2, "One line only without terminal punct"),
        (3, "Good long sentence number one.\nGood long sentence number two!"),
        (4, "short.\njs {code} here.\nLorem ipsum dolor sit amet."),
        (5, "a b a b a b a b a b"),
    ]
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_repetition_metrics_match_python(docs):
    got = {
        r["doc_id"]: r
        for r in filters.with_repetition_metrics(docs).collect()
    }
    for row in docs.collect():
        lines = row["text"].split("\n")
        n = len(lines)
        dup_frac = 1.0 - len(set(lines)) / n
        from collections import Counter

        c = Counter(lines)
        dup_chars = sum(len(l) for l in lines if c[l] > 1)
        total = max(sum(len(l) for l in lines), 1)
        g = got[row["doc_id"]]
        assert g["n_lines"] == n
        assert g["dup_line_frac"] == pytest.approx(dup_frac)
        assert g["dup_line_char_frac"] == pytest.approx(dup_chars / total)


def test_top_ngram_fraction_matches_python(docs):
    got = {
        r["doc_id"]: r["top_ngram_frac"]
        for r in filters.top_ngram_fraction(docs, n=2).collect()
    }
    from collections import Counter

    for row in docs.collect():
        toks = row["text"].split(" ")
        bigrams = [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
        expect = (
            Counter(bigrams).most_common(1)[0][1] * 2 / max(len(toks), 1)
            if bigrams
            else 0.0
        )
        assert got[row["doc_id"]] == pytest.approx(expect), row["doc_id"]


def test_top_ngram_fraction_is_map_only(docs):
    """r9 rewrite: the mode count is a per-row sorted-run fold — the plan
    must carry NO exchange and NO explode (the old shape shuffled every
    gram of the corpus twice and joined the text column back)."""
    plan = filters.top_ngram_fraction(docs, n=2)._jdf.queryExecution().toString()
    assert "Exchange" not in plan
    assert "Generate explode" not in plan


def test_top_ngram_fraction_matches_bruteforce(spark):
    """Values match a literal Python mode-count on hand-made docs,
    including the <n-token and empty-string edges."""
    rows = [
        (1, "a b a b a"),          # bigrams: ab,ba,ab,ba → top 2 → 2*2/5
        (2, "x"),                  # 1 token, no bigram → 0
        (3, ""),                   # split('') = [''] → 1 token → 0
        (4, "w w w w"),            # ww ×3 → 3*2/4
        (5, "p q r s"),            # all distinct → 1*2/4
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["top_ngram_frac"]
        for r in filters.top_ngram_fraction(df, n=2).collect()
    }
    assert got[1] == pytest.approx(4 / 5)
    assert got[2] == 0.0 and got[3] == 0.0
    assert got[4] == pytest.approx(6 / 4)
    assert got[5] == pytest.approx(2 / 4)


def test_c4_clean_keeps_and_drops(docs):
    out = {
        r["doc_id"]: r["text"] for r in filters.c4_clean(docs).collect()
    }
    # doc 1: all three lines ≥3 words with terminal punct → kept intact
    assert out[1].count("\n") == 2
    # doc 2: no terminal punctuation → zero kept lines → dropped
    assert 2 not in out
    # doc 3: both lines survive
    assert out[3] == "Good long sentence number one.\nGood long sentence number two!"
    # doc 4: contains '{' and lorem ipsum → dropped
    assert 4 not in out
    # doc 5: no punct → dropped
    assert 5 not in out


def test_scrub_pii(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@example.co.uk ok"),
            (2, "server 192.168.001.1 port"),
            (3, "call (555) 867-5309 or 555-867-5309 now"),
            (4, "clean text stays clean"),
        ],
        "doc_id bigint, text string",
    )
    got = {r["doc_id"]: r["text"] for r in filters.scrub_pii(df).collect()}
    assert got[1] == "mail me at <EMAIL> ok"
    assert got[2] == "server <IP> port"
    assert got[3] == "call <PHONE> or <PHONE> now"
    assert got[4] == "clean text stays clean"


def test_contamination_and_decontaminate(spark):
    base = "alpha bravo charlie delta echo foxtrot golf hotel india juliett kilo lima mike"
    docs = spark.createDataFrame(
        [
            (1, f"prefix words {base} suffix words"),  # contains the 13-gram
            (2, "totally different content with no overlap at all whatsoever here today"),
            (3, base.upper()),  # case-insensitive match
        ],
        "doc_id bigint, text string",
    )
    bench = spark.createDataFrame([(base,)], "text string")
    hits = {
        r["doc_id"]: r["n_contaminated_grams"]
        for r in filters.contamination(docs, bench, n=13).collect()
    }
    assert set(hits) == {1, 3}
    assert hits[1] >= 1 and hits[3] == 1
    clean = filters.decontaminate(docs, bench, n=13)
    assert {r["doc_id"] for r in clean.collect()} == {2}


def test_contamination_broadcasts_benchmark(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l m n")], "doc_id bigint, text string"
    )
    bench = spark.createDataFrame([("a b c",)], "text string")
    plan = (
        filters.contamination(docs, bench, n=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_scalar_filters_have_no_python_nodes(docs):
    """Repetition metrics, C4 cleaning and PII scrub must stay JVM-side
    (no BatchEvalPython / ArrowEvalPython in the physical plan)."""
    for fn in (
        filters.with_repetition_metrics,
        filters.c4_clean,
        filters.scrub_pii,
    ):
        plan = fn(docs)._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan, fn.__name__


# ---------------------------------------------------------------------------
# CCNet-style corpus-level line dedup
# ---------------------------------------------------------------------------


def _py_norm_line(line: str) -> str:
    import re as _re
    import string as _string

    s = _re.sub(f"[0-9{_re.escape(_string.punctuation)}]+", "", line.lower())
    return _re.sub(r"\s+", " ", s).strip()


_LINE_DOCS = [
    (1, "Cookie Policy\nUnique thought one.\nCopyright 2021 Acme Inc."),
    (2, "Cookie Policy\nAnother unique insight!\nCopyright 2019 Acme Inc."),
    (3, "cookie policy!!!\nCompletely different text.\nFooter menu"),
    (4, "Only original lines here.\nNothing shared at all."),
    (5, "Footer menu\nFooter menu\nFresh content line."),
]


def test_line_frequencies_normalized_counts(spark):
    from pangeo_forge_recipes_spark.operators.filters import line_frequencies

    df = spark.createDataFrame(_LINE_DOCS, "doc_id long, text string")
    freq = {r["line_hash"]: r["n_docs"] for r in line_frequencies(df).collect()}
    # python oracle: normalized line -> distinct doc count
    from collections import defaultdict

    by_line = defaultdict(set)
    for i, t in _LINE_DOCS:
        for ln in t.split("\n"):
            by_line[_py_norm_line(ln)].add(i)
    # "cookie policy" appears in docs 1,2,3 (normalization folds case and
    # punctuation); "copyright acme inc" in 1,2 (years stripped);
    # "footer menu" in 3,5 (distinct per doc)
    counts = sorted(len(v) for v in by_line.values())
    assert sorted(freq.values()) == counts
    assert max(freq.values()) == 3


def test_dedup_lines_drops_boilerplate_keeps_unique(spark):
    from pangeo_forge_recipes_spark.operators.filters import dedup_lines

    df = spark.createDataFrame(_LINE_DOCS, "doc_id long, text string")
    out = {r["doc_id"]: r for r in dedup_lines(df, min_docs=2).collect()}
    # boilerplate gone everywhere
    assert out[1]["text"] == "Unique thought one."
    assert out[2]["text"] == "Another unique insight!"
    assert out[3]["text"] == "Completely different text."
    # untouched doc keeps both lines in order
    assert out[4]["text"] == "Only original lines here.\nNothing shared at all."
    assert out[4]["n_lines_dropped"] == 0
    # doc 5: both "Footer menu" copies drop (same normalized hash)
    assert out[5]["text"] == "Fresh content line."
    assert out[5]["n_lines_dropped"] == 2
    # stats add up
    for i, t in _LINE_DOCS:
        assert out[i]["n_lines_kept"] + out[i]["n_lines_dropped"] == len(
            t.split("\n")
        )


def test_dedup_lines_drop_empty_docs(spark):
    from pangeo_forge_recipes_spark.operators.filters import dedup_lines

    rows = [(1, "same line"), (2, "same line"), (3, "same line\nextra")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup_lines(df, min_docs=2).collect()
    assert {r["doc_id"] for r in out} == {3}
    kept_all = dedup_lines(df, min_docs=2, drop_empty_docs=False).collect()
    assert {r["doc_id"] for r in kept_all} == {1, 2, 3}
    assert {r["text"] for r in kept_all if r["doc_id"] != 3} == {""}


def test_dedup_lines_preserves_blank_and_separator_lines(spark):
    """Blank / digits-only / punctuation-only lines ALL normalize to ''
    and share one hash; without the exemption, that bucket crosses
    min_docs and every structural blank line is stripped corpus-wide."""
    from pangeo_forge_recipes_spark.operators.filters import (
        dedup_lines,
        line_frequencies,
    )

    rows = [
        (1, "Para one.\n\nPara two.\n---\nShared footer"),
        (2, "Other text.\n\n12345\nShared footer"),
        (3, "Third doc.\n\n...\nmore"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # empty-normalized lines never enter the frequency table
    freq = line_frequencies(df).collect()
    assert all(r["n_docs"] <= 2 for r in freq)
    out = {r["doc_id"]: r for r in dedup_lines(df, min_docs=2).collect()}
    # paragraph structure (blank lines, separators) survives; only the
    # genuinely shared footer drops
    assert out[1]["text"] == "Para one.\n\nPara two.\n---"
    assert out[2]["text"] == "Other text.\n\n12345"
    assert out[3]["text"] == "Third doc.\n\n...\nmore"
    assert out[1]["n_lines_dropped"] == 1


def test_dedup_lines_plan_broadcasts_frequent_set(spark):
    from pangeo_forge_recipes_spark.operators.filters import dedup_lines

    df = spark.createDataFrame(_LINE_DOCS, "doc_id long, text string")
    plan = dedup_lines(df)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan  # corpus lines never shuffle for the anti-join
