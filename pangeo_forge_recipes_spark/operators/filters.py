"""Corpus-hygiene filters for LLM training-data pipelines.

The standard web-corpus cleaning stages from the public literature,
re-expressed as Spark DataFrame transformations:

- repetition metrics (duplicate-line fractions, top-n-gram token
  fraction) as used by Gopher's quality heuristics,
- line-level document cleaning in the style of C4 (terminal
  punctuation, minimum words per line, boilerplate markers),
- PII scrubbing (emails / IPv4 / phone-shaped spans) via JVM-side
  ``regexp_replace`` chains,
- benchmark-contamination detection by word-n-gram overlap against an
  evaluation set (broadcast semi-join — the corpus never shuffles).

Everything scalar stays in built-in Spark SQL expressions (whole-stage
codegen, no Python in the hot path). :func:`top_ngram_fraction` is
map-only since r9 (a per-row sorted-run fold — zero exchanges);
:func:`contamination` keeps the explode → hash-aggregate shape against
the (small, broadcast) eval set.

100 TB notes: every function here is a narrow map or a broadcast
semi join against a *small* side (an eval benchmark); nothing in this
module shuffles the corpus itself.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


# ---------------------------------------------------------------------------
# repetition metrics (Gopher-style)
# ---------------------------------------------------------------------------

def with_repetition_metrics(df: DataFrame, col: str = "text") -> DataFrame:
    """Add duplicate-line repetition signals (all pure SQL, per-document):

    - ``n_lines`` — number of newline-separated lines,
    - ``dup_line_frac`` — fraction of lines that are duplicates of an
      earlier line (``1 - distinct/total``),
    - ``dup_line_char_frac`` — fraction of characters living in lines
      that occur more than once.

    The char fraction compares each line against the doc's own line
    array (``filter`` inside ``aggregate``), which is O(L²) in the
    *line count of one document* — bounded by document size, not corpus
    size, so it parallelizes embarrassingly. Documents with pathological
    line counts (>10k) should be length-truncated upstream first.
    """
    lines = f"split({col}, '\\n')"
    n_lines = f"size({lines})"
    dup_line_frac = (
        f"(1.0 - cast(size(array_distinct({lines})) as double)"
        f" / cast(greatest({n_lines}, 1) as double))"
    )
    total_chars = f"greatest(length(replace({col}, '\\n', '')), 1)"
    dup_chars = (
        f"aggregate({lines}, 0, (acc, x) -> acc + "
        f"if(size(filter({lines}, y -> y = x)) > 1, length(x), 0))"
    )
    dup_line_char_frac = (
        f"(cast({dup_chars} as double) / cast({total_chars} as double))"
    )
    return (
        df.withColumn("n_lines", F.expr(n_lines))
        .withColumn("dup_line_frac", F.expr(dup_line_frac))
        .withColumn("dup_line_char_frac", F.expr(dup_line_char_frac))
    )


def top_ngram_fraction(
    df: DataFrame,
    id_col: str = "doc_id",
    col: str = "text",
    n: int = 2,
    tokens_col: str = None,
) -> DataFrame:
    """Fraction of a document's tokens covered by its single most
    frequent word ``n``-gram (Gopher's ``top_n_gram_fraction`` family).

    Distributed shape: **map-only** — the per-document mode count is a
    sorted-run-length fold over the gram-hash array, all inside JVM
    expressions. O(g log g) per document, ZERO exchanges — the previous
    explode → two hash aggregates → join-back shape shuffled every gram
    of the corpus and dragged the text column through a join, the one
    plan in the r8 audit above the 2x-of-oracle bar. Per-doc work
    distributes perfectly at 100 TB.

    Grams never materialize as strings: tokens hash once
    (``xxhash64``), a gram hashes its ``n`` token hashes in one call —
    within-doc equality is exact up to hash collisions (~grams²/2^65,
    the same tolerance the exploded shape had). ``tokens_col`` names an
    already-bound ``array<string>`` token column to share the split
    with sibling metrics (the gopher composite binds it once).
    """
    if tokens_col:
        frac = top_ngram_fraction_expr(tokens_col, n)
    else:
        frac = (
            f"element_at(transform(array(split({col}, ' ')), "
            f"tk -> {top_ngram_fraction_expr('tk', n)}), 1)"
        )
    return df.withColumn("top_ngram_frac", F.expr(frac))


def top_ngram_fraction_expr(tokens_col: str, n: int = 2) -> str:
    """The SQL expression behind :func:`top_ngram_fraction`, over an
    already-bound ``array<string>`` token column — exposed so one-shot
    SQL statements (the driver's gopher composite) can inline it
    without an extra plan layer."""
    args = ", ".join(f"element_at(th, i + {j})" for j in range(n))
    grams = f"array_sort(transform(sequence(1, size(th) - {n - 1}), i -> xxhash64({args})))"
    # run-length fold over the sorted hashes: `run` counts the current
    # equal-run, `best` the longest seen; run>0 guards the hash==0 seed
    fold = (
        f"aggregate({grams}, "
        "named_struct('prev', cast(0 as bigint), 'run', cast(0 as bigint), "
        "'best', cast(0 as bigint)), "
        "(a, x) -> named_struct("
        "'prev', x, "
        "'run', if(a.run > 0 and x = a.prev, a.run + 1, cast(1 as bigint)), "
        "'best', greatest(a.best, "
        "if(a.run > 0 and x = a.prev, a.run + 1, cast(1 as bigint)))), "
        "a -> a.best)"
    )
    # guard BEFORE building grams: sequence(1, size-k) flips descending
    # when size < n (If evaluates lazily, so the bad branch never runs)
    body = f"if(size(th) < {n}, cast(0 as bigint), {fold})"
    # bind token hashes once (th) — an inlined array expression in a
    # lambda body re-evaluates per element; the token column itself is a
    # plain reference, free to repeat
    inner = (
        f"element_at(transform(array(transform({tokens_col}, w -> xxhash64(w))), "
        f"th -> {body}), 1)"
    )
    return f"({inner}) * {n} / greatest(size({tokens_col}), 1)"


# ---------------------------------------------------------------------------
# C4-style line-level cleaning
# ---------------------------------------------------------------------------

_BOILERPLATE_MARKERS = ("lorem ipsum", "javascript must be enabled")


def c4_clean(
    df: DataFrame,
    col: str = "text",
    min_words_per_line: int = 3,
    min_lines: int = 1,
    drop_braces: bool = True,
) -> DataFrame:
    """C4-style cleaning: keep only lines that end in terminal
    punctuation and have at least ``min_words_per_line`` words; drop
    documents that contain boilerplate markers, curly braces (code), or
    end up with fewer than ``min_lines`` surviving lines.

    One narrow map + one filter — both push into the scan; no shuffle.
    The cleaned text replaces ``col``; ``n_kept_lines`` is added.
    """
    lines = f"split({col}, '\\n')"
    keep = (
        f"filter({lines}, l -> size(split(trim(l), ' +')) >= {min_words_per_line}"
        f" and trim(l) rlike '[.!?\"]$')"
    )
    cleaned = df.withColumn("__kept", F.expr(keep)).withColumn(
        "n_kept_lines", F.expr("size(__kept)")
    )
    cond = F.col("n_kept_lines") >= min_lines
    low = F.lower(F.col(col))
    for marker in _BOILERPLATE_MARKERS:
        cond = cond & ~low.contains(marker)
    if drop_braces:
        cond = cond & ~F.col(col).contains("{")
    return (
        cleaned.where(cond)
        .withColumn(col, F.expr("array_join(__kept, '\\n')"))
        .drop("__kept")
    )


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

_PII_PATTERNS = (
    # order matters: emails before phone-shaped digit runs
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    (r"\(?\b\d{3}\)?[-. ]\d{3}[-. ]\d{4}\b", "<PHONE>"),
)


def scrub_pii(df: DataFrame, col: str = "text") -> DataFrame:
    """Replace email / IPv4 / phone-shaped spans with placeholder tokens
    via a chain of JVM ``regexp_replace`` calls (C4/RefinedWeb-style
    conservative patterns — shaped spans only, no dictionary lookup).
    Pure map, codegen'd, zero shuffle."""
    out = F.col(col)
    for pat, repl in _PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return df.withColumn(col, out)


# ---------------------------------------------------------------------------
# benchmark contamination
# ---------------------------------------------------------------------------

def contamination(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    col: str = "text",
    bench_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Flag documents sharing any word ``n``-gram with an evaluation
    benchmark (the standard 13-gram decontamination check from the
    GPT-3/PaLM appendices).

    Scale shape: the benchmark side (eval sets are MBs) is distinct'd,
    hashed to 64-bit, and **broadcast**; the corpus explodes its
    n-grams to hashes and map-side semi-joins — the 100 TB corpus is
    never shuffled. Returns ``id_col, n_contaminated_grams`` for
    matching docs (join back / anti-join to drop them).
    """
    # window hashes via multi-arg xxhash64 over the token slots of the
    # ONCE-lowered text: no space-joined gram string is ever
    # concatenated (the concat was ~half the map cost of the corpus
    # pass) and the text lowers once per doc instead of once per
    # window-slot. lower() maps codepoints independently (space stays
    # space), so lower-then-split ≡ split-then-lower-each and two grams
    # equal as lowercased strings hash equal here too; only membership
    # is used downstream, never the hash value.
    def _gram_hashes(column: str) -> str:
        args = ", ".join(
            f"element_at(t, i + {j})" if j else "element_at(t, i)"
            for j in range(n)
        )
        return (
            f"element_at(transform(array(split(lower({column}), ' ')), "
            f"t -> if(size(t) >= {n}, transform(sequence(1, size(t) - {n - 1}), "
            f"i -> xxhash64({args})), array())), 1)"
        )

    bench_grams = (
        benchmark.select(F.explode(F.expr(_gram_hashes(bench_col))).alias("__gh"))
        .distinct()
    )
    doc_grams = docs.select(
        F.col(id_col),
        F.explode(F.expr(_gram_hashes(col))).alias("__gh"),
    )
    return (
        doc_grams.join(F.broadcast(bench_grams), "__gh")
        .groupBy(id_col)
        .agg(F.count_distinct("__gh").alias("n_contaminated_grams"))
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    id_col: str = "doc_id",
    col: str = "text",
    bench_col: str = "text",
    n: int = 13,
) -> DataFrame:
    """Drop contaminated documents: broadcast-hash anti-join against
    :func:`contamination`'s hit list."""
    hits = contamination(docs, benchmark, id_col, col, bench_col, n)
    return docs.join(hits.select(id_col), id_col, "left_anti")


# ---------------------------------------------------------------------------
# corpus-wide line-level dedup (CCNet-style boilerplate removal)
# ---------------------------------------------------------------------------

# CCNet normalizes lines before hashing: lowercase, strip digits and
# punctuation, collapse whitespace — so "Posted on 2021-03-04." and
# "posted on 2022-11-30" hash identically.
_LINE_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower({line}), "
    "'[0-9\\\\p{{Punct}}]+', ''), '\\\\s+', ' '))"
)


def line_frequencies(
    df: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(line_hash, n_docs) over the whole corpus: posexplode lines,
    CCNet-normalize, xxhash64, count DISTINCT documents per hash — one
    explode + one map-side-combining aggregation; every shuffle moves
    8-byte hashes."""
    lines = df.select(
        F.col(id_col),
        F.explode(F.split(F.col(col), "\n")).alias("__line"),
    ).select(
        id_col,
        F.expr(_LINE_NORM_SQL.format(line="__line")).alias("__norm"),
    )
    # blank / digits-only / punctuation-only lines all normalize to ''
    # and would share ONE hash bucket; counting them would eventually
    # strip every structural blank line corpus-wide, so they are exempt
    # from frequency counting (and thus from dedup_lines' anti-join)
    lines = lines.filter(F.col("__norm") != "").select(
        id_col, F.xxhash64(F.col("__norm")).alias("__lh")
    )
    return (
        lines.distinct()
        .groupBy("__lh")
        .agg(F.count("*").alias("n_docs"))
        .withColumnRenamed("__lh", "line_hash")
    )


def dedup_lines(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    min_docs: int = 2,
    drop_empty_docs: bool = True,
) -> DataFrame:
    """CCNet-style corpus-level line dedup: drop every line whose
    normalized form appears in at least ``min_docs`` distinct documents
    (headers, navigation, cookie banners — the boilerplate that survives
    per-document cleaning because it is *cross*-document repetition).

    Scale shape: the frequent-line set is tiny next to the corpus
    (boilerplate is heavy-tailed), so it broadcasts and the line stream
    anti-joins map-side; reassembly is one groupBy(id) with
    ``sort_array(collect_list(struct(pos, line)))`` — task memory is one
    document. Returns the input columns with ``col`` rewritten plus
    ``n_lines_kept`` / ``n_lines_dropped``.

    Lines whose normalized form is empty (blank lines, digits- or
    punctuation-only separators) are never treated as boilerplate:
    :func:`line_frequencies` exempts them, so paragraph structure
    survives even when blank lines are corpus-universal.
    """
    spark = df.sparkSession
    freq = line_frequencies(df, col, id_col).filter(
        F.col("n_docs") >= min_docs
    )
    lines = df.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(col), "\n")).alias("__pos", "__line"),
    ).withColumn(
        "__lh", F.xxhash64(F.expr(_LINE_NORM_SQL.format(line="__line")))
    )
    kept = lines.join(
        F.broadcast(freq.select(F.col("line_hash").alias("__lh"))),
        "__lh",
        "left_anti",
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct("__pos", "__line"))
                ),
                lambda s: s["__line"],
            ),
            "\n",
        ).alias("__new_text"),
        F.count("*").alias("n_lines_kept"),
    )
    total = df.select(
        F.col(id_col),
        F.size(F.split(F.col(col), "\n")).alias("__n_total"),
        *[F.col(c) for c in df.columns if c not in (id_col, col)],
    )
    out = (
        total.join(rebuilt, id_col, "left")
        .withColumn("n_lines_kept", F.coalesce("n_lines_kept", F.lit(0)))
        .withColumn(
            "n_lines_dropped", F.col("__n_total") - F.col("n_lines_kept")
        )
        .withColumn(col, F.coalesce("__new_text", F.lit("")))
        .drop("__new_text", "__n_total")
    )
    if drop_empty_docs:
        out = out.filter(F.col("n_lines_kept") > 0)
    return out
