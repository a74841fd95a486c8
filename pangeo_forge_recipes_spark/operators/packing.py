"""Training-data assembly operators: sequence packing, shard layout,
stratified sampling, and cross-document n-gram span dedup.

These are the operations that sit between a cleaned corpus and a
training run:

- :func:`with_global_order` / :func:`pack_sequences` — deterministic
  corpus shuffle and GPT-style concat-and-chunk sequence packing (every
  document lands at a stable token offset; sequences are fixed
  ``seq_len`` windows over the concatenated token stream),
- :func:`shard_assign` / :func:`write_shards` — deterministic balanced
  shard layout for a multi-host data loader,
- :func:`stratified_sample` — exact per-stratum quotas (by language,
  source, ...) with a deterministic md5 ranking, stable across engines,
  runs and repartitionings,
- :func:`crossdoc_ngram_dup` — per-document fraction of word n-grams
  shared with other documents (the n-gram-granular approximation of
  suffix-array substring dedup à la "Deduplicating Training Data Makes
  Language Models Better").

100 TB notes: nothing here collects the corpus. The global prefix sum
behind packing is two passes — per-partition partial sums (one tiny
driver collect of O(partitions) rows) broadcast back as offsets — the
classic distributed scan, so packing never funnels through a single
window task. Shard assignment and stratified ranking are md5
expressions / per-stratum windows (shuffle ∝ corpus, no driver state).
The n-gram dup join's big side is the exploded gram stream; the gram
frequency table it joins against is aggregated map-side first.
"""

from __future__ import annotations

from typing import Iterator, List, Optional

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..functions.textexprs import TextExprs
from ..session import local_df

__all__ = [
    "with_global_order",
    "pack_sequences",
    "pack_summary",
    "shard_assign",
    "write_shards",
    "write_webdataset_shards",
    "stratified_sample",
    "crossdoc_ngram_dup",
]


def _order_key(id_col: str):
    """Deterministic shuffle key: md5 of the id — engine- and
    partitioning-stable, uniform, reproducible without a seed."""
    return F.md5(F.col(id_col).cast("string"))


def with_global_order(
    df: DataFrame,
    id_col: str = "doc_id",
    out_col: str = "ord_key",
) -> DataFrame:
    """Attach the deterministic global-shuffle key. Sorting by
    ``(out_col, id_col)`` is the corpus's canonical training order."""
    return df.withColumn(out_col, _order_key(id_col))


def pack_sequences(
    df: DataFrame,
    seq_len: int = 256,
    id_col: str = "doc_id",
    count_col: str = "token_count",
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing: documents are laid out in the
    deterministic md5 order and the concatenated token stream is cut into
    fixed ``seq_len`` sequences; each document is tagged with the sequence
    its first token falls in (``seq_id``) plus its global token offset.

    The global running sum is a distributed scan, not a single-partition
    window: bucket by the order key, per-bucket partial sums, one
    O(buckets) driver collect, broadcast offsets. Output columns:
    input columns + ``ord_key``, ``token_offset``, ``seq_id``.

    The range bucket is a *pure column expression* — the 32-bit prefix of
    the (uniform) md5 order key scaled to ``num_partitions`` — never
    ``repartitionByRange``, whose per-job boundary *sampling* could place
    boundary rows in different buckets across the two jobs (partial-sum
    pass vs. scan pass) and silently corrupt offsets at scale. A pure
    expression is identical in every job by construction, and bucket
    ordering equals ``ord_key`` ordering because the bucket is a monotone
    function of the key prefix.
    """
    if num_partitions is None:
        num_partitions = max(df.sparkSession.sparkContext.defaultParallelism, 4)
    keyed0 = with_global_order(df, id_col)
    # deterministic range bucket: md5 hex is uniform, so bucket
    # (prefix32 * num_partitions) >> 32 is balanced without sampling
    prefix32 = F.conv(F.substring("ord_key", 1, 8), 16, 10).cast("long")
    keyed0 = keyed0.withColumn(
        "__bucket", F.shiftright(prefix32 * num_partitions, 32).cast("int")
    )
    # pass 1: per-bucket token totals (tiny driver collect, O(buckets)).
    # Computed from a NARROW projection BEFORE the bucket repartition —
    # the groupBy's own map-side-combined exchange moves O(buckets)
    # rows, so shuffling the full-width rows for this pass was pure cost
    totals = (
        keyed0.select("__bucket", count_col)
        .groupBy("__bucket")
        .agg(F.sum(count_col).alias("tot"))
        .collect()
    )
    keyed = keyed0.repartition(num_partitions, "__bucket")
    offsets = {}
    acc = 0
    for row in sorted(totals, key=lambda r: r["__bucket"]):
        offsets[row["__bucket"]] = acc
        acc += row["tot"] or 0
    bc = df.sparkSession.sparkContext.broadcast(offsets)

    from pyspark.sql.types import LongType, StructField, StructType

    out_fields = [f for f in keyed.schema.fieldNames() if f != "__bucket"] + [
        "token_offset",
        "seq_id",
    ]
    schema = StructType(
        [f for f in keyed.schema.fields if f.name != "__bucket"]
        + [StructField("token_offset", LongType()), StructField("seq_id", LongType())]
    )

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # local cumsum per bucket + broadcast global bucket offset. A
        # physical partition may hold several buckets (hash placement) or
        # none (empty partitions are normal when buckets hash-collide).
        chunks = list(batches)
        if not chunks:
            return
        rows = pd.concat(chunks)
        if not len(rows):
            return
        rows = rows.sort_values(["__bucket", "ord_key", id_col], kind="mergesort")
        out = []
        for bucket, grp in rows.groupby("__bucket", sort=True):
            start = bc.value.get(int(bucket), 0)
            cum = grp[count_col].cumsum() - grp[count_col]
            grp = grp.assign(
                token_offset=(cum + start).astype("int64"),
            )
            grp["seq_id"] = (grp["token_offset"] // seq_len).astype("int64")
            out.append(grp[out_fields])
        yield pd.concat(out)

    return keyed.mapInPandas(scan, schema)


def pack_summary(
    packed: DataFrame, count_col: str = "token_count", id_col: str = "doc_id"
) -> DataFrame:
    """Per-sequence packing stats over :func:`pack_sequences` output.
    Unordered — a trailing global orderBy is one pure shuffle of the
    result; callers that need presentation order sort the (tiny) output
    themselves."""
    return packed.groupBy("seq_id").agg(
        F.count("*").alias("n_docs"),
        F.sum(count_col).alias("n_tokens"),
        F.min(id_col).alias("first_doc"),
        F.max(id_col).alias("last_doc"),
    )


def shard_assign(
    df: DataFrame,
    n_shards: int = 8,
    id_col: str = "doc_id",
    out_col: str = "shard",
) -> DataFrame:
    """Deterministic shard assignment: the md5 bucket of the id (the same
    portable hash the train/val/test splitter uses) — uniform in
    expectation, stable across engines and repartitionings, and pure
    JVM-side expression (no shuffle at assignment time; the shuffle
    happens once, inside :func:`write_shards`' partitioned write)."""
    expr = TextExprs("spark", "text").sample_bucket(
        f"cast({id_col} as string)", n_shards
    )
    return df.withColumn(out_col, F.expr(expr).cast("int"))


def write_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 8,
    id_col: str = "doc_id",
) -> None:
    """Materialize the shard layout: one parquet directory per shard
    (``shard=N/``), each shard internally in canonical md5 order so a
    data loader streams it sequentially."""
    (
        shard_assign(df, n_shards, id_col)
        .withColumn("ord_key", _order_key(id_col))
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "ord_key", id_col)
        .drop("ord_key")
        .write.partitionBy("shard")
        .mode("overwrite")
        .parquet(path)
    )


def write_webdataset_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    meta_cols: Optional[List[str]] = None,
) -> DataFrame:
    """Materialize the corpus as WebDataset-style tar shards — the
    public sequential-loader convention: ``shard-00000.tar`` holds one
    ``{key}.txt`` entry per document (plus ``{key}.json`` metadata when
    ``meta_cols`` is given), keys in the canonical md5 order, tar
    headers normalized (mtime 0, uid/gid 0) so a shard's bytes are a
    pure function of its contents.

    Returns the shard manifest ``(shard, n_docs, n_bytes, sha256)`` —
    the loader-side integrity record.

    100 TB shape: assignment is a JVM-side md5 expression; ONE shuffle
    partitions by shard; each task streams its Arrow batches straight
    into the open tar (memory = one batch, not one shard — the sort
    within partitions makes shards contiguous, so the writer just
    rolls to a new tar when the shard id changes). Shard count should
    be sized well above the executor count; one tar is written by one
    task, so no coordination or driver data path exists.
    """
    import hashlib
    import os
    import tarfile

    meta_cols = list(meta_cols or [])
    from ..storage import prepare_output_dir

    prepare_output_dir(path)
    assigned = (
        shard_assign(df, n_shards, id_col)
        .withColumn("__ord", _order_key(id_col))
        .repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "__ord", id_col)
        .select("shard", id_col, text_col, *meta_cols)
    )

    class _HashingWriter:
        """Tees tar writes into sha256 + byte count so the manifest is
        computed as the shard streams — the task never buffers or
        re-reads a whole shard (tar opens in stream mode 'w|', which
        only ever calls write())."""

        def __init__(self, f):
            self.f = f
            self.h = hashlib.sha256()
            self.n = 0

        def write(self, b):
            self.h.update(b)
            self.n += len(b)
            return self.f.write(b)

        def close(self):
            self.f.close()

    def write_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import json as _json

        state = {"shard": None, "tar": None, "w": None, "n": 0}
        out_rows = []

        def close_current():
            if state["tar"] is not None:
                state["tar"].close()
                state["w"].close()
                out_rows.append(
                    {
                        "shard": state["shard"],
                        "n_docs": state["n"],
                        "n_bytes": state["w"].n,
                        "sha256": state["w"].h.hexdigest(),
                    }
                )
                state["tar"] = None
                state["w"] = None
                state["n"] = 0

        def add(tar, name: str, payload: bytes) -> None:
            info = tarfile.TarInfo(name)
            info.size = len(payload)
            info.mtime = 0
            info.uid = info.gid = 0
            info.uname = info.gname = ""
            import io

            tar.addfile(info, io.BytesIO(payload))

        for pdf in batches:
            cols = list(pdf.columns)
            for row in pdf.itertuples(index=False, name=None):
                d = dict(zip(cols, row))
                shard = int(d["shard"])
                if shard != state["shard"]:
                    close_current()
                    state["shard"] = shard
                    from ..storage import open_output_stream

                    state["w"] = _HashingWriter(
                        open_output_stream(
                            os.path.join(path, f"shard-{shard:05d}.tar")
                        )
                    )
                    state["tar"] = tarfile.open(
                        fileobj=state["w"], mode="w|"
                    )
                key = str(d[id_col])
                add(state["tar"], f"{key}.txt",
                    str(d[text_col] or "").encode("utf-8"))
                if meta_cols:
                    meta = {c: d[c] for c in meta_cols}
                    add(
                        state["tar"], f"{key}.json",
                        _json.dumps(meta, sort_keys=True, default=str).encode(),
                    )
                state["n"] += 1
        close_current()
        yield pd.DataFrame(
            out_rows,
            columns=["shard", "n_docs", "n_bytes", "sha256"],
        )

    manifest = assigned.mapInPandas(
        write_partition,
        "shard int, n_docs long, n_bytes long, sha256 string",
    )
    # materialize the writes; the manifest is tiny (one row per shard)
    rows = manifest.collect()
    return local_df(
        df.sparkSession, rows, "shard int, n_docs long, n_bytes long, sha256 string"
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str = "lang",
    n_per_stratum: int = 50,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact per-stratum quota sample: the ``n_per_stratum`` documents
    with the smallest md5 rank inside each stratum. Deterministic (no
    seed drift between runs or engines) and exact (unlike
    ``df.sampleBy``, which is only proportional in expectation). One
    shuffle on the stratum key; per-stratum windows scale out because
    strata are independent — a skewed stratum bounds a single task at
    O(stratum), the usual salting escape applies if one stratum dominates.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(strata_col).orderBy(_order_key(id_col), F.col(id_col))
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= n_per_stratum)
        .drop("__rk")
    )


def crossdoc_ngram_dup(
    df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Per-document duplicated-span fraction: the share of a document's
    word ``n``-grams that also occur in at least one *other* document —
    the n-gram-granular approximation of exact substring dedup
    (reference point: suffix-array dedup in "Deduplicating Training
    Data Makes Language Models Better"; this trades exact spans for a
    pure explode → hash-aggregate → equi-join plan).

    Output: (id, n_grams, dup_grams, dup_frac, keep) where ``keep`` is
    the ``dup_frac <= threshold`` gate. Docs shorter than ``n`` tokens
    have no grams and are kept.

    Scale shape: per-doc dedup of grams is a MAP-SIDE array_distinct
    (no corpus-wide distinct shuffle), window hashes are built with
    multi-arg xxhash64 over the token slots (no gram string is ever
    concatenated), and the corpus is decoded + tokenized ONCE: the one
    full shuffle moves (gram_h, doc_id) 16-byte rows, cross-doc
    frequency is a count window over that exchange, and the per-doc
    aggregation runs straight off the windowed rows (its exchange
    carries at most docs x partitions rows after partial combine). No
    driver state, no broadcast-size cliff.
    """
    e = TextExprs("spark", text_col)
    # per-doc DISTINCT gram hashes computed MAP-SIDE: a document's grams
    # all live in one row before any explode, so array_distinct replaces
    # what used to be a corpus-wide distinct SHUFFLE, and the per-doc
    # total n_grams = size(...) never touches a shuffle at all (a gram
    # repeated inside ONE doc is repetition — filters.top_ngram_fraction
    # — not cross-doc duplication, hence distinct-per-doc). Each window
    # hashes via MULTI-ARG xxhash64 over the n token strings directly —
    # no space-joined gram string is ever built (the concat was ~half
    # the map cost), and equal grams still hash equal because the hash
    # chains per-argument. 64-bit hashes keep every remaining shuffle
    # moving 8-byte longs; collisions at corpus scale are
    # ~(grams²/2^65): vanishing, and deterministic per corpus. The
    # token array binds ONCE via the single-element-array transform
    # trick (inlining tokens() in the per-window element_at would
    # re-split the text per window, O(tokens²)/doc).
    window_args = ", ".join(
        f"element_at(t, i + {j})" if j else "element_at(t, i)"
        for j in range(n)
    )
    hashes = (
        "element_at(transform(array("
        + e.tokens()
        + f"), t -> if(size(t) >= {n}, "
        + f"transform(sequence(1, size(t) - {n - 1}), "
        + f"i -> xxhash64({window_args})), array())), 1)"
    )
    from pyspark.sql.window import Window

    doc_grams = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(F.expr(hashes))).alias("gram_h"),
    )
    # ONE corpus pass, ONE full shuffle: the cross-doc frequency of each
    # gram comes from a count window over the gram_h exchange, and the
    # per-doc counts aggregate straight off the windowed rows. The
    # former two-consumer shape (frequency agg feeding a broadcast
    # flag-join) tokenized the corpus twice and materialized an extra
    # broadcast stage for the same exchange volume (mostly-unique grams
    # defeat the map-side combine, so the freq agg shuffled ~the full
    # gram table anyway). The window's in-partition sort of 16-byte
    # rows costs less than re-decoding and re-tokenizing the corpus,
    # and — unlike the broadcast flag set — has no size cliff when the
    # duplicated-gram set is huge. count(*) is exact for n_grams
    # because the explode input is array_distinct'd per doc.
    per_doc = (
        doc_grams.withColumn(
            "nd", F.count("*").over(Window.partitionBy("gram_h"))
        )
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.count(F.when(F.col("nd") > 1, 1)).alias("dup_grams"),
        )
    )
    n_g = F.coalesce("n_grams", F.lit(0))
    dup_g = F.coalesce("dup_grams", F.lit(0))
    # 4-decimal half-up rounding done in exact integer arithmetic —
    # floor((dup*10000 + n/2) / n) as (dup*20000 + n) div (2n) — so Spark
    # and any SQL oracle produce bit-identical doubles (F.round on a
    # binary double vs another engine's ROUND can differ by 1 ulp at ties)
    safe = F.greatest(n_g, F.lit(1)).cast("long")
    num = dup_g.cast("long") * F.lit(20000) + safe
    den = safe * F.lit(2)
    frac = ((num - num % den) / den) / F.lit(10000.0)
    # restore docs with zero grams (shorter than n tokens): the id-only
    # scan re-reads no text and AQE broadcasts the per-doc counts
    return df.select(id_col).join(per_doc, id_col, "left").select(
        F.col(id_col),
        n_g.alias("n_grams"),
        dup_g.alias("dup_grams"),
        frac.alias("dup_frac"),
        (frac <= threshold).alias("keep"),
    )


def chunk_documents(
    df: DataFrame,
    window: int = 512,
    stride: int = 384,
    col: str = "text",
    id_col: str = "doc_id",
    min_tail: int = 1,
) -> DataFrame:
    """Split long documents into overlapping fixed-size word windows —
    the per-document context-window chunking that precedes tokenization
    (windows of ``window`` words every ``stride`` words; a final partial
    window survives if it holds >= ``min_tail`` NEW words).

    Pure SQL (sequence → transform → explode over word-array slices): no
    Python, no shuffle — chunking is embarrassingly parallel per doc.
    Output: input columns (minus ``col``) + ``chunk_id``, ``chunk_text``,
    ``n_words``.
    """
    if stride <= 0 or window <= 0 or stride > window:
        raise ValueError("need 0 < stride <= window")
    toks = f"filter(split({col}, '\\\\s+'), x -> x != '')"
    # keep window start s when it is the first, or when it contributes at
    # least min_tail words beyond the PREVIOUS window's end
    # (prev_end = s - stride + window)
    starts = (
        f"CASE WHEN size({toks}) <= {window} THEN array(0) ELSE "
        f"filter(sequence(0, size({toks}) - 1, {stride}), "
        f"s -> s = 0 OR s - {stride} + {window} + {min_tail} <= size({toks})) "
        "END"
    )
    chunks = (
        f"transform({starts}, s -> array_join(slice({toks}, s + 1, {window}), ' '))"
    )
    out_cols = [c for c in df.columns if c != col]
    exploded = df.selectExpr(
        *out_cols, f"posexplode({chunks}) AS (chunk_id, chunk_text)"
    )
    return exploded.withColumn(
        "n_words",
        F.expr("size(filter(split(chunk_text, '\\\\s+'), x -> x != ''))"),
    )


def remove_duplicate_spans(
    df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cut cross-document duplicated spans OUT of the text — the removal
    transform of "Deduplicating Training Data Makes Language Models
    Better" at word-n-gram granularity (:func:`crossdoc_ngram_dup` is
    the flagging side; this one rewrites the corpus). A token is removed
    iff it is covered by some ``n``-gram window whose hash also occurs
    in ANOTHER document with a smaller id — the smallest-id document
    OWNS each shared gram and keeps its occurrences, so exactly one copy
    of every shared span survives, deterministically.

    Output: ``(id, clean_text, n_tokens, removed_tokens)``; clean_text
    is the kept tokens joined by single spaces (whitespace normalizes —
    span surgery is token-level by construction).

    Scale shape (two shuffles, no driver state): window hashes are
    multi-arg xxhash64 over token slots computed map-side; the gram
    exchange moves (gram_h, doc_id, start) rows and cross-doc ownership
    is a min/max window over it (min_id != max_id ⟺ ≥2 docs — never a
    collect_set); removed-start lists aggregate per doc and join back to
    the tokenized corpus, where coverage is a JVM higher-order filter
    (exists over the sorted starts; O(tokens x spans) worst case, and
    spans per doc are few by construction in real corpora)."""
    from pyspark.sql.window import Window

    e = TextExprs("spark", text_col)
    window_args = ", ".join(
        f"element_at(t, i + {j})" if j else "element_at(t, i)"
        for j in range(n)
    )
    hashes_over_t = (
        f"transform(sequence(1, size(t) - {n - 1}), "
        f"i -> xxhash64({window_args}))"
    )
    toks_expr = (
        "element_at(transform(array(" + e.tokens() + "), t -> t), 1)"
    )
    base = df.select(
        F.col(id_col),
        F.expr(toks_expr).alias("__toks"),
    )
    windows = F.expr(
        "element_at(transform(array(__toks), t -> "
        f"if(size(t) >= {n}, {hashes_over_t}, array())), 1)"
    )
    # (gram_h, doc, start): start is the 0-based token index of the
    # window head (posexplode index over the window array)
    occ = base.select(
        F.col(id_col),
        F.posexplode(windows).alias("__start", "gram_h"),
    )
    w = Window.partitionBy("gram_h")
    marked = occ.select(
        id_col,
        "__start",
        F.min(id_col).over(w).alias("__owner"),
        F.max(id_col).over(w).alias("__mx"),
    )
    starts = (
        marked.where(
            (F.col("__owner") != F.col("__mx"))
            & (F.col(id_col) != F.col("__owner"))
        )
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_set("__start")).alias("__starts"))
    )
    joined = base.join(starts, id_col, "left")
    covered = (
        f"exists(coalesce(__starts, array()), s -> s <= i AND i < s + {n})"
    )
    kept = F.expr(
        f"filter(__toks, (tok, i) -> NOT ({covered}))"
    )
    return joined.select(
        F.col(id_col),
        F.array_join(kept, " ").alias("clean_text"),
        F.size("__toks").alias("n_tokens"),
        (F.size("__toks") - F.size(kept)).alias("removed_tokens"),
    )
