"""WebDataset tar-shard reader — the loader side of
``operators/packing.write_webdataset_shards``.

WebDataset (the public sequential-loader convention used for
large-scale training corpora) stores one sample per *key*: all tar
entries whose path shares the prefix before the first dot of the
basename — INCLUDING any directory prefix, so ``a/0001.txt`` and
``b/0001.txt`` are distinct samples — belong to one sample, and entries
of a sample are contiguous in the archive. The reader keeps that
contract:

* one Spark task streams one shard tar (``tarfile`` stream mode — the
  task holds at most ``batch_rows`` completed samples plus the
  in-flight one in memory before emitting an Arrow batch, never a
  whole shard);
* rows are ``(shard, key, fields map<extension, binary>)`` — one per
  sample, extensions untyped so image/audio/text payloads all ride the
  same column (decode with :mod:`..operators.multimodal` or
  :func:`decode_webdataset_text`);
* shard order within the DataFrame is whatever the tasks produce;
  WITHIN a shard, samples arrive in tar order (the writer's canonical
  md5 order), so ``sortWithinPartitions`` is never needed for
  loader-style sequential access.

Reference parity: the reference has no loader-side format; this closes
the training-data loop (filter → pack → shard → read back) that a
corpus engine needs at 100 TB.
"""

from __future__ import annotations

import glob
import os
import tarfile
from typing import Iterator, List, Optional, Union

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import local_df

WDS_SCHEMA = "shard string, key string, fields map<string, binary>"


def _shard_paths(path_or_paths: Union[str, List[str]]) -> List[str]:
    if isinstance(path_or_paths, (list, tuple)):
        return [str(p) for p in path_or_paths]
    p = str(path_or_paths)
    from ..storage import is_http_url, is_object_url, list_shard_urls

    if is_http_url(p):  # one shard url (servers don't list; pass a list)
        return [p]
    if is_object_url(p):  # object stores DO list — expand the prefix
        return list_shard_urls(p, (".tar",))
    if os.path.isdir(p):
        return sorted(glob.glob(os.path.join(p, "*.tar")))
    if os.path.exists(p):
        return [p]
    return sorted(glob.glob(p))


def read_webdataset(
    spark: SparkSession,
    path_or_paths: Union[str, List[str]],
    batch_rows: int = 256,
    open_kwargs: Optional[dict] = None,
) -> DataFrame:
    """Read WebDataset shards (a directory, a glob, or explicit paths)
    into ``(shard, key, fields)`` rows, one row per sample."""
    open_kwargs = dict(open_kwargs or {})
    paths = _shard_paths(path_or_paths)
    if not paths:
        raise ValueError(f"no WebDataset shards match {path_or_paths!r}")
    pdf = local_df(spark, list(enumerate(paths)), "ord int, path string")
    # one shard per task: range-partition on a sequential ordinal (a
    # hash repartition would collide ~1/e of the shards into shared
    # tasks and leave others empty)
    pdf = pdf.repartitionByRange(len(paths), "ord").drop("ord")

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rows: List[tuple] = []

        def emit():
            nonlocal rows
            if rows:
                yield_df = pd.DataFrame(
                    rows, columns=["shard", "key", "fields"]
                )
                rows = []
                return yield_df
            return None

        from ..storage import open_shard_stream, shard_label

        for pdf_in in batches:
            for p in pdf_in["path"]:
                shard = shard_label(p)
                raw = open_shard_stream(p, open_kwargs)
                with raw, tarfile.open(fileobj=raw, mode="r|*") as tar:
                    cur_key: Optional[str] = None
                    fields: dict = {}
                    for member in tar:
                        if not member.isfile():
                            continue
                        # sample key = full member path up to the first
                        # dot of the BASENAME (WebDataset convention):
                        # directory prefixes distinguish samples, so
                        # a/0001.txt and b/0001.txt never merge
                        prefix, _, base = member.name.rpartition("/")
                        stem, _, ext = base.partition(".")
                        key = prefix + "/" + stem if prefix else stem
                        payload = tar.extractfile(member).read()
                        if key != cur_key:
                            if cur_key is not None:
                                rows.append((shard, cur_key, fields))
                                if len(rows) >= batch_rows:
                                    out = emit()
                                    if out is not None:
                                        yield out
                            cur_key, fields = key, {}
                        fields[ext] = payload
                    if cur_key is not None:
                        rows.append((shard, cur_key, fields))
        out = emit()
        if out is not None:
            yield out

    return pdf.mapInPandas(scan, WDS_SCHEMA)


def decode_webdataset_text(
    df: DataFrame,
    text_ext: str = "txt",
    meta_ext: str = "json",
) -> DataFrame:
    """Project the text-corpus view of WebDataset rows: ``key``,
    utf-8-decoded ``text`` from the ``text_ext`` entry, and the raw
    metadata JSON string (NULL when the sample has no such entry). Pure
    column expressions — no Python in the plan."""
    return df.select(
        "shard",
        "key",
        F.col("fields")[text_ext].cast("string").alias("text"),
        F.col("fields")[meta_ext].cast("string").alias("meta_json"),
    )
