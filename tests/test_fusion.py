"""One Python worker per task: Spark gives every Python node of a task its
own worker process and never fuses adjacent ones, so the pipeline and the
media operators compose their Python steps themselves
(``parallel.map_batches``). These tests walk the physical plans a run
executes and assert that no Python node feeds another without an
``Exchange`` between them; they also inject one task failure into the
fused stages and check that the retried run writes the same bytes, or
returns the same rows, as a clean one."""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys
import textwrap

import pytest

from pangeo_forge_recipes_spark import (
    assert_equal,
    pattern_from_file_sequence,
    store_to_zarr,
    write_combined_reference,
)
from pangeo_forge_recipes_spark import transforms as T
from pangeo_forge_recipes_spark.operators import multimodal

from .data_generation import make_ds, split_ds_into_files
from .test_plans import SF_DIR

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry  # noqa: E402

# node names of Spark's Python execs: MapInArrow, MapInPandas,
# BatchEvalPython, ArrowEvalPython, FlatMapGroupsInArrow, ...
PYTHON_NODE = re.compile(r"(InArrow|InPandas|EvalPython)\b")
EXCHANGE_NODE = re.compile(r"(Exchange|QueryStage)\b")


def _plan_tree(plan: str):
    """``(name, children)`` nodes of a physical plan's tree string. A
    node's name is the first word after the tree-drawing prefix and any
    whole-stage-codegen marker ``*(n)``; a Python node's name also names
    its function (``MapInArrow scan+partial_fold``)."""
    root = ("<root>", [])
    stack = [(-1, root)]
    for line in plan.splitlines():
        body = line.lstrip(" :+-")
        if not body:
            continue
        depth = len(line) - len(body)
        name, _, rest = re.sub(r"^\*\(\d+\)\s*", "", body).partition(" ")
        if PYTHON_NODE.search(name):
            name += " " + re.match(r"\[?([\w+]*)", rest).group(1)
        node = (name, [])
        while stack[-1][0] >= depth:
            stack.pop()
        stack[-1][1][1].append(node)
        stack.append((depth, node))
    return root


def stacked_python_nodes(plan: str):
    """Sorted ``(upper, lower)`` pairs of Python nodes in ``plan`` where
    ``lower`` feeds ``upper`` within one stage, i.e. with no exchange
    between them."""
    pairs = set()

    def below(upper, node):
        for child in node[1]:
            if EXCHANGE_NODE.search(child[0]):
                continue
            if PYTHON_NODE.search(child[0]):
                pairs.add((upper, child[0]))
            else:
                below(upper, child)

    def walk(node):
        if PYTHON_NODE.search(node[0]):
            below(node[0], node)
        for child in node[1]:
            walk(child)

    walk(_plan_tree(plan))
    return sorted(pairs)


def python_nodes(plan: str):
    """Names of the Python nodes in ``plan``, e.g. ``MapInArrow build+run``."""
    names = []

    def walk(node):
        if PYTHON_NODE.search(node[0]):
            names.append(node[0])
        for child in node[1]:
            walk(child)

    walk(_plan_tree(plan))
    return names


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture
def executed_plans(spark, monkeypatch):
    """Physical plans of every ``collect``, ``localCheckpoint`` and
    ``checkpoint`` made from here on: the pipeline's actions (the schema
    and reference partials, the write statuses) and the operators'
    branch materializations all go through them."""
    plans = []
    cls = type(spark.range(1))

    def record(name):
        real = getattr(cls, name)

        def action(df, *args, **kwargs):
            out = real(df, *args, **kwargs)
            plans.append(_plan(df))
            return out

        monkeypatch.setattr(cls, name, action)

    for name in ("collect", "localCheckpoint", "checkpoint"):
        record(name)
    return plans


def _npz_pattern(tmp_path):
    ds = make_ds(nt=12)
    paths = split_ds_into_files(ds, str(tmp_path / "src"), items_per_file=2)
    return ds, pattern_from_file_sequence(paths, "time", nitems_per_file=2, file_type="npz")


def _keep(index, ds):
    return index, ds


STORE_CASES = {
    "reference": dict(target_chunks={"time": 3}, rechunk_shuffle="reference"),
    "spill": dict(target_chunks={"time": 3}, rechunk_shuffle="spill"),
    "aligned": dict(target_chunks={"time": 2}),
    "prune": dict(target_chunks={"time": 3}, prune=2),
    "max_concurrency": dict(target_chunks={"time": 3}, max_concurrency=2),
    "preprocess": dict(target_chunks={"time": 3}, preprocess=_keep),
    "distributed_manifest": dict(target_chunks={"time": 3}, rechunk_shuffle="spill"),
}


@pytest.mark.parametrize("case", list(STORE_CASES))
def test_store_to_zarr_runs_one_python_node_per_stage(
    spark, tmp_path, monkeypatch, executed_plans, case
):
    if case == "distributed_manifest":
        monkeypatch.setattr(T, "_DRIVER_MANIFEST_MAX", 0)
    ds, pattern = _npz_pattern(tmp_path)
    result = store_to_zarr(spark, pattern, str(tmp_path / "t"), "s.zarr", **STORE_CASES[case])
    assert result.shuffled == (case != "aligned")
    want = ds.isel(time=slice(0, 4)) if case == "prune" else ds
    assert_equal(result.open(), want)
    assert len(executed_plans) == 2  # schema partials, write statuses
    assert all(PYTHON_NODE.search(plan) for plan in executed_plans)
    pairs = [pair for plan in executed_plans for pair in stacked_python_nodes(plan)]
    assert not pairs, pairs


@pytest.mark.parametrize("distributed", [False, True])
def test_write_combined_reference_runs_one_python_node(
    spark, tmp_path, monkeypatch, executed_plans, distributed
):
    if distributed:
        monkeypatch.setattr(T, "_DRIVER_MANIFEST_MAX", 0)
    _, pattern = _npz_pattern(tmp_path)
    write_combined_reference(spark, pattern, str(tmp_path / "t"), "refs")
    (plan,) = executed_plans
    assert PYTHON_NODE.search(plan)
    pairs = stacked_python_nodes(plan)
    assert not pairs, pairs


def test_steps_compose_only_along_an_unmodified_chain(spark, tmp_path):
    """A caller's own composition of the public steps fuses too; a
    DataFrame derived from a step's output, or a persisted one, starts a
    new chain over itself."""
    _, pattern = _npz_pattern(tmp_path)
    manifest = T.manifest_df(spark, pattern)
    schema = T.determine_schema(T.read_schemas_df(manifest, "npz"), pattern.combine_dim_keys)
    split = T.open_split_refs_df(T.index_items(manifest, schema), "npz",
                                 target_chunks={"time": 3}, schema=schema)

    assert len(python_nodes(_plan(split))) == 1
    want = sorted(split.collect())
    derived = T.open_split_refs_df(
        T.index_items(manifest, schema).filter("url IS NOT NULL"), "npz",
        target_chunks={"time": 3}, schema=schema,
    )
    assert len(python_nodes(_plan(derived))) == 2
    indexed = T.index_items(manifest, schema).persist()
    try:
        cached = T.open_split_refs_df(indexed, "npz", target_chunks={"time": 3}, schema=schema)
        assert "InMemoryTableScan" in _plan(cached)
        assert sorted(derived.collect()) == sorted(cached.collect()) == want
    finally:
        indexed.unpersist()


# the media queries whose operator chains stacked Python nodes before the
# operators moved onto ``map_batches``, with the one fused node each runs
MEDIA_QUERIES = {
    "resize_images": "MapInArrow build+run",
    "multimodal_audio": "MapInArrow build+decode",
    "multimodal_features": "MapInArrow build+decode+feats",
    "phash_near_dup": "MapInArrow build+decode+run",
    "audio_near_dup": "MapInArrow build+decode+run",
}


@pytest.fixture
def catalog_tables(spark):
    """The catalog's tables as the media queries register them, dropped
    again afterwards: a query materializes the cached spread tables, and a
    materialized cache prints its repartition ``Exchange`` twice in later
    plans (AQE's final and initial plan), which plan-shape tests count."""
    yield
    entry._unregister(spark)


@pytest.mark.parametrize("name", list(MEDIA_QUERIES))
def test_media_queries_run_one_python_node_per_stage(
    spark, catalog_tables, executed_plans, name
):
    """Each media query's operator chain runs as ONE Python node: the
    near-dup chains in their signature table's ``localCheckpoint``, the
    others in the final ``collect``."""
    assert entry.queries()[name](spark, SF_DIR).collect()
    nodes = {node for plan in executed_plans for node in python_nodes(plan)}
    assert nodes == {MEDIA_QUERIES[name]}, nodes
    pairs = [pair for plan in executed_plans for pair in stacked_python_nodes(plan)]
    assert not pairs, pairs


def test_media_steps_compose_only_along_an_unmodified_chain(spark):
    """The operators' chain rule: ``resize_images(attach_png_media(docs))``
    plans one Python node; a ``.filter``-derived or a persisted media
    frame starts a new chain, so it plans two; all three give the same
    rows. The chain's first step still sees only the columns it reads:
    ``text`` is projected away in the JVM, under the ``MapInArrow``."""
    docs = spark.range(0, 40, numPartitions=2).selectExpr(
        "id AS doc_id", "repeat('x', CAST(id AS INT)) AS text"
    )
    fused = multimodal.resize_images(multimodal.attach_png_media(docs))
    plan = _plan(fused)
    assert python_nodes(plan) == ["MapInArrow build+run"]
    (arrow_line,) = [line for line in plan.splitlines() if "MapInArrow" in line]
    assert "text" not in arrow_line
    (top,) = _plan_tree(plan)[1]
    assert [child[0] for child in top[1]] == ["Project"]
    want = sorted(fused.collect())

    derived = multimodal.resize_images(
        multimodal.attach_png_media(docs).filter("doc_id >= 0")
    )
    assert len(python_nodes(_plan(derived))) == 2
    media = multimodal.attach_png_media(docs).persist()
    try:
        cached = multimodal.resize_images(media)
        assert "InMemoryTableScan" in _plan(cached)
        assert len(python_nodes(_plan(cached))) == 2
        assert sorted(derived.collect()) == sorted(cached.collect()) == want
    finally:
        media.unpersist()


def test_plan_guard_flags_stacked_python_nodes():
    """The guard itself: two Python nodes in one stage are a pair; an
    exchange (or a query stage after AQE) between them is not."""
    stacked = textwrap.dedent("""\
        HashAggregate(keys=[], functions=[count(1)])
        +- MapInArrow split(index#1, url#2)#9, [group_key#3]
           +- *(1) Project [index#1, url#2]
              +- BatchEvalPython [augment(index#1)#5], [pythonUDF0#8]
                 +- LocalTableScan [index#1, url#2]
        """)
    assert stacked_python_nodes(stacked) == [("MapInArrow split", "BatchEvalPython augment")]
    separated = textwrap.dedent("""\
        FlatMapGroupsInArrow [group_key#3], combine_write(...)
        :- Sort [group_key#3 ASC NULLS FIRST], false, 0
        :  +- Exchange hashpartitioning(group_key#3, 4), ENSURE_REQUIREMENTS
        :     +- MapInArrow split(index#1, url#2)#9, [group_key#3]
        +- LocalTableScan [x#1]
        """)
    assert stacked_python_nodes(separated) == []


# ---------------------------------------------------------------------------
# task retry: a fused stage that fails once writes the same bytes
# ---------------------------------------------------------------------------

RETRY_SCRIPT = """
import hashlib, json, os, sys
from pyspark import TaskContext
from pangeo_forge_recipes_spark import pattern_from_file_sequence, store_to_zarr, write_combined_reference
from pangeo_forge_recipes_spark.session import get_spark

src, out, marker = sys.argv[1:4]
paths = sorted(os.path.join(src, f) for f in os.listdir(src))
victim = paths[len(paths) // 2]
pattern = pattern_from_file_sequence(paths, "time", nitems_per_file=2, file_type="npz")


def fail_once(what):
    ctx = TaskContext.get()
    if ctx is not None and ctx.attemptNumber() == 0:
        with open(os.path.join(marker, f"{what}-{ctx.stageId()}-{os.getpid()}"), "w"):
            pass
        raise RuntimeError(f"injected {what} failure")


def preprocess(index, ds, flaky):
    # the schema pass sees file positions, the split element offsets
    (position,) = index.values()
    if flaky and position.value == paths.index(victim) * (2 if position.indexed else 1):
        fail_once("store")
    return index, ds


def refs_preprocess(refs, flaky):
    if flaky and any(victim in json.dumps(v) for v in refs.values()):
        fail_once("refs")
    return refs


def digest(path):
    root = os.path.dirname(path) if os.path.isfile(path) else path
    files = [path] if os.path.isfile(path) else [
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs]
    return {os.path.relpath(f, root): hashlib.sha256(open(f, "rb").read()).hexdigest()
            for f in files}


spark = get_spark(master="local[2,2]", shuffle_partitions=2)
got = {}
for flaky in (False, True):
    store = store_to_zarr(
        spark, pattern, out, f"store_{flaky}.zarr", target_chunks={"time": 3},
        preprocess=lambda i, d, flaky=flaky: preprocess(i, d, flaky),
    )
    ref = write_combined_reference(
        spark, pattern, out, f"refs_{flaky}", max_refs_per_merge=2,
        preprocess=lambda r, flaky=flaky: refs_preprocess(r, flaky),
    )
    got[str(flaky)] = {"store": digest(store.path), "reference": digest(ref)}
spark.stop()
print(json.dumps(got))
"""


def test_fused_stage_task_retry_writes_identical_bytes(tmp_path):
    """On ``local[2,2]`` (one retry per task) a ``preprocess`` raises on a
    task's first attempt for one chosen file: once in the fused schema
    scan+fold task and once in the fused index+split task of a spill
    bake, and a refs ``preprocess`` once in the fused kerchunk scan+merge
    task. The retried runs write a store and a ``reference.json``
    sha256-identical to a clean run."""
    ds = make_ds(nt=12)
    split_ds_into_files(ds, str(tmp_path / "src"), items_per_file=2)
    marker = tmp_path / "failures"
    marker.mkdir()
    env = {**os.environ, "PYTHONPATH": ROOT, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    proc = subprocess.run(
        [sys.executable, "-c", RETRY_SCRIPT, str(tmp_path / "src"), str(tmp_path / "out"),
         str(marker)],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    failures = sorted(name.split("-")[0] for name in os.listdir(marker))
    # the schema pass and the split each fail one task; the scan+merge one
    assert failures == ["refs", "store", "store"], failures
    assert got["True"] == got["False"]
    assert len(got["True"]["store"]) > 5 and got["True"]["reference"]


OPERATOR_RETRY_SCRIPT = """
import json, os, sys
from pyspark import TaskContext
from pangeo_forge_recipes_spark.operators.imagehash import image_phash
from pangeo_forge_recipes_spark.operators.multimodal import attach_png_media, resize_images
from pangeo_forge_recipes_spark.parallel import map_batches
from pangeo_forge_recipes_spark.session import get_spark

marker = sys.argv[1]


def checked(flaky):
    def check(batches):
        ctx = TaskContext.get()
        for batch in batches:
            if flaky and ctx.partitionId() == 1 and ctx.attemptNumber() == 0:
                with open(os.path.join(marker, f"{ctx.stageId()}-{os.getpid()}"), "w"):
                    pass
                raise RuntimeError("injected check failure")
            yield batch
    return check


def rows(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.count("MapInArrow"), sorted(json.dumps(list(r)) for r in df.collect())


spark = get_spark(master="local[2,2]", shuffle_partitions=2)
docs = spark.range(0, 48, numPartitions=4).withColumnRenamed("id", "doc_id")
got = {}
for flaky in (False, True):
    media = attach_png_media(map_batches(docs, checked(flaky), "doc_id long", ["doc_id"]))
    got[str(flaky)] = {
        "resize": rows(resize_images(media, methods=("bilinear", "nearest"))),
        "phash": rows(image_phash(media)),
    }
spark.stop()
print(json.dumps(got))
"""


def test_fused_operator_chain_task_retry_returns_identical_rows(tmp_path):
    """On ``local[2,2]`` (one retry per task) a user step on
    ``map_batches`` raises on the first attempt of one partition. It
    fuses with ``attach_png_media`` and then with ``resize_images`` or
    ``image_phash`` into one Python node, so each action fails one fused
    task once; the retried runs return the same rows as a clean one."""
    marker = tmp_path / "failures"
    marker.mkdir()
    env = {**os.environ, "PYTHONPATH": ROOT, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    proc = subprocess.run(
        [sys.executable, "-c", OPERATOR_RETRY_SCRIPT, str(marker)],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    # one failed task in each of the two actions' stages
    assert len({name.split("-")[0] for name in os.listdir(marker)}) == 2, os.listdir(marker)
    assert got["True"] == got["False"]
    for nodes, rows in got["True"].values():
        assert nodes == 1 and len(rows) >= 48


WRITE_RETRY_SCRIPT = """
import hashlib, json, os, sys
from pangeo_forge_recipes_spark import pattern_from_file_sequence, store_to_zarr
from pangeo_forge_recipes_spark import transforms as T
from pangeo_forge_recipes_spark.s3io import configure_spark_s3
from pangeo_forge_recipes_spark.session import get_spark
from tests.fake_s3 import FakeS3

src, marker = sys.argv[1:3]
paths = sorted(os.path.join(src, f) for f in os.listdir(src))
pattern = pattern_from_file_sequence(paths, "time", nitems_per_file=2, file_type="npz")
srv = FakeS3()
flaky = {"bucket": None}
puts = {}  # (bucket, client address) -> chunk keys stored over that connection


def refuse(method, bucket, key, client):
    # a write task stores its groups one after another over its worker's
    # keep-alive connection: refuse, once per flaky bake, the first chunk
    # PUT that follows another one on the same connection
    if method != "PUT" or bucket != flaky["bucket"] or "/c/" not in key:
        return None
    prior = puts.setdefault((bucket, client), [])
    if not prior:
        prior.append(key)
        return None
    flaky["bucket"] = None
    with open(os.path.join(marker, bucket), "w") as f:
        json.dump({"refused": key, "after": prior}, f)
    return 403  # not retried by the client: the task fails


srv.refuse = refuse
spark = get_spark(master="local[2,2]", shuffle_partitions=2)
configure_spark_s3(spark, **srv.client_kwargs())
inline = T.SPILL_INLINE_BYTES
got = {}
for case, mode, T.SPILL_INLINE_BYTES in (
    ("spill", "spill", inline), ("spill-scratch", "spill", 0), ("reference", "reference", inline),
):
    for run in ("clean", "flaky"):
        bucket = f"{run}-{case}"
        flaky["bucket"] = bucket if run == "flaky" else None
        store_to_zarr(
            spark, pattern, f"s3://{bucket}/t", "store.zarr", target_chunks={"time": 3},
            rechunk_shuffle=mode,
        )
        got.setdefault(case, {})[run] = {
            key: hashlib.sha256(body).hexdigest()
            for (b, key), body in list(srv.objects.items()) if b == bucket
        }
spark.stop()
srv.stop()
print(json.dumps(got))
"""


def test_write_task_retry_after_a_put_writes_identical_bytes(tmp_path):
    """On ``local[2,2]`` (one retry per task) with the store on a fake S3
    server, the server refuses one chunk PUT with a non-retryable 403 in
    each flaky bake: the first chunk PUT that follows another one over
    the same worker connection, so the combine-write task fails on its
    first attempt after it has already written at least one group (the
    marker file lists the chunks stored before the refusal). The retried
    task rewrites its groups, and the stores of spill (frames inline),
    spill (every frame through scratch) and reference are
    sha256-identical to clean bakes."""
    ds = make_ds(nt=12)
    split_ds_into_files(ds, str(tmp_path / "src"), items_per_file=2)
    marker = tmp_path / "failures"
    marker.mkdir()
    env = {**os.environ, "PYTHONPATH": ROOT, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    proc = subprocess.run(
        [sys.executable, "-c", WRITE_RETRY_SCRIPT, str(tmp_path / "src"), str(marker)],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert sorted(os.listdir(marker)) == ["flaky-reference", "flaky-spill", "flaky-spill-scratch"]
    for name in os.listdir(marker):
        with open(marker / name) as f:
            failure = json.load(f)
        assert "/c/" in failure["refused"] and failure["after"], failure
    for case, runs in got.items():
        assert runs["flaky"] == runs["clean"], case
        assert sum("/c/" in key for key in runs["clean"]) > 5, case
        assert not any(".spill/" in key for key in runs["clean"]), case
