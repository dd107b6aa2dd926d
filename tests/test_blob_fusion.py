"""Blob-path fusion and the worker zip re-scan skip.

``map_blobs`` chains run as one ``mapInArrow`` over their source (see its
docstring); ``imops_spark.daemon`` re-reads a zip archive's directory
only when the file changed.  These tests pin the plan shape, the
byte-parity of the fused chain with the step-by-step round trip, and
that ``addPyFile`` still ships importable code to reused workers.
"""

import importlib
import os
import sys
import uuid
import zipfile
import zipimport

import numpy as np
import pytest

from imops_spark.operators.morphology import morphology_blobs
from imops_spark.tensor_io import encode_blobs, map_blobs


def _executed_plan(df) -> str:
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def _rows(df):
    return sorted(
        (r["image_id"], tuple(r["shape"]), r["dtype"], bytes(r["data"]))
        for r in df.collect()
    )


@pytest.fixture
def blobs(spark):
    rng = np.random.default_rng(7)
    arrs = {i: rng.random((5, 6, 4), dtype=np.float32) for i in range(6)}
    return encode_blobs(spark, arrs)


def test_chain_runs_as_one_map_in_arrow(blobs):
    out = morphology_blobs(
        map_blobs(map_blobs(blobs, lambda a: a * 2), lambda a: (a > 1).astype(np.uint8)),
        "binary_closing",
    )
    plan = _executed_plan(out)
    assert plan.count("MapInArrow") == 1, plan


def test_fusion_stops_at_a_persisted_frame(blobs):
    mid = map_blobs(map_blobs(blobs, lambda a: a * 2), lambda a: (a > 1).astype(np.uint8))
    mid.persist()
    try:
        out = morphology_blobs(mid, "binary_closing")
        plan = _executed_plan(out)
    finally:
        mid.unpersist()
    assert plan.count("MapInArrow") == 2, plan
    assert "InMemoryTableScan" in plan, plan


@pytest.mark.parametrize(
    "stages",
    [
        # float32 in, uint8 then bool out
        [lambda a: a * 2 + 1, lambda a: (a > 2).astype(np.uint8), "closing"],
        # a stage that returns a non-contiguous view, then a
        # layout-sensitive one
        [lambda a: a.T, lambda a: np.cumsum(a, axis=-1), lambda a: a[::2, :, 1:]],
        # what each stage is handed: C-contiguous, read-only, same shape
        [
            lambda a: a.T,
            lambda a: np.array(
                [a.flags.c_contiguous, a.flags.writeable, *a.shape], dtype=np.int64
            ),
        ],
    ],
)
def test_fused_chain_matches_the_round_trip(blobs, stages):
    def step(df, stage):
        if stage == "closing":
            return morphology_blobs(df, "binary_closing")
        return map_blobs(df, stage)

    fused = blobs
    for stage in stages:
        fused = step(fused, stage)
    unfused = blobs
    for stage in stages:
        unfused = step(unfused, stage).localCheckpoint()
    assert _executed_plan(fused).count("MapInArrow") == 1
    assert _rows(fused) == _rows(unfused)


def _write_module_zip(path: str, modname: str, value: int) -> None:
    with zipfile.ZipFile(path, "w") as z:
        z.writestr(f"{modname}.py", f"VALUE = {value}\n")


def test_zip_rescan_skipped_when_unchanged_and_done_when_changed(tmp_path, monkeypatch):
    import imops_spark.daemon  # noqa: F401  (installs the patch on < 3.13)

    if sys.version_info >= (3, 13):
        pytest.skip("the patch is only installed where zipimport re-reads eagerly")
    first, second = f"zmod_{uuid.uuid4().hex}", f"zmod_{uuid.uuid4().hex}"
    archive = str(tmp_path / "lib.zip")
    _write_module_zip(archive, first, 1)
    monkeypatch.syspath_prepend(archive)
    assert importlib.import_module(first).VALUE == 1

    importlib.invalidate_caches()  # first call stamps the archive
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or real_read(p)
    )
    importlib.invalidate_caches()
    assert archive not in reads

    os.remove(archive)  # a new file: new inode, size and mtime
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{first}.py", "VALUE = 1\n")
        z.writestr(f"{second}.py", "VALUE = 2\n")
    importlib.invalidate_caches()
    assert archive in reads
    assert importlib.import_module(second).VALUE == 2


def test_add_py_file_reaches_reused_workers(spark, tmp_path):
    sc = spark.sparkContext
    n = 8

    def probe(modname):
        def run(it):
            mod = importlib.import_module(modname)
            for pdf in it:
                pdf["id"] = mod.VALUE
                yield pdf

        return spark.range(n).repartition(n).mapInPandas(run, "id long").collect()

    # warm every worker with plain Python tasks first
    spark.range(n).repartition(n).mapInPandas(lambda it: it, "id long").collect()

    py_mod = f"pymod_{uuid.uuid4().hex}"
    py_path = tmp_path / f"{py_mod}.py"
    py_path.write_text("VALUE = 11\n")
    sc.addPyFile(str(py_path))
    assert {r["id"] for r in probe(py_mod)} == {11}

    zip_mod = f"zipmod_{uuid.uuid4().hex}"
    zip_path = str(tmp_path / f"{zip_mod}.zip")
    _write_module_zip(zip_path, zip_mod, 22)
    sc.addPyFile(zip_path)
    assert {r["id"] for r in probe(zip_mod)} == {22}
