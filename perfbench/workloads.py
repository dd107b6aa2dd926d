"""The three pipeline workloads: inputs, one job, its reference and its check.

A job reads one generated input set through ``imops_spark.sources``, runs the
workload's pipeline and writes the result.  The same code runs untraced (end
to end) and traced (``Tracer.enabled``: every layer call in its own span,
lazy layers forced at their boundary).

Each workload exposes:

- ``make_inputs(seed, directory, n_sets)``: write the input files, return
  the ``InputSet`` list;
- ``job(spark, inp, out, tr)``: one pipeline run;
- ``load(inp, out)`` / ``compare(inp, loaded)``: read the written result
  back and list its differences from the reference (empty list = correct);
- ``corrupt(loaded)``: a deliberately wrong copy, for the check's self-test;
- ``layer_probe(spark, inp, tr)`` (traced runs): layer calls that are not
  part of the pipeline itself, such as the direct kernel calls.
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import re
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from . import gen

IMAGE_ID = "image_id"
COORDS = ["i0", "i1", "i2"]


@dataclass
class InputSet:
    index: int
    path: str
    items: int  # input voxels, or documents
    params: dict = field(default_factory=dict)
    data: object = None
    _ref: object = None


def _split(n: int, parts: int) -> list[tuple[int, int]]:
    bounds = np.linspace(0, n, parts + 1).astype(int)
    return [(int(a), int(b)) for a, b in zip(bounds[:-1], bounds[1:]) if b > a]


def _safe_threshold(arrays, t: float = 0.5, margin: float = 1e-6) -> float:
    """``t`` nudged until no value lies within ``margin`` of it, so float
    summation order between two correct zoom implementations cannot flip a
    voxel of the mask."""
    while any(np.abs(a - t).min() < margin for a in arrays):
        t += 1e-4
    return t


# ---------------------------------------------------------------------------
# Imaging kernels as the reference sees them
# ---------------------------------------------------------------------------


def _closing_np(mask: np.ndarray) -> np.ndarray:
    from imops_spark.kernels import dilation_numpy, erosion_numpy
    from imops_spark.operators.morphology import footprint_offsets, generate_binary_structure

    off = footprint_offsets(generate_binary_structure(mask.ndim, 1))
    return erosion_numpy(dilation_numpy(mask, off), off)


def _reference_volume(vol: np.ndarray, spacing0: float, t: float) -> dict:
    from imops_spark.kernels import center_of_mass_numpy, label_numpy, zoom_numpy
    from imops_spark.operators.morphology import edt_numpy

    iso = zoom_numpy(vol, (spacing0, 1, 1), order=1)
    closed = _closing_np(iso > t)
    return {
        "labels": label_numpy(closed)[0],
        "edt": edt_numpy(closed).astype(np.float32),
        "com": np.array(center_of_mass_numpy(closed.astype(np.float64))),
    }


class Workload:
    """What the three workloads share: a cache directory for references
    worth keeping across runs, and no extra layer probes by default."""

    warm_jobs = 1  # untimed jobs before timing starts

    def __init__(self, cache_dir: str):
        self.cache_dir = cache_dir

    def layer_probe(self, spark, inp: InputSet, tr) -> None:
        pass


class Volumes(Workload):
    """Both imaging workloads check against the same numpy chain."""

    def reference(self, inp: InputSet) -> dict:
        if inp._ref is None:
            sp, t = inp.params["spacing0"], inp.params["threshold"]
            inp._ref = {i: _reference_volume(v, sp, t) for i, v in inp.data.items()}
        return inp._ref


# ---------------------------------------------------------------------------
# volumes_blob
# ---------------------------------------------------------------------------


class VolumesBlob(Volumes):
    """Cohort preprocessing on the per-image (blob) form."""

    name = "volumes_blob"
    item = "voxel"
    # its jobs keep getting faster through about the fourth of a process
    warm_jobs = 3
    _relational_traced = False
    _vox_input = None
    cohort = dict(n_volumes=8, side=(40, 56), spacing_choices=(2.5,),
                  n_blobs=(3, 6), radius=(5.0, 11.0))

    def make_inputs(self, seed: int, directory: str, n_sets: int) -> list[InputSet]:
        from imops_spark.kernels import zoom_numpy

        sets = []
        for s in range(n_sets):
            vols, sp = gen.phantom_cohort(seed * 1000 + s, **self.cohort)
            t = _safe_threshold([zoom_numpy(v, (sp, 1, 1), order=1) for v in vols.values()])
            path = os.path.join(directory, f"{self.name}-{s}")
            os.makedirs(path)
            for i, v in vols.items():  # one file per volume: one scan partition each
                pq.write_table(pa.table({
                    IMAGE_ID: pa.array([i], pa.int64()),
                    "shape": pa.array([list(v.shape)], pa.list_(pa.int32())),
                    "dtype": pa.array([str(v.dtype)]),
                    "data": pa.array([v.tobytes()], pa.binary()),
                }), os.path.join(path, f"part-{i:03d}.parquet"))
            sets.append(InputSet(s, path, sum(v.size for v in vols.values()),
                                 {"spacing0": sp, "threshold": t, "seed": seed}, vols))
        return sets

    def job(self, spark, inp: InputSet, out: str, tr) -> None:
        from pyspark.sql import functions as F

        from imops_spark.kernels import center_of_mass_numpy, zoom_numpy
        from imops_spark.operators.measure import label_blobs
        from imops_spark.operators.morphology import edt_blobs, morphology_blobs
        from imops_spark.sources.parquet import read_blobs, write_blobs
        from imops_spark.tensor_io import map_blobs

        sp, t = inp.params["spacing0"], inp.params["threshold"]
        with tr.span("sources.read"):
            raw = tr.force(read_blobs(spark, inp.path))
        with tr.span("blob.zoom"):
            iso = tr.force(map_blobs(raw, lambda a: zoom_numpy(a, (sp, 1, 1), order=1)))
        with tr.span("blob.threshold"):
            mask = tr.force(map_blobs(iso, lambda a: (a > t).astype(np.uint8)))
        with tr.span("blob.closing"):
            closed = morphology_blobs(mask, "binary_closing")
            closed = tr.force(closed) if tr.enabled else closed.persist()
        with tr.span("blob.label"):
            labels = tr.force(label_blobs(closed))
        with tr.span("blob.edt"):
            edt = tr.force(edt_blobs(closed, return_indices=False))
        with tr.span("blob.com"):
            com = tr.force(map_blobs(
                closed, lambda a: np.array(center_of_mass_numpy(a.astype(np.float64)))))
        result = (
            labels.withColumn("part", F.lit("labels"))
            .unionByName(edt.select(IMAGE_ID, "shape", F.lit("float32").alias("dtype"),
                                    F.col("distances").alias("data"), F.lit("edt").alias("part")))
            .unionByName(com.withColumn("part", F.lit("com")))
        )
        with tr.span("sources.write"):
            write_blobs(result, out)
        if not tr.enabled:
            closed.unpersist()

    def layer_probe(self, spark, inp: InputSet, tr) -> None:
        """The public kernels called directly on this job's volumes, an
        identity ``map_blobs`` round trip over the same cohort, and the
        relational operator chain (``_relational``)."""
        from imops_spark.kernels import center_of_mass_numpy, label_numpy, zoom_numpy
        from imops_spark.operators.morphology import edt_numpy
        from imops_spark.sources.parquet import read_blobs
        from imops_spark.tensor_io import map_blobs

        sp, t = inp.params["spacing0"], inp.params["threshold"]
        for vol in inp.data.values():
            with tr.span("kernels.zoom"):
                iso = zoom_numpy(vol, (sp, 1, 1), order=1)
            mask = iso > t
            with tr.span("kernels.closing"):
                closed = _closing_np(mask)
            with tr.span("kernels.label"):
                label_numpy(closed)
            with tr.span("kernels.edt"):
                edt_numpy(closed)
            with tr.span("kernels.com"):
                center_of_mass_numpy(closed.astype(np.float64))
        with tr.span("tensor_io.roundtrip"):
            map_blobs(read_blobs(spark, inp.path), lambda a: a).write.format("noop").mode(
                "overwrite").save()
        # the relational chain costs many small Spark jobs: it runs in the
        # untraced warm-up probe and then in the first traced job only
        if not (tr.enabled and self._relational_traced):
            self._relational_traced = tr.enabled
            self._relational(spark, inp, tr)

    def _relational(self, spark, inp: InputSet, tr) -> None:
        """The relational forms of the same operators (``operators.*``): the
        ``volumes_voxel`` job on that workload's cohort for this seed, with
        its output checked the same way.  Its source calls get their own
        span names, so ``sources.*`` stays the blob pipeline's."""
        vox = VolumesVoxel(self.cache_dir)
        if self._vox_input is None:
            directory = os.path.join(os.path.dirname(inp.path), "relational")
            self._vox_input = vox.make_inputs(inp.params["seed"], directory, 1)[0]
        vinp = self._vox_input
        out = os.path.join(os.path.dirname(os.path.dirname(inp.path)), "out", "relational")
        with tr.span("operators"):
            vox.job(spark, vinp, out, tr, io="operators.io")
        errs = vox.compare(vinp, vox.load(vinp, out))
        if errs:
            raise RuntimeError("relational operators: " + "; ".join(errs[:3]))

    def load(self, inp: InputSet, out: str) -> list[dict]:
        return pq.read_table(out).to_pylist()

    def compare(self, inp: InputSet, rows: list[dict]) -> list[str]:
        ref = self.reference(inp)
        errs = []
        seen = {}
        for r in rows:
            key = (r[IMAGE_ID], r["part"])
            if key in seen or r[IMAGE_ID] not in ref:
                errs.append(f"unexpected or repeated row {key}")
                continue
            seen[key] = True
            want = ref[r[IMAGE_ID]][r["part"]]
            got = np.frombuffer(r["data"], dtype=np.dtype(r["dtype"])).reshape(r["shape"])
            same = (np.allclose(got, want, rtol=1e-9, atol=0) if r["part"] == "com"
                    else got.shape == want.shape and np.array_equal(got, want))
            if not same:
                errs.append(f"image {r[IMAGE_ID]} {r['part']} differs from the kernel")
        missing = {(i, p) for i in ref for p in ("labels", "edt", "com")} - set(seen)
        if missing:
            errs.append(f"missing rows {sorted(missing)[:5]}")
        return errs

    def corrupt(self, rows: list[dict]) -> list[dict]:
        bad = copy.deepcopy(rows)
        r = next(r for r in bad if r["part"] == "labels")
        arr = np.frombuffer(r["data"], dtype=np.dtype(r["dtype"])).copy()
        arr[arr.size // 2] += 1
        r["data"] = arr.tobytes()
        return bad


# ---------------------------------------------------------------------------
# volumes_voxel
# ---------------------------------------------------------------------------


class VolumesVoxel(Volumes):
    """The same operator chain in the distributed relational (voxel) form."""

    name = "volumes_voxel"
    item = "voxel"
    # its second job still runs 10-30 % faster than its first
    warm_jobs = 2
    cohort = dict(n_volumes=2, side=(22, 22), spacing_choices=(2.2,),
                  n_blobs=(2, 4), radius=(3.0, 6.0), uniform=True)

    def make_inputs(self, seed: int, directory: str, n_sets: int) -> list[InputSet]:
        from imops_spark.kernels import zoom_numpy

        from .measure import nproc

        sets = []
        for s in range(n_sets):
            vols, sp = gen.phantom_cohort(seed * 1000 + 500 + s, **self.cohort)
            t = _safe_threshold([zoom_numpy(v, (sp, 1, 1), order=1) for v in vols.values()])
            shape = next(iter(vols.values())).shape
            idx = np.indices(shape).reshape(3, -1).astype(np.int32)
            table = pa.concat_tables([pa.table({
                IMAGE_ID: np.full(idx.shape[1], i, np.int64),
                **{c: idx[k] for k, c in enumerate(COORDS)},
                # float64 voxel values: the voxel table's val type for floats
                "val": v.astype(np.float64).ravel(),
            }) for i, v in vols.items()])
            path = os.path.join(directory, f"{self.name}-{s}")
            os.makedirs(path)
            for k, (a, b) in enumerate(_split(table.num_rows, nproc())):
                pq.write_table(table.slice(a, b - a), os.path.join(path, f"part-{k:03d}.parquet"))
            sets.append(InputSet(s, path, int(table.num_rows),
                                 {"spacing0": sp, "threshold": t, "shape": shape}, vols))
        return sets

    def job(self, spark, inp: InputSet, out: str, tr, io: str = "sources") -> None:
        from pyspark.sql import functions as F

        from imops_spark.operators.measure import center_of_mass_df, label_df
        from imops_spark.operators.morphology import binary_dilation_df, binary_erosion_df
        from imops_spark.operators.zoom import zoom_df
        from imops_spark.sources.parquet import read_voxels, write_voxels
        from imops_spark.tensor_io import TensorFrame

        sp, t = inp.params["spacing0"], inp.params["threshold"]
        with tr.span(f"{io}.read"):
            tf = read_voxels(spark, inp.path, inp.params["shape"], np.float64)
            tf = tf.with_df(tr.force(tf.df))
        with tr.span("operators.zoom.plan"):
            iso = zoom_df(tf, (sp, 1, 1), order=1)
        with tr.span("operators.zoom.exec"):
            iso = iso.with_df(tr.force(iso.df))
        mask = TensorFrame(iso.df.select(IMAGE_ID, *COORDS, (F.col("val") > t).alias("val")),
                           iso.shape, np.dtype(bool))
        with tr.span("operators.closing.plan"):
            closed = binary_erosion_df(binary_dilation_df(mask))
        with tr.span("operators.closing.exec"):
            cdf = tr.force(closed.df) if tr.enabled else closed.df.persist()
        # label_df needs an integer mask: on a bool val column its
        # background comparison fails with DATATYPE_MISMATCH
        as_int = TensorFrame(cdf.select(IMAGE_ID, *COORDS, F.col("val").cast("long").alias("val")),
                             iso.shape, np.dtype(np.int64))
        with tr.span("operators.label.plan"):
            labels = label_df(as_int)
        with tr.span("operators.label.exec"):
            labels = tr.force(labels)
        as_float = TensorFrame(cdf.select(IMAGE_ID, *COORDS, F.col("val").cast("double").alias("val")),
                               iso.shape, np.dtype(np.float64))
        with tr.span("operators.com.plan"):
            com = center_of_mass_df(as_float)
        with tr.span("operators.com.exec"):
            com_rows = [r.asDict() for r in com.collect()]
        with tr.span(f"{io}.write"):
            write_voxels(TensorFrame(labels.withColumnRenamed("label", "val"), iso.shape,
                                     np.dtype(np.int64)), os.path.join(out, "labels"))
        with open(os.path.join(out, "com.json"), "w") as f:
            json.dump(com_rows, f)
        if not tr.enabled:
            cdf.unpersist()

    def load(self, inp: InputSet, out: str) -> dict:
        with open(os.path.join(out, "com.json")) as f:
            com = json.load(f)
        return {"labels": pq.read_table(os.path.join(out, "labels")).to_pydict(), "com": com}

    def compare(self, inp: InputSet, got: dict) -> list[str]:
        ref = self.reference(inp)
        errs = []
        lab = got["labels"]
        ids = np.asarray(lab[IMAGE_ID], np.int64)
        for i, want in ref.items():
            dense = np.zeros(want["labels"].shape, np.int64)
            sel = ids == i
            coords = tuple(np.asarray(lab[c], np.int64)[sel] for c in COORDS)
            try:
                dense[coords] = np.asarray(lab["val"], np.int64)[sel]
            except IndexError:
                errs.append(f"image {i}: label coordinates out of range")
                continue
            if int(sel.sum()) != int((want["labels"] > 0).sum()) or not np.array_equal(
                    dense, want["labels"]):
                errs.append(f"image {i}: labels differ from label_numpy")
        if set(np.unique(ids).tolist()) - set(ref):
            errs.append("labels for an image that is not in the input")
        coms = {r[IMAGE_ID]: np.array([r["c0"], r["c1"], r["c2"]]) for r in got["com"]}
        if set(coms) != set(ref):
            errs.append(f"center of mass images {sorted(coms)} != {sorted(ref)}")
        for i, c in coms.items():
            if i in ref and not np.allclose(c, ref[i]["com"], rtol=1e-9, atol=1e-9):
                errs.append(f"image {i}: center of mass {c} != {ref[i]['com']}")
        return errs

    def corrupt(self, got: dict) -> dict:
        bad = copy.deepcopy(got)
        bad["labels"]["val"][len(bad["labels"]["val"]) // 2] += 1
        return bad


# ---------------------------------------------------------------------------
# corpus_curate
# ---------------------------------------------------------------------------

DOC_SCHEMA = "doc_id long, text string, lang string"


class CorpusCurate(Workload):
    """One corpus shard per job: curate_documents, then DSIR against the
    English slice of the curated shard."""

    name = "corpus_curate"
    item = "document"
    shard = dict(n_docs=500, exact_dup=0.06, near_dup=0.06, low_quality=0.10,
                 median_tokens=60, sigma=0.8, long_docs=2, long_tokens=1000)
    dsir = dict(k=25, num_buckets=1024)

    def make_inputs(self, seed: int, directory: str, n_sets: int) -> list[InputSet]:
        from .measure import nproc

        sets = []
        for s in range(n_sets):
            docs = gen.corpus_shard(seed * 1000 + s, **self.shard)
            path = os.path.join(directory, f"{self.name}-{s}")
            os.makedirs(path)
            lines = [json.dumps(d) + "\n" for d in docs]
            for k, (a, b) in enumerate(_split(len(lines), nproc())):
                with open(os.path.join(path, f"part-{k:03d}.jsonl"), "w") as f:
                    f.writelines(lines[a:b])
            digest = hashlib.sha1("".join(lines).encode()).hexdigest()
            sets.append(InputSet(s, path, len(docs), {"sha1": digest}))
        return sets

    def job(self, spark, inp: InputSet, out: str, tr) -> None:
        from pyspark.sql import functions as F

        from imops_spark.functions.curate import curate_documents, dsir_sample_df
        from imops_spark.sources.jsonl import read_jsonl

        with tr.span("sources.read"):
            docs = tr.force(read_jsonl(spark, inp.path, DOC_SCHEMA))
        if tr.enabled:
            curated = self._curate_traced(docs, tr)
        else:
            with tr.group("plan"):
                curated = curate_documents(docs)
        with tr.span("sources.write"):
            curated.write.mode("overwrite").parquet(os.path.join(out, "curated"))
        cur = spark.read.parquet(os.path.join(out, "curated")).join(
            docs.select("doc_id", "lang"), "doc_id")
        with tr.span("curate.dsir.plan"), tr.group("plan"):
            sample = dsir_sample_df(cur.select("doc_id", "text"),
                                    cur.filter(F.col("lang") == "en").select("doc_id", "text"),
                                    **self.dsir)
        with tr.span("curate.dsir.exec"):
            sample = tr.force(sample)
        with tr.span("sources.write"):
            sample.write.mode("overwrite").parquet(os.path.join(out, "dsir"))

    def _curate_traced(self, docs, tr):
        """``curate_documents`` call by call (the same public functions with
        the same arguments), each stage forced so it has its own span."""
        from pyspark.sql import functions as F

        from imops_spark.functions.curate import quality_filter_df
        from imops_spark.functions.dedup import (
            drop_exact_duplicates,
            lsh_candidate_pairs_df,
            minhash_signatures_df,
            ngram_jaccard_df,
        )
        from imops_spark.functions.text import bpe_token_count_df
        from imops_spark.operators.graph import connected_components_df

        n_in = docs.count()
        with tr.span("text.quality") as sp:
            passed = tr.force(quality_filter_df(docs, min_tokens=5, max_chars_per_token=12.0,
                                                min_type_token_ratio=0.2))
        n_passed = passed.count()
        sp.attrs.update(rows_in=n_in, rows_out=n_passed)
        with tr.span("dedup.exact") as sp:
            unique = tr.force(drop_exact_duplicates(passed))
        sp.attrs.update(rows_in=n_passed, rows_out=unique.count())
        with tr.span("dedup.near") as near:
            with tr.span("dedup.near.minhash"):
                # the strategy drop_near_duplicates_df pins for md5 on a batch
                sigs = tr.force(minhash_signatures_df(unique, num_hashes=8, k=3, hash_fn="md5",
                                                      strategy="jvm"))
            with tr.span("dedup.near.lsh"):
                pairs = tr.force(lsh_candidate_pairs_df(sigs, bands=4, rows_per_band=2))
            with tr.span("dedup.near.jaccard"):
                edges = tr.force(ngram_jaccard_df(unique, pairs).filter(F.col("jaccard") >= 0.6)
                                 .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")))
            with tr.span("graph.cc"):
                cc = tr.force(connected_components_df(edges))
            with tr.span("dedup.near.antijoin"):
                losers = cc.filter(F.col("node") != F.col("comp")).select(
                    F.col("node").alias("doc_id"))
                survivors = tr.force(unique.join(losers, "doc_id", "left_anti"))
        near.attrs.update(candidate_pairs=pairs.count(), confirmed_pairs=edges.count())
        with tr.span("text.bpe"):
            budgets = tr.force(bpe_token_count_df(survivors))
        return survivors.join(budgets, "doc_id").select(
            "doc_id", "text", "n_words", "n_bpe", "n_unique_bpe")

    # -- oracle --------------------------------------------------------------

    def reference(self, inp: InputSet) -> dict:
        """The repo's DuckDB oracle SQL for ``curate`` and ``cur_dsir`` on the
        same shard; cached on disk by shard content."""
        if inp._ref is not None:
            return inp._ref
        cache = os.path.join(self.cache_dir, f"oracle-{inp.params['sha1']}.json")
        if os.path.exists(cache):
            with open(cache) as f:
                inp._ref = json.load(f)
            return inp._ref
        import duckdb

        import __spark_entry__ as entry
        from check_oracle import row_set

        # MATERIALIZED only tells DuckDB to evaluate each CTE once; without
        # it, DuckDB 1.0 re-runs the near-dup chain on every step of the
        # recursive cluster CTE (87 s instead of 0.8 s on one shard)
        sql = {k: re.sub(r"\n(\s+)(\w+) AS \(", r"\n\1\2 AS MATERIALIZED (", v)
               for k, v in entry.oracle_sql().items() if k in ("curate", "cur_dsir")}
        con = duckdb.connect()
        try:
            files = sorted(os.path.join(inp.path, f) for f in os.listdir(inp.path))
            con.execute(
                "CREATE TABLE raw AS SELECT * FROM read_json(?, format='newline_delimited', "
                "columns={'doc_id': 'BIGINT', 'text': 'VARCHAR', 'lang': 'VARCHAR'})", [files])
            con.execute("CREATE VIEW documents AS SELECT * FROM raw")
            res = con.execute(sql["curate"])
            cur_cols = [d[0] for d in res.description]
            cur_rows = res.fetchall()
            con.execute("CREATE TABLE cur AS " + sql["curate"])
            con.execute("DROP VIEW documents")
            con.execute("CREATE VIEW documents AS SELECT cur.doc_id, cur.text, raw.lang "
                        "FROM cur JOIN raw USING (doc_id)")
            res = con.execute(sql["cur_dsir"])
            dsir_cols = [d[0] for d in res.description]
            dsir_rows = res.fetchall()
        finally:
            con.close()
        inp._ref = {"curate": [cur_cols, row_set(cur_rows, cur_cols)],
                    "cur_dsir": [dsir_cols, row_set(dsir_rows, dsir_cols)]}
        with open(cache, "w") as f:
            json.dump(inp._ref, f)
        return inp._ref

    def load(self, inp: InputSet, out: str) -> dict:
        from check_oracle import row_set

        got = {}
        for part, name in (("curated", "curate"), ("dsir", "cur_dsir")):
            t = pq.read_table(os.path.join(out, part))
            cols = t.column_names
            d = t.to_pydict()
            got[name] = [cols, row_set(list(zip(*[d[c] for c in cols])), cols)]
        return got

    def compare(self, inp: InputSet, got: dict) -> list[str]:
        ref = self.reference(inp)
        errs = []
        for name in ("curate", "cur_dsir"):
            (gc, gr), (rc, rr) = got[name], ref[name]
            if sorted(gc) != sorted(rc):
                errs.append(f"{name}: columns {gc} != oracle {rc}")
            elif [list(r) for r in gr] != [list(r) for r in rr]:
                errs.append(f"{name}: {len(gr)} rows differ from the oracle's {len(rr)}")
        return errs

    def corrupt(self, got: dict) -> dict:
        bad = copy.deepcopy(got)
        rows = bad["curate"][1]
        rows[len(rows) // 2] = list(rows[len(rows) // 2])
        rows[len(rows) // 2][-1] = rows[len(rows) // 2][-1] + "x"
        return bad


WORKLOADS = {w.name: w for w in (VolumesBlob, VolumesVoxel, CorpusCurate)}
