"""The one Arrow pass (``kernels.partial_pass`` / ``kernels.batch_map``).

- Gate: ``.mapInPandas(`` appears once in the package, inside
  ``functions/kernels.py``; every other stage goes through the helper.
- The helper: its fold never sees an empty batch, zero-row outputs are
  dropped, an empty input yields zero rows under the declared schema
  (through ``collect`` and ``toArrow``), and the plan's ``MapInPandas``
  node carries the caller's function name.
- The IVF/PQ driver close adds each key's partials in row order, as
  the per-row loop it replaced did, so means are bit-identical.
- Degenerate input: on a copy of sf0.001 whose ``embeddings`` and
  ``documents`` tables hold zero rows, every registered query that
  reads either table through the helper builds and matches DuckDB.
"""

from __future__ import annotations

import os
import pathlib

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from aws_etl_global_footprint_network_spark.functions import kernels
from aws_etl_global_footprint_network_spark.functions.compat import round_compat_np
from aws_etl_global_footprint_network_spark.operators.similarity import (
    keyed_means,
    label_sq_dists,
)
from aws_etl_global_footprint_network_spark.registry import load_all
from tests.oracle_harness import compare, duck_connection

PACKAGE = pathlib.Path(kernels.__file__).resolve().parents[1]

# Registered queries that read embeddings or documents and run at
# least one Arrow pass (their build calls ``kernels.partial_pass``).
EMPTY_INPUT_QUERIES = [
    "ann_lsh_pairs_adaptive",
    "audio_wav_features",
    "dedup_containment_pairs",
    "dedup_embedding_cosine",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "heavy_hitters_twopass",
    "image_phash_ahash",
    "image_resize_thumbs",
    "ivf_kmeans_train",
    "ivfadc_rerank_topk",
    "matryoshka_topk_overlap",
    "multimodal_features",
    "pq_adc_rerank_topk",
    "pq_adc_topk",
    "pq_codes",
    "pq_train_codebooks",
    "simhash_neardup_pairs",
    "split_contamination_check",
    "training_corpus_pipeline",
    "video_frame_sample",
]


def test_one_map_in_pandas_call_site():
    sites = [
        f"{path.relative_to(PACKAGE)}:{i}"
        for sub in ("operators", "functions")
        for path in sorted((PACKAGE / sub).rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if ".mapInPandas(" in line
    ]
    assert len(sites) == 1 and sites[0].startswith("functions/kernels.py:"), sites


class _Recorder:
    """Stands in for a DataFrame: keeps the function handed to
    ``mapInPandas`` so it can run without Spark."""

    def mapInPandas(self, fn, schema):
        self.fn = fn
        return self


SCHEMA = T.StructType([T.StructField("a", T.LongType()), T.StructField("b", T.DoubleType())])


def test_fold_sees_no_empty_batch_and_empty_outputs_drop():
    seen = []

    def fold_rows(batches):
        for pdf in batches:
            seen.append(len(pdf))
            yield [(int(a), a / 2) for a in pdf["a"] if a % 2]

    run = kernels.partial_pass(_Recorder(), fold_rows, SCHEMA).fn
    empty = pd.DataFrame({"a": pd.Series([], dtype="int64")})
    batches = [empty, pd.DataFrame({"a": [1, 2, 3]}), empty, pd.DataFrame({"a": [4]})]
    out = list(run(iter(batches)))
    assert seen == [3, 1]
    assert len(out) == 1 and out[0].values.tolist() == [[1, 0.5], [3, 1.5]]
    assert list(run(iter([]))) == []
    assert run.__name__ == "fold_rows"


def test_empty_input_yields_zero_rows_under_schema(spark):
    def _rows(pdf):
        return {"id": pdf["id"], "half": pdf["id"] / 2}

    def fold_rows(batches):
        for pdf in batches:
            yield [(int(i), i / 2) for i in pdf["id"]]

    schema = "id long, half double"
    base = spark.range(4).repartition(8)  # at least four empty partitions
    assert kernels.batch_map(base, _rows, schema).count() == 4
    rows = kernels.partial_pass(base, fold_rows, schema).collect()
    assert sorted(map(tuple, rows)) == [(0, 0.0), (1, 0.5), (2, 1.0), (3, 1.5)]
    empty = kernels.batch_map(base.filter("id < 0"), _rows, schema)
    assert empty.collect() == []
    assert empty.schema.simpleString() == "struct<id:bigint,half:double>"
    table = empty.toArrow()
    assert table.num_rows == 0
    assert [(f.name, str(f.type)) for f in table.schema] == [
        ("id", "int64"),
        ("half", "double"),
    ]


def test_plan_node_names_the_callers_function(spark):
    # functions defined in a test module must be closures: workers
    # cannot import the test module by name
    def _rows(pdf):
        return {"id": pdf["id"], "half": pdf["id"] / 2}

    def encode_rows(batches):
        return map(_rows, batches)

    fold = kernels.partial_pass(spark.range(3), encode_rows, "id long, half double")
    mapped = kernels.batch_map(spark.range(3), _rows, "id long, half double")
    assert "MapInPandas encode_rows(" in fold._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas _rows(" in mapped._jdf.queryExecution().executedPlan().toString()


def test_keyed_means_adds_partials_in_row_order():
    rng = np.random.default_rng(7)
    n, width = 60, 4
    keys = rng.integers(0, 5, n)
    cnts = rng.integers(1, 9, n)
    # magnitudes 1e-3..1e9: any other summation order changes last bits
    sums = rng.standard_normal((n, width)) * 10.0 ** rng.integers(-3, 10, (n, 1))
    parts = pa.table({"key": keys, "cnt": cnts, "s": list(sums)})
    ref_s: dict[int, np.ndarray] = {}
    ref_n: dict[int, int] = {}
    for k, c, v in zip(keys.tolist(), cnts.tolist(), sums):
        ref_s[k] = ref_s.get(k, np.zeros(width)) + v
        ref_n[k] = ref_n.get(k, 0) + c
    got_keys, got_n, got_means = keyed_means(parts, width, 6)
    assert got_keys.tolist() == sorted(ref_s)
    assert got_n.tolist() == [ref_n[k] for k in sorted(ref_s)]
    want = np.stack([round_compat_np(ref_s[k] / ref_n[k], 6) for k in sorted(ref_s)])
    assert np.array_equal(got_means, want)


def test_label_sq_dists_folds_left_to_right():
    rng = np.random.default_rng(3)
    x, carr = rng.standard_normal((5, 8)), rng.standard_normal((3, 8))
    for row, got in zip(x, label_sq_dists(x, carr)):
        want = np.zeros(len(carr))
        for i in range(len(row)):
            t = row[i] - carr[:, i]
            want = want + t * t
        assert np.array_equal(got, want)


@pytest.fixture(scope="module")
def empty_corpus_dir(tmp_path_factory, sf_dir):
    """sf0.001 with zero-row embeddings and documents tables (same
    schemas); the other tables are linked unchanged."""
    out = tmp_path_factory.mktemp("empty_corpus")
    for name in os.listdir(sf_dir):
        if name in ("embeddings.parquet", "documents.parquet"):
            table = pq.read_table(os.path.join(sf_dir, name))
            pq.write_table(table.slice(0, 0), out / name)
        else:
            os.symlink(os.path.join(sf_dir, name), out / name)
    return str(out)


@pytest.mark.parametrize("name", EMPTY_INPUT_QUERIES)
def test_empty_corpus_matches_oracle(spark, empty_corpus_dir, name):
    spec = load_all()[name]
    con = duck_connection(empty_corpus_dir)
    res = compare(name, spec.builder(spark, empty_corpus_dir), spec.oracle, con)
    assert res.ok, (res.detail, res.mismatches[:5])
