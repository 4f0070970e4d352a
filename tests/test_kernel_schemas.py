"""Every ``mapInArrow`` kernel yields batches of exactly its Spark schema.

``mapInArrow`` reads a kernel's output by the Arrow types of the schema
it was given and only fails at run time, inside the JVM, when they
differ (int32 for a ``LongType``, the wrong list element type).  Each
kernel here is captured from the plan its operator builds and run on
the driver over three inputs: an empty batch, a batch none of whose
rows yields an output row (where the kernel has such rows), and the
real input rows of its stage.  Every batch it yields must have the
schema ``to_arrow_schema`` gives for its Spark schema.
"""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from openelevationservice_spark import contract
from openelevationservice_spark.constants import PX, TILE_DEG
from openelevationservice_spark.operators import dedup, multimodal, similarity
from openelevationservice_spark.operators.color import (polygon_color_features,
                                                        polygon_color_invariants)
from openelevationservice_spark.operators.polygon import polygon_pixels
from openelevationservice_spark.operators.sample import pixel_index
from openelevationservice_spark.sources import fixtures as fx
from tests.inputs import make_images_pdf
from tests.test_contract import SF_DIR

RING = "poly_id long, ring array<struct<lon:double, lat:double>>"


@pytest.fixture(scope="module")
def world():
    return fx.World(nx=2, ny=2)


@pytest.fixture(scope="module")
def inputs(spark, world):
    """Images, polygons over them (a triangle and a rectangle across
    tile seams), polygons whose rows cover no pixel centroid (a square
    smaller than a pixel, between centroids), documents and scores."""
    images = spark.createDataFrame(make_images_pdf(world), schema=fx.IMAGES_SCHEMA)
    x0, y0 = world.min_x + 0.3 * TILE_DEG, world.max_y - 1.6 * TILE_DEG
    tri = [(x0, y0), (x0 + 1.2 * TILE_DEG, y0), (x0, y0 + 1.2 * TILE_DEG), (x0, y0)]
    rect = [(x0, y0), (x0 + 0.9 * TILE_DEG, y0), (x0 + 0.9 * TILE_DEG, y0 + TILE_DEG),
            (x0, y0 + TILE_DEG)]
    cx, cy = world.min_x + 7 * PX, world.max_y - 9 * PX   # a pixel corner
    tiny = [(cx - 0.2 * PX, cy - 0.2 * PX), (cx + 0.2 * PX, cy - 0.2 * PX),
            (cx + 0.2 * PX, cy + 0.2 * PX), (cx - 0.2 * PX, cy - 0.2 * PX)]

    def polys(*rings):
        return spark.createDataFrame(
            pd.DataFrame({"poly_id": np.arange(len(rings), dtype=np.int64),
                          "ring": [[{"lon": x, "lat": y} for x, y in r] for r in rings]}),
            schema=RING)

    docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [1, 2, 3], "text": ["a b c d", "a b c e", "x y z w"]}),
        schema="doc_id long, text string")
    short_docs = spark.createDataFrame(
        pd.DataFrame({"doc_id": [4, 5], "text": ["a b", None]}),
        schema="doc_id long, text string")
    scored = spark.createDataFrame(
        pd.DataFrame({"q": ["a", "a", "b", None], "c": [1, 2, 3, 4],
                      "sim": [0.5, 0.7, 0.1, 0.2]}),
        schema="q string, c long, sim double")
    rng = np.random.default_rng(3)
    corpus = spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(20, dtype=np.int64),
                      "embedding": list(rng.normal(size=(20, 4)).astype(np.float32))}),
        schema="vec_id long, embedding array<float>")
    queries = corpus.filter("vec_id IN (2, 11)").selectExpr("vec_id AS q_id",
                                                            "embedding AS q_vec")
    return {"images": images, "polys": polys(tri, rect), "none": polys(tiny),
            "docs": docs, "short_docs": short_docs, "scored": scored, "world": world,
            "corpus": corpus, "queries": queries}


@pytest.fixture
def kernels(spark, monkeypatch):
    """Every ``mapInArrow`` call made while the test runs, as
    (input frame, kernel, Spark schema); the plans are built as usual."""
    calls = []
    frame = type(spark.range(1))
    original = frame.mapInArrow

    def record(self, func, schema, *args, **kwargs):
        calls.append((self, func, schema))
        return original(self, func, schema, *args, **kwargs)

    monkeypatch.setattr(frame, "mapInArrow", record)
    return calls


#: kernel name (with a ``-case`` suffix where one kernel is run on two
#: kinds of input) → (operator over the normal inputs, operator over
#: inputs none of whose kernel rows yields output, or None where every
#: row does)
OPERATORS = {
    "_pixel_runs": (lambda d: polygon_pixels(d["polys"], d["images"]),
                    lambda d: polygon_pixels(d["none"], d["images"])),
    "_band_subrun_kernel": (lambda d: polygon_color_invariants(d["polys"], d["images"]),
                            None),
    "_invariants_partition_subs": (lambda d: polygon_color_invariants(d["polys"], d["images"]),
                                   None),
    "_dissolve_partition_subs": (lambda d: polygon_color_features(d["polys"], d["images"]),
                                 None),
    "decode": (lambda d: pixel_index(d["images"]), None),
    "gen": (lambda d: fx.make_images_df(d["images"].sparkSession, d["world"]), None),
    "extract": (lambda d: multimodal.image_metadata(d["images"]), None),
    "rs": (lambda d: multimodal.resize(d["images"], factor=2), None),
    "check": (lambda d: multimodal.roundtrip_invariant(d["images"]), None),
    "kernel": (lambda d: dedup.minhash_signature(d["docs"]),
               lambda d: dedup.minhash_signature(d["short_docs"])),
    "prune": (lambda d: similarity.topk_per_query(d["scored"], 1, "q", "c"), None),
    "score_prune-list": (lambda d: similarity.cosine_topk(d["corpus"], d["queries"], k=3),
                         None),
    "score_prune-packed": (lambda d: similarity.cosine_topk(
        similarity.pack_vectors(d["corpus"]), d["queries"], k=3), None),
    "pack": (lambda d: similarity.pack_vectors(d["corpus"]), None),
    "bucket": (lambda d: similarity.with_lsh_bucket(d["corpus"]), None),
    "lists": (lambda d: similarity.ivf_assign(
        d["corpus"], similarity.ivf_seed_centroids(d["corpus"], 4), "embedding", nprobe=2),
              None),
    "centroid_sims": (lambda d: similarity.exact_nn(d["corpus"], n_centroids=4), None),
    "pair_sims": (lambda d: similarity.lsh_ann_topk(d["corpus"], d["queries"], k=3), None),
    "rt": (lambda d: contract.q_polyline_roundtrip(d["images"].sparkSession, SF_DIR), None),
    "dump": (lambda d: contract.q_image_resize(d["images"].sparkSession, SF_DIR), None),
}


def _captured(kernels, case):
    name = case.partition("-")[0]
    found = [(df, func, schema) for df, func, schema in kernels if func.__name__ == name]
    assert len(found) == 1, [func.__name__ for _, func, _ in kernels]
    return found[0]


def _input_batches(df):
    """The stage's real input rows, as the batches ``mapInArrow`` hands
    its kernel: the types ``to_arrow_schema`` gives the input schema."""
    table = df.toArrow().cast(to_arrow_schema(df.schema))
    return table.combine_chunks().to_batches()


def _yielded(func, batches, schema):
    out = list(func(iter(batches)))
    want = to_arrow_schema(schema)
    for rb in out:
        assert rb.schema.equals(want), f"{func.__name__}:\n{rb.schema}\n!=\n{want}"
    return out


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_kernel_yields_its_spark_schema(inputs, kernels, name):
    normal, none = OPERATORS[name]
    normal(inputs)
    df, func, schema = _captured(kernels, name)
    empty = pa.RecordBatch.from_pylist([], schema=to_arrow_schema(df.schema))
    _yielded(func, [empty], schema)
    out = _yielded(func, _input_batches(df), schema)
    assert sum(rb.num_rows for rb in out) > 0
    if none is not None:
        kernels.clear()
        none(inputs)
        df, func, schema = _captured(kernels, name)
        rows = _input_batches(df)
        assert sum(rb.num_rows for rb in rows) > 0
        out = _yielded(func, rows, schema)
        assert sum(rb.num_rows for rb in out) == 0
