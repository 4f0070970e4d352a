"""Arrow batch boundaries do not change kernel output.

Each curation and elevation kernel runs once with 7-row Arrow batches
(many batches per partition: the cosine top-k carry across batches, the
pair scoring of LSH, IVF and exact-NN candidates, per-batch ``reduceat``
offsets in MinHash, the rasterizer's per-batch tile cache, map-side
band partials and batched dissolve slices) and
once with 65536-row batches (one batch per partition); the results
must be identical.
"""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from openelevationservice_spark.constants import TILE_DEG
from openelevationservice_spark.operators import dedup
from openelevationservice_spark.operators import similarity as sim
from openelevationservice_spark.operators.color import (
    polygon_color_features, polygon_color_invariants)
from openelevationservice_spark.operators.polygon import polygon_pixels
from openelevationservice_spark.sources import fixtures as fx
from tests.inputs import make_images_pdf

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"
SMALL, LARGE = 7, 65536


@pytest.fixture(scope="module")
def docs(spark):
    rng = np.random.default_rng(5)
    vocab = [f"w{i}" for i in range(12)]
    texts = [" ".join(rng.choice(vocab, size=rng.integers(0, 9))) for _ in range(200)]
    texts[10], texts[20] = None, "a  b c "
    return spark.createDataFrame(pd.DataFrame({"doc_id": range(200), "text": texts}),
                                 schema="doc_id long, text string")


@pytest.fixture(scope="module")
def corpus(spark):
    vecs = np.random.default_rng(11).standard_normal((200, 16)).astype(np.float32)
    return spark.createDataFrame(
        pd.DataFrame({"vec_id": np.arange(200, dtype=np.int64),
                      "embedding": [v.tolist() for v in vecs]}),
        schema="vec_id long, embedding array<float>")


@pytest.fixture(scope="module")
def elevation(spark):
    """A 3x3-tile world and two polygons across tile seams: a triangle
    (general point-in-polygon, runs split across bands) and a
    rectangle."""
    world = fx.World(nx=3, ny=3)
    images = spark.createDataFrame(make_images_pdf(world), schema=fx.IMAGES_SCHEMA)
    x0 = world.min_x + 0.2 * TILE_DEG
    y0 = world.max_y - 2.7 * TILE_DEG
    tri = [(x0, y0), (x0 + 2.3 * TILE_DEG, y0), (x0, y0 + 2.3 * TILE_DEG), (x0, y0)]
    rect = [(x0 + 0.4 * TILE_DEG, y0 + 0.3 * TILE_DEG), (x0 + 1.9 * TILE_DEG, y0 + 0.3 * TILE_DEG),
            (x0 + 1.9 * TILE_DEG, y0 + 1.6 * TILE_DEG), (x0 + 0.4 * TILE_DEG, y0 + 1.6 * TILE_DEG),
            (x0 + 0.4 * TILE_DEG, y0 + 0.3 * TILE_DEG)]
    polys = spark.createDataFrame(
        pd.DataFrame({"poly_id": [0, 1],
                      "ring": [[{"lon": x, "lat": y} for x, y in r] for r in (tri, rect)]}),
        schema="poly_id long, ring array<struct<lon:double, lat:double>>")
    return polys, images


def _max_batch_rows(spark) -> int:
    def sizes(batches):
        for b in batches:
            yield pa.RecordBatch.from_pydict({"n": [b.num_rows]})
    return spark.range(0, 400, numPartitions=2).mapInArrow(sizes, "n long") \
        .agg({"n": "max"}).collect()[0][0]


def _rows(df, key):
    pdf = df.toPandas().sort_values(key).reset_index(drop=True)
    return [tuple(v.tolist() if isinstance(v, np.ndarray) else v for v in row)
            for row in pdf.itertuples(index=False)]


def _feature_rows(df):
    pdf = (df.toPandas().sort_values(["poly_id", "height_base", "feature_idx"])
           .reset_index(drop=True))
    return [(r.poly_id, r.height_base, r.feature_idx, r.n_rings, r.area_px,
             [[(p["x"], p["y"]) for p in ring] for ring in r.rings])
            for r in pdf.itertuples(index=False)]


def _outputs(docs, corpus, polys, images):
    queries = corpus.filter("vec_id IN (5, 17, 42)").selectExpr(
        "vec_id AS q_id", "embedding AS q_vec")
    cent = sim.ivf_seed_centroids(corpus, n_centroids=8)
    return {
        "minhash": _rows(dedup.minhash_signature(docs), ["doc_id"]),
        "topk_list": _rows(sim.cosine_topk(corpus, queries, k=5), ["q_id", "rank"]),
        "topk_packed": _rows(sim.cosine_topk(sim.pack_vectors(corpus), queries, k=5),
                             ["q_id", "rank"]),
        "lsh": _rows(sim.with_lsh_bucket(corpus, n_planes=6).select("vec_id", "bucket"),
                     ["vec_id"]),
        "ivf": _rows(sim.ivf_assign(corpus, cent, "embedding", nprobe=3)
                     .select("vec_id", "ivf_list"), ["vec_id", "ivf_list"]),
        "lsh_topk": _rows(sim.lsh_ann_topk(corpus, queries, k=5, n_planes=6, probe_bits=2),
                          ["q_id", "rank"]),
        "ivf_topk": _rows(sim.ivf_topk(corpus, queries, k=5, n_centroids=8, nprobe=4),
                          ["q_id", "rank"]),
        "exact_nn": _rows(sim.exact_nn(corpus, n_centroids=8), ["vec_id"]),
        "polygon_pixels": _rows(polygon_pixels(polys, images), ["poly_id", "gy", "gx"]),
        "color_invariants": _rows(polygon_color_invariants(polys, images),
                                  ["poly_id", "height_base"]),
        "color_features": _feature_rows(polygon_color_features(polys, images)),
    }


def test_kernels_identical_across_batch_sizes(spark, docs, corpus, elevation):
    before = spark.conf.get(BATCH_CONF)
    got = {}
    try:
        for n in (SMALL, LARGE):
            spark.conf.set(BATCH_CONF, str(n))
            assert _max_batch_rows(spark) == min(n, 200)
            got[n] = _outputs(docs, corpus, *elevation)
    finally:
        spark.conf.set(BATCH_CONF, before)
    for name in got[SMALL]:
        assert got[SMALL][name] == got[LARGE][name], name
    assert len(got[SMALL]["minhash"]) > 100
    assert len(got[SMALL]["color_features"]) >= len(got[SMALL]["color_invariants"]) > 2 * SMALL
