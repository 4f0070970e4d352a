import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from openelevationservice_spark.functions import image_codec as ic
from openelevationservice_spark.operators import multimodal, textops
from openelevationservice_spark.sources import fixtures as fx
from tests.inputs import make_images_pdf


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the cat and the dog run to the park for a while", "en"),
        (1, "der hund ist nicht auf der straße und das ist gut", "de"),
        (2, "le chat est dans la maison et les oiseaux pour toujours", "fr"),
        (3, "xyzzy qwerty asdf", "??"),
    ]
    df = spark.createDataFrame(pd.DataFrame(rows, columns=["doc_id", "text", "lang"]))
    df.persist()
    df.count()
    return df


def test_lang_id(spark, docs):
    got = textops.lang_scores(docs).toPandas().set_index("doc_id")
    assert got.loc[0, "pred_lang"] == "en"
    assert got.loc[1, "pred_lang"] == "de"
    assert got.loc[2, "pred_lang"] == "fr"


def test_quality_features(spark, docs):
    got = textops.quality_features(docs).toPandas().set_index("doc_id")
    r = got.loc[0]
    text = "the cat and the dog run to the park for a while"
    assert r.q_n_chars == len(text)
    assert r.q_n_tokens == len(text.split(" "))
    assert r.q_n_stopwords == sum(w in textops.STOPWORDS["en"] for w in text.split(" "))
    assert 0 < r.q_score <= 1.0
    assert got.loc[3, "q_score"] < got.loc[0, "q_score"]  # junk scores lower


def test_fingerprint_deterministic(spark, docs):
    a = textops.fingerprint(docs).toPandas().set_index("doc_id")
    b = textops.fingerprint(docs).toPandas().set_index("doc_id")
    assert (a["fp"].fillna("∅") == b["fp"].fillna("∅")).all()
    assert a.loc[3, "fp"] is None  # <5 words → no 5-gram shingles → NULL fp
    assert a.loc[0, "n_shingles"] == len(set(
        " ".join("the cat and the dog run to the park for a while".split(" ")[i:i + 5])
        for i in range(8)
    ))


@pytest.fixture(scope="module")
def images(spark):
    return spark.createDataFrame(make_images_pdf(fx.World(nx=2, ny=2)),
                                 schema=fx.IMAGES_SCHEMA)


def test_image_metadata(spark, images):
    got = multimodal.image_metadata(images).toPandas()
    assert len(got) == 4
    assert (got.w == 50).all() and (got.h == 50).all()
    ref = make_images_pdf(fx.World(nx=2, ny=2))
    m = got.merge(ref[["image_id", "phash"]], on="image_id", suffixes=("", "_ref"))
    assert (m.phash == m.phash_ref).all()


def test_resize_block_mean(spark, images):
    got = multimodal.resize(images, factor=5).toPandas()
    assert (got.w == 10).all() and (got.h == 10).all()
    row = got.iloc[0]
    g = ic.decode(row["bytes"], "raw16", 10, 10)
    tx = int(row.image_id.split("_")[1])
    ty = int(row.image_id.split("_")[2])
    full = fx.tile_grid(tx, ty)
    want = full.reshape(10, 5, 10, 5).mean(axis=(1, 3)).astype(np.int16)
    assert (g == want).all()


def test_stub_format_raises_at_execution(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"image_id": ["a"], "bytes": [b"xx"], "fmt": ["jpeg"],
                      "w": [1], "h": [1]}))
    plan = multimodal.image_metadata(df)  # plan-time OK
    with pytest.raises(Exception, match="NotImplementedError|native libs"):
        plan.collect()


def test_roundtrip_invariant_all_ok(spark, images):
    got = multimodal.roundtrip_invariant(images).toPandas()
    assert got.ok.all() and got.phash_match.all() and got.caption_ok.all()
