from __future__ import annotations

import hashlib

import pandas as pd
import pytest

from ordinarydumpdeduplicator_spark.fixtures.generator import (
    IMAGE_COLS,
    make_corpus,
)
from ordinarydumpdeduplicator_spark.schemas import IMAGES_SCHEMA
from ordinarydumpdeduplicator_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("odd_spark_tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def tiny_corpus():
    """(images_pdf_with_hidden_cols, golden_pairs) at ~200 rows."""
    return make_corpus(200)


@pytest.fixture(scope="session")
def small_corpus():
    """~1000 rows: e2e + recall tests."""
    return make_corpus(1000)


def to_spark_images(spark, pdf: pd.DataFrame):
    pub = pdf[IMAGE_COLS].copy()
    return spark.createDataFrame(pub, schema=IMAGES_SCHEMA)


@pytest.fixture(scope="session")
def tiny_images(spark, tiny_corpus):
    df = to_spark_images(spark, tiny_corpus[0])
    df.cache().count()
    return df


@pytest.fixture(scope="session")
def small_images(spark, small_corpus):
    df = to_spark_images(spark, small_corpus[0])
    df.cache().count()
    return df


def bloom_reference(key: str, n_shards: int, bits_per_shard: int,
                    k_hashes: int) -> tuple[int, list[int]]:
    """(shard, bit positions) of a key by the bloom's spec, in hashlib:
    the first md5 digest byte mod ``n_shards``; positions
    (h1 + i·h2) mod ``bits_per_shard`` for i in 1..k, h1 and h2 the
    little-endian low 32 bits of the digest halves, h2 forced odd."""
    d = hashlib.md5(key.encode("utf-8")).digest()
    h1 = int.from_bytes(d[:4], "little")
    h2 = int.from_bytes(d[8:12], "little") | 1
    return d[0] % n_shards, [
        (h1 + i * h2) % bits_per_shard for i in range(1, k_hashes + 1)
    ]


def reference_words(keys, params) -> dict[tuple[int, int], int]:
    """{(shard, word): bits} a bloom of ``params`` holds for ``keys``
    (NULL keys set no bit); bits as the signed int64 Spark stores."""
    words: dict[tuple[int, int], int] = {}
    for key in keys:
        if key is None:
            continue
        shard, positions = bloom_reference(key, *params)
        for p in positions:
            words[shard, p >> 6] = words.get((shard, p >> 6), 0) | 1 << (p & 63)
    return {w: b - (1 << 64) if b >> 63 else b for w, b in words.items()}
