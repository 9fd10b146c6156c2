"""Seeded cross-engine fuzz of the order-pinned float vector fold.

`operators.vectors.dot/cosine` (F.aggregate sequential fold, DOUBLE,
0.0 seed) and the oracle's `list_reduce` spelling
(operators/vectors.py `dot_sql`) must produce BIT-IDENTICAL doubles —
every similarity operator's candidate ranking and every fixed-point
floor(cos·1e4) threshold rides on it. Floating-point addition is not
associative, so this only holds because both engines fold
left-to-right over the same element order; this fuzz feeds vectors
designed to EXPOSE reordering (magnitudes spanning 1e-8..1e8,
catastrophic cancellation pairs, denormal-adjacent values, negative
zeros) and asserts exact equality of the raw doubles — no rounding,
no tolerance.
"""

from __future__ import annotations

import os
import random
import struct
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F
from pyspark.sql import types as T

from duckdb_data_eng_proj_spark.operators.vectors import cosine, dot, dot_sql


def _f32(x: float) -> float:
    """Round-trip through float32 — embeddings are array<float>."""
    return struct.unpack("f", struct.pack("f", x))[0]


def _gen_vectors(n: int, dim: int, seed: int) -> list:
    rng = random.Random(seed)
    vecs = []
    for _ in range(n):
        roll = rng.random()
        if roll < 0.5:
            v = [rng.uniform(-1, 1) for _ in range(dim)]
        elif roll < 0.7:   # magnitude spread: fold order matters most
            v = [rng.uniform(-1, 1) * 10 ** rng.randint(-8, 8) for _ in range(dim)]
        elif roll < 0.85:  # cancellation: big +x, -x pairs with dust
            v = []
            while len(v) < dim - 1:
                big = rng.uniform(1e6, 1e8)
                v += [big, -big]
            v = v[:dim - 1] + [rng.uniform(-1e-6, 1e-6)]
        else:              # tiny / signed-zero territory
            v = [rng.choice([0.0, -0.0, 1e-38, -1e-38, rng.uniform(-1e-30, 1e-30)])
                 for _ in range(dim)]
        vecs.append([_f32(x) for x in v])
    return vecs


def test_dot_and_cosine_fold_bit_identical(spark):
    dim = 9  # odd, so cancellation pairs straddle fold steps
    vecs = _gen_vectors(120, dim, seed=2718)
    pairs = [(i, vecs[i], vecs[(i * 7 + 3) % len(vecs)]) for i in range(len(vecs))]
    schema = T.StructType(
        [
            T.StructField("i", T.LongType()),
            T.StructField("a", T.ArrayType(T.FloatType())),
            T.StructField("b", T.ArrayType(T.FloatType())),
        ]
    )
    df = spark.createDataFrame(pairs, schema)
    got = {
        r.i: (r.dp, r.cos)
        for r in df.select(
            "i",
            dot(F.col("a"), F.col("b")).alias("dp"),
            cosine(F.col("a"), F.col("b")).alias("cos"),
        ).collect()
    }

    con = duckdb.connect()
    con.execute("CREATE TABLE v (i BIGINT, a FLOAT[], b FLOAT[])")
    con.executemany("INSERT INTO v VALUES (?, ?, ?)", pairs)
    sql = (
        f"SELECT i, {dot_sql('a', 'b')} AS dp, "
        f"{dot_sql('a', 'b')} / (sqrt({dot_sql('a', 'a')}) * "
        f"sqrt({dot_sql('b', 'b')})) AS cos FROM v"
    )
    for i, want_dp, want_cos in con.execute(sql).fetchall():
        have_dp, have_cos = got[i]
        # exact: same fold order -> same IEEE result, bit for bit
        assert have_dp == want_dp or (have_dp != have_dp and want_dp != want_dp), (
            f"pair {i}: dot {have_dp!r} != {want_dp!r}"
        )
        assert have_cos == want_cos or (
            have_cos != have_cos and want_cos != want_cos
        ), f"pair {i}: cos {have_cos!r} != {want_cos!r}"
