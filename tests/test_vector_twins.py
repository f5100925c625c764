"""Each vector helper in registry.py equals its DuckDB twin on the same rows.

The oracles see the helpers only through whole queries. Here every
helper runs in both engines over the fixture embeddings plus hand-built
64-d float32 rows: components at exactly ±0.5 (x·127 = ±63.5, a tie
of the grid's round half up), float32 neighbours of every k.5/127
(near ties on both sides), ±1.0 (the ends of the grid), one-hot and
zero rows. `q8`, `idot` and `isqdist` must agree exactly; `dot` and
`sqnorm` after the 6-dp rounding their callers apply.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from sparkml_spark.registry import (
    Q8_SCALE,
    dot,
    dot_sql,
    idot,
    idot_sql,
    isqdist,
    isqdist_sql,
    q8,
    q8_sql,
    sqnorm,
    sqnorm_sql,
)

from .conftest import SF_DIR

HAND = 10_000_000  # vec_id of the first hand-built row
DIM = 64


def _hand_rows():
    f32 = np.float32
    near = [f32((k + 0.5) / Q8_SCALE) for k in range(-Q8_SCALE, Q8_SCALE)]
    half = f32(0.5)
    around_half = [
        np.nextafter(half, f32(1)), np.nextafter(half, f32(0)),
        -np.nextafter(half, f32(1)), -np.nextafter(half, f32(0)),
    ]
    rows = [
        [half] * (DIM // 2) + [-half] * (DIM // 2),
        [f32(1.0)] * (DIM // 2) + [f32(-1.0)] * (DIM // 2),
        [f32(1.0)] + [f32(0.0)] * (DIM - 1),
        [f32(0.0)] * DIM,
        (around_half * DIM)[:DIM],
    ]
    near += [f32(0.0)] * (-len(near) % DIM)
    rows += [near[i : i + DIM] for i in range(0, len(near), DIM)]
    return [[float(x) for x in r] for r in rows]


def _vectors_path(tmp_path):
    fixture = pq.read_table(f"{SF_DIR}/embeddings.parquet", columns=["vec_id", "embedding"])
    hand = _hand_rows()
    extra = pa.table(
        {
            "vec_id": pa.array(range(HAND, HAND + len(hand)), fixture.schema.field("vec_id").type),
            "embedding": pa.array(hand, fixture.schema.field("embedding").type),
        }
    )
    path = str(tmp_path / "vectors.parquet")
    pq.write_table(pa.concat_tables([fixture, extra]), path)
    return path


#: consecutive ids, and every hand-built row against the first ten
#: fixture rows and every hand-built row
PAIRS = (
    "b.vec_id = a.vec_id + 1 OR "
    f"(a.vec_id >= {HAND} AND (b.vec_id < 10 OR b.vec_id >= {HAND}))"
)


def test_vector_helpers_equal_their_duckdb_twins(spark, tmp_path):
    import duckdb

    path = _vectors_path(tmp_path)
    v = spark.read.parquet(path).select("vec_id", "embedding", q8("embedding").alias("q"))
    a, b = F.col("a.q"), F.col("b.q")
    s_pairs = v.alias("a").join(v.alias("b"), F.expr(PAIRS)).select(
        "a.vec_id",
        "b.vec_id",
        idot(a, b),
        isqdist(a, b),
        idot(F.slice(a, 1, 16), F.slice(b, 1, 16)),
        F.round(dot(F.col("a.embedding"), F.col("b.embedding")), 6),
    )
    s_rows = v.select("vec_id", "q", F.round(sqnorm("embedding"), 6))

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW v AS SELECT vec_id, embedding, "
        f"{q8_sql('embedding')} AS q FROM read_parquet('{path}')"
    )
    d_pairs = con.execute(
        f"""SELECT a.vec_id, b.vec_id, {idot_sql('a.q', 'b.q')},
                   {isqdist_sql('a.q', 'b.q')}, {idot_sql('a.q[1:16]', 'b.q[1:16]')},
                   round({dot_sql('a.embedding', 'b.embedding')}, 6)
            FROM v a JOIN v b ON {PAIRS}"""
    ).fetchall()
    d_rows = con.execute(
        f"SELECT vec_id, q, round({sqnorm_sql('embedding')}, 6) FROM v"
    ).fetchall()
    con.close()

    s_pairs = sorted(tuple(r) for r in s_pairs.collect())
    s_rows = sorted(tuple(r) for r in s_rows.collect())
    assert len(s_pairs) > len(s_rows) > 10 + len(_hand_rows())
    assert s_rows == sorted(d_rows)
    assert s_pairs == sorted(d_pairs)

    grid = {r[0]: r[1] for r in s_rows}
    # the contract in q8's docstring: round half up, ±127 at the ends
    assert grid[HAND][:2] == [64, 64] and grid[HAND][-1] == -63
    assert grid[HAND + 1][0] == Q8_SCALE and grid[HAND + 1][-1] == -Q8_SCALE
    assert max(abs(x) for q in grid.values() for x in q) == Q8_SCALE
