"""Property-based algebraic identities (SURVEY §5.2), via hypothesis.

Each property is a law the engine must satisfy for ANY data, checked
on generated micro-tables: filter conjunction decomposition, union
commutativity (as multisets), dedup idempotence, exact-decimal sum
order-independence.
"""

from __future__ import annotations

import os

import pytest

try:
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
except ImportError:  # pragma: no cover
    pytest.skip("hypothesis not installed", allow_module_level=True)

from pyspark.sql import Window
from pyspark.sql import functions as F

import sparkml_spark.operators  # noqa: F401  (populates QUERIES)
from sparkml_spark.registry import dsum

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),
        st.floats(
            min_value=-1e6, max_value=1e6, allow_nan=False, allow_infinity=False
        ),
    ),
    min_size=0,
    max_size=25,
)

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k INT, x DOUBLE") if rows else (
        spark.createDataFrame([], "k INT, x DOUBLE")
    )


@given(rows=rows_strategy)
@_SETTINGS
def test_filter_conjunction_decomposes(spark, rows):
    df = _df(spark, rows)
    a = df.filter((F.col("k") > 1) & (F.col("x") < 0)).collect()
    b = df.filter(F.col("k") > 1).filter(F.col("x") < 0).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


@given(rows=rows_strategy, rows2=rows_strategy)
@_SETTINGS
def test_union_all_commutes_as_multiset(spark, rows, rows2):
    d1, d2 = _df(spark, rows), _df(spark, rows2)
    ab = sorted(map(tuple, d1.unionByName(d2).collect()))
    ba = sorted(map(tuple, d2.unionByName(d1).collect()))
    assert ab == ba


@given(rows=rows_strategy)
@_SETTINGS
def test_distinct_idempotent(spark, rows):
    df = _df(spark, rows).select("k")
    once = sorted(r["k"] for r in df.distinct().collect())
    twice = sorted(r["k"] for r in df.distinct().distinct().collect())
    assert once == twice


@given(rows=rows_strategy)
@_SETTINGS
def test_dsum_order_independent(spark, rows):
    """The float-parity cornerstone: dsum must not depend on row order
    or partitioning."""
    df = _df(spark, rows)
    fwd = df.agg(dsum("x").alias("s")).collect()[0]["s"]
    shuf = (
        df.orderBy(F.col("x").desc())
        .repartition(7)
        .agg(dsum("x").alias("s"))
        .collect()[0]["s"]
    )
    assert fwd == shuf  # exact equality, not isclose


@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(min_codepoint=32, max_codepoint=126),
            min_size=0,
            max_size=24,
        ),
        min_size=1,
        max_size=15,
    )
)
@_SETTINGS
def test_md5_chunk16_matches_duckdb(spark, texts):
    """registry.md5_chunk16 is THE cross-engine hash-parse convention
    (SimHash chunks, pipeline keep-filters): Spark's
    conv(substr(md5(x), 4j+1, 4), 16, 10) must equal DuckDB's
    ('0x' || substr(md5(x), 4j+1, 4))::BIGINT for arbitrary strings
    and every chunk index, including the empty string."""
    import duckdb

    from sparkml_spark.registry import md5_chunk16

    df = spark.createDataFrame([(t,) for t in texts], "t STRING")
    got = [
        tuple(r)
        for r in df.select(
            "t", *[md5_chunk16(F.col("t"), j).alias(f"c{j}") for j in range(4)]
        ).collect()
    ]
    con = duckdb.connect()
    try:
        chunks = ", ".join(
            f"('0x' || substr(md5(t), {1 + 4 * j}, 4))::BIGINT AS c{j}"
            for j in range(4)
        )
        want = con.execute(
            f"SELECT t, {chunks} FROM (SELECT unnest(?) AS t)", [texts]
        ).fetchall()
    finally:
        con.close()
    assert sorted(got) == sorted(tuple(w) for w in want)


@given(rows=rows_strategy)
@_SETTINGS
def test_lsum_matches_duckdb_and_order_independent(spark, rows):
    """The flagship's split-grid long sum (registry.lsum) must (a) be
    exactly the same function as its DuckDB twin lsum_sql on arbitrary
    finite doubles — the risk is tie rounding of the frac part, where
    Spark round() (HALF_UP, away-from-zero on ties) must agree with
    DuckDB round() (half away from zero) — and (b) not depend on row
    order or partitioning (long adds are exact and commutative)."""
    import duckdb

    from sparkml_spark.registry import lsum, lsum_sql

    df = _df(spark, rows)
    fwd = df.agg(lsum("x").alias("s")).collect()[0]["s"]
    shuf = (
        df.orderBy(F.col("x").desc())
        .repartition(7)
        .agg(lsum("x").alias("s"))
        .collect()[0]["s"]
    )
    assert fwd == shuf  # exact equality, not isclose
    con = duckdb.connect()
    try:
        oracle = con.execute(
            f"SELECT {lsum_sql('x')} AS s FROM (SELECT unnest(?) AS x)",
            [[x for _, x in rows]],
        ).fetchone()[0]
    finally:
        con.close()
    assert fwd == oracle, (rows, fwd, oracle)


@given(rows=rows_strategy)
@_SETTINGS
def test_window_dedup_idempotent(spark, rows):
    df = _df(spark, rows)
    w = Window.partitionBy("k").orderBy(F.col("x").desc())
    dedup = df.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")
    dedup2 = dedup.withColumn("rn", F.row_number().over(w)).filter("rn = 1").drop("rn")
    assert sorted(map(tuple, dedup.collect())) == sorted(map(tuple, dedup2.collect()))


# ---------------------------------------------------------------------------
# Connected-components convergence bound (VERDICT r01 item 7): pointer
# doubling must label an ADVERSARIAL CHAIN — the worst case for plain
# min-label propagation, which needs O(L) rounds — in O(log2 L) rounds,
# mirroring hierarchy_closure's log2 bound.
# ---------------------------------------------------------------------------
def test_cc_chain_converges_in_log_rounds(spark):
    import math

    from sparkml_spark.operators.llm_dedup import cc_min_label

    n = 64  # path graph 0-1-2-...-63, diameter 63
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src BIGINT, dst BIGINT"
    )
    cap = math.ceil(math.log2(n)) + 3  # doubling bound + detection margin
    labels, rounds_used = cc_min_label(edges, max_rounds=cap)
    got = {r["node"]: r["lbl"] for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}  # one component, min-id label
    assert rounds_used <= cap


def test_cc_two_components_and_cap_raises(spark):
    from sparkml_spark.operators.llm_dedup import cc_min_label

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11), (11, 12), (12, 13)], "src BIGINT, dst BIGINT"
    )
    labels, _ = cc_min_label(edges, max_rounds=10)
    got = {r["node"]: r["lbl"] for r in labels.collect()}
    assert got == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 12: 10, 13: 10}

    # the cap must fail LOUDLY, not return partial clusters
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(99)], "src BIGINT, dst BIGINT"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        cc_min_label(chain, max_rounds=2)


def test_multimodal_decode_seam_either_way(spark):
    """The decode seam (VERDICT r01 item 6) must work with or without
    PIL: auto mode decodes deterministically, forcing the real path
    without a codec raises, and forcing the fake path always works."""
    from sparkml_spark.operators import multimodal as mm

    payload = b"hello-multimodal-payload"
    w, h, c = mm._decode_image(payload)  # auto mode: never raises
    assert 64 <= w < 256 and 64 <= h < 256 and 1 <= c <= 3
    assert mm._decode_image(payload, fake=True) == (
        64 + payload[0] % 192,
        64 + payload[1] % 192,
        1 + payload[2] % 3,
    )
    if mm._PILImage is None:
        with pytest.raises(NotImplementedError):
            mm._decode_image(payload, fake=False)
    else:  # real codec present: undecodable bytes fall back deterministically
        assert mm._decode_image(payload, fake=False) == mm._decode_image(
            payload, fake=True
        )



def test_sequence_pack_conserves_tokens(spark):
    """Packing must conserve tokens exactly: sum(seq_tokens) over the
    manifest == total token count of the corpus, and doc spans must
    tile the corpus without gaps or overlap."""
    from pyspark.sql import functions as F

    from sparkml_spark.operators.llm_pipeline import pipeline_sequence_pack
    from sparkml_spark.sources.loader import load_table

    from .conftest import SF_DIR

    manifest = pipeline_sequence_pack(spark, SF_DIR).collect()
    d = load_table(spark, SF_DIR, "documents")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    total = d.select(F.sum(F.size(toks))).collect()[0][0]
    assert sum(r.seq_tokens for r in manifest) == total
    assert sum(r.n_docs for r in manifest) == d.count()
    spans = sorted((r.first_doc, r.last_doc) for r in manifest)
    for (a1, b1), (a2, _b2) in zip(spans, spans[1:]):
        assert a1 <= b1 and b1 + 1 == a2, "doc spans must tile contiguously"


def test_domain_mix_is_deterministic_subset(spark):
    """The mix filter must be a subset of documents, keep identical
    rows when re-run, and never keep more of a language than its
    threshold implies possible."""
    from sparkml_spark.operators.llm_pipeline import pipeline_domain_mix
    from sparkml_spark.sources.loader import load_table

    from .conftest import SF_DIR

    kept1 = {r.doc_id for r in pipeline_domain_mix(spark, SF_DIR).collect()}
    kept2 = {r.doc_id for r in pipeline_domain_mix(spark, SF_DIR).collect()}
    assert kept1 == kept2, "hash filter must be rerun-stable"
    all_ids = {r.doc_id for r in load_table(spark, SF_DIR, "documents").collect()}
    assert kept1 <= all_ids and 0 < len(kept1) < len(all_ids)


def test_global_shuffle_is_permutation(spark):
    """The shuffle must be a permutation: same ids, distinct keys."""
    from sparkml_spark.operators.llm_pipeline import pipeline_global_shuffle
    from sparkml_spark.sources.loader import load_table

    from .conftest import SF_DIR

    out = pipeline_global_shuffle(spark, SF_DIR).collect()
    d_ids = {r.doc_id for r in load_table(spark, SF_DIR, "documents").collect()}
    assert {r.doc_id for r in out} == d_ids
    assert len({r.shuffle_key for r in out}) == len(d_ids)


@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from(list("ab \t")),  # forces odd whitespace
            min_size=0,
            max_size=24,
        ),
        min_size=1,
        max_size=12,
    )
)
@_SETTINGS
def test_gram_idx_never_descends_counts_match(spark, texts):
    """For ARBITRARY whitespace-mangled text, the guarded gram builders
    must (a) never throw (the descending-sequence / element_at(0) crash
    class) and (b) emit exactly max(0, n_tokens-(n-1)) n-grams — the
    count DuckDB's range(...) produces, which is what keeps oracle
    parity for any future fixture population."""
    from sparkml_spark.registry import gram_idx

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    out = df.select(
        F.size(toks).alias("n_tok"),
        F.size(F.transform(gram_idx(toks, 2), lambda i: F.element_at(toks, i))).alias("n2"),
        F.size(
            F.transform(
                gram_idx(toks, 3),
                lambda i: F.concat_ws(
                    " ", F.element_at(toks, i), F.element_at(toks, i + 1), F.element_at(toks, i + 2)
                ),
            )
        ).alias("n3"),
    ).collect()
    for r in out:
        assert r["n2"] == max(0, r["n_tok"] - 1), r
        assert r["n3"] == max(0, r["n_tok"] - 2), r


@given(
    xs=st.lists(
        st.floats(min_value=-1e6, max_value=1e6, allow_nan=False,
                  allow_infinity=False),
        min_size=1, max_size=40,
    )
)
@_SETTINGS
def test_fixed_point_floor_matches_duckdb(xs):
    """The round-6 fixed-point output rule — floor(x*scale + 0.5) —
    must be the SAME function in Python/numpy and DuckDB for any
    finite double, including values landing exactly on a representable
    n+0.5 after scaling (where decimal round() half-even vs half-away
    made EWMA/audio outputs diverge; this is the property the rule
    replaced round() to get)."""
    import math

    import duckdb

    con = duckdb.connect()
    for scale in (1e4, 1e6):
        got = [
            r[0]
            for r in con.execute(
                f"SELECT CAST(floor(x * {scale} + 0.5) AS BIGINT) "
                "FROM (SELECT unnest(?) AS x)", [xs]
            ).fetchall()
        ]
        want = [math.floor(x * scale + 0.5) for x in xs]
        assert got == want, (scale, list(zip(xs, got, want)))
    con.close()


def test_fixed_point_floor_tie_regressions():
    """Pinned tie cases measured in round 6: odd byte lengths make
    len/16000*1e6 an exact k+0.5 (audio stub), and small-denominator
    aspect ratios tie at 1e4 — floor(+0.5) must round them UP on both
    engines, unlike numpy's round-half-even."""
    import math

    import duckdb
    import numpy as np

    # REAL half-ties: w/128*1e4 = w*78.125 is k+0.5 exactly iff
    # w ≡ 4 (mod 8) — 68*78.125 = 5312.5, 132*78.125 = 10312.5
    # (an earlier draft pinned w≡2 mod 4, whose fraction is .25, i.e.
    # not a tie at all — code-review r6).
    cases4 = [68.0 / 128 * 10000, 132.0 / 128 * 10000]
    cases6 = [161 / 16000.0 * 1e6, 47 / 16000.0 * 1e6]    # odd lengths
    con = duckdb.connect()
    for v in cases4 + cases6:
        assert v * 2 == math.floor(v * 2), f"{v} is not an exact half-tie"
        duck = con.execute(
            "SELECT CAST(floor(? + 0.5) AS BIGINT)", [v]
        ).fetchone()[0]
        assert duck == math.floor(v + 0.5) == int(np.floor(v + 0.5))
    # and the half-even/half-away split this replaced IS real:
    assert round(10062.5) == 10062          # python: half-even
    assert con.execute("SELECT round(10062.5)").fetchone()[0] == 10063.0
    con.close()


def test_stress_perturbations_are_disjoint_bijections():
    """The scale-up harness keeps dedup structure constant across
    replicas only if every replica's text map is a bijection on a-z
    (n-grams then map bijectively) and no two replicas share a map
    (a shared map re-forms the quadratic duplicate clusters the
    first harness run caught). Pinned to the harness's own supported
    ceiling (k=126, the embedding shift+sign period)."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "stress_scale",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "stress_scale.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    perms = [mod._perm(i) for i in range(126)]
    assert perms[0] == mod._ALPHA  # replica 0 = base data untouched
    assert len(set(perms)) == 126  # no two replicas share a map
    for p in perms:
        assert sorted(p) == sorted(mod._ALPHA)  # bijection on a-z


def test_stress_replicas_preserve_dedup_structure(spark, tmp_path):
    """The property every stress ratio rests on, executed: a k×
    replication must scale DEDUP OUTPUT exactly k× — within-replica
    duplicate structure preserved by the text bijection, zero
    cross-replica pairs created. (The failure mode is real: the first
    harness scheme produced quadratic pair growth; the second —
    Caesar — silently re-merged replicas 25 apart.)"""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "stress_scale",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "stress_scale.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    import sparkml_spark.operators  # noqa: F401 — populates QUERIES
    from sparkml_spark.registry import QUERIES

    base = "/root/testdata/sf0.001"
    k = 3
    out = str(tmp_path / f"x{k}")
    mod.build_scaled(spark, base, out, k)

    # Exact dedup: bijection-invariant, so output must scale EXACTLY k×
    # (identical texts stay identical, distinct stay distinct).
    n_base = QUERIES["dedup_exact_hash"](spark, base).count()
    n_scaled = QUERIES["dedup_exact_hash"](spark, out).count()
    assert n_scaled == k * n_base, (n_base, n_scaled)

    # MinHash: the bijection changes shingle HASH VALUES, so each
    # replica is an independent LSH draw and per-replica pair counts
    # wobble (measured: 276 vs 3×90 at k=3). The invariant that must
    # hold exactly is ZERO cross-replica pairs — permuted replicas
    # share no shingles, so any cross pair would mean the band join
    # leaked. The op pairs docs with SYNTHETIC +_DUP_OFFSET twins
    # (its corpus self-union), so normalize ids back to the original
    # doc before asking which replica a pair member belongs to.
    from sparkml_spark.operators.llm_dedup import _DUP_OFFSET

    off = (
        spark.read.parquet(f"{base}/documents.parquet")
        .agg(F.max("doc_id"))
        .collect()[0][0]
        + 1
    )
    pairs = QUERIES["dedup_minhash_sql"](spark, out)
    rep_a = F.expr(f"(id_a % {_DUP_OFFSET}) DIV {off}")
    rep_b = F.expr(f"(id_b % {_DUP_OFFSET}) DIV {off}")
    cross = pairs.filter(rep_a != rep_b).count()
    assert cross == 0, f"{cross} cross-replica minhash pairs leaked"
    # Pair-count magnitude: each replica is an independent LSH draw, so
    # the total only CONCENTRATES around k× base — an empirical band,
    # not an invariant. Hard-asserting a tolerance band here would fail
    # a correct build on a different fixture or hash seed (ADVICE r6),
    # so log it as a diagnostic; the exact invariants above (zero
    # cross-replica pairs, exact k-scaling for exact-hash) stay hard.
    n_mh_base = QUERIES["dedup_minhash_sql"](spark, base).count()
    n_mh = pairs.count()
    assert n_mh > 0 and n_mh_base > 0, (n_mh_base, n_mh)
    if not (0.5 * k * n_mh_base <= n_mh <= 2.0 * k * n_mh_base):
        import warnings

        warnings.warn(
            f"minhash pair count {n_mh} outside the empirical "
            f"[0.5,2.0]x{k}x{n_mh_base} band — LSH draw variance, "
            "not necessarily a regression",
            stacklevel=1,
        )


def _hash_cell(vec_id: int, n_cells: int) -> int:
    """Python replay of the engine's cell assignment:
    pmod(md5_chunk16(vec_id), n_cells)."""
    import hashlib

    h16 = int(hashlib.md5(str(vec_id).encode()).hexdigest()[:4], 16)
    return h16 % n_cells


def test_semdedup_cap_bounds_giant_cluster(spark):
    """VERDICT r7 #3 + ADVICE r9: a degenerate clustering (one giant
    cluster) must not go quadratic — the enforced cap salts members of
    any cluster over `cap` into ceil(size/cap) sub-cells BY ID HASH,
    so the pair join's candidate count collapses from n*(n-1)/2 to
    ~sum per-cell c^2/2. Checked on a synthetic 400-member single-label
    cluster with cap=50 (8 cells): dedup behaves exactly like running
    it independently within each hash cell (keeper = cell-min id), and
    the realized cell sizes bound the pair count far under n^2/2."""
    from sparkml_spark.operators.llm_dedup import semdedup_within_clusters

    n, cap = 400, 50
    n_cells = -(-n // cap)
    # 200 base ids and one exact copy of each (id + n), all in one
    # cluster — every pair is a semantic duplicate, so cell structure
    # fully determines the output.
    base = spark.range(n // 2).select(
        F.col("id").alias("vec_id"),
        F.lit(0).alias("label"),
        F.array(F.lit(127), F.lit(0), F.lit(0), F.lit(0)).alias("q8"),
    )
    copies = spark.range(n // 2).select(
        (F.col("id") + n).alias("vec_id"),
        F.lit(0).alias("label"),
        F.array(F.lit(127), F.lit(0), F.lit(0), F.lit(0)).alias("q8"),
    )
    qz = base.unionByName(copies)

    res = semdedup_within_clusters(qz, cap=cap).collect()
    assert len(res) == n

    # every member of the giant cluster is identical (q8 = e1*127,
    # qdot = 16129 >= threshold), so the UNcapped join would drop all
    # but vec_id 0. The capped join must behave exactly like running
    # dedup independently within each hash cell: the keeper of cell c
    # is the min id hashing to c, everything else in the cell is
    # dropped with keeper_id == its cell's min.
    cells = {}
    for r in res:
        cells.setdefault(_hash_cell(r.vec_id, n_cells), []).append(r.vec_id)
    cell_min = {c: min(ids) for c, ids in cells.items()}
    for r in res:
        c = _hash_cell(r.vec_id, n_cells)
        if r.vec_id == cell_min[c]:
            assert r.is_kept and r.keeper_id is None, r
        else:
            assert (not r.is_kept) and r.keeper_id == cell_min[c], r

    # pair-count bound from the REALIZED hash-cell sizes: far under
    # the uncapped n*(n-1)/2
    expected_pairs = sum(len(ids) * (len(ids) - 1) // 2 for ids in cells.values())
    dropped = sum(0 if r.is_kept else 1 for r in res)
    assert dropped == n - len(cells)
    assert expected_pairs < 0.2 * n * (n - 1) // 2


def test_semdedup_cells_balance_strided_ids(spark):
    """ADVICE r9 regression: the sub-cell salt must spread ids whose
    ARITHMETIC is residue-correlated. This corpus's own duplicate
    families are strided (every-Nth-doc + offset); under the old raw
    vec_id-mod salt, ids that are all ≡ offset (mod n_cells) landed in
    ONE cell and the pair join went back to ~n^2. With the id-hash
    salt the realized max cell stays near n/n_cells."""
    from sparkml_spark.operators.llm_dedup import semdedup_within_clusters

    n, cap, stride = 400, 50, 8  # stride == n_cells: worst case for raw mod
    n_cells = -(-n // cap)
    assert stride == n_cells
    qz = spark.range(n).select(
        (F.col("id") * stride).alias("vec_id"),  # all ≡ 0 (mod n_cells)
        F.lit(0).alias("label"),
        F.array(F.lit(127), F.lit(0)).alias("q8"),
    )
    res = semdedup_within_clusters(qz, cap=cap).collect()
    sizes = {}
    for r in res:
        c = _hash_cell(r.vec_id, n_cells)
        sizes[c] = sizes.get(c, 0) + 1
    # raw mod would give one cell of 400; hash must use >1 cell and
    # keep the max well under half the cluster (observed ~n/n_cells).
    assert len(sizes) == n_cells, sizes
    assert max(sizes.values()) < n // 2, sizes
    # survivors = one keeper per realized cell
    assert sum(1 for r in res if r.is_kept) == len(sizes)


def test_semdedup_cap_noop_at_or_under_cap(spark):
    """At or under the cap the salted plan must be EXACTLY the
    uncapped semantics (n_cells == 1 for every cluster) — this is the
    property that keeps the oracle pin valid on the fixtures, where no
    cluster exceeds 218 members against a cap of 1024."""
    from sparkml_spark.operators.llm_dedup import semdedup_within_clusters

    # half the vectors are exact copies (q8 = e1*127 -> qdot 16129
    # over threshold), half are orthogonal chaff, across 3 clusters of
    # 20 members each
    qz = spark.range(60).select(
        F.col("id").alias("vec_id"),
        (F.col("id") % 3).alias("label"),
        F.when(F.col("id") % 2 == 0, F.array(F.lit(127), F.lit(0)))
        .otherwise(F.array(F.lit(0), F.col("id").cast("long")))
        .alias("q8"),
    )
    capped = {
        (r.vec_id, r.cluster, r.keeper_id, r.is_kept)
        for r in semdedup_within_clusters(qz, cap=20).collect()
    }
    uncapped = {
        (r.vec_id, r.cluster, r.keeper_id, r.is_kept)
        for r in semdedup_within_clusters(qz, cap=10**9).collect()
    }
    assert capped == uncapped


def test_dataset_split_partitions_and_proportions(spark):
    """The split is a PARTITION of the corpus (every doc in exactly one
    split) with proportions near 90/5/5 (hash uniformity; wide
    tolerance so draw variance can't flake), and re-running produces
    the identical census (determinism — the whole point of hashing
    the id instead of an RNG)."""
    from sparkml_spark.operators.llm_pipeline import pipeline_dataset_split
    from sparkml_spark.sources.loader import load_table

    from .conftest import SF_DIR

    rows = pipeline_dataset_split(spark, SF_DIR).collect()
    total = sum(r.n_docs for r in rows)
    n_all = load_table(spark, SF_DIR, "documents").count()
    assert total == n_all  # partition: nothing dropped or duplicated
    by_split = {}
    for r in rows:
        by_split[r.split] = by_split.get(r.split, 0) + r.n_docs
    assert set(by_split) == {"train", "val", "test"}
    assert 0.80 <= by_split["train"] / total <= 0.97
    rows2 = pipeline_dataset_split(spark, SF_DIR).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_split_leakage_repair_closes_leaks(spark):
    """Every reported group genuinely straddles (n_splits_before > 1),
    the repaired split is the canonical keeper's (min doc_id member's)
    split, and applying the repair leaves ZERO straddling groups —
    i.e. the op's fixpoint is leak-free."""
    from pyspark.sql import functions as F

    from sparkml_spark.operators.llm_dedup import _corpus_with_dups
    from sparkml_spark.operators.llm_pipeline import (
        _SPLIT_TRAIN,
        _SPLIT_VAL,
        pipeline_split_leakage,
    )
    from sparkml_spark.registry import md5_chunk16, norm_hash

    from .conftest import SF_DIR

    leaks = pipeline_split_leakage(spark, SF_DIR)
    assert leaks.filter(F.col("n_splits_before") <= 1).count() == 0
    # Recompute assignments, apply the repair, re-run the straddle
    # detector on the repaired assignment: must be empty.
    corpus = _corpus_with_dups(spark, SF_DIR)
    bucket = md5_chunk16(F.col("doc_id").cast("string")) % 100
    split = (
        F.when(bucket < _SPLIT_TRAIN, "train")
        .when(bucket < _SPLIT_VAL, "val")
        .otherwise("test")
    )
    assigned = corpus.select(
        "doc_id", norm_hash().alias("content_hash"), split.alias("split")
    )
    repaired = (
        assigned.join(
            leaks.select("content_hash", "repaired_split"), "content_hash", "left"
        )
        .select(
            "content_hash",
            F.coalesce("repaired_split", "split").alias("split"),
            "doc_id",
        )
    )
    still = (
        repaired.groupBy("content_hash")
        .agg(F.size(F.collect_set("split")).alias("ns"))
        .filter(F.col("ns") > 1)
    )
    assert still.count() == 0
    # Keeper rule: repaired split == split of the min doc_id member.
    keeper = assigned.groupBy("content_hash").agg(
        F.min_by("split", "doc_id").alias("keeper_split")
    )
    mismatch = leaks.join(keeper, "content_hash").filter(
        F.col("repaired_split") != F.col("keeper_split")
    )
    assert mismatch.count() == 0


def test_filter_funnel_is_monotone_and_conserves(spark):
    """Funnel algebra: survivors are non-increasing stage to stage,
    rejected_here == previous survivors - survivors (conservation),
    and stage 0 equals the corpus size."""
    from sparkml_spark.operators.llm_pipeline import pipeline_filter_funnel
    from sparkml_spark.sources.loader import load_table

    from .conftest import SF_DIR

    rows = sorted(
        pipeline_filter_funnel(spark, SF_DIR).collect(), key=lambda r: r.stage_idx
    )
    assert rows[0].survivors == load_table(spark, SF_DIR, "documents").count()
    for prev, cur in zip(rows, rows[1:]):
        assert cur.survivors <= prev.survivors
        assert cur.rejected_here == prev.survivors - cur.survivors


def test_snapshot_diff_classes_consistent(spark):
    """Diff classes are disjoint by construction and consistent with
    the snapshot derivation: removed == every-17th ids, added ==
    offset republished ids, changed == every-13th survivors whose id
    isn't also removed; nothing else appears."""
    from sparkml_spark.operators.llm_pipeline import (
        _SNAP_ADD_OFFSET,
        _SNAP_ADDED,
        _SNAP_CHANGED,
        _SNAP_REMOVED,
        pipeline_snapshot_diff,
    )
    from sparkml_spark.sources.loader import load_table

    from .conftest import SF_DIR

    out = pipeline_snapshot_diff(spark, SF_DIR).collect()
    ids = {r.doc_id for r in load_table(spark, SF_DIR, "documents").collect()}
    got = {(r.doc_id, r.change_type) for r in out}
    want = set()
    for i in ids:
        if i % _SNAP_REMOVED == 0:
            want.add((i, "removed"))
        elif i % _SNAP_CHANGED == 0:
            want.add((i, "changed"))
        if i % _SNAP_ADDED == 0:
            want.add((i + _SNAP_ADD_OFFSET, "added"))
    assert got == want
    for ct in ("added", "removed", "changed"):
        assert any(c == ct for _, c in got), f"empty class {ct}"


def test_drift_tvd_bounds_and_self_drift_zero(spark):
    """0 <= tvd_ppm_x2 <= 2e6 for every stratum, and comparing a slice
    against ITSELF yields exactly 0 (the monitor's null case) — run on
    an identical ref/cand pair derived from the same slice."""
    from pyspark.sql import functions as F

    from sparkml_spark.operators.llm_pipeline import quality_drift_tvd
    from sparkml_spark.sources.loader import load_table

    from .conftest import SF_DIR

    rows = quality_drift_tvd(spark, SF_DIR).collect()
    assert rows, "no strata"
    for r in rows:
        assert 0 <= r.tvd_ppm_x2 <= 2_000_000
    # Self-drift: identical histograms => every ppm term cancels.
    d = load_table(spark, SF_DIR, "documents")
    h = (
        d.select("lang", F.expr("n_chars DIV 50").alias("b"))
        .groupBy("lang", "b")
        .agg(F.count(F.lit(1)).alias("rn"))
    )
    t = h.groupBy("lang").agg(F.sum("rn").alias("n_ref"))
    self_tvd = (
        h.join(t, "lang")
        .groupBy("lang")
        .agg(
            F.sum(
                F.expr("abs(rn * 1000000 DIV n_ref - rn * 1000000 DIV n_ref)")
            ).alias("z")
        )
    )
    assert self_tvd.filter(F.col("z") != 0).count() == 0


def test_incremental_agg_equals_direct_recompute(spark):
    """The delta-maintained census must equal a direct Spark recompute
    over the new snapshot (Spark-vs-Spark pin; the driver already pins
    Spark-vs-DuckDB) — i.e. the subtractable-aggregate delta algebra
    loses nothing, including on the changed class where only the
    character mass moves."""
    from pyspark.sql import functions as F

    from sparkml_spark.operators.llm_pipeline import (
        _SNAP_ADDED,
        _SNAP_CHANGED,
        _SNAP_REMOVED,
        pipeline_incremental_agg,
    )
    from sparkml_spark.sources.loader import load_table

    from .conftest import SF_DIR

    inc = {
        r.lang: (r.n_docs, r.sum_chars)
        for r in pipeline_incremental_agg(spark, SF_DIR).collect()
    }
    d = load_table(spark, SF_DIR, "documents")
    survivors = d.filter(F.col("doc_id") % _SNAP_REMOVED != 0).select(
        "lang",
        F.when(
            F.col("doc_id") % _SNAP_CHANGED == 0,
            F.length(F.concat("text", F.lit(" v2"))),
        )
        .otherwise(F.length("text"))
        .alias("m"),
    )
    republished = d.filter(F.col("doc_id") % _SNAP_ADDED == 0).select(
        "lang", F.length(F.concat("text", F.lit(" repub"))).alias("m")
    )
    direct = {
        r.lang: (r.n_docs, r.sum_chars)
        for r in survivors.unionByName(republished)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("m").alias("sum_chars"))
        .collect()
    }
    assert inc == direct


def test_pack_bins_nextfit_invariants(spark):
    """Packing invariants: every doc assigned exactly once; within a
    shard, bin ids are contiguous from 0; every bin's token total fits
    the budget UNLESS it holds exactly one oversize doc; and no
    document is split (its whole token count sits in one bin)."""
    from collections import defaultdict

    from sparkml_spark.operators.llm_pipeline import (
        _SEQ_TOKENS,
        pipeline_pack_bins_nextfit,
    )
    from sparkml_spark.sources.loader import load_table

    from .conftest import SF_DIR

    rows = pipeline_pack_bins_nextfit(spark, SF_DIR).collect()
    n_docs = load_table(spark, SF_DIR, "documents").count()
    assert len(rows) == n_docs
    assert len({r.doc_id for r in rows}) == n_docs
    fills = defaultdict(int)
    members = defaultdict(list)
    for r in rows:
        fills[(r.shard, r.bin_id)] += r.n_tokens
        members[(r.shard, r.bin_id)].append(r.n_tokens)
    shard_bins = defaultdict(set)
    for shard, bin_id in fills:
        shard_bins[shard].add(bin_id)
    for shard, bins in shard_bins.items():
        assert bins == set(range(len(bins))), (shard, sorted(bins))
    for key, total in fills.items():
        if total > _SEQ_TOKENS:
            assert len(members[key]) == 1 and members[key][0] > _SEQ_TOKENS, (
                key,
                members[key],
            )


@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 50), st.integers(0, 50)),
        min_size=1,
        max_size=30,
    )
)
@settings(max_examples=30, deadline=None)
def test_drift_tvd_formula_invariants(spark, table):
    """Hypothesis pin on the integer-ppm TVD formula itself (random
    bucket tables, Spark vs pure-python recompute): bounds hold, a
    slice compared with itself is 0, and DOUBLING every count leaves
    the statistic exactly unchanged — floor((2n_i*1e6)/(2n)) ==
    floor((n_i*1e6)/n), the scale invariance that makes the monitor
    comparable across corpus sizes."""
    rows = [
        (f"b{b}", int(rn), int(cn)) for b, rn, cn in table if rn + cn > 0
    ]
    if not rows or sum(r[1] for r in rows) == 0 or sum(r[2] for r in rows) == 0:
        return
    n_ref = sum(r[1] for r in rows)
    n_cand = sum(r[2] for r in rows)

    def tvd(scale):
        return sum(
            abs(
                (rn * scale * 1_000_000) // (n_ref * scale)
                - (cn * scale * 1_000_000) // (n_cand * scale)
            )
            for _, rn, cn in rows
        )

    expected = tvd(1)
    assert 0 <= expected <= 2_000_000
    assert tvd(2) == expected  # doubling-invariance
    # self-drift is exactly zero
    assert all(
        (rn * 1_000_000) // n_ref - (rn * 1_000_000) // n_ref == 0
        for _, rn, _ in rows
    )
    # Spark evaluates the identical expression to the python recompute
    df = spark.createDataFrame(rows, "b string, rn long, cn long")
    got = (
        df.selectExpr(
            f"abs(rn * 1000000 DIV {n_ref} - cn * 1000000 DIV {n_cand}) AS d"
        )
        .groupBy()
        .sum("d")
        .collect()[0][0]
    )
    assert got == expected


def test_bpe_fold_invariants(spark):
    """BPE laws over the real vocabulary: tokenization is LOSSLESS
    (concatenating a word's tokens reproduces the word), every token
    is a character or a committed merge output, and the Catalyst fold
    agrees with an independent Python replay of rank-order sequential
    merging (the trainer's inference contract)."""
    from sparkml_spark.functions.subword import BPE_MERGES, bpe_vocab
    from sparkml_spark.sources.loader import load_table

    from .conftest import SF_DIR

    d = load_table(spark, SF_DIR, "documents")
    rows = bpe_vocab(d).collect()
    assert rows, "empty vocabulary"
    closure = {m[0] + m[1] for m in BPE_MERGES}

    def replay(word):
        seq = list(word)
        for a, b in BPE_MERGES:
            out, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            seq = out
        return seq

    for r in rows:
        toks = r.bpe.split(" ")
        assert "".join(toks) == r.word, (r.word, toks)
        assert len(toks) == r.n_bpe
        assert 1 <= r.n_bpe <= len(r.word)
        assert all(len(t) == 1 or t in closure for t in toks), (r.word, toks)
        assert toks == replay(r.word), (r.word, toks, replay(r.word))


@given(
    st.lists(
        st.text(alphabet="abcdefghijklmnopqrstuvwxyz", min_size=1, max_size=12),
        min_size=1,
        max_size=15,
        unique=True,
    )
)
@settings(max_examples=15, deadline=None)
def test_bpe_fold_matches_replay_on_arbitrary_words(spark, words):
    """The Catalyst BPE fold must agree with the Python rank-order
    replay for ANY lowercase word, not just the fixture vocabulary —
    including adversarial shapes the corpus never produces (overlap
    runs like 'aaaa', merge-output spellings like 'sortsort', chars
    outside every rule). Lossless reconstruction holds everywhere."""
    from pyspark.sql import functions as F

    from sparkml_spark.functions.subword import BPE_MERGES, bpe_tokens

    def replay(word):
        seq = list(word)
        for a, b in BPE_MERGES:
            out, i = [], 0
            while i < len(seq):
                if i + 1 < len(seq) and seq[i] == a and seq[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(seq[i])
                    i += 1
            seq = out
        return seq

    df = spark.createDataFrame([(w,) for w in words], "word string")
    got = {r.word: r.t for r in df.select("word", bpe_tokens(F.col("word")).alias("t")).collect()}
    for w in words:
        assert got[w] == replay(w), (w, got[w], replay(w))
        assert "".join(got[w]) == w


# ---------------------------------------------------------------------------
# r10 family laws: FFD packing quality, MERGE row algebra
# ---------------------------------------------------------------------------

_sizes_strategy = st.lists(
    st.integers(min_value=1, max_value=512), min_size=1, max_size=12
)


def _opt_bins(sizes: list, cap: int = 512) -> int:
    """Exact optimal bin count by DFS with best-fit pruning — fine for
    <= 12 items (the strategy bound)."""
    best = [len(sizes)]
    sizes = sorted(sizes, reverse=True)

    def go(i, bins):
        if len(bins) >= best[0]:
            return
        if i == len(sizes):
            best[0] = min(best[0], len(bins))
            return
        seen = set()
        for b in range(len(bins)):
            room = cap - bins[b]
            if sizes[i] <= room and room not in seen:
                seen.add(room)
                bins[b] += sizes[i]
                go(i + 1, bins)
                bins[b] -= sizes[i]
        bins.append(sizes[i])
        go(i + 1, bins)
        bins.pop()

    go(0, [])
    return best[0]


@given(sizes=_sizes_strategy)
@_SETTINGS
def test_ffd_within_johnson_bound_of_optimal(spark, sizes):
    """pipeline_pack_bins_ffd's packer must respect first-fit-
    decreasing's guarantees on ANY sizes: never beats the exact
    optimum (that would mean an overflowing bin) and never exceeds
    Johnson's 11/9*OPT + 1 bound; per-bin fill <= the budget."""
    import math

    from sparkml_spark.operators.llm_pipeline import (
        _SEQ_TOKENS,
        pack_first_fit_decreasing,
    )

    rows = [(i, 0, s) for i, s in enumerate(sizes)]
    sized = spark.createDataFrame(rows, "doc_id long, shard long, t long")
    packed = pack_first_fit_decreasing(sized).collect()
    fills: dict = {}
    for r in packed:
        fills[r["bin_id"]] = fills.get(r["bin_id"], 0) + r["n_tokens"]
    assert all(f <= _SEQ_TOKENS for f in fills.values()), fills
    opt = _opt_bins(sizes, _SEQ_TOKENS)
    n_ffd = len(fills)
    assert opt <= n_ffd <= math.floor(11 * opt / 9) + 1, (sizes, opt, n_ffd)
    assert len(packed) == len(sizes)


def test_ffd_anomaly_instance_beats_naive_dominance(spark):
    """The FFD anomaly that makes 'FFD <= next-fit' UNSOUND as an
    invariant, pinned as a concrete instance: budget 512, arrival
    order 256,256,205,153,153,205,153,153. Next-fit (which never
    reopens a bin) happens to close exactly 3 full bins; FFD sorts
    descending (256,256,205,205,153,153,153,153) and strands the
    last 153 in a 4th bin. pipeline_pack_ffd_bound therefore checks
    the SOUND n_ffd <= (11*n_nf + 9) DIV 9 (FFD <= 11/9*OPT + 6/9
    and OPT <= n_nf), which this instance satisfies with equality
    (4 <= (11*3+9) DIV 9 = 4)."""
    from sparkml_spark.operators.llm_pipeline import (
        pack_first_fit_decreasing,
        pack_next_fit,
    )

    sizes = [256, 256, 205, 153, 153, 205, 153, 153]
    rows = [(i, 0, s) for i, s in enumerate(sizes)]
    sized = spark.createDataFrame(rows, "doc_id long, shard long, t long")
    n_nf = len({r["bin_id"] for r in pack_next_fit(sized).collect()})
    n_ffd = len(
        {r["bin_id"] for r in pack_first_fit_decreasing(sized).collect()}
    )
    assert n_nf == 3 and n_ffd == 4, (n_nf, n_ffd)
    assert n_ffd > n_nf  # the naive dominance check WOULD have fired
    assert n_ffd <= (11 * n_nf + 9) // 9  # the sound bound does not


_merge_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=9),   # key
        st.sampled_from(["upsert", "delete"]),
        st.integers(min_value=0, max_value=99),  # payload
    ),
    min_size=0,
    max_size=10,
    unique_by=lambda t: t[0],
)


@given(corpus_keys=st.sets(st.integers(0, 9), max_size=8), batch=_merge_strategy)
@_SETTINGS
def test_merge_row_algebra_matches_dict_semantics(spark, corpus_keys, batch):
    """merge_upsert_batch's full-outer row algebra must equal the
    dictionary semantics of MERGE for ANY (corpus, batch): delete
    removes matched keys (and drops unmatched deletes), upsert
    updates matched and inserts unmatched, untouched rows keep."""
    corpus_rows = [(k, k * 10) for k in sorted(corpus_keys)]
    c = spark.createDataFrame(corpus_rows, "doc_id long, n_chars long") \
        if corpus_rows else spark.createDataFrame([], "doc_id long, n_chars long")
    b = spark.createDataFrame(batch, "b_id long, op string, b_chars long") \
        if batch else spark.createDataFrame([], "b_id long, op string, b_chars long")

    joined = c.join(b, c.doc_id == b.b_id, "full_outer")
    action = (
        F.when(F.col("b_id").isNull(), "kept")
        .when(F.col("doc_id").isNull(), "inserted")
        .otherwise("updated")
    )
    got = sorted(
        map(
            tuple,
            joined.filter(F.col("op").isNull() | (F.col("op") != "delete"))
            .select(
                F.coalesce(F.col("doc_id"), F.col("b_id")).alias("doc_id"),
                F.coalesce(F.col("b_chars"), F.col("n_chars")).alias("n_chars"),
                action.alias("action"),
            )
            .collect(),
        )
    )
    table = {k: (k * 10, "kept") for k in corpus_keys}
    for k, op, payload in batch:
        if op == "delete":
            table.pop(k, None)
        elif k in corpus_keys:
            table[k] = (payload, "updated")
        else:
            table[k] = (payload, "inserted")
    want = sorted((k, v[0], v[1]) for k, v in table.items())
    assert got == want, (corpus_rows, batch)


def test_triangle_count_matches_bruteforce(spark):
    """Third oracle for the graph family: recompute triangles, wedges
    and the clustering coefficient in plain Python from the registered
    edge list (itself hash-pinned against DuckDB) and require the
    degree-oriented distributed count to agree exactly."""
    from sparkml_spark.registry import QUERIES
    from .conftest import SF_DIR

    edges = {
        (r.a, r.b)
        for r in QUERIES["graph_cooccur_edges"](spark, SF_DIR).collect()
    }
    nbrs: dict[int, set[int]] = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    tri = (
        sum(
            len(nbrs[a] & nbrs[b])
            for a, b in edges
        )
        // 3
    )
    wedges = sum(len(v) * (len(v) - 1) // 2 for v in nbrs.values())
    row = QUERIES["graph_triangle_count"](spark, SF_DIR).collect()[0]
    assert row.n_nodes == len(nbrs)
    assert row.n_edges == len(edges)
    assert row.n_wedges == wedges
    assert row.n_triangles == tri
    want_gcc = round(3.0 * tri / wedges, 6) if wedges else 0.0
    assert row.global_clustering == want_gcc


def test_jaccard_links_match_bruteforce(spark):
    """Every returned candidate link must carry the exact intersection
    / union sizes of the two neighbor sets, must not be an existing
    edge, and the list must be the true top-50 under (jaccard desc,
    a, b)."""
    from sparkml_spark.registry import QUERIES
    from .conftest import SF_DIR

    edges = {
        (r.a, r.b)
        for r in QUERIES["graph_cooccur_edges"](spark, SF_DIR).collect()
    }
    nbrs: dict[int, set[int]] = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    want = []
    seen = set()
    for x, vs in nbrs.items():
        vs_sorted = sorted(vs)
        for i, a in enumerate(vs_sorted):
            for b in vs_sorted[i + 1 :]:
                if (a, b) in edges or (a, b) in seen:
                    continue
                seen.add((a, b))
                inter = len(nbrs[a] & nbrs[b])
                uni = len(nbrs[a] | nbrs[b])
                want.append((round(-inter / uni, 6), a, b, inter, uni))
    want.sort()
    got = QUERIES["graph_jaccard_links"](spark, SF_DIR).collect()
    assert len(got) == min(50, len(want))
    for row, (negj, a, b, inter, uni) in zip(got, want):
        assert (row.a, row.b, row.ninter, row.nunion) == (a, b, inter, uni)
        assert row.jaccard == round(-negj, 6)


def test_label_propagation_clamps_seeds_and_conserves_nodes(spark):
    """Seeded nodes keep their seed label (clamping), every graph node
    is accounted for exactly once in the census, and any node with at
    least one seeded neighbor must be labeled after 3 rounds."""
    from sparkml_spark.registry import QUERIES
    from .conftest import SF_DIR

    edges = [
        (r.a, r.b)
        for r in QUERIES["graph_cooccur_edges"](spark, SF_DIR).collect()
    ]
    nodes = {n for e in edges for n in e}
    census = {
        r.label: r.n_nodes
        for r in QUERIES["graph_label_propagation"](spark, SF_DIR).collect()
    }
    assert sum(census.values()) == len(nodes)
    n_seeds = sum(1 for n in nodes if n % 3 == 0)
    seeded_reach = {
        n
        for a, b in edges
        for n, m in ((a, b), (b, a))
        if m % 3 == 0 and n % 3 != 0
    }
    # every seed is labeled (clamped), so label != -1 count covers at
    # least seeds plus their direct unlabeled neighbors
    labeled = sum(v for k, v in census.items() if k != -1)
    assert labeled >= n_seeds + len(seeded_reach)


def test_bloom_prefilter_contract(spark):
    """The Bloom contract: zero false negatives (n_missed == 0 comes
    out of the engine, re-asserted here), maybe-set covers the true
    dups, and counts are internally consistent."""
    from sparkml_spark.registry import QUERIES
    from .conftest import SF_DIR

    r = QUERIES["dedup_bloom_prefilter"](spark, SF_DIR).collect()[0]
    assert r.n_missed == 0
    assert r.n_maybe_dup == r.n_true_dup + r.n_false_pos
    assert r.n_maybe_dup >= r.n_true_dup
    assert 0 < r.n_bits_set <= min(65536, 3 * r.n_standing)


def test_preference_pairs_invariants(spark):
    """Every emitted pair: positive margin, distinct docs, margin
    arithmetic consistent, one pair max per stratum."""
    from sparkml_spark.registry import QUERIES
    from .conftest import SF_DIR

    rows = QUERIES["pipeline_preference_pairs"](spark, SF_DIR).collect()
    strata = set()
    for r in rows:
        assert r.chosen_id != r.rejected_id
        assert r.margin == r.chosen_score - r.rejected_score > 0
        assert (r.lang, r.source) not in strata
        strata.add((r.lang, r.source))


def test_chat_sft_template_accounting(spark):
    """Rendered-size arithmetic: prompt(8) + response tokens + the 4
    special tokens equals the declared budget; rendered char count
    must exceed the bare text tokens by exactly the template literals'
    length (4 markers + 3 newlines = 39 chars) given single-space
    joins."""
    from sparkml_spark.registry import QUERIES
    from .conftest import SF_DIR

    rows = QUERIES["pipeline_chat_sft_format"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.n_prompt_tokens == 8
        assert r.n_response_tokens >= 4
        assert (
            r.n_tokens_with_template
            == r.n_prompt_tokens + r.n_response_tokens + 4
        )
        assert len(r.fingerprint) == 16


def test_pq_adc_matches_python_replay(spark):
    """Third oracle for the PQ index: replay quantization, coding, ADC
    and exact ranking in plain Python over the raw embeddings and
    require identical top-10 lists and identical recall overlaps."""
    import math

    from sparkml_spark.registry import QUERIES
    from .conftest import SF_DIR

    vecs = {
        r.vec_id: [math.floor(float(x) * 127 + 0.5) for x in r.embedding]
        for r in spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    }
    M, K, D = 4, 16, 16

    def sub(v, s):
        return v[s * D : (s + 1) * D]

    def d2(a, b):
        return sum((x - y) * (x - y) for x, y in zip(a, b))

    codes = {
        vid: [
            min(range(K), key=lambda a: (d2(sub(v, s), sub(vecs[a], s)), a))
            for s in range(M)
        ]
        for vid, v in vecs.items()
    }
    queries = sorted(v for v in vecs if v < 10)
    want_adc, want_overlap = {}, {}
    for q in queries:
        tables = [
            [d2(sub(vecs[q], s), sub(vecs[a], s)) for a in range(K)]
            for s in range(M)
        ]
        scored = sorted(
            (sum(tables[s][codes[c][s]] for s in range(M)), c)
            for c in vecs
            if c != q
        )
        want_adc[q] = [(c, dist) for dist, c in scored[:10]]
        exact = sorted((d2(vecs[q], vecs[c]), c) for c in vecs if c != q)
        etop = {c for _, c in exact[:10]}
        want_overlap[q] = sum(1 for _, c in scored[:10] if c in etop)

    got = QUERIES["sim_pq_adc"](spark, SF_DIR).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r.query_id, r.rank)):
        by_q.setdefault(r.query_id, []).append((r.neighbor_id, r.adc_dist))
    assert by_q == want_adc

    overlaps = {
        r.query_id: r.n_overlap_top10
        for r in QUERIES["sim_pq_recall"](spark, SF_DIR).collect()
    }
    assert overlaps == want_overlap


def test_attribution_conserves_credit_per_model(spark):
    """Credit conservation: under every model, total credit equals
    1e6 x (number of conversions that have at least one touch) — an
    integer identity the micro-unit design guarantees; and all three
    models see identical touch-row counts."""
    from sparkml_spark.registry import QUERIES
    from .conftest import SF_DIR

    rows = QUERIES["events_attribution_multitouch"](spark, SF_DIR).collect()
    by_model = {}
    touch_rows = {}
    for r in rows:
        by_model[r.model] = by_model.get(r.model, 0) + r.credit_micro
        touch_rows[r.model] = touch_rows.get(r.model, 0) + r.n_touch_rows
    assert len(set(by_model.values())) == 1, by_model
    assert len(set(touch_rows.values())) == 1, touch_rows
    assert by_model["linear"] % 1000000 == 0
    assert by_model["linear"] > 0


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=50),
            st.integers(min_value=0, max_value=10**6),
        ),
        min_size=1,
        max_size=40,
        unique_by=lambda t: t[1],
    ),
    n=st.integers(min_value=1, max_value=7),
)
@_SETTINGS
def test_ntile_two_phase_matches_engine_ntile(spark, rows, n):
    """The NTILE decomposition (registry.ntile_two_phase) now carries
    five registered ops — this pins it against Spark's OWN ntile over
    the same total order for arbitrary values (ties included, via
    duplicate v), bucket = a coarsening (v DIV 7), every tile count
    1..n."""
    from pyspark.sql import Window

    from sparkml_spark.registry import ntile_two_phase

    df = spark.createDataFrame(rows, "v INT, id LONG")
    want = {
        (r.id, r.t)
        for r in df.select(
            "id", F.ntile(n).over(Window.orderBy("v", "id")).alias("t")
        ).collect()
    }
    got = {
        (r.id, r.t)
        for r in ntile_two_phase(
            df,
            n,
            bucket=F.expr("v DIV 7"),
            order_cols=[F.col("v").asc(), F.col("id").asc()],
            out="t",
        )
        .select("id", "t")
        .collect()
    }
    assert got == want, (sorted(got), sorted(want))


def test_consistent_hash_moves_only_to_new_shard(spark):
    """THE consistent-hashing invariant: adding shard 16 to a 16-shard
    ring may only steal keys FOR THE NEW SHARD — any doc whose owner
    changed must now be owned by shard 16, and the moved fraction
    must be far below mod-hashing's ~16/17 (we allow up to 3x the
    ideal 1/17 for vnode variance at 8 vnodes)."""
    from sparkml_spark.registry import QUERIES
    from .conftest import SF_DIR

    rows = QUERIES["pipeline_consistent_hash_ring"](spark, SF_DIR).collect()
    total = sum(r.n_at_16 for r in rows)
    moved = sum(r.n_moved_at_17 for r in rows)
    assert total > 0
    assert moved / total <= 3 / 17, (moved, total)
    # rows are grouped by the OLD owner; every moved doc landed on the
    # new shard, so no OLD shard may appear as a 17-ring owner gain —
    # verified structurally: stayed + moved == n_at_16 per shard
    for r in rows:
        assert r.n_stayed_at_17 + r.n_moved_at_17 == r.n_at_16


@given(
    rows=st.lists(
        st.tuples(
            st.integers(min_value=-50, max_value=50),
            st.integers(min_value=0, max_value=10**6),
        ),
        min_size=1,
        max_size=30,
        unique_by=lambda t: t[1],
    ),
)
@_SETTINGS
def test_rank_two_phase_descending_matches_row_number(spark, rows):
    """rank_two_phase with a DESCENDING primary order (the lift-table
    / power-law configuration) must equal row_number over the same
    total order."""
    from pyspark.sql import Window

    from sparkml_spark.registry import rank_two_phase

    df = spark.createDataFrame(rows, "v INT, id LONG")
    want = {
        (r.id, r.r)
        for r in df.select(
            "id",
            F.row_number()
            .over(Window.orderBy(F.col("v").desc(), F.col("id").asc()))
            .alias("r"),
        ).collect()
    }
    got = {
        (r.id, r.r)
        for r in rank_two_phase(
            df,
            bucket=F.expr("v DIV 7"),
            order_cols=[F.col("v").desc(), F.col("id").asc()],
            bucket_ascending=False,
            out="r",
        )
        .select("id", "r")
        .collect()
    }
    assert got == want


def test_skyline_sweep_matches_dominance_definition(spark):
    """Third oracle for the skyline: recompute the frontier from the
    NAIVE all-pairs dominance definition in plain Python and require
    the sort-based sweep to return exactly that set."""
    from sparkml_spark.registry import QUERIES
    from .conftest import SF_DIR

    pts = {
        (int(round(r.l_extendedprice * 100)), int(r.l_quantity))
        for r in spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .select("l_extendedprice", "l_quantity")
        .collect()
    }
    want = {
        (x, y)
        for x, y in pts
        if not any(
            (qx >= x and qy >= y and (qx > x or qy > y)) for qx, qy in pts
        )
    }
    got = {
        (int(round(r.price * 100)), r.quantity)
        for r in QUERIES["agg_skyline_frontier"](spark, SF_DIR).collect()
    }
    assert got == want


def test_cdc_merge_converges_under_any_split(spark):
    """The claim stream_cdc_apply's oracle rests on: folding the
    change stream through cdc_merge_step over ANY partition of the
    changes, applied in ANY batch order, reaches exactly the one-shot
    cdc_apply_chain state. Exercised over 2/3/4-way hash splits with
    different salts — including reversed application order, so later
    batches carry mostly-older sequence numbers (the stale-update
    adversary the seq-aware merge exists for)."""
    from sparkml_spark.operators.reshape import (
        cdc_apply_chain,
        cdc_finalize,
        cdc_merge_step,
        cdc_state_init,
    )
    from sparkml_spark.registry import QUERIES  # noqa: F401 (registration)
    from sparkml_spark.sources.loader import load_table

    from .conftest import SF_DIR

    from pyspark.sql import functions as F

    d = load_table(spark, SF_DIR, "documents")
    e = load_table(spark, SF_DIR, "events")
    want = sorted(map(tuple, cdc_apply_chain(d, e).collect()))

    cases = [
        (2, 7, False),
        (3, 13, False),
        (4, 31, True),   # reversed: last batch has the LOWEST hash bucket
        (3, 101, True),
    ]
    for n_parts, salt, reverse in cases:
        parts = list(range(n_parts))
        if reverse:
            parts = parts[::-1]
        state = cdc_state_init(d).localCheckpoint(eager=True)
        for p in parts:
            batch = e.filter(
                F.abs(F.hash(F.col("event_id") + salt)) % n_parts == p
            )
            state = cdc_merge_step(state, batch).localCheckpoint(eager=True)
        got = sorted(map(tuple, cdc_finalize(state).collect()))
        assert got == want, f"diverged under split n={n_parts} salt={salt} rev={reverse}"


def test_ab_partial_merge_converges_under_any_split(spark):
    """Same any-split contract for stream_ab_monitor's carried state:
    per-user conversion partials merged by max() over any partition of
    the events must reproduce the one-shot readout exactly."""
    from sparkml_spark.operators.funnels import (
        ab_user_converted,
        ab_ztest_finalize,
        ab_ztest_readout,
    )
    from sparkml_spark.sources.loader import load_table

    from .conftest import SF_DIR

    from pyspark.sql import functions as F

    e = load_table(spark, SF_DIR, "events")
    want = sorted(map(tuple, ab_ztest_readout(e).collect()))

    for n_parts, salt in [(2, 7), (3, 13), (4, 101)]:
        state = None
        for p in range(n_parts):
            partial = ab_user_converted(
                e.filter(F.abs(F.hash(F.col("event_id") + salt)) % n_parts == p)
            )
            if state is None:
                state = partial.localCheckpoint(eager=True)
            else:
                state = (
                    state.withColumnRenamed("converted", "a")
                    .join(partial.withColumnRenamed("converted", "b"),
                          "user_id", "full_outer")
                    .select(
                        "user_id",
                        F.greatest(
                            F.coalesce(F.col("a"), F.lit(0)),
                            F.coalesce(F.col("b"), F.lit(0)),
                        ).alias("converted"),
                    )
                    .localCheckpoint(eager=True)
                )
        got = sorted(map(tuple, ab_ztest_finalize(state).collect()))
        assert got == want, f"diverged under split n={n_parts} salt={salt}"


def test_checkpoint_chain_owns_only_its_rdd(spark):
    """CheckpointChain generation scoping is EXACT (ADVICE r12): a
    cache materialized by the step's own job — or by anything else on
    the shared context between step() calls — must NOT land in the
    chain's generation, so reap() can never free a block it does not
    own (for a foreign localCheckpoint that would be read-after-free,
    the lineage being truncated)."""
    from pyspark import StorageLevel

    from sparkml_spark.session import CheckpointChain

    sc = spark.sparkContext
    chain = CheckpointChain(spark)

    # A foreign cache that materializes DURING the chained step's job.
    foreign = spark.range(1000).selectExpr("id", "id * 3 AS y")
    foreign.persist(StorageLevel.MEMORY_ONLY)
    state = chain.step(spark.range(100).join(foreign, "id"))

    # A foreign localCheckpoint taken BETWEEN step() and reap() — the
    # concurrent-streaming-handler shape the advice called out.
    foreign_ckpt = spark.range(50).localCheckpoint(eager=True)

    state2 = chain.step(state.selectExpr("id", "y + 1 AS y"))
    chain.reap()  # frees only generation 1 (state's own RDD)

    # Both foreign frames must still be readable (their blocks alive).
    assert foreign_ckpt.count() == 50
    assert foreign.count() == 1000
    assert state2.count() == 100

    chain.close()
    foreign.unpersist()
    # The foreign checkpoint block is intentionally NOT the chain's to
    # free; drop it via the registry so the test leaves a clean slate.
    jmap = sc._jsc.getPersistentRDDs()
    for i in list(jmap.keySet().toArray()):
        jrdd = jmap.get(int(i))
        if jrdd is not None:
            jrdd.unpersist(False)


def test_foreach_batch_ops_release_feed_dirs_and_state(spark):
    """The multi-batch feed harness must not accumulate table copies
    in /tmp (ADVICE r12): after a feed-consuming op returns, every
    feed dir it created is deleted, and the foreachBatch state carry
    leaves at most the documented single final block pinned
    (stream_cdc_apply's lazily-returned merge state), which the
    sweep-boundary reaper frees."""
    import os

    import sparkml_spark.streaming.ops as sops
    from sparkml_spark.registry import QUERIES
    from sparkml_spark.session import reap_registered

    from .conftest import SF_DIR

    sc = spark.sparkContext
    pinned_before = {
        int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()
    }

    # Memory-sink path (reaps in _run_to_memory's finally).
    QUERIES["stream_tumbling_agg"](spark, SF_DIR).collect()
    assert sops._FEED_DIRS == []

    # foreachBatch with collected output: everything freed.
    QUERIES["stream_ab_monitor"](spark, SF_DIR).collect()
    assert sops._FEED_DIRS == []
    pinned_now = {
        int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()
    }
    assert pinned_now - pinned_before == set()

    # foreachBatch with a lazily-returned table-sized state: exactly
    # one retained block (the final merge state), feed dirs gone.
    out = QUERIES["stream_cdc_apply"](spark, SF_DIR)
    feed_dirs_left = [d for d in sops._FEED_DIRS if os.path.isdir(d)]
    assert feed_dirs_left == []
    pinned_after = {
        int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()
    }
    assert len(pinned_after - pinned_before) == 1
    assert out.count() > 0  # final state still readable (not reaped)

    # the chain registered that block when it pinned it
    assert reap_registered(spark) >= 1
    pinned_reaped = {
        int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()
    }
    assert pinned_reaped - pinned_before == set()


def test_partsupp_bridge_invariants(spark):
    """The derived partsupp generator's contract (round 13): exactly 4
    rows per part, the 4 suppliers DISTINCT (the constant S DIV 4 step
    guarantees no mod wraparound for any supplier count >= 4 — the
    property that makes the bridge a valid PK relation at every SF),
    every ps_suppkey a real supplier key, and the integer columns
    inside their documented domains."""
    from pyspark.sql import functions as F

    from sparkml_spark.operators.tpch_partsupp import partsupp_df
    from sparkml_spark.sources.loader import load_table

    from .conftest import SF_DIR

    ps = partsupp_df(spark, SF_DIR)
    per_part = ps.groupBy("ps_partkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("ps_suppkey").alias("nd"),
    )
    bad = per_part.filter((F.col("n") != 4) | (F.col("nd") != 4)).count()
    assert bad == 0
    n_parts = load_table(spark, SF_DIR, "part").count()
    assert per_part.count() == n_parts
    supp_keys = load_table(spark, SF_DIR, "supplier").select(
        F.col("s_suppkey").alias("k")
    )
    dangling = ps.join(
        supp_keys, ps.ps_suppkey == F.col("k"), "left_anti"
    ).count()
    assert dangling == 0
    out_of_domain = ps.filter(
        ~F.col("ps_availqty").between(1, 9999)
        | ~F.col("ps_supplycost_cents").between(100, 100099)
    ).count()
    assert out_of_domain == 0
