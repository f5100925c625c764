"""Case mapping runs in the JVM, not through ICU (session.PERF_SQL_CONFS).

The conf only removes ICU's first-use load if the engine's outputs do
not depend on it: the fixtures' strings are pure ASCII, which both paths
map with the same fast path, and on non-ASCII strings `lower`/`upper`
agree between ICU and the JVM. A Spark upgrade that splits the two
paths fails here.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkml_spark.sources.loader import TABLES, load_table

from .conftest import SF_DIR

ICU = "spark.sql.icu.caseMappings.enabled"

NON_ASCII = [
    "Straße",
    "ΟΔΟΣ ΣΑΣ",  # final sigma
    "İstanbul IŞIK",
    "ǅ ǈ",
    "ẞ",
    "ΌΣΟΣ.",
    "Ω K Å",
    "ＡＢＣ",
    "ﬃ",
]

#: initcap's two paths already differ here: ICU title-cases the word
#: as a unit, the JVM path upper-cases its first code point only. No
#: query applies initcap, and no fixture string is non-ASCII.
INITCAP_SPLIT = {"İstanbul IŞIK", "ẞ", "ﬃ"}


def test_loaded_session_maps_case_without_icu(spark):
    load_table(spark, SF_DIR, "documents")
    assert spark.conf.get(ICU) == "false"


def test_case_mapping_paths_agree(spark):
    df = spark.createDataFrame([(s,) for s in NON_ASCII], "s string")
    cols = [F.lower("s"), F.upper("s"), F.initcap("s")]
    out = {}
    try:
        for icu in ("true", "false"):
            spark.conf.set(ICU, icu)
            out[icu] = [tuple(r) for r in df.select("s", *cols).collect()]
    finally:
        spark.conf.set(ICU, "false")
    for (s, lo, up, ti), (_, lo2, up2, ti2) in zip(out["true"], out["false"]):
        assert (lo, up) == (lo2, up2), s
        assert (ti == ti2) == (s not in INITCAP_SPLIT), (s, ti, ti2)


def test_fixture_strings_are_ascii(duck):
    for t in TABLES:
        for col, typ, *_ in duck.execute(f"DESCRIBE {t}").fetchall():
            if typ != "VARCHAR":
                continue
            n = duck.execute(
                f"SELECT count(*) FROM {t} WHERE regexp_matches(\"{col}\", '[^\\x00-\\x7F]')"
            ).fetchone()[0]
            assert n == 0, (t, col, n)
