"""Static gate for the cross-engine text and vector conventions (no JVM).

`registry.py` defines the whitespace tokenizer (`tokens`/`TOKENS_SQL`),
the duplicate-detection content hash (`norm_hash`/`NORM_HASH_SQL`), the
n-gram start positions (`gram_idx`), the int8 vector grid (`q8`) and
the vector folds (`idot`, `isqdist`, `dot`, `sqnorm`) once, beside
their DuckDB twins. A copy spelled anywhere else in the package can
drift from its twin and break hash parity, so:
- no package module but registry.py spells a text convention, the
  int8 grid or a vector product fold, in Spark's form or DuckDB's;
- no module of the package, its tests or its scripts imports the
  private helpers they replaced.
"""

from __future__ import annotations

import ast
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "sparkml_spark")

#: split(lower(trim(...))) / string_split_regex(lower(trim(...))), and
#: md5(lower(trim(regexp_replace(...)))), with or without `F.`.
SPELLINGS = re.compile(
    r"(?:\bsplit|\bstring_split_regex)\(\s*(?:F\.)?lower\(\s*(?:F\.)?trim\("
    r"|\bmd5\(\s*(?:F\.)?lower\(\s*(?:F\.)?trim\(\s*(?:F\.)?regexp_replace\("
)
#: The int8 grid, `* F.lit(127.0) + F.lit(0.5)` or `* 127[.0] + 0.5`,
#: and DuckDB's list product fold `list_sum(list_transform(list_zip(`.
VECTOR_SPELLINGS = re.compile(
    r"\*\s*(?:F\.lit\(\s*)?127(?:\.0)?\s*\)?\s*\+\s*(?:F\.lit\(\s*)?0\.5"
    r"|\blist_sum\(\s*list_transform\(\s*list_zip\("
)
PRIVATE = {
    "_tokens", "_TOKENS_SQL", "_norm", "_NORM_SQL", "_gram_idx", "_gram4_idx",
    "_dot", "_DOT_SQL", "_Q8_SQL", "_IDOT_SQL", "_SEM_Q8_SQL",
}


def _sources(*dirs):
    for top in dirs:
        for root, _, files in os.walk(top):
            for name in sorted(files):
                if name.endswith(".py"):
                    path = os.path.join(root, name)
                    with open(path) as fh:
                        yield os.path.relpath(path, top), fh.read()


def test_only_registry_spells_text_conventions():
    sites = [
        f"{rel}:{src.count(chr(10), 0, m.start()) + 1} {m.group(0)}"
        for rel, src in _sources(PKG)
        if rel != "registry.py"
        for m in SPELLINGS.finditer(src)
    ]
    assert sites == [], f"{len(sites)} copies outside registry.py:\n" + "\n".join(sites)


def _calls(src, name):
    """(offset, argument text) of each `name(` call, up to its matching
    parenthesis."""
    for m in re.finditer(rf"\b{name}\(", src):
        depth, i = 1, m.end()
        while depth and i < len(src):
            depth += {"(": 1, ")": -1}.get(src[i], 0)
            i += 1
        yield m.start(), src[m.end() : i - 1]


def _vector_sites(src):
    """Offsets and snippets of the vector spellings in `src`: the int8
    grid, DuckDB's list product fold, a Spark `zip_with` whose lambda
    multiplies, and a DuckDB per-dimension `SUM` over array elements
    indexed by an exploded `range` column (`v[i.i]`)."""
    for m in VECTOR_SPELLINGS.finditer(src):
        yield m.start(), m.group(0)
    for at, arg in _calls(src, "zip_with"):
        if "*" in arg:
            yield at, "zip_with(" + arg
    for at, arg in _calls(src, "SUM"):
        if re.search(r"\w\[\w+\.\w+\]", arg):
            yield at, "SUM(" + arg


def test_only_registry_spells_vector_conventions():
    sites = [
        f"{rel}:{line} {' '.join(text.split())[:70]}"
        for rel, src in _sources(PKG)
        if rel != "registry.py"
        for line, text in sorted(
            (src.count(chr(10), 0, at) + 1, text) for at, text in _vector_sites(src)
        )
    ]
    assert sites == [], f"{len(sites)} copies outside registry.py:\n" + "\n".join(sites)


def test_no_private_convention_imports():
    imports = [
        f"{rel}:{node.lineno} {alias.name}"
        for rel, src in _sources(PKG, os.path.join(ROOT, "tests"), os.path.join(ROOT, "scripts"))
        for node in ast.walk(ast.parse(src, rel))
        if isinstance(node, ast.ImportFrom)
        for alias in node.names
        if alias.name in PRIVATE
    ]
    assert imports == [], imports
