"""Static gate for the cross-engine text conventions (no JVM).

`registry.py` defines the whitespace tokenizer (`tokens`/`TOKENS_SQL`),
the duplicate-detection content hash (`norm_hash`/`NORM_HASH_SQL`) and
the n-gram start positions (`gram_idx`) once, beside their DuckDB
twins. A copy spelled anywhere else in the package can drift from its
twin and break hash parity, so:
- no package module but registry.py spells either convention, in
  Spark's form or DuckDB's;
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
PRIVATE = {"_tokens", "_TOKENS_SQL", "_norm", "_NORM_SQL", "_gram_idx", "_gram4_idx"}


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
