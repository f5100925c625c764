"""Result checks, run outside every timed region.

- An ORACLE-tier id must hash-match its DuckDB `oracle_sql()` twin,
  compared the way `scripts/driver_sim.py` compares them.
- A `*_bound` pin must return its single zero.
- A ROWS-tier id must return the same row count and hash on every pass
  and in every run of the same program over the same fixtures.

Spark results are digested as they arrive; the DuckDB side runs after
the measured passes. Digests are kept in `cache_dir`, keyed by the
fixture files' size and mtime and by what produces the reference: the
oracle SQL and the DuckDB version for an ORACLE-tier id (some oracles
take longer than a whole run's passes), the program's source for a
ROWS-tier id (the first run of a program records the reference that
later runs must match).
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import asdict, dataclass, field
from functools import cached_property
from pathlib import Path

from driver_sim import canon, pandas_rows, value_hash

from sparkml_spark.registry import ORACLES, ZERO_VIOLATIONS

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


@dataclass
class Digest:
    cols: list
    rows: int
    hash: str
    pin_zero: bool | None = None


def digest(qid: str, pdf) -> Digest:
    """Digest one Spark result. Raises where the driver's own
    canonicalizer would (array cells in an ORACLE-tier result)."""
    if qid in ORACLES:
        pdf = canon(pdf)
    cols = list(pdf.columns)
    rows = pandas_rows(pdf)
    pin = rows == [(0,)] if ORACLES.get(qid) == ZERO_VIOLATIONS else None
    return Digest(cols, len(rows), value_hash(cols, rows), pin)


@dataclass
class Checker:
    sf_dir: str
    program_dir: Path
    cache_dir: Path
    results: list = field(default_factory=list)  # (qid, Digest | Exception)

    def record(self, qid: str, result) -> None:
        self.results.append((qid, result))

    def failures(self) -> list[str]:
        """One line per failed execution, in execution order."""
        oracle = self._oracle_digests()
        first = self._rows_references()
        out = []
        for qid, d in self.results:
            if isinstance(d, Exception):
                out.append(f"{qid}: raised {type(d).__name__}: {d}")
                continue
            ref = oracle.get(qid)
            if isinstance(ref, Exception):
                out.append(f"{qid}: oracle raised {type(ref).__name__}: {ref}")
            elif d.pin_zero is False:
                out.append(f"{qid}: bound pin is not zero")
            elif ref is not None and (
                d.rows != ref.rows or sorted(d.cols) != sorted(ref.cols) or d.hash != ref.hash
            ):
                out.append(
                    f"{qid}: oracle mismatch (rows {d.rows} vs {ref.rows}, "
                    f"hash {d.hash[:10]} vs {ref.hash[:10]})"
                )
            elif (d.rows, d.hash) != (first.setdefault(qid, d).rows, first[qid].hash):
                out.append(
                    f"{qid}: result differs from its first (rows {d.rows} vs {first[qid].rows}, "
                    f"hash {d.hash[:10]} vs {first[qid].hash[:10]})"
                )
        self._save_rows_references(first)
        return out

    def _cache_path(self, qid: str, producer: str) -> Path:
        key = hashlib.sha256(producer.encode())
        for t in TABLES:
            st = os.stat(f"{self.sf_dir}/{t}.parquet")
            key.update(f"\0{t}:{st.st_size}:{st.st_mtime_ns}".encode())
        return self.cache_dir / f"{qid}-{key.hexdigest()[:16]}.json"

    def _oracle_path(self, qid: str) -> Path:
        import duckdb

        return self._cache_path(qid, f"{ORACLES[qid]}\0{duckdb.__version__}")

    @cached_property
    def _program_hash(self) -> str:
        h = hashlib.sha256()
        for path in sorted(self.program_dir.rglob("*.py")):
            h.update(f"{path.relative_to(self.program_dir)}\0".encode())
            h.update(path.read_bytes())
        return h.hexdigest()

    def _rows_path(self, qid: str) -> Path:
        return self._cache_path(qid, f"ROWS\0{self._program_hash}")

    def _rows_qids(self) -> set[str]:
        return {q for q, d in self.results if q not in ORACLES and isinstance(d, Digest)}

    def _rows_references(self) -> dict[str, Digest]:
        out = {}
        for qid in self._rows_qids():
            path = self._rows_path(qid)
            if path.exists():
                out[qid] = Digest(**json.loads(path.read_text()))
        return out

    def _save_rows_references(self, refs: dict[str, Digest]) -> None:
        self.cache_dir.mkdir(parents=True, exist_ok=True)
        for qid in self._rows_qids():
            path = self._rows_path(qid)
            if qid in refs and not path.exists():
                path.write_text(json.dumps(asdict(refs[qid])))

    def _oracle_digests(self) -> dict:
        import duckdb

        out = {}
        todo = []
        for qid in sorted({q for q, _ in self.results if q in ORACLES}):
            path = self._oracle_path(qid)
            if path.exists():
                out[qid] = Digest(**json.loads(path.read_text()))
            else:
                todo.append((qid, path))
        if not todo:
            return out
        self.cache_dir.mkdir(parents=True, exist_ok=True)
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            for qid, path in todo:
                try:
                    pdf = canon(con.execute(ORACLES[qid]).df())
                except Exception as exc:  # reported per execution as a failure
                    out[qid] = exc
                    continue
                cols = list(pdf.columns)
                rows = pandas_rows(pdf)
                out[qid] = Digest(cols, len(rows), value_hash(cols, rows))
                path.write_text(json.dumps(asdict(out[qid])))
        finally:
            con.close()
        return out
