"""Oracle gate: compare a query's Spark result with its DuckDB oracle.

The comparison is ``tools/check.py``'s — column names, engine-declared
types, row count, then exact multiset equality of type-tagged values — and
reuses its helpers by import.  The Spark rows come from the Arrow batches
the timed ``toPandas()`` already converted, so the gate executes nothing on
Spark.

An oracle's normalized result is a pure function of the data, the SQL, the
DuckDB version and ``tools/check.py``'s normalization, so it is kept on disk
under a key hashed from all four and computed once per checkout instead of
once per run.  A verdict is a pure function of that and of the Spark result,
so a result that passed is remembered by a sha256 of its Arrow bytes: a
later run whose result is byte-identical skips the Python normalization of
its rows (seconds for the 100k-row results).  Any other result, and every
failure, is compared in full.
"""

from __future__ import annotations

import hashlib
import os
import pickle
from collections import Counter
from pathlib import Path

import duckdb

from tools.check import TABLE_NAMES, to_multiset, type_problems


class OracleGate:
    def __init__(
        self, sf_dir: str, oracles: dict[str, str], cache_dir: Path, data_key: str, root: Path
    ) -> None:
        self._oracles = oracles
        self._cache_dir = cache_dir
        check_py = hashlib.sha256((root / "tools" / "check.py").read_bytes()).hexdigest()
        self._key = f"{data_key}\0{check_py}\0{duckdb.__version__}"
        self._con = duckdb.connect()
        for t in TABLE_NAMES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                self._con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    def close(self) -> None:
        self._con.close()

    def _oracle_rows(self, rel, sql: str) -> Counter:
        key = hashlib.sha256(f"{self._key}\0{sql}".encode())
        path = self._cache_dir / f"{key.hexdigest()}.pickle"
        if path.exists():
            return pickle.loads(path.read_bytes())
        rows = to_multiset(rel.columns, rel.fetchall())
        self._cache_dir.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(f".{os.getpid()}.tmp")
        tmp.write_bytes(pickle.dumps(rows))
        tmp.replace(path)
        return rows

    def _passed_path(self, sql: str, columns: list[str], schema, table) -> Path:
        import pyarrow as pa

        h = hashlib.sha256(f"{self._key}\0{sql}\0{columns}\0{schema.json()}".encode())
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, table.schema) as writer:
            writer.write_table(table)
        h.update(sink.getvalue())
        return self._cache_dir / f"passed-{h.hexdigest()}"

    def problems(self, name: str, columns: list[str], schema, batches: list) -> list[str]:
        """Mismatches between the Spark result and the oracle; empty when equal."""
        import pyarrow as pa

        if name not in self._oracles:
            return ["no oracle"]
        sql = self._oracles[name]
        passed = None
        srows: list[tuple] = []
        if batches:
            table = pa.Table.from_batches(batches)
            passed = self._passed_path(sql, columns, schema, table)
            if passed.exists():
                return []
            srows = list(zip(*(col.to_pylist() for col in table.columns)))
        rel = self._con.sql(sql)  # binds only; executes on fetch
        oracle_rows = self._oracle_rows(rel, sql)
        problems = []
        if sorted(columns) != sorted(rel.columns):
            problems.append(f"cols spark={sorted(columns)} oracle={sorted(rel.columns)}")
        bad_types = type_problems(columns, schema, rel.columns, rel.types)
        if bad_types:
            problems.append("types " + "; ".join(bad_types))
        n_oracle = sum(oracle_rows.values())
        if len(srows) != n_oracle:
            problems.append(f"rowcount spark={len(srows)} oracle={n_oracle}")
        if not problems:
            spark_rows = to_multiset(columns, srows)
            if spark_rows != oracle_rows:
                n_diff = sum((spark_rows - oracle_rows).values())
                problems.append(f"values differ in {n_diff} rows")
        if passed is not None and not problems:
            passed.touch()
        return problems
