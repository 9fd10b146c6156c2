"""The benchmark's workloads: inputs, per-pass ops and output checks.

Each op is one call into the package's public surface (``build``,
timed), optionally followed by a force of the DataFrame it returns
(``force``, timed separately): a collect, whose rows are then the
checked output, and which runs on the DataFrame's own
``QueryExecution``. Every output is checked against the DuckDB oracle
on the same inputs after the pass, outside the timed region: row count
plus an order-insensitive normalised value hash, the comparison
``scripts/drive_all.py`` makes.
"""

from __future__ import annotations

import datetime as dt
import decimal
import hashlib
import math
import os
import random
from collections.abc import Callable
from dataclasses import dataclass

import duckdb

import gen_loans

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


@dataclass
class Op:
    name: str
    build: Callable[[], object]
    force: Callable[[object], object] | None  # None: the build is the whole call
    check: Callable[[object], str | None]  # gets the force's result, else the build's


def _norm(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "t" if v else "f"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.9g}"
    if isinstance(v, decimal.Decimal):
        return f"{v:f}"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def fingerprint(rows, cols: list[str]) -> tuple[int, tuple[str, ...], str]:
    """(row count, sorted column names, order-insensitive value hash)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    normed = sorted("\x1f".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\x1e".join(normed).encode()).hexdigest()
    return len(normed), tuple(sorted(cols)), h


def collect_force(df) -> tuple[list, list[str]]:
    return df.collect(), df.columns


def duck_fingerprint(con, sql: str) -> tuple[int, tuple[str, ...], str]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return fingerprint(cur.fetchall(), cols)


def _compare(got, want) -> str | None:
    if got[0] != want[0]:
        return f"rows {got[0]} != {want[0]}"
    if got[1] != want[1]:
        return f"columns {got[1]} != {want[1]}"
    if got[2] != want[2]:
        return "value hash differs"
    return None


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


class RegistryWorkload:
    """``REGISTRY[qid].fn(spark, sf_dir)`` then a collect force, for a
    fixed op list over the repo's testdata tables at scale factor
    ``sf``: a byte-for-byte copy of the TESTDATA.md set under
    ``data/sf<sf>/``. The inputs are fixed; the seed orders the ops."""

    def __init__(self, name: str, ops: list[str], sf: str, nominal_pass_s: float):
        self.name, self.op_ids, self.sf = name, ops, sf
        self.nominal_pass_s = nominal_pass_s
        self.data_dir = os.path.join(DATA, f"sf{sf}")
        self.expected: dict[str, tuple] = {}

    def prepare(self, scratch_dir: str, seed: int) -> dict:
        return {"sf": self.sf, "input_bytes": _dir_bytes(self.data_dir),
                "ops": list(self.op_ids)}

    def compute_expected(self) -> None:
        from duckdb_data_eng_proj_spark.io.sources import TESTDATA_TABLES
        from duckdb_data_eng_proj_spark.queries import REGISTRY

        con = duckdb.connect()
        for t in TESTDATA_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{self.data_dir}/{t}.parquet')")
        for qid in self.op_ids:
            self.expected[qid] = duck_fingerprint(con, REGISTRY[qid].oracle)
        con.close()

    def bind(self, spark) -> None:
        self.spark = spark

    def pass_ops(self, rng: random.Random) -> list[Op]:
        from duckdb_data_eng_proj_spark.queries import REGISTRY

        order = list(self.op_ids)
        rng.shuffle(order)
        return [
            Op(qid, lambda q=qid: REGISTRY[q].fn(self.spark, self.data_dir), collect_force,
               lambda got, q=qid: _compare(fingerprint(*got), self.expected[q]))
            for qid in order
        ]

    def end_pass(self) -> None:
        pass


class LoanEtlWorkload:
    """The paper's job: ``run_pipeline`` (fresh each pass),
    ``export_outputs`` to scratch, the six ``ANALYTICS`` queries forced
    by collecting their rows (the analyst's fetch, and the rows the
    check compares), then the two cached stages unpersisted."""

    name = "loan_etl"
    EXPORTS = {  # exported frame -> its oracle
        "cleaned_applications": "etl_clean_apps",
        "loan_portfolio": "etl_portfolio",
        "data_quality_report": "etl_quality_report",
    }

    nominal_pass_s = 10.0

    def __init__(self, n_apps: int):
        self.n_apps = n_apps
        self.expected: dict[str, tuple] = {}
        self.result = self.exported = self.verdict = None

    def prepare(self, data_dir: str, seed: int) -> dict:
        self.data_dir = data_dir
        self.paths = gen_loans.generate(data_dir, self.n_apps, seed)
        self.export_dir = os.path.join(data_dir, "export")
        return {"n_apps": self.n_apps, "input_bytes": _dir_bytes(data_dir),
                "ops": ["pipeline", "export", "q0", "q1", "q2", "q3", "q4", "q5"]}

    def compute_expected(self) -> None:
        from duckdb_data_eng_proj_spark.etl.oracle_sql import _oracles

        sqls = _oracles(self.data_dir)
        con = duckdb.connect()
        for qid in [*self.EXPORTS.values()] + [f"etl_q{i}" for i in range(6)]:
            self.expected[qid] = duck_fingerprint(con, sqls[qid])
        self.types = {
            name: con.execute(f"DESCRIBE {sqls[qid]}").fetchall()
            for name, qid in self.EXPORTS.items()
        }
        con.close()

    def bind(self, spark) -> None:
        self.spark = spark

    def _run_pipeline(self):
        from duckdb_data_eng_proj_spark.etl import run_pipeline
        from duckdb_data_eng_proj_spark.queries.etl_composites import _AS_OF, _RUN_TS

        self.result = run_pipeline(self.spark, self.paths["applications"],
                                   self.paths["lms"], run_ts=_RUN_TS, as_of_date=_AS_OF)
        self.exported, self.verdict = None, None
        return self.result

    def _export(self) -> dict:
        from duckdb_data_eng_proj_spark.etl.export import export_outputs

        self.exported = export_outputs(self.result, self.export_dir)
        return self.exported

    def _read_back(self, con, name: str, path: str):
        """The exported CSV, typed like the oracle: every non-text
        column cast to the oracle's type; the id list, which the writer
        renders as DuckDB list text ``[a, b, NULL]``, re-serialised as
        the oracle's JSON."""
        cols = []
        for col, typ, *_ in self.types[name]:
            q = f'"{col}"'
            if col == "problematic_application_ids":
                cols.append(f"to_json(list_transform(string_split(trim({q}, '[]'), ', '), "
                            f"x -> CASE WHEN x = 'NULL' THEN NULL ELSE x END)) AS {q}")
            elif typ in ("VARCHAR", "JSON"):
                cols.append(q)
            else:
                cols.append(f"CAST({q} AS {typ}) AS {q}")
        return duck_fingerprint(con, (
            f"SELECT {', '.join(cols)} FROM read_csv('{path}', header=true, "
            "all_varchar=true, delim=',', quote='\"', escape='\"', "
            "allow_quoted_nulls=false)"))

    def _check_export(self, paths: dict) -> str | None:
        if self.verdict is None:  # once per pass, shared with the pipeline
            con = duckdb.connect()
            try:
                self.verdict = ("ok", None)
                for name, oracle in self.EXPORTS.items():
                    bad = _compare(self._read_back(con, name, paths[name]),
                                   self.expected[oracle])
                    if bad:
                        self.verdict = ("bad", f"{name}: {bad}")
                        break
            finally:
                con.close()
        return self.verdict[1]

    def _check_pipeline(self, p) -> str | None:
        """The pipeline's outputs are its three frames. This pass's
        export wrote exactly those, so they are checked as read back
        from the export files: no second Spark job per frame."""
        if self.exported is None:
            return "outputs not exported in this pass"
        return self._check_export(self.exported)

    def _analytics(self, q: str):
        from duckdb_data_eng_proj_spark.etl.analytics import ANALYTICS

        p = self.result
        if q == "q0":
            return ANALYTICS[q](p.loan_portfolio, p.data_quality_report)
        return ANALYTICS[q](p.loan_portfolio)

    def pass_ops(self, rng: random.Random) -> list[Op]:
        qs = [f"q{i}" for i in range(6)]
        rng.shuffle(qs)
        return [
            Op("pipeline", self._run_pipeline, None, self._check_pipeline),
            Op("export", self._export, None, self._check_export),
        ] + [
            Op(q, lambda q=q: self._analytics(q), collect_force,
               lambda got, q=q: _compare(fingerprint(*got), self.expected[f"etl_{q}"]))
            for q in qs
        ]

    def end_pass(self) -> None:
        if self.result is not None:
            self.result.cleaned_applications.unpersist(blocking=True)
            self.result.lms_cleaned.unpersist(blocking=True)
            self.result = None


TPCH_OPS = ["tpch_q1", "tpch_q2", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q9",
            "tpch_q18", "tpch_q21"]
LLM_OPS = ["dedup_minhash_lsh", "dedup_containment", "ts_ewma"]

WORKLOADS: dict[str, Callable[[], object]] = {
    "loan_etl": lambda: LoanEtlWorkload(n_apps=2_000),
    "olap_tpch": lambda: RegistryWorkload("olap_tpch", TPCH_OPS, sf="0.01",
                                          nominal_pass_s=8.0),
    "llm_ops": lambda: RegistryWorkload("llm_ops", LLM_OPS, sf="0.01", nominal_pass_s=6.5),
}
