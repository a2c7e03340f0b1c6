"""Correctness checks: engine state against the repository's oracles.

- Replay state is compared with ``tests.replay_oracle.oracle_fold`` over
  the same event log, as an order-insensitive digest. The oracle digest
  is computed once per log and compared with every replay of it.
- Entity tables and point lookups are compared with
  ``tests.test_multi_entity._oracle`` over the epochs applied so far.

All of this runs outside the timed region and outside set-up time.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd


def _canon(v):
    """One cell as a plain, hashable Python value."""
    if v is None:
        return None
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, (float, np.floating)):
        if math.isnan(v):
            return None
        return int(v) if float(v).is_integer() else float(v)
    if isinstance(v, (np.integer, int)):
        return int(v)
    if v is pd.NA:
        return None
    return str(v)


def state_digest(pdf: pd.DataFrame) -> dict:
    """Order-insensitive digest of a table state: its column names, its
    row count and a hash over the sorted per-row hashes."""
    cols = list(pdf.columns)
    rows = sorted(
        hashlib.sha1(repr(tuple(_canon(v) for v in r)).encode()).hexdigest()
        for r in pdf.itertuples(index=False, name=None)
    )
    return {"columns": cols, "rows": len(rows),
            "sha1": hashlib.sha1("".join(rows).encode()).hexdigest()}


def binlog_oracle_digest(spark, binlog_path: str, max_lsn: int | None = None) -> dict:
    """Digest of ``oracle_fold`` over the log (or its prefix up to and
    including ``max_lsn``)."""
    from pyspark.sql import functions as F

    from tests.replay_oracle import oracle_fold

    ev = spark.read.parquet(binlog_path)
    if max_lsn is not None:
        ev = ev.filter(F.col("event_lsn") <= max_lsn)
    pdf = ev.toPandas()
    pdf["schema_change"] = pdf["schema_change"].map(
        lambda r: None if r is None else (r if isinstance(r, dict) else r.asDict())
    )
    return state_digest(oracle_fold(pdf))


def table_digest(table, tamper: bool = False) -> dict:
    """Digest of a lake table's current state. ``tamper`` drops one row
    first; the benchmark's self-test uses it to prove a wrong state fails."""
    pdf = table.read().toPandas().sort_values(table.key).reset_index(drop=True)
    if tamper and len(pdf):
        pdf = pdf.iloc[1:]
    return state_digest(pdf)


# ----------------------------------------------------------------- entities
def entity_oracle(rows: list[dict], upto_epoch: int) -> dict[str, dict]:
    """Oracle state of the three entity tables after epochs <= upto_epoch."""
    from tests.test_multi_entity import _oracle

    genes, alleles, diseases = _oracle([r for r in rows if r["epoch"] <= upto_epoch])
    return {"gene": genes, "allele": alleles, "disease_annotation": diseases}


def rows_match(got_rows, expected: dict[str, dict], key: str) -> bool:
    """Engine rows (Spark Rows) equal the oracle's {key: row} exactly, on
    the oracle's columns. An empty list and a null array compare equal,
    as in the repository's own multi-entity test."""
    got = {r[key]: r.asDict() for r in got_rows}
    if set(got) != set(expected):
        return False
    for k, exp in expected.items():
        g = got[k]
        for col, v in exp.items():
            gv = g.get(col)
            if isinstance(v, list) or isinstance(gv, list):
                if list(gv or []) != list(v or []):
                    return False
            elif gv != v:
                return False
    return True
