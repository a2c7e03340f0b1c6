"""Arrow-native state-colocated MERGE — the engine's fast sink path.

The pure-JVM merge (LakeTable.merge) expresses the upsert as winners-agg
+ semi-join + full-outer join + repartition: ~8 stages per micro-batch,
and at micro-batch cadence the inter-stage barriers dominate wall time
(measured: ~2s of scheduling gaps per segment vs ~1.7s of work at 16
cores). This module collapses the whole merge into TWO stages:

  stage 1: scan the segment's events, project the changeset columns,
           hash-shuffle by target bucket (pmod(xxhash64(key), N) — the
           same function that lays out the table, so a batch row lands
           exactly where its state row lives);
  stage 2: one ``applyInPandas`` task per touched bucket:
           - reads the bucket's CURRENT state parquet directly with
             pyarrow (the state never crosses the JVM at all),
           - projects old-schema files onto the current schema by field
             id (rename/null-fill/widen — Iceberg-style),
           - LWW-folds state (lsn = -1) + batch rows per key
             (vectorized idxmax; exact (key, lsn) re-delivery dedup is
             free because bucket co-location puts all copies in the
             same group),
           - applies deletes, writes the new bucket file itself
             (atomic tmp+rename), and returns a one-row manifest.

This IS the north rule's "salted repartitioning + two-phase local/
global merge-apply in vectorized Arrow/pandas UDFs": phase 1 routes
globally by bucket, phase 2 merge-applies locally. The reference analog
is the per-provider-pair routed, conflict-free scheduled load
(src/etl/orthology_etl.py:142-153, 197-225) — re-expressed so the
"schedule" is just a hash partitioner.

Scale notes: one shuffle of the batch (never the state), state I/O is
bucket-local and embarrassingly parallel, and task count == touched
buckets, so a 1000-executor cluster keeps every core on its own bucket
set. Task retries are safe: files land under the not-yet-committed
snapshot dir with deterministic names; the commit references only what
the driver collected.
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ..operators.dedup import MIN_LSN_COL

if TYPE_CHECKING:  # pragma: no cover
    from .table import ColumnSpec

MANIFEST_SCHEMA = (
    "bucket int, path string, n_rows long, n_upserts long, n_deletes long, "
    "min_lsn long, max_lsn long, n_dups long"
)

_ARROW_TYPES = {
    "string": pa.string(),
    "int": pa.int32(),
    "bigint": pa.int64(),
    "long": pa.int64(),
    "double": pa.float64(),
    "float": pa.float32(),
    "boolean": pa.bool_(),
    "array<int>": pa.list_(pa.int32()),
    "array<bigint>": pa.list_(pa.int64()),
    "array<string>": pa.list_(pa.string()),
    "array<float>": pa.list_(pa.float32()),
    "array<double>": pa.list_(pa.float64()),
}


def arrow_type(ddl: str) -> pa.DataType:
    try:
        return _ARROW_TYPES[ddl.strip().lower()]
    except KeyError:
        raise ValueError(f"unsupported column type for arrow sink: {ddl!r}")


def arrow_schema(cols: list) -> pa.Schema:
    return pa.schema([pa.field(c.name, arrow_type(c.type)) for c in cols])


def read_bucket_state(
    files: list[dict],
    schema_versions: dict[int, list],
    current: list,
    root: str,
) -> pa.Table | None:
    """Read a bucket's parquet files, projecting each onto the current
    schema by field id (rename / null-fill / widen)."""
    out_schema = arrow_schema(current)
    tables = []
    for fe in files:
        t = pq.read_table(os.path.join(root, fe["path"]))
        old_cols = {c.id: c for c in schema_versions[fe["schema_version"]]}
        arrays = []
        for c in current:
            o = old_cols.get(c.id)
            if o is None:
                arrays.append(pa.nulls(len(t), arrow_type(c.type)))
            else:
                arrays.append(t.column(o.name).cast(arrow_type(c.type)))
        tables.append(pa.Table.from_arrays(arrays, schema=out_schema))
    if not tables:
        return None
    return pa.concat_tables(tables)


def make_bucket_fold(
    root: str,
    stage_rel: str,
    key: str,
    current: list,
    schema_versions: dict[int, list],
    bucket_files: dict[int, list[dict]],
    op_col: str,
    lsn_col: str,
    bucket_col: str,
    update_only: bool = False,
    precombined: bool = False,
):
    """Build the applyInPandas function for one micro-batch merge.

    Everything captured here is tiny metadata (column specs + file
    lists); the heavy inputs (batch rows, state files) stay distributed.

    ``precombined``: the changeset already went through
    operators.dedup.precombine_lww — at most one winner row per key per
    map partition, carrying ``__min_lsn`` (PRECOMBINE_COLS) for the
    per-bucket offset range. The fold then skips its own (key, lsn)
    pair-dedup (the per-key LWW mask resolves cross-partition survivors).
    Re-delivery dedup counters are unmeasurable after the local collapse:
    the runner supplies them via lineage — approx by default, exact with
    ``exact_counts=True`` — and n_upserts counts APPLIED upserts (winner
    rows written), which stays exact. LWW vs state and delete routing
    are unchanged.
    """
    names = [c.name for c in current]
    out_pa_schema = arrow_schema(current)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(pdf[bucket_col].iloc[0])
        if precombined:
            # the local combine already dropped the loser/duplicate rows
            # this fold would have counted — re-delivery multiplicity is
            # unmeasurable here. n_dups=0 is NOT recorded as a dup count:
            # the runner sends approx (or exact_counts=True planning-pass)
            # counters through lineage and merge() omits/overrides this.
            # The per-bucket offset range IS still exact via __min_lsn.
            b_min_lsn = int(pdf[MIN_LSN_COL].min())
            b_max_lsn = int(pdf[lsn_col].max())
            n_dups = 0
        else:
            # per-partition lineage: the source-offset range this bucket
            # absorbed in this micro-batch (north rule: offset -> snapshot)
            b_min_lsn = int(pdf[lsn_col].min())
            b_max_lsn = int(pdf[lsn_col].max())
            # exact re-delivery dedup: co-location guarantees all copies of a
            # (key, lsn) pair are in this group. The dropped count is exact
            # and free here, so the planning pass never decodes doc_id
            # (see ReplayRunner._plan).
            n_before = len(pdf)
            pdf = pdf.drop_duplicates(subset=[key, lsn_col])
            n_dups = n_before - len(pdf)

        state = read_bucket_state(bucket_files.get(bucket, []), schema_versions,
                                  current, root)
        state_keys = None
        if state is not None and len(state):
            sdf = state.to_pandas(types_mapper=None)
            if update_only:
                state_keys = set(sdf[key])
            sdf[op_col] = "U"
            sdf[lsn_col] = -1
            pdf = pd.concat([sdf, pdf[names + [op_col, lsn_col]]], ignore_index=True)
        else:
            pdf = pdf[names + [op_col, lsn_col]]

        # LWW: keep the max-lsn row per key (state rows at lsn=-1 lose to
        # any event), then drop keys whose winning op is a delete
        win = pdf.loc[pdf.groupby(key, sort=False)[lsn_col].idxmax()]
        n_deletes_applied = int((win[op_col] == "D").sum())
        win = win[win[op_col] == "U"][names]
        if update_only:
            # matched-only patch: a winning upsert for a key NOT already
            # in this bucket's state is dropped, never inserted
            win = win[win[key].isin(state_keys)] if state_keys else win.iloc[0:0]

        bdir = os.path.join(root, stage_rel, f"{bucket_col}={bucket}")
        os.makedirs(bdir, exist_ok=True)
        rel_path = None
        if len(win):
            # deterministic name + atomic rename: a retried task simply
            # replaces the identical file
            final = os.path.join(bdir, "part-0.parquet")
            tmp = final + ".inprogress"
            table = pa.Table.from_pandas(win, schema=out_pa_schema,
                                         preserve_index=False)
            pq.write_table(table, tmp, compression="snappy")
            os.replace(tmp, final)
            rel_path = os.path.join(stage_rel, f"{bucket_col}={bucket}", "part-0.parquet")
        return pd.DataFrame(
            {
                "bucket": pd.array([bucket], dtype="int32"),
                "path": [rel_path],
                "n_rows": pd.array([len(win)], dtype="int64"),
                # uncombined: deduped batch events with op U (post-dedup
                # rows minus state). Precombined: distinct U events are
                # uncountable post-collapse, so count APPLIED upserts —
                # winner rows actually written — which is exact here.
                "n_upserts": pd.array(
                    [len(win) if precombined
                     else int((pdf[op_col] == "U").sum()
                              - (len(state) if state is not None else 0))],
                    dtype="int64"),
                "n_deletes": pd.array([n_deletes_applied], dtype="int64"),
                "min_lsn": pd.array([b_min_lsn], dtype="int64"),
                "max_lsn": pd.array([b_max_lsn], dtype="int64"),
                "n_dups": pd.array([n_dups], dtype="int64"),
            }
        )

    return fold


def make_bucket_fold_arrow(
    root: str,
    stage_rel: str,
    key: str,
    current: list,
    schema_versions: dict[int, list],
    bucket_files: dict[int, list[dict]],
    op_col: str,
    lsn_col: str,
    bucket_col: str,
    update_only: bool = False,
    precombined: bool = False,
):
    """Arrow-END-TO-END variant of :func:`make_bucket_fold` for Spark's
    ``applyInArrow`` (pyspark >= 4.0): the batch arrives as a
    ``pa.Table``, state is read as a ``pa.Table``, and LWW winner
    selection is one stable sort + two boolean masks — the payload
    columns (token arrays) are NEVER converted to pandas. The pandas
    fold boxes every list value into a per-row numpy object (~2 extra
    full copies of the state per merge plus per-row allocation); at
    100 TB the fold is memory-bandwidth-bound, so those copies are the
    sink's dominant avoidable cost. Semantics are identical (see
    tests/test_lake.py::test_arrow_and_pandas_folds_equal):

      sort (key asc, lsn desc, stable) ->
      mask 1: first occurrence per (key, lsn)  == re-delivery dedup
      mask 2: first occurrence per key         == max-lsn LWW winner
      winners with op 'D' are dropped (counted), op 'U' written.
    """
    import pyarrow.compute as pc

    names = [c.name for c in current]
    out_pa_schema = arrow_schema(current)
    combined_fields = list(out_pa_schema) + [
        pa.field(op_col, pa.string()), pa.field(lsn_col, pa.int64()),
    ]
    combined_schema = pa.schema(combined_fields)

    def _first_mask(arr: pa.ChunkedArray | pa.Array, n: int) -> np.ndarray:
        """Boolean mask: True where row i differs from row i-1."""
        neq = pc.not_equal(arr.slice(1), arr.slice(0, n - 1))
        out = np.empty(n, dtype=bool)
        out[0] = True
        out[1:] = neq.to_numpy(zero_copy_only=False)
        return out

    def fold(t: pa.Table) -> pa.Table:
        bucket = t.column(bucket_col)[0].as_py()
        lsn_raw = t.column(lsn_col).cast(pa.int64())
        if precombined:
            # re-delivery dedup counters come from the runner's planning
            # pass via lineage (approx, or exact with exact_counts=True;
            # see the pandas fold above); only the per-bucket offset
            # range is measured here
            b_min_lsn = pc.min(t.column(MIN_LSN_COL)).as_py()
            b_max_lsn = pc.max(lsn_raw).as_py()
            pre_n_dups = 0
        else:
            b_min_lsn = pc.min(lsn_raw).as_py()
            b_max_lsn = pc.max(lsn_raw).as_py()
        batch = pa.Table.from_arrays(
            [t.column(c.name).cast(arrow_type(c.type)) for c in current]
            + [t.column(op_col).cast(pa.string()), lsn_raw],
            schema=combined_schema,
        )

        state = read_bucket_state(bucket_files.get(bucket, []), schema_versions,
                                  current, root)
        n_state = 0
        state_keys = None
        if state is not None and len(state):
            n_state = len(state)
            # constant op='U' / lsn=-1 columns, built arrow-native
            op_arr = pc.fill_null(pa.nulls(n_state, pa.string()), "U")
            lsn_arr = pc.fill_null(pa.nulls(n_state, pa.int64()), -1)
            state_t = pa.Table.from_arrays(
                [state.column(c.name) for c in current] + [op_arr, lsn_arr],
                schema=combined_schema,
            )
            if update_only:
                state_keys = state.column(key).combine_chunks()
            combined = pa.concat_tables([state_t, batch])
        else:
            combined = batch

        n = len(combined)
        idx = pc.sort_indices(
            combined,
            sort_keys=[(key, "ascending"), (lsn_col, "descending")],
        )
        srt = combined.take(idx)
        k = srt.column(key).combine_chunks()
        if n > 1 and not precombined:
            pair_mask = _first_mask(k, n) | _first_mask(
                srt.column(lsn_col).combine_chunks(), n)
            dedup = srt.filter(pa.array(pair_mask))
        else:
            # precombined: at most one batch row per key PER MAP PARTITION;
            # cross-partition survivors of the same key (incl. identical
            # re-delivered winner copies) are resolved by the first-per-key
            # winner mask below, so the pair-dedup pass is redundant
            dedup = srt
        # exact re-delivery count: state rows (unique keys, lsn=-1) never
        # collide, so every dropped row is a duplicated (key, lsn) event
        n_dups = pre_n_dups if precombined else n - len(dedup)
        n2 = len(dedup)
        k2 = dedup.column(key).combine_chunks()
        winners = dedup.filter(pa.array(_first_mask(k2, n2))) if n2 > 1 else dedup

        ops = winners.column(op_col)
        n_deletes_applied = int(pc.sum(pc.equal(ops, "D")).as_py() or 0)
        win = winners.filter(pc.equal(ops, "U"))
        if update_only:
            if state_keys is not None and len(win):
                win = win.filter(pc.is_in(win.column(key), value_set=state_keys))
            else:
                win = win.slice(0, 0)
        # precombined: APPLIED upserts (winner rows written) — distinct U
        # events are uncountable post-collapse (see the pandas fold)
        n_upserts = len(win) if precombined else int(
            (pc.sum(pc.equal(dedup.column(op_col), "U")).as_py() or 0) - n_state
        )

        rel_path = None
        if len(win):
            bdir = os.path.join(root, stage_rel, f"{bucket_col}={bucket}")
            os.makedirs(bdir, exist_ok=True)
            final = os.path.join(bdir, "part-0.parquet")
            tmp = final + ".inprogress"
            out = pa.Table.from_arrays(
                [win.column(nm) for nm in names], schema=out_pa_schema
            )
            pq.write_table(out, tmp, compression="snappy")
            os.replace(tmp, final)
            rel_path = os.path.join(stage_rel, f"{bucket_col}={bucket}",
                                    "part-0.parquet")
        return pa.table(
            {
                "bucket": pa.array([bucket], pa.int32()),
                "path": pa.array([rel_path], pa.string()),
                "n_rows": pa.array([len(win)], pa.int64()),
                "n_upserts": pa.array([n_upserts], pa.int64()),
                "n_deletes": pa.array([n_deletes_applied], pa.int64()),
                "min_lsn": pa.array([b_min_lsn], pa.int64()),
                "max_lsn": pa.array([b_max_lsn], pa.int64()),
                "n_dups": pa.array([n_dups], pa.int64()),
            }
        )

    return fold


DELTA_LSN = "__lsn"
DELTA_SEQ = "__seq"


def make_bucket_delta_fold(
    root: str,
    stage_rel: str,
    key: str,
    current: list,
    op_col: str,
    lsn_col: str,
    bucket_col: str,
    seq: int,
):
    """Write-optimized MERGE-ON-READ commit fold: the micro-batch is
    deduped and LWW-reduced WITHIN ITSELF and written as a per-bucket
    DELTA file — the bucket's current state is never read. Delete
    winners are retained as tombstone rows (op 'D'); LWW across
    base+deltas resolves at read time by (lsn, seq) — see
    LakeTable.merge_delta / _read_mor — and compaction collapses a
    bucket back to a single base file.

    This is the standard high-commit-rate CDC sink shape (Hudi MOR /
    Paimon LSM): ingest cost is O(batch) writes with zero read
    amplification, at the price of a merge step on read until
    compaction. The reference has no analog (every load rewrites
    through Neo4j MERGE); the COW fold (make_bucket_fold*) remains the
    read-optimized default.

    Delta files carry ``__op``/``__lsn``/``__seq`` alongside the
    current schema's columns; ``__seq`` (= committing snapshot id,
    constant per file) breaks (key, lsn) ties across commits so a
    re-delivered event in a later commit resolves deterministically.
    """
    names = [c.name for c in current]
    out_pa_schema = pa.schema(
        list(arrow_schema(current))
        + [pa.field("__op", pa.string()), pa.field(DELTA_LSN, pa.int64()),
           pa.field(DELTA_SEQ, pa.int64())]
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        bucket = int(pdf[bucket_col].iloc[0])
        b_min_lsn = int(pdf[lsn_col].min())
        b_max_lsn = int(pdf[lsn_col].max())
        n_before = len(pdf)
        pdf = pdf.drop_duplicates(subset=[key, lsn_col])
        n_dups = n_before - len(pdf)
        win = pdf.loc[pdf.groupby(key, sort=False)[lsn_col].idxmax()]
        n_deletes = int((win[op_col] == "D").sum())
        n_upserts = int((win[op_col] == "U").sum())
        out = win[names + [op_col, lsn_col]].rename(
            columns={op_col: "__op", lsn_col: DELTA_LSN}
        )
        out[DELTA_SEQ] = np.int64(seq)

        bdir = os.path.join(root, stage_rel, f"{bucket_col}={bucket}")
        os.makedirs(bdir, exist_ok=True)
        final = os.path.join(bdir, "part-0.parquet")
        tmp = final + ".inprogress"
        pq.write_table(
            pa.Table.from_pandas(out, schema=out_pa_schema, preserve_index=False),
            tmp, compression="snappy",
        )
        os.replace(tmp, final)
        rel_path = os.path.join(stage_rel, f"{bucket_col}={bucket}", "part-0.parquet")
        return pd.DataFrame(
            {
                "bucket": pd.array([bucket], dtype="int32"),
                "path": [rel_path],
                "n_rows": pd.array([len(out)], dtype="int64"),
                "n_upserts": pd.array([n_upserts], dtype="int64"),
                "n_deletes": pd.array([n_deletes], dtype="int64"),
                "min_lsn": pd.array([b_min_lsn], dtype="int64"),
                "max_lsn": pd.array([b_max_lsn], dtype="int64"),
                "n_dups": pd.array([n_dups], dtype="int64"),
            }
        )

    return fold


def numpy_tokens_equal(a, b) -> bool:
    """Exact token-array equality helper (tests)."""
    if a is None or b is None:
        return a is None and b is None
    return np.array_equal(np.asarray(a), np.asarray(b))
