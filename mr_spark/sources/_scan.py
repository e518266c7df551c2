"""Shared executor-side parquet scan for the snapshot DataSources
(sources/snapshot_source.py batch reads, sources/cdf_stream.py CDF
slices). One home for the scan invariants so the two sources can never
diverge:

* files store PHYSICAL column names (column mapping) — the caller's
  LOGICAL columns are mapped through ``colmap`` before the read;
* only the needed physical columns are DECODED (``columns=`` pushdown
  into pyarrow — a dropped column's bytes are never decompressed);
* a logical column whose physical name is absent from the file (written
  before a schema evolution) NULL-fills, matching the manifest-schema
  scan of ``SnapshotTable._scan`` (mr_spark/acid.py);
* parquet row order IS the ``_metadata.row_index`` order, so deletion
  vectors apply as positional filters.
"""

from __future__ import annotations

import os


def dead_positions(file_path: str, dv_paths: list[str]) -> set[int]:
    """Row positions of ``file_path`` killed by its deletion vectors —
    the pyarrow restatement of ``SnapshotTable._scan``'s row_index
    anti-join."""
    import pyarrow.parquet as pq

    base = os.path.basename(file_path)
    dead: set[int] = set()
    for dv in dv_paths:
        t = pq.read_table(dv)
        for df_name, pos in zip(
            t.column("data_file").to_pylist(), t.column("pos").to_pylist()
        ):
            if df_name == base:
                dead.add(pos)
    return dead


def read_file_rows(
    file_path: str,
    logical_cols: list[str],
    colmap: dict,
    dv_paths: list[str],
    preds: list | None = None,
    fills: dict | None = None,
) -> list[tuple]:
    """One file's live rows as tuples in ``logical_cols`` order —
    ``read_file_table`` materialized to Python (the CDF diff needs
    hashable rows for its multiset Counter)."""
    tbl = read_file_table(
        file_path, logical_cols, colmap, dv_paths, preds=preds, fills=fills
    )
    data = [c.to_pylist() for c in tbl.columns]
    return list(zip(*data)) if data else []


def read_file_table(
    file_path: str,
    logical_cols: list[str],
    colmap: dict,
    dv_paths: list[str],
    preds: list | None = None,
    fills: dict | None = None,
):
    """One file's live rows as a ``pyarrow.Table`` whose columns are
    named and ordered by ``logical_cols`` — the Arrow-native scan core.
    The snapshot sources yield its batches STRAIGHT to Spark (the Python
    DataSource API accepts ``pyarrow.RecordBatch`` from ``read()``), so
    scanned bytes never round-trip through Python objects; the tuple
    form above exists only for consumers that need per-row hashing.

    ``preds`` are normalized conjuncts from mr_spark/predicates.py
    (AND of OR'd atoms: ranges, comparisons incl. ``<>``, IN-lists,
    IS [NOT] NULL) applied EXACTLY row-level with vectorized pyarrow
    compute — SQL WHERE semantics: a NULL comparison never matches
    (``IS NULL`` of course does), and a value predicate on a column
    this file predates (all-NULL) matches nothing — unless ``fills``
    names it: ``fills`` maps logical columns to INITIAL DEFAULT values
    (add_column on a file predating the alter), in which case every
    row reads (and is filtered under) the fill value.
    """
    import pyarrow.parquet as pq

    import pyarrow as pa

    phys = [colmap.get(c, c) for c in logical_cols]
    in_file = set(pq.read_schema(file_path).names)  # footer-only read
    wanted = [p for p in phys if p in in_file]
    # predicate columns must be decoded even if a caller ever prunes
    # them from the projection
    pred_phys = [colmap.get(a[1], a[1]) for atoms in (preds or []) for a in atoms]
    wanted += [p for p in pred_phys if p in in_file and p not in wanted]
    if wanted:
        tbl = pq.read_table(file_path, columns=wanted)
        n = tbl.num_rows
        # Normalize timestamp columns so to_pylist() yields values
        # Spark's rows-to-arrow converter accepts (it calls
        # value.astimezone(utc), which pandas' NAIVE Timestamp refuses):
        # * naive nanosecond columns are Spark INT96 writes — the naive
        #   values ARE UTC instants, so label them UTC (and microsecond
        #   precision keeps to_pylist on stdlib datetimes, not pandas);
        # * any other ns column just drops to us for the same reason;
        # * tz-aware us columns (this repo's V2 sink) pass through.
        for i, f in enumerate(tbl.schema):
            if pa.types.is_timestamp(f.type) and f.type.unit == "ns":
                tgt = pa.timestamp("us", tz=f.type.tz or "UTC")
                tbl = tbl.set_column(
                    i, pa.field(f.name, tgt), tbl.column(i).cast(tgt)
                )
    else:  # every requested column post-dates this file — all NULLs
        tbl = None
        n = pq.ParquetFile(file_path).metadata.num_rows
    keep = None  # vectorized predicate mask over the file's row order
    if preds:
        import pyarrow.compute as pc

        cmp = {
            "eq": pc.equal,
            "ne": pc.not_equal,
            "gt": pc.greater,
            "gte": pc.greater_equal,
            "lt": pc.less,
            "lte": pc.less_equal,
        }

        def const_atom(a, v) -> bool:
            """Atom verdict against a CONSTANT (a filled initial
            default applies to every row of the file)."""
            try:
                if a[0] == "null":
                    return (v is None) == a[2]
                if v is None:
                    return False
                if a[0] == "between":
                    return a[2] <= v <= a[3]
                if a[0] == "in":
                    return v in a[2]
                op, lit = a[2], a[3]
                return {
                    "eq": v == lit,
                    "ne": v != lit,
                    "lt": v < lit,
                    "lte": v <= lit,
                    "gt": v > lit,
                    "gte": v >= lit,
                }[op]
            except TypeError:
                return False

        def typed_const(typ, v):
            """Coerce an ISO-string constant to the column's time type —
            Spark casts the string side of a timestamp/date comparison,
            and the driver canonicalizes datetime constants to ISO
            strings (predicates._canon_const), so the executor must cast
            them back or pyarrow has no comparison kernel at all."""
            import datetime as _dt

            if not isinstance(v, str):
                return v
            try:
                if pa.types.is_timestamp(typ):
                    d = _dt.datetime.fromisoformat(v)
                    if typ.tz is not None and d.tzinfo is None:
                        d = d.replace(tzinfo=_dt.timezone.utc)
                    elif typ.tz is None and d.tzinfo is not None:
                        d = d.astimezone(_dt.timezone.utc).replace(tzinfo=None)
                    return d
                if pa.types.is_date(typ):
                    # mirror Spark's string→date cast: truncate any
                    # datetime-shaped string to its date part
                    return _dt.date.fromisoformat(v[:10])
            except ValueError:
                return v
            return v

        def scal(typ, v):
            tv = typed_const(typ, v)
            return pa.scalar(tv, type=typ) if tv is not v else pa.scalar(tv)

        def atom_mask(a):
            p = colmap.get(a[1], a[1])
            absent = tbl is None or p not in in_file
            if absent and a[1] in (fills or {}):
                return pa.array([const_atom(a, fills[a[1]])] * n)
            if a[0] == "null":
                if absent:  # all-NULL column: IS NULL matches all rows
                    return pa.array([a[2]] * n)
                m = pc.is_null(tbl.column(p))
                return m if a[2] else pc.invert(m)
            if absent:  # value predicate on an all-NULL column
                return pa.array([False] * n)
            c = tbl.column(p)
            if a[0] == "between":
                m = pc.and_kleene(
                    pc.greater_equal(c, scal(c.type, a[2])),
                    pc.less_equal(c, scal(c.type, a[3])),
                )
            elif a[0] == "in":
                vals = [typed_const(c.type, v) for v in a[2]]
                if any(tv is not v for tv, v in zip(vals, a[2])):
                    vs = pa.array(vals, type=c.type)
                else:
                    vs = pa.array(vals)
                m = pc.is_in(c, value_set=vs)
            else:  # ("cmp", col, op, val)
                m = cmp[a[2]](c, scal(c.type, a[3]))
            return pc.fill_null(m, False)

        mask = None
        for atoms in preds:
            m = atom_mask(atoms[0])
            for a in atoms[1:]:
                m = pc.or_(m, atom_mask(a))
            mask = m if mask is None else pc.and_(mask, m)
        keep = mask
    cols = []
    for lc, p in zip(logical_cols, phys):
        if p in in_file:
            cols.append(tbl.column(p))
        else:
            v = (fills or {}).get(lc)
            # type inferred here is provisional — the source casts the
            # whole table to the declared Spark schema before yielding
            cols.append(pa.nulls(n) if v is None else pa.array([v] * n))
    out = pa.table(cols, names=list(logical_cols))
    dead = dead_positions(file_path, dv_paths) if dv_paths else set()
    if dead or keep is not None:
        # both filters index the file's ORIGINAL row order — combine
        # into one mask, one filter pass
        if dead:
            import pyarrow.compute as pc

            alive = pa.array([i not in dead for i in range(n)])
            live_mask = alive if keep is None else pc.and_(alive, keep)
        else:
            live_mask = keep
        out = out.filter(live_mask)
    return out
