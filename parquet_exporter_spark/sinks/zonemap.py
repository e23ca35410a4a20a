"""Multi-column zone maps: per-file min/max stats over SEVERAL columns,
committed as one ``_zonemap.parquet`` — Delta's per-file column stats
(dataSkippingNumIndexedCols) reduced to its analytics core.

The single-column ``_manifest.parquet`` (sinks/manifest_sink.py) prunes
range predicates on the one clustering column. Real tables filter on
more than one: a space-filling-curve layout (sinks/layout.py
write_zordered / write_hilberted) gives EVERY curve dimension locality,
so per-file bounds on each of them are tight enough to skip files — but
only if the stats exist at plan time. This sink gathers them from the
just-written parquet FOOTERS (O(files) metadata IO, zero data pages) in
LONG form — one row per (file, column) — and ``prune_with_zonemap``
intersects per-column range predicates into a file subset with the same
superset guarantee as every skipping path here: false keeps only ADD
files, the residual predicate still runs.

Value typing: numeric stats are stored as doubles (exact for the int64
magnitudes these ids use, < 2^53 — documented loss boundary), strings
as strings; a column whose footer lacks stats yields NULL bounds and is
never used to prune. At 100 TB the zonemap is a catalog table of
files x indexed-columns rows, read once per plan.

Reference parity note: the reference engine (OpenBeta/parquet-exporter,
export.py) writes single-file exports with no multi-file scan planning;
this extends the sink/scan surface per SURVEY.md section 2.2.
"""

from __future__ import annotations

import glob
import os

from parquet_exporter_spark.sinks.writers import replace_file

ZONEMAP_NAME = "_zonemap.parquet"


def write_zonemap(
    path: str, columns: list[str], manifest_dir: str | None = None
) -> str:
    """Gather per-file min/max for each of ``columns`` from the parquet
    footers under ``path`` and commit ``_zonemap.parquet`` (atomically,
    ``writers.replace_file``). Returns the manifest path. ``manifest_dir``
    redirects the commit (read-only source dirs); production co-locates
    it with the data like ``_manifest``."""
    import pyarrow.parquet as pq

    files = sorted(
        p
        for p in glob.glob(os.path.join(path, "*.parquet"))
        if not os.path.basename(p).startswith("_")
    )
    rows: list[dict] = []
    for p in files:
        md = pq.ParquetFile(p).metadata
        names = md.schema.names
        for col in columns:
            try:
                ci = names.index(col)
            except ValueError:
                raise KeyError(f"column {col!r} not in {p} (has {names})")
            lo = hi = None
            have_all = True
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(ci).statistics
                if st is None or not st.has_min_max:
                    have_all = False
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if not have_all:
                lo = hi = None
            is_str = isinstance(lo, (str, bytes))
            rows.append(
                {
                    "file_name": os.path.basename(p),
                    "column": col,
                    "num_rows": md.num_rows,
                    "lo_num": None if lo is None or is_str else float(lo),
                    "hi_num": None if hi is None or is_str else float(hi),
                    "lo_str": lo if is_str else None,
                    "hi_str": hi if is_str else None,
                }
            )
    return _commit_zonemap(rows, manifest_dir or path)


def _commit_zonemap(rows: list[dict], out_dir: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pa.Table.from_pylist(
        rows,
        schema=pa.schema(
            [
                ("file_name", pa.string()),
                ("column", pa.string()),
                ("num_rows", pa.int64()),
                ("lo_num", pa.float64()),
                ("hi_num", pa.float64()),
                ("lo_str", pa.string()),
                ("hi_str", pa.string()),
            ]
        ),
    )
    os.makedirs(out_dir, exist_ok=True)
    final = os.path.join(out_dir, ZONEMAP_NAME)
    replace_file(final, lambda tmp: pq.write_table(tbl, tmp))
    return final


def write_zonemap_distributed(
    spark, path: str, columns: list[str], manifest_dir: str | None = None
) -> str:
    """``write_zonemap`` with the footer reads distributed across
    executors — the ``file_stats_distributed`` pattern
    (sources/manifest.py) applied to the multi-column build: paths
    become a 1-column DataFrame, ``mapInPandas`` opens each file's
    FOOTER inside tasks, and only the (file, column, min, max) metadata
    rows come back to the driver, which commits the identical
    ``_zonemap.parquet`` atomically. At a 200k-file table the driver
    loop pays 200k sequential storage round-trips; this path pays
    ceil(files / parallelism) per task, all in flight at once. The
    bounded collect is the zonemap itself (files x columns small rows).

    Contract-identical to ``write_zonemap``: same row-group folding,
    same NULL bounds when any row group lacks stats, same KeyError on a
    missing column (re-raised on the driver), same row order (files
    sorted, columns in call order), same committed schema — the suite
    pins byte-level row equality against the driver walk."""
    files = sorted(
        p
        for p in glob.glob(os.path.join(path, "*.parquet"))
        if not os.path.basename(p).startswith("_")
    )
    cols = list(columns)

    def _footers(batches):
        # Self-contained closure: the driver's executors may not have
        # this repo importable (neutral cwd), so nothing module-level is
        # referenced — only the plain-list `cols` capture.
        import os as _os

        import pandas as pd
        import pyarrow.parquet as _pq

        for b in batches:
            rows = []
            for p in b["path"]:
                md = _pq.ParquetFile(p).metadata
                names = md.schema.names
                for col in cols:
                    if col not in names:
                        rows.append(
                            (
                                _os.path.basename(p),
                                col,
                                -1,
                                None,
                                None,
                                None,
                                None,
                                f"column {col!r} not in {p} (has {names})",
                            )
                        )
                        continue
                    ci = names.index(col)
                    lo = hi = None
                    have_all = True
                    for g in range(md.num_row_groups):
                        st = md.row_group(g).column(ci).statistics
                        if st is None or not st.has_min_max:
                            have_all = False
                            break
                        lo = st.min if lo is None else min(lo, st.min)
                        hi = st.max if hi is None else max(hi, st.max)
                    if not have_all:
                        lo = hi = None
                    if isinstance(lo, bytes):
                        lo = lo.decode("utf-8", "surrogateescape")
                        hi = hi.decode("utf-8", "surrogateescape")
                    is_str = isinstance(lo, str)
                    rows.append(
                        (
                            _os.path.basename(p),
                            col,
                            md.num_rows,
                            None if lo is None or is_str else float(lo),
                            None if hi is None or is_str else float(hi),
                            lo if is_str else None,
                            hi if is_str else None,
                            None,
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "file_name",
                    "column",
                    "num_rows",
                    "lo_num",
                    "hi_num",
                    "lo_str",
                    "hi_str",
                    "err",
                ],
            )

    collected = []
    if files:
        pdf = spark.createDataFrame([(p,) for p in files], "path string")
        # one task per ~32 files: footer reads are latency-bound (the
        # file_stats_distributed heuristic)
        n_slices = max(
            1,
            min(len(files) // 32 + 1, spark.sparkContext.defaultParallelism),
        )
        collected = (
            pdf.repartition(n_slices)
            .mapInPandas(
                _footers,
                "file_name string, column string, num_rows long, "
                "lo_num double, hi_num double, lo_str string, "
                "hi_str string, err string",
            )
            .collect()
        )
    by_key = {}
    for r in collected:
        if r.err is not None:
            raise KeyError(r.err)
        by_key[(r.file_name, r.column)] = r
    rows = [
        {
            "file_name": r.file_name,
            "column": r.column,
            "num_rows": r.num_rows,
            "lo_num": r.lo_num,
            "hi_num": r.hi_num,
            "lo_str": r.lo_str,
            "hi_str": r.hi_str,
        }
        for p in files
        for r in (by_key[(os.path.basename(p), c)] for c in cols)
    ]
    return _commit_zonemap(rows, manifest_dir or path)


def prune_with_zonemap(
    path: str,
    predicates: dict[str, tuple],
    manifest_dir: str | None = None,
) -> list[str]:
    """Data files under ``path`` that may satisfy EVERY ``column:
    (lo, hi)`` range predicate (None bound = unbounded side), planned
    from the committed zonemap alone. Per-column non-overlap drops a
    file; the conjunction intersects the per-column survivors. Files
    absent from the zonemap — and columns with NULL (statless) bounds —
    are conservatively kept: pruning is an optimization and 'no stats'
    must degrade to 'scan it'."""
    import pyarrow.parquet as pq

    t = pq.read_table(
        os.path.join(manifest_dir or path, ZONEMAP_NAME)
    ).to_pylist()
    by_file: dict[str, dict[str, dict]] = {}
    for r in t:
        by_file.setdefault(r["file_name"], {})[r["column"]] = r
    keep = []
    for p in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        base = os.path.basename(p)
        if base.startswith("_"):
            continue
        stats = by_file.get(base)
        if stats is None:
            keep.append(p)  # unindexed file: never prune blind
            continue
        survives = True
        for col, (lo, hi) in predicates.items():
            st = stats.get(col)
            if st is None:
                continue  # column not indexed: cannot prune on it
            f_lo = st["lo_num"] if st["lo_str"] is None else st["lo_str"]
            f_hi = st["hi_num"] if st["hi_str"] is None else st["hi_str"]
            if f_lo is None or f_hi is None:
                continue  # statless column: conservative keep
            if lo is not None and f_hi < lo:
                survives = False
                break
            if hi is not None and f_lo > hi:
                survives = False
                break
        if survives:
            keep.append(p)
    return keep
