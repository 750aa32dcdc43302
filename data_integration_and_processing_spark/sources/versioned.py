"""Snapshot-versioned parquet tables: manifest-based time travel.

The lakehouse log pattern (what Delta Lake's `_delta_log` and Iceberg's
metadata tree do), reduced to its load-bearing core on plain parquet:

- data files are IMMUTABLE — every write lands new files in a fresh
  subdirectory of ``{path}/data/``; nothing is ever rewritten or deleted
  by a write;
- a version is a MANIFEST (``{path}/_versions/v{N}.json``) listing exactly
  the data files visible at that version, published by
  :func:`put_if_absent` — a put-if-absent, so ``v{N}.json`` is either
  absent or complete, and it never changes once published;
- readers resolve a manifest and read only its files — never a directory
  listing, so a reader positioned at v3 is untouched by a concurrent
  writer publishing v4 (snapshot isolation for free), and there is no
  list-after-write consistency window at all.

At 100 TB the manifest is O(files) JSON — the data plane never moves for a
metadata operation: rollback writes a manifest pointing at old files
(O(1) data bytes), append writes only the appended files. Two writers
that compute the same next version race on one ``v{N}.json`` name: exactly
one publishes, the other raises FileExistsError and its data files stay
unreferenced (vacuum-able). Retrying means re-reading the head and
recomputing; no writer retries on its own.
"""

from __future__ import annotations

import json
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession

_VERSION_RE = re.compile(r"^v(\d+)\.json$")


def _versions_dir(path: str) -> str:
    return os.path.join(path, "_versions")


def list_versions(path: str) -> list[int]:
    """Committed version numbers, ascending. Empty for a fresh path."""
    vdir = _versions_dir(path)
    if not os.path.isdir(vdir):
        return []
    out = []
    for name in os.listdir(vdir):
        m = _VERSION_RE.match(name)
        if m:
            out.append(int(m.group(1)))
    return sorted(out)


def _read_manifest(path: str, version: int) -> dict:
    with open(os.path.join(_versions_dir(path), f"v{version}.json")) as f:
        return json.load(f)


def _latest_manifest(path: str) -> dict:
    versions = list_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed versions at {path}")
    return _read_manifest(path, versions[-1])


def put_if_absent(final: str, payload: dict) -> None:
    """Publish ``payload`` as JSON at ``final`` unless a file is already there.

    The JSON is written to a temp file in the same directory and then
    hard-linked to ``final``. ``os.link`` refuses an existing target with
    FileExistsError, atomically: of two writers racing for one name exactly
    one wins, the loser raises, and the winner's file is never replaced.
    Readers see either no ``final`` or the complete one."""
    d = os.path.dirname(final)
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{os.path.basename(final)}.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as f:
        json.dump(payload, f)
    try:
        os.link(tmp, final)
    finally:
        os.remove(tmp)


def _publish(
    path: str,
    version: int,
    files: list[str],
    parent: int | None,
    op: str,
    stats: dict | None = None,
) -> int:
    """Commit manifest ``v{version}``; FileExistsError if that version is
    already committed. ``stats`` (per-file column [min, max]) is stored
    when given."""
    manifest = {"version": version, "parent": parent, "op": op, "files": sorted(files)}
    if stats is not None:
        manifest["stats"] = stats
    try:
        put_if_absent(os.path.join(_versions_dir(path), f"v{version}.json"), manifest)
    except FileExistsError as exc:
        raise FileExistsError(f"version {version} already committed at {path}") from exc
    return version


def _write_data_files(df: DataFrame, path: str) -> list[str]:
    subdir = os.path.join(path, "data", uuid.uuid4().hex)
    df.write.mode("error").parquet(subdir)
    return [
        os.path.join(subdir, f)
        for f in os.listdir(subdir)
        if f.endswith(".parquet")
    ]


def write_version(df: DataFrame, path: str, mode: str = "append") -> int:
    """Commit ``df`` as a new version of the table at ``path``.

    ``mode='overwrite'`` makes the new version exactly ``df``'s files;
    ``'append'`` makes it the parent version's files plus ``df``'s. Returns
    the committed version number (1-based). Old versions stay readable —
    no data file is ever touched.
    """
    return _write(df, path, mode, stat_cols=None)


def _write(df: DataFrame, path: str, mode: str, stat_cols: list[str] | None) -> int:
    """Land ``df`` as new files and commit the next version. With
    ``stat_cols`` the manifest carries per-file stats; an append keeps the
    parent's."""
    if mode not in ("append", "overwrite"):
        raise ValueError(f"mode must be 'append' or 'overwrite', got {mode!r}")
    existing = list_versions(path)
    parent = existing[-1] if existing else None
    files = _write_data_files(df, path)
    stats = None if stat_cols is None else _file_stats(files, stat_cols)
    if mode == "append" and parent is not None:
        pm = _read_manifest(path, parent)
        files = pm["files"] + files
        if stats is not None:
            stats = {**pm.get("stats", {}), **stats}
    return _publish(path, (parent or 0) + 1, files, parent, mode, stats)


def read_version(spark: SparkSession, path: str, version: int | None = None) -> DataFrame:
    """The table as of ``version`` (default: latest). Reads exactly the
    manifest's file list — no directory listing, so concurrent commits
    cannot change what this snapshot sees."""
    versions = list_versions(path)
    if not versions:
        raise FileNotFoundError(f"no committed versions at {path}")
    if version is None:
        version = versions[-1]
    if version not in versions:
        raise ValueError(f"version {version} not in {versions} at {path}")
    files = _read_manifest(path, version)["files"]
    return spark.read.parquet(*files)


def rollback(path: str, version: int) -> int:
    """Publish a NEW version whose contents are exactly ``version``'s —
    history is append-only (audit trail preserved), data plane untouched."""
    versions = list_versions(path)
    if version not in versions:
        raise ValueError(f"version {version} not in {versions} at {path}")
    files = _read_manifest(path, version)["files"]
    return _publish(path, versions[-1] + 1, files, versions[-1], f"rollback({version})")


def vacuum(path: str, keep_last: int = 2) -> dict:
    """Retention sweep (the Delta ``VACUUM`` analogue): retire manifests
    older than the newest ``keep_last`` and delete data files no retained
    manifest references. Returns audit counts.

    Safety order matters — manifests are removed FIRST, then orphaned data
    files: a crash between the two steps leaves unreferenced files (re-run
    vacuum) rather than manifests pointing at deleted data. A reader
    positioned at a retained version is untouched; snapshot isolation only
    ends for versions the retention policy has expired. At 100 TB this is
    a metadata walk plus deletes of unreferenced files — the data plane
    cost is proportional to what expired, never to table size.
    """
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = list_versions(path)
    if not versions:
        return {"versions_removed": 0, "versions_kept": 0, "files_removed": 0, "files_kept": 0}
    kept_versions = versions[-keep_last:]
    expired = [v for v in versions if v not in kept_versions]
    referenced: set[str] = set()
    for v in kept_versions:
        referenced.update(_read_manifest(path, v)["files"])
    candidates: set[str] = set()
    for v in expired:
        candidates.update(_read_manifest(path, v)["files"])
    # 1. retire expired manifests (after this, no reader can resolve them)
    for v in expired:
        os.remove(os.path.join(_versions_dir(path), f"v{v}.json"))
    # 2. delete data files only the expired manifests referenced
    orphans = sorted(candidates - referenced)
    for f in orphans:
        if os.path.exists(f):
            os.remove(f)
    return {
        "versions_removed": len(expired),
        "versions_kept": len(kept_versions),
        "files_removed": len(orphans),
        "files_kept": len(referenced),
    }


# ---------------------------------------------------------------------------
# manifest file statistics + pruned reads (Delta/Iceberg-style data skipping)
# ---------------------------------------------------------------------------

def _file_stats(files: list[str], cols: list[str]) -> dict:
    """Per-file [min, max] per column, read from parquet FOOTERS only —
    metadata-plane cost, no data bytes. Timestamps render as ISO strings
    (lexicographic order == time order), numerics stay numeric."""
    import pyarrow.parquet as pq  # noqa: PLC0415

    def canon(v):
        if v is None:
            return None
        if hasattr(v, "isoformat"):
            return v.isoformat()
        if isinstance(v, bytes):
            return v.decode("utf-8", "replace")
        return v

    out: dict = {}
    for f in files:
        md = pq.ParquetFile(f).metadata
        names = {md.schema.column(i).name: i for i in range(md.num_columns)}
        fstats: dict = {}
        for col in cols:
            ci = names.get(col)
            if ci is None:
                continue
            lo = hi = None
            ok = True
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(ci).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            if ok and lo is not None:
                fstats[col] = [canon(lo), canon(hi)]
        out[f] = fstats
    return out


def write_version_with_stats(
    df: DataFrame, path: str, mode: str = "append", stat_cols: list[str] | None = None
) -> int:
    """write_version + per-file min/max column stats in the manifest.

    ``stat_cols`` defaults to every top-level column. Stats make the
    manifest the skipping index: a reader with a range predicate prunes
    files from METADATA before Spark ever plans the scan — the
    manifest-level analogue of parquet row-group skipping, one level up
    (files never open at all). Combine with a range-partitioned or
    Z-ordered write so files have tight ranges worth skipping.
    """
    return _write(df, path, mode, stat_cols or [f.name for f in df.schema.fields])


def _may_match(file_stats: dict, predicates: list[tuple[str, str, object]]) -> bool:
    """False only when a file's [min, max] ranges PROVE no row satisfies
    all ``predicates``; a column without stats never rules a file out."""
    for col, op, val in predicates:
        rng = file_stats.get(col)
        if rng is None:
            continue
        lo, hi = rng
        if op in (">=", ">") and (hi < val if op == ">=" else hi <= val):
            return False
        if op in ("<=", "<") and (lo > val if op == "<=" else lo >= val):
            return False
        if op == "=" and (val < lo or val > hi):
            return False
    return True


def _candidates(m: dict, predicates: list[tuple[str, str, object]]) -> list[str]:
    """The manifest's files that may hold a row matching ``predicates``."""
    stats = m.get("stats", {})
    return [f for f in m["files"] if _may_match(stats.get(f, {}), predicates)]


def read_version_pruned(
    spark: SparkSession,
    path: str,
    predicates: list[tuple[str, str, object]],
    version: int | None = None,
) -> tuple[DataFrame, dict]:
    """Manifest-stats file skipping: drop every file whose [min, max] range
    PROVES no row can satisfy all ``predicates`` (list of (col, op, value),
    op in >=, >, <=, <, =). Pruning is conservative — a kept file may still
    contain no matches (the caller applies the real filter; correctness
    never depends on stats) and a file without stats is always kept.

    Returns (DataFrame over surviving files, audit dict). At 100 TB this is
    the difference between planning a scan over every file and opening
    1/100th of them — decided from O(files) JSON on the driver.
    """
    m = _latest_manifest(path) if version is None else _read_manifest(path, version)
    kept = _candidates(m, predicates)
    audit = {"version": m["version"], "total_files": len(m["files"]), "files_read": len(kept)}
    if not kept:
        # all files pruned: an empty frame with the table's schema
        return spark.read.parquet(*m["files"]).limit(0), audit
    return spark.read.parquet(*kept), audit


def _rewrite_commit(
    path: str, m: dict, untouched: list[str], rewritten: DataFrame, op: str
) -> tuple[list[str], int]:
    """Copy-on-write commit on top of manifest ``m``: land ``rewritten`` as
    new files, carry ``untouched`` files and their stats by path, and
    publish the next version. Returns (new files, version). New files get
    stats on the column set the table already tracks (every column for a
    stats-less table)."""
    stats = m.get("stats", {})
    new_files = _write_data_files(rewritten, path)
    stat_cols = list(next(iter(stats.values()), {})) or [f.name for f in rewritten.schema.fields]
    new_stats = {f: stats[f] for f in untouched if f in stats}
    new_stats.update(_file_stats(new_files, stat_cols))
    version = _publish(path, m["version"] + 1, untouched + new_files, m["version"], op, new_stats)
    return new_files, version


def delete_where(
    spark: SparkSession,
    path: str,
    condition: str,
    prune: list[tuple[str, str, object]] | None = None,
) -> dict:
    """Row-level DELETE as copy-on-write, file-pruned: only files whose
    manifest stats say they MAY contain matching rows are rewritten (minus
    the matching rows); every other file carries into the new version
    untouched — same path, same bytes, stats carried forward. Readers at
    older versions still see the deleted rows (time travel is the audit
    trail GDPR tooling pairs with a vacuum once retention lapses).

    ``condition`` is a SQL boolean expression naming table columns;
    ``prune`` is the stats-checkable form of (part of) it — conservative,
    like read_version_pruned. At 100 TB the difference between rewriting
    the table and rewriting the handful of files a predicate touches IS
    the feature; Delta/Iceberg DELETE works exactly this way.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    m = _latest_manifest(path)
    candidates = _candidates(m, prune or [])
    untouched = [f for f in m["files"] if f not in set(candidates)]
    audit = {
        "files_total": len(m["files"]),
        "files_rewritten": 0,
        "files_untouched": len(untouched),
        "rows_deleted": 0,
    }
    if not candidates:
        return audit

    src = spark.read.parquet(*candidates)
    n_before = src.count()
    new_files, version = _rewrite_commit(
        path, m, untouched, src.filter(~F.expr(condition)), f"delete_where({condition})"
    )
    n_after = spark.read.parquet(*new_files).count() if new_files else 0
    audit.update(files_rewritten=len(candidates), rows_deleted=n_before - n_after, version=version)
    return audit


def update_where(
    spark: SparkSession,
    path: str,
    condition: str,
    set_exprs: dict[str, str],
    prune: list[tuple[str, str, object]] | None = None,
) -> dict:
    """Row-level UPDATE, same copy-on-write/stats-pruned shape as
    :func:`delete_where`: candidate files are rewritten with
    ``CASE WHEN condition THEN set_expr ELSE col END`` per updated column;
    untouched files carry by path. Completes the lakehouse DML triad with
    append/overwrite commits and delete_where (merge/upsert lives at the
    DataFrame level in plans/pipelines.py::upsert)."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    m = _latest_manifest(path)
    candidates = _candidates(m, prune or [])
    untouched = [f for f in m["files"] if f not in set(candidates)]
    audit = {
        "files_total": len(m["files"]),
        "files_rewritten": 0,
        "files_untouched": len(untouched),
        "rows_updated": 0,
    }
    if not candidates:
        return audit

    src = spark.read.parquet(*candidates)
    cond = F.expr(condition)
    n_updated = src.filter(cond).count()
    out = src
    for col, expr in set_exprs.items():
        out = out.withColumn(col, F.when(cond, F.expr(expr)).otherwise(F.col(col)))
    _, version = _rewrite_commit(path, m, untouched, out, f"update_where({condition})")
    audit.update(files_rewritten=len(candidates), rows_updated=n_updated, version=version)
    return audit


def optimize(
    spark: SparkSession, path: str, target_files: int = 4, sort_cols: list[str] | None = None
) -> dict:
    """OPTIMIZE (small-file compaction) as a versioned commit: read the
    latest snapshot, rewrite it as ``target_files`` files, publish a new
    manifest with fresh footer stats. Contents are bit-identical (the
    oracle invariant any compaction must keep); history keeps the
    fragmented version readable until vacuum retires it. The store-level
    twin of sources/maintenance.py::compact_parquet, with the log's
    snapshot isolation instead of a directory swap."""
    m = _latest_manifest(path)
    before = len(m["files"])
    if before <= target_files:
        return {"files_before": before, "files_after": before, "version": m["version"], "skipped": True}
    df = spark.read.parquet(*m["files"])
    if sort_cols:
        # clustering-preserving compaction: range-partition + sort instead of
        # coalesce, so file [min,max] ranges stay tight and the manifest
        # stats keep their pruning power after the rewrite
        df = df.repartitionByRange(target_files, *sort_cols).sortWithinPartitions(*sort_cols)
    else:
        df = df.coalesce(target_files)
    new_files, version = _rewrite_commit(path, m, [], df, f"optimize({target_files})")
    return {"files_before": before, "files_after": len(new_files), "version": version, "skipped": False}


def merge_into(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    on: list[str],
    update_cols: list[str] | None = None,
    delete_condition: str | None = None,
    insert_not_matched: bool = True,
) -> int:
    """``MERGE INTO`` with mixed clauses on a versioned table — the Delta/
    Iceberg flagship DML, as one copy-on-write commit:

    - WHEN MATCHED AND <delete_condition> THEN DELETE
    - WHEN MATCHED THEN UPDATE SET <update_cols from source>
    - WHEN NOT MATCHED THEN INSERT (when ``insert_not_matched``)

    Plan shape: ONE full-outer join of the current snapshot with the
    source, keyed by ``on`` (the single shuffle); every clause is a
    projection over that join — no per-clause passes, no driver
    materialization. ``delete_condition`` is a SQL boolean over the join
    (reference target columns as ``t.col``, source as ``s.col``). Source
    rows must be unique per key (the ambiguity every MERGE dialect
    rejects) — enforced in-plan with raise_error, no extra action.

    The committed version rewrites the table; the file-pruned variant
    (rewrite only files whose stats may contain matched keys, as
    :func:`delete_where` does) is the documented scale lever once key
    ranges correlate with file layout.
    """
    from pyspark.sql import functions as F  # noqa: PLC0415

    target = read_version(spark, path)
    # in-plan ambiguity guard: the `_in_s` presence marker — which every
    # output expression references, so column pruning cannot elide it —
    # raises when the row's key is duplicated in the source. (A dropped
    # poison column would be optimized away before it ever evaluated.)
    dups = (
        source.groupBy(*on)
        .agg(F.count("*").alias("_dupn"))
        .filter(F.col("_dupn") > 1)
    )
    src = source.join(F.broadcast(dups), on, "left")

    t = target.withColumn("_in_t", F.lit(1)).alias("t")
    s = (
        src.withColumn(
            "_in_s",
            F.when(
                F.col("_dupn").isNotNull(),
                F.raise_error(F.lit("merge_into: duplicate source keys")).cast("int"),
            ).otherwise(F.lit(1)),
        )
        .drop("_dupn")
        .alias("s")
    )
    j = t.join(s, on, "full_outer")
    matched = F.col("_in_t").isNotNull() & F.col("_in_s").isNotNull()
    deleted = matched & (F.expr(delete_condition) if delete_condition else F.lit(False))
    payload = [c for c in target.columns if c not in on]
    upd = set(update_cols if update_cols is not None else payload)

    out_cols = [F.col(c) for c in on]
    for c in payload:
        src_has = c in source.columns
        updated_val = F.col(f"s.{c}") if (c in upd and src_has) else F.col(f"t.{c}")
        inserted_val = F.col(f"s.{c}") if src_has else F.lit(None)
        out_cols.append(
            F.when(matched, updated_val)
            .when(F.col("_in_s").isNotNull(), inserted_val)
            .otherwise(F.col(f"t.{c}"))
            .alias(c)
        )
    keep = ~deleted & (F.col("_in_t").isNotNull() | F.lit(insert_not_matched))
    merged = j.filter(keep).select(*out_cols)
    return write_version(merged, path, mode="overwrite")
