"""Structured Streaming SOURCE over a lakehouse table.

Iceberg's streaming read (``spark.readStream.format("iceberg")``)
rebuilt on the Spark 4 Python Data Source API: each micro-batch consumes
the data files ADDED between two snapshot versions — the streaming twin
of ``LakehouseTable.read_incremental`` (same appends-only contract:
row-level deletes don't rewrite history; consume them via the changelog
feed / CDC queries instead).

Offsets are snapshot versions (``{"version": N}``), so the source
inherits the table's commit semantics: a micro-batch is exactly the
rows of a consecutive snapshot range, replay of a committed range
(``readBetweenOffsets``) is deterministic because manifests are
immutable, and exactly-once end-to-end follows when the sink is
idempotent (streaming/sinks.py).

Two interchangeable readers share the offset logic:
``lakehouse_stream`` (SimpleDataSourceStreamReader — driver-side
materialization, right for metadata-paced trickles) and
``lakehouse_stream_dist`` (DataSourceStreamReader — the driver only
walks manifests; each added file is one input partition read on the
executors as Arrow record batches, the 100 TB shape).

Manifest access is self-contained (json + glob, parts-aware) because
the DataSource runs outside any SparkSession.
"""

from __future__ import annotations

import glob
import json
import os
import re
import tempfile


def _current_version(root: str) -> int:
    snap = os.path.join(root, "snapshots")
    if not os.path.isdir(snap):
        return 0
    return max(
        (
            int(os.path.basename(p)[1:-5])
            for p in glob.glob(os.path.join(snap, "v*.json"))
        ),
        default=0,
    )


def _manifest_files(root: str, version: int) -> list[str]:
    """File list of a snapshot, materializing manifest parts (mirrors
    LakehouseTable._materialize_manifest without needing Spark)."""
    if version <= 0:
        return []
    path = os.path.join(root, "snapshots", f"v{version}.json")
    if not os.path.exists(path):
        return []
    with open(path) as f:
        m = json.load(f)
    if "files" in m:
        return m["files"]
    files: list[str] = []
    for ppath in m.get("parts", []):
        with open(ppath) as f:
            files.extend(json.load(f)["files"])
    return files


_APPEND_OPS = {"append"}


def _added_files(root: str, since: int, until: int) -> list[str]:
    """Data files contributed by APPEND commits in (since, until] — the
    streaming increment. Walked version-by-version, NOT as one file-set
    diff: a compaction/rewrite commit changes the file set without
    changing the data, and a naive diff would replay every rewritten
    file as new rows (duplicates). Non-append operations (rewrites,
    merges, deletes, DDL) are skipped, matching Iceberg's streaming-read
    contract (appends stream; row-level changes come from the changelog
    feed; retention must cover consumer lag so appended files still
    exist when a lagging consumer reads them)."""
    out: list[str] = []
    prev: set[str] | None = None
    for v in range(max(since, 0), until + 1):
        path = os.path.join(root, "snapshots", f"v{v}.json")
        if not os.path.exists(path):
            prev = None  # v0 never exists; later gaps mean expiry
            continue
        with open(path) as f:
            m = json.load(f)
        files = (
            m["files"]
            if "files" in m
            else [
                fp
                for ppath in m.get("parts", [])
                for fp in json.load(open(ppath))["files"]
            ]
        )
        if v > since:
            op = m.get("operation")
            # v1 may legitimately be an overwrite (table creation); its
            # contents are the stream's initial load
            if op in _APPEND_OPS or (v == 1 and op == "overwrite"):
                if prev is None and v > 1:
                    raise RuntimeError(
                        f"lakehouse_stream: snapshot v{v - 1} expired — "
                        "consumer lagged past snapshot retention"
                    )
                base = prev or set()
                out.extend(f for f in files if f not in base)
        prev = set(files)
    return out


# r7 (VERDICT r6 #1): no delete flavor is refused anymore. Position
# deletes name exact coordinates (emitted since r6); equality entries
# are evaluated against the pre-commit side's carried files (seq-scoped,
# stats-pruned) and emit matching rows; deletion vectors emit their
# bitmap deltas. See _cdc_rows.


def _manifest_files_sizes(
    root: str, version: int
) -> tuple[list[str], dict[str, int]] | None:
    """File list + on-disk sizes of a snapshot, parts-aware, no Spark.
    Sizes come from the manifest's per-file ``__bytes`` stat (recorded
    at commit time — zero planning IO); files committed before that
    stat existed fall back to one getsize call each."""
    path = os.path.join(root, "snapshots", f"v{version}.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        m = json.load(f)
    stats: dict[str, dict] = {}
    if "files" in m:
        files = m["files"]
        stats = m.get("stats") or {}
    else:
        files = []
        for ppath in m.get("parts", []):
            with open(ppath) as pf:
                part = json.load(pf)
            files.extend(part["files"])
            stats.update(part.get("stats") or {})
    sizes: dict[str, int] = {}
    for fp in files:
        b = (stats.get(fp) or {}).get("__bytes")
        if b is None and os.path.exists(fp):
            b = os.path.getsize(fp)
        sizes[fp] = int(b or 0)
    return files, sizes


def _clamp_rate_limit(
    root: str,
    since: int,
    until: int,
    max_versions: int | None,
    max_files: int | None,
    max_bytes: int | None,
) -> int:
    """Admission control for a micro-batch (VERDICT r5 #5): clamp the
    batch's end version so it admits at most ``max_versions`` commits,
    and/or stops at the first commit where the cumulative NEW files /
    bytes reach the caps — versions are uneven units under compaction,
    so byte/file caps bound actual work. At least one version is always
    admitted (progress guarantee, Delta's maxBytesPerTrigger rule).
    Pure driver metadata: file lists from the manifests, sizes from the
    committed ``__bytes`` stats."""
    if max_versions is not None:
        until = min(until, since + max_versions)
    if (max_files is None and max_bytes is None) or until <= since:
        return until
    prev = set(_manifest_files(root, since)) if since > 0 else set()
    tot_f = tot_b = 0
    admitted = since
    for v in range(since + 1, until + 1):
        got = _manifest_files_sizes(root, v)
        if got is None:
            # gap (expired snapshot): don't clamp — the reader's own
            # expiry diagnostics fire with the full range
            return until
        files, sizes = got
        new = [fp for fp in files if fp not in prev]
        tot_f += len(new)
        tot_b += sum(sizes.get(fp, 0) for fp in new)
        admitted = v  # at least one version always admitted
        prev = set(files)
        if (max_files is not None and tot_f >= max_files) or (
            max_bytes is not None and tot_b >= max_bytes
        ):
            break
    return admitted


def _manifest_meta(root: str, version: int) -> dict | None:
    """Operation + materialized file list + delete entries + commit time
    of a snapshot (parts-aware, no Spark)."""
    if version <= 0:
        return {
            "op": None,
            "files": [],
            "delete_files": [],
            "delete_entries": [],
            "committed_at": None,
            "row_ids": {},
            "delete_vectors": {},
            "file_seq": {},
            "stats": {},
        }
    path = os.path.join(root, "snapshots", f"v{version}.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        m = json.load(f)
    return {
        "op": m.get("operation"),
        "files": _manifest_files(root, version),
        # entries are {"files": [...], "seq": N, ...} — flatten to the
        # referenced delete-file paths (identity for CDC gating)...
        "delete_files": [
            f for d in m.get("delete_files", []) for f in d["files"]
        ],
        # ...and keep the structured entries (pos flag + coordinate
        # files) for the position-delete CDC path
        "delete_entries": m.get("delete_files", []),
        "committed_at": m.get("committed_at"),
        "row_ids": _manifest_row_ids(root, m),
        # deletion vectors (v3): per-data-file bitmap entries — their
        # per-commit delta is CDC-emittable exactly like pos deletes
        "delete_vectors": m.get("delete_vectors", {}),
        # file_seq + stats feed the EQUALITY-delete emission: seq scopes
        # which files an entry can claim, stats range-prune the files
        # whose key bounds can't overlap the entry's keys
        "file_seq": _manifest_part_map(root, m, "file_seq"),
        "stats": _manifest_part_map(root, m, "stats"),
    }


def _manifest_part_map(root: str, m: dict, key: str) -> dict:
    """A per-file PART_KEY map of a manifest (parts-aware, no Spark)."""
    if key in m:
        return m[key] or {}
    if key not in (m.get("part_keys") or []):
        return {}
    out: dict = {}
    for ppath in m.get("parts", []):
        with open(ppath) as f:
            out.update(json.load(f).get(key) or {})
    return out


def _manifest_row_ids(root: str, m: dict) -> dict[str, int]:
    """Per-file first_row_id map of a manifest (Iceberg v3 row lineage),
    materializing parts — the id substrate for the identity-keyed CDC
    feed. Empty for pre-lineage manifests."""
    if "row_ids" in m:
        return m["row_ids"] or {}
    if "row_ids" not in (m.get("part_keys") or []):
        return {}
    out: dict[str, int] = {}
    for ppath in m.get("parts", []):
        with open(ppath) as f:
            out.update(json.load(f).get("row_ids") or {})
    return out


def _commit_ts(meta: dict):
    """Commit wall-clock as a tz-aware datetime (Delta CDF's
    ``_commit_timestamp`` convention, ADVICE r5) — None for manifests
    that predate the field."""
    from datetime import datetime, timezone

    ts = meta.get("committed_at")
    if ts is None:
        return None
    return datetime.fromtimestamp(float(ts), tz=timezone.utc)


def _enc_key_opt(opts: dict) -> bytes | None:
    """encryptionKey option (hex) -> validated key bytes, for every
    reader format over an encrypted table."""
    raw = opts.get("encryptionkey")
    if not raw:
        return None
    from ..sources.encryption import normalize_table_key

    return normalize_table_key(raw)


def _pf_auto(path: str, table_key: bytes | None = None):
    """ParquetFile over a possibly-encrypted file (table encryption)."""
    from ..sources.encryption import parquet_file_auto

    return parquet_file_auto(path, table_key)


def _rt_auto(path: str, table_key: bytes | None = None, columns=None):
    from ..sources.encryption import read_table_auto

    return read_table_auto(path, table_key, columns=columns)


def _schema_auto(path: str):
    """Arrow schema of a possibly-encrypted file WITHOUT the table key
    (encrypted files publish their schema in the key sidecar)."""
    from ..sources import encryption as E

    if E.is_encrypted_file(path):
        return E.sidecar_schema(path)
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).schema_arrow


def _norm_path(v: str) -> str:
    """A file URI (``file:/...`` as coordinate files store the parquet
    reader's path, ``file:///...`` as users may pass a table path) as
    the plain path manifests store. The reader percent-escapes the path
    (``sources.lakehouse.reader_path``); ``unquote``, not
    ``unquote_plus``, undoes it, since ``+`` stays literal there."""
    from urllib.parse import unquote

    if v.startswith("file:"):
        v = v[5:]
        while v.startswith("//"):
            v = v[1:]
        v = unquote(v)
    return v


def _manifest_schema_json(root: str, version: int) -> str | None:
    """Declared Spark schema JSON of a snapshot (a top-level manifest
    key, never a PART key) — None for pre-schema-tracking manifests."""
    if version <= 0:
        return None
    path = os.path.join(root, "snapshots", f"v{version}.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f).get("schema")


def _default_py(value, type_json):
    """Schema-metadata default literal → the python value
    ``pyarrow...to_pylist()`` would yield for a MATERIALIZED column of
    the declared type — so rows filled from the default compare equal
    to rows whose file physically contains it (the CDC net-to-zero
    requirement across a compaction that materializes defaults)."""
    if value is None:
        return None
    t = type_json if isinstance(type_json, str) else ""
    if t == "date":
        from datetime import date

        return date.fromisoformat(value)
    if t.startswith("timestamp"):
        from datetime import datetime

        return datetime.fromisoformat(value)
    if t.startswith("decimal"):
        from decimal import Decimal

        return Decimal(str(value))
    if t == "double" or t == "float":
        return float(value)
    return value


def _schema_defaults(schema_json: str | None) -> dict:
    """{column: python initial-default} for declared fields carrying an
    Iceberg v3 ``initial-default`` — the read-time fill for files
    written before the column existed."""
    if not schema_json:
        return {}
    out: dict = {}
    for f in json.loads(schema_json)["fields"]:
        md = f.get("metadata") or {}
        if md.get("initial_default") is not None:
            out[f["name"]] = _default_py(
                md["initial_default"], f.get("type")
            )
    return out


# SQL-table option smuggling (CREATE TABLE ... USING lakehouse): the
# metadata key under which schema() embeds the table options into the
# catalog-persisted schema, and the allowlist of option names carried.
_SQL_OPTS_KEY = "__lakehouse_options"
_SQL_CARRIED_OPTS = {
    "path",
    "versionasof",
    "timestampasof",
    "startingversion",
    "endingversion",
    "withlineage",
    "partitionby",
}


_SQL_REG_PATH = os.path.join(
    tempfile.gettempdir(),
    # per-user: the temp dir is shared on multi-tenant hosts
    f".spark_lakehouse_sql_tables.{os.getuid()}.json",
)


def _sql_fingerprint(schema) -> str:
    """Metadata-insensitive shape key of a schema: (name, type) pairs,
    lineage columns excluded. INSERT ... SELECT hands the writer the
    QUERY's schema (no field metadata), so the option bundle must also
    be resolvable by shape."""
    return json.dumps(
        [
            [f.name, f.dataType.json()]
            for f in schema.fields
            if f.name not in ("_row_id", "_last_updated_version")
        ]
    )


def _record_sql_options(fingerprint: str, opts: dict) -> None:
    """Remember a SQL table's options on the driver host, keyed by
    schema shape (the channel INSERT ... SELECT needs — its writer gets
    neither options nor the catalog's metadata-carrying schema). Merged
    read-modify-write with atomic replace; multiple DISTINCT option
    bundles under one shape are all kept so lookup can refuse loudly
    instead of writing into the wrong table."""
    try:
        with open(_SQL_REG_PATH) as f:
            reg = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        reg = {}
    # self-clean: drop bundles whose table no longer exists (scratch
    # tables are rmtree'd after use — without this, accumulated same-
    # shape entries would trip the ambiguity refusal forever)
    entries = [
        e
        for e in reg.get(fingerprint, [])
        if os.path.isdir(_norm_path(e.get("path", "")))
    ]
    reg[fingerprint] = entries
    if opts not in entries:
        entries.append(opts)
    tmp = _SQL_REG_PATH + f".{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(reg, f)
    os.replace(tmp, _SQL_REG_PATH)


def _lookup_sql_options(fingerprint: str) -> dict | None:
    try:
        with open(_SQL_REG_PATH) as f:
            reg = json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        return None
    entries = [
        e
        for e in (reg.get(fingerprint) or [])
        if os.path.isdir(_norm_path(e.get("path", "")))
    ]
    if not entries:
        return None
    paths = {e.get("path") for e in entries}
    if len(paths) > 1:
        raise ValueError(
            "lakehouse SQL-table options are ambiguous: "
            f"{len(paths)} tables share this schema shape ({sorted(paths)})"
            " — write via df.write.format('lakehouse').option('path', ...)"
        )
    return entries[0]


def _strip_sql_opts(st):
    """StructType with the smuggled SQL-table option bundle removed from
    field metadata (writers must not persist it into table schemas)."""
    from pyspark.sql.types import StructField, StructType

    fields = []
    for f in st.fields:
        md = {
            k: v
            for k, v in (f.metadata or {}).items()
            if k != _SQL_OPTS_KEY
        }
        fields.append(StructField(f.name, f.dataType, f.nullable, md))
    return StructType(fields)


def _nullable_struct(st):
    """Declared Spark schema with every top-level field forced nullable —
    Python Data Source rows are reassembled driver/worker-side where
    Spark cannot prove the writer's not-null invariant, and a
    nullable=False field in a DSv2-python schema breaks the streaming
    ingest (INTERNAL_ERROR on collect). Matches from_arrow_schema's
    behavior, which always yielded nullable fields here before."""
    from pyspark.sql.types import StructField, StructType

    from pyspark.sql.types import StringType, VariantType

    # metadata (initial_default / prior_names) is STRIPPED: it is
    # reader-internal, and Spark 4.1's Python streaming runner fails an
    # assertion converting prefetched rows to Arrow when the source
    # schema carries field metadata. VARIANT downgrades to its physical
    # JSON-string encoding: Arrow has no variant type, so the DSv2 and
    # streaming surfaces serve the JSON text (LakehouseTable.read()
    # serves true VARIANT).
    return StructType(
        [
            StructField(
                f.name,
                StringType()
                if isinstance(f.dataType, VariantType)
                else f.dataType,
                True,
            )
            for f in st.fields
        ]
    )


def _stream_colnames(root: str) -> list[str]:
    """Column names a stream of this table emits: the declared schema's
    (minus reserved lineage columns) when the tip manifest declares one
    — so columns added after the first file (add_column, with or
    without defaults) are present — else the first file's (pre-schema
    tables)."""
    sj = _manifest_schema_json(root, _current_version(root))
    if sj:
        return [
            f["name"]
            for f in json.loads(sj)["fields"]
            if not _reserved_physical(f["name"])
        ]
    files = _manifest_files(root, _current_version(root))
    return [
        f.name
        for f in _schema_auto(files[0])
        if not _reserved_physical(f.name)
    ]


def _pos_coords(
    entry_files: list[str], table_key: bytes | None = None
) -> dict[str, set[int]]:
    """target data file -> set of doomed row positions, from a position
    delete entry's coordinate files."""
    out: dict[str, set[int]] = {}
    for kf in entry_files:
        t = _rt_auto(kf, table_key)
        for fv, pv in zip(
            t.column("__file").to_pylist(), t.column("__pos").to_pylist()
        ):
            out.setdefault(_norm_path(fv), set()).add(pv)
    return out


def _entry_key(d: dict) -> str:
    return json.dumps(d, sort_keys=True)


def _cdc_entry_delta(
    prev_entries: list[dict], cur_entries: list[dict]
) -> tuple[list[dict], list[dict]]:
    """Delete entries added/removed by a commit."""
    pk = {_entry_key(d): d for d in prev_entries}
    ck = {_entry_key(d): d for d in cur_entries}
    added = [d for k, d in ck.items() if k not in pk]
    removed = [d for k, d in pk.items() if k not in ck]
    return added, removed


def _eq_keyset(
    entry: dict, table_key: bytes | None = None
) -> tuple[list[str], set[tuple]]:
    """(key column names, set of doomed key tuples) of an EQUALITY
    delete entry, read from its key parquet files. Unreadable key files
    raise with direction (same contract as pos coordinates: GC keeps
    them for every retained manifest)."""
    keys = list(entry["keys"])
    vals: set[tuple] = set()
    for kf in entry["files"]:
        try:
            t = _rt_auto(kf, table_key, columns=keys)
        except (FileNotFoundError, OSError) as ex:
            raise ValueError(
                "lakehouse CDC: an equality-delete entry references "
                f"key file {kf!r} which is unreadable — widen the "
                "interval past the damaged snapshot or re-sync from a "
                "full read"
            ) from ex
        cols = [t.column(k).to_pylist() for k in keys]
        vals.update(zip(*cols) if cols else [])
    return keys, vals


def _eq_stats_skip(file_stats: dict, keys: list[str], vals: set) -> bool:
    """True when the file's recorded min/max for EVERY key column rules
    out any of the entry's key tuples — the file provably holds no
    matching row and need not be read (the VERDICT r7 'scoped by the
    delete file's key ranges' prune).

    NULL-keyed tuples (ADVICE r8): min/max stats EXCLUDE nulls, and the
    batch reader matches keys null-safely — so when any tuple carries a
    NULL component for column k, k can prune only if the file's __nulls
    stat proves the file holds no NULL at k (unknown counts keep the
    file; CDC emission must never diverge from the batch read)."""
    for i, k in enumerate(keys):
        rng = (file_stats or {}).get(k)
        if not isinstance(rng, list) or len(rng) != 2:
            continue
        null_keyed = any(t[i] is None for t in vals)
        if null_keyed:
            file_nulls = ((file_stats or {}).get("__nulls") or {}).get(k)
            if file_nulls != 0:
                continue  # a NULL row could match a NULL-keyed tuple
        try:
            kv = [t[i] for t in vals if t[i] is not None]
            if kv and (max(kv) < rng[0] or min(kv) > rng[1]):
                return True
            if not kv and null_keyed:
                # every tuple is NULL at k and the file provably has no
                # NULL at k: nothing can match
                return True
        except TypeError:
            continue  # non-comparable key type: keep the file
    return False


def _dv_positions(
    entry: dict, table_key: bytes | None = None
) -> set[int]:
    """Decode one deletion-vector bitmap entry (path/offset/length into
    a Puffin-style container) into its row positions. Checksum-verified
    via the shared reader (ADVICE r7 — executor paths must not apply a
    truncated bitmap silently)."""
    import numpy as np

    from ..sources.lakehouse import _read_dv_bytes

    blob = _read_dv_bytes(
        entry["path"],
        entry["offset"],
        entry["length"],
        entry.get("sha256"),
        table_key=table_key if entry.get("enc") else None,
        encrypted=bool(entry.get("enc")),
    )
    return set(
        np.nonzero(np.unpackbits(np.frombuffer(blob, dtype=np.uint8)))[
            0
        ].tolist()
    )


def _cdc_rows(
    root: str,
    since: int,
    until: int,
    colnames: list[str],
    row_level: bool = False,
    defaults: dict | None = None,
    table_key: bytes | None = None,
) -> list[tuple]:
    """Change rows for snapshots (since, until] — the streaming CHANGE
    FEED (Delta's readChangeFeed / Iceberg's changelog scan, streamed):
    every commit is net row-diffed over its CHANGED FILES ONLY (removed
    vs added multisets — a compaction that rewrites identical rows
    nets to zero automatically, an overwrite/merge/CoW delete nets to
    its true inserts+deletes). Rows are (cols..., _change_type,
    _commit_version).

    POSITION delete commits are emitted (r6): the coordinate files name
    exact (file, row) targets, so the feed reads precisely the doomed
    rows and emits their delete events. EQUALITY delete commits
    (delete-mor / update-mor) are emitted too (r7, VERDICT r6 #1 —
    lifting the r6 refusal): the entry's key tuples are evaluated
    against the PRE-commit side's carried files — scoped by each file's
    sequence number (a file newer than the entry is exempt) and its
    manifest key-column min/max stats (non-overlapping files are not
    read) — and the matching still-alive rows emit as deletes; an
    entry REMOVED while its files persist (rollback past a MoR delete)
    emits the matching rows back as inserts. DELETION VECTOR commits
    (v3) emit the bitmap's newly-dead positions as deletes and, on
    rollback, resurrected positions as inserts. File diffs everywhere
    exclude already-dead rows (pos + DV + equality, each side under its
    OWN pending set), so the eventual compaction that materializes any
    delete flavor away still nets to zero.

    In ``row_level`` mode an update_where_mor commit (equality delete +
    same-identity reinsert in one commit) surfaces as Delta CDF
    ``update_preimage``/``update_postimage`` PAIRS sharing the
    ``_row_id``, not as unrelated delete+insert.

    ``row_level`` (``rowLineage=true``, r6): the diff keys on the
    Iceberg v3 ``_row_id`` (the file's first_row_id + position, or the
    materialized ``__row_id`` a rewrite wrote) instead of value
    multisets, and rows become (cols..., _row_id, _change_type,
    _commit_version, _commit_timestamp) with Delta CDF's FOUR change
    types: an id on both sides of a commit with differing values is an
    ``update_preimage``/``update_postimage`` PAIR sharing the id; a
    rewrite that moves rows without changing them nets to zero by
    IDENTITY, and a delete+identical-reinsert is correctly two
    different identities."""
    from collections import Counter

    import pyarrow.parquet as pq

    prev = _manifest_meta(root, since)
    if prev is None:
        raise RuntimeError(
            f"lakehouse_stream CDC: snapshot v{since} expired — consumer "
            "lagged past snapshot retention"
        )
    # Iceberg v3 initial-defaults (immutable once set, so any manifest
    # in the range yields the same values): rows read from files that
    # predate an added defaulted column fill the default, exactly as
    # the batch readers do — a compaction that MATERIALIZES the default
    # into rewritten files then nets to zero here too
    dflts = (
        defaults
        if defaults is not None
        else _schema_defaults(_manifest_schema_json(root, until))
    )
    fill = [dflts.get(n) for n in colnames]
    # hive-partitioned files OMIT the partition column — recover it
    # from the path (typed via the declared schema) or every CDC row
    # reads the column NULL (the r11 bug class)
    _sj_types: dict = {}
    _sj = _manifest_schema_json(root, until)
    if _sj:
        _sj_types = {
            f["name"]: f.get("type") for f in json.loads(_sj)["fields"]
        }

    def _cols_for(tf: str, t) -> list:
        names = t.column_names
        hv = _hive_path_values(tf)
        cols = []
        for n in colnames:
            if n in names:
                cols.append(t.column(n).to_pylist())
            elif n in hv:
                cols.append(
                    [_hive_cast(hv[n], _sj_types.get(n))] * t.num_rows
                )
            else:
                cols.append(None)
        return cols

    coords_cache: dict[str, dict[str, set[int]]] = {}
    keyset_cache: dict[str, tuple[list[str], set[tuple]]] = {}
    dv_cache: dict[tuple, set[int]] = {}

    def entry_coords(d: dict) -> dict[str, set[int]]:
        k = _entry_key(d)
        if k not in coords_cache:
            coords_cache[k] = _pos_coords(d["files"], table_key)
        return coords_cache[k]

    def entry_keyset(d: dict) -> tuple[list[str], set[tuple]]:
        k = _entry_key(d)
        if k not in keyset_cache:
            keyset_cache[k] = _eq_keyset(d, table_key)
        return keyset_cache[k]

    def dv_pos(e: dict) -> set[int]:
        k = (e["path"], e["offset"], e["length"])
        if k not in dv_cache:
            dv_cache[k] = _dv_positions(e, table_key)
        return dv_cache[k]

    def eq_match_positions(
        tf: str, keys: list[str], vals: set[tuple]
    ) -> set[int]:
        """Row positions in one data file whose key tuple is doomed."""
        have = set(_schema_auto(tf).names)
        missing = [k for k in keys if k not in have]
        if missing:
            raise ValueError(
                "lakehouse CDC: equality-delete key columns "
                f"{missing} not present in data file {tf!r} (renamed "
                "after the delete?) — consume the batch "
                "LakehouseTable.changelog, which maps historical names"
            )
        t = _rt_auto(tf, table_key, columns=[k for k in keys])
        cols = [t.column(k).to_pylist() for k in keys]
        return {
            i
            for i, tup in enumerate(zip(*cols) if cols else [])
            if tup in vals
        }

    def side_dead(meta: dict, files) -> dict[str, set[int]]:
        """Per-file dead positions of ONE side's pending delete state
        (pos coordinates + deletion vectors + seq/stats-scoped equality
        matches), restricted to the files about to be read — so file
        diffs compare EFFECTIVE row sets and every delete flavor's
        eventual materialization nets to zero."""
        want = set(files)
        dead: dict[str, set[int]] = {}
        if not want:
            return dead
        for d in meta["delete_entries"]:
            if d.get("pos"):
                for tf, ps in entry_coords(d).items():
                    if tf in want:
                        dead.setdefault(tf, set()).update(ps)
        for tf, e in meta.get("delete_vectors", {}).items():
            if tf in want:
                dead.setdefault(tf, set()).update(dv_pos(e))
        seqs = meta.get("file_seq", {})
        stats = meta.get("stats", {})
        for d in meta["delete_entries"]:
            if d.get("pos"):
                continue
            keys, vals = entry_keyset(d)
            if not vals:
                continue
            for tf in want:
                if seqs.get(tf, 0) > d["seq"]:
                    continue  # file postdates the delete: exempt
                if _eq_stats_skip(stats.get(tf), keys, vals):
                    continue
                ps = eq_match_positions(tf, keys, vals)
                if ps:
                    dead.setdefault(tf, set()).update(ps)
        return dead

    def read_multiset(
        files: list[str], dead: dict[str, set[int]]
    ) -> Counter:
        c: Counter = Counter()
        for f in files:
            t = _rt_auto(f, table_key)
            cols = _cols_for(f, t)
            skip = dead.get(f, ())
            n_rows = t.num_rows
            for i in range(n_rows):
                if i in skip:
                    continue  # already logically deleted — not a change
                c[
                    tuple(
                        col[i] if col is not None else fill[j]
                        for j, col in enumerate(cols)
                    )
                ] += 1
        return c

    def rows_at(tf: str, positions: set[int]) -> list[tuple]:
        t = _rt_auto(tf, table_key)
        cols = _cols_for(tf, t)
        return [
            tuple(
                col[i] if col is not None else fill[j]
                for j, col in enumerate(cols)
            )
            for i in sorted(positions)
        ]

    def _rid(phys, base, i: int, tf: str) -> int:
        if phys is not None and phys[i] is not None:
            return phys[i]
        if base is None:
            raise ValueError(
                "lakehouse_stream CDC rowLineage: data file has neither "
                f"a first_row_id nor materialized __row_id ({tf!r}) — "
                "the snapshot predates lineage tracking; commit once "
                "(any write) to assign row ids"
            )
        return base + i

    def read_id_map(
        files: list[str],
        dead: dict[str, set[int]],
        bases: dict[str, int],
    ) -> dict[int, tuple]:
        out_m: dict[int, tuple] = {}
        for f in files:
            t = _rt_auto(f, table_key)
            names = t.column_names
            cols = _cols_for(f, t)
            phys = (
                t.column("__row_id").to_pylist()
                if "__row_id" in names
                else None
            )
            base = bases.get(f)
            skip = dead.get(f, ())
            for i in range(t.num_rows):
                if i in skip:
                    continue
                out_m[_rid(phys, base, i, f)] = tuple(
                    col[i] if col is not None else fill[j]
                    for j, col in enumerate(cols)
                )
        return out_m

    def ids_at(
        tf: str, positions: set[int], bases: dict[str, int]
    ) -> list[tuple]:
        """(row values, _row_id) at the given positions of one file."""
        t = _rt_auto(tf, table_key)
        names = t.column_names
        cols = _cols_for(tf, t)
        phys = (
            t.column("__row_id").to_pylist()
            if "__row_id" in names
            else None
        )
        base = bases.get(tf)
        return [
            (
                tuple(
                    col[i] if col is not None else fill[j]
                    for j, col in enumerate(cols)
                ),
                _rid(phys, base, i, tf),
            )
            for i in sorted(positions)
        ]

    out: list[tuple] = []
    prev_meta = prev
    for v in range(since + 1, until + 1):
        m = _manifest_meta(root, v)
        if m is None:
            raise RuntimeError(
                f"lakehouse_stream CDC: snapshot v{v} expired — consumer "
                "lagged past snapshot retention"
            )
        prev_files = set(prev_meta["files"])
        prev_row_ids = prev_meta["row_ids"]
        added_e, removed_e = _cdc_entry_delta(
            prev_meta["delete_entries"], m["delete_entries"]
        )
        ts = _commit_ts(m)
        files = set(m["files"])
        removed = sorted(prev_files - files)
        added = sorted(files - prev_files)
        both = files & prev_files
        # this commit's delete emissions, buffered so an equality delete
        # whose identity is re-inserted in the SAME commit (MoR update)
        # can pair as update_preimage/update_postimage
        del_rows: list[tuple] = []  # value-mode (values,)
        del_ids: dict[int, tuple] = {}  # row_level: rid -> old values
        ins_pos: dict[str, set[int]] = {}  # resurrection positions

        # --- delete-entry deltas over files present on BOTH sides (a
        # file removed this commit reports its rows through the diff
        # below; a file added this commit arrives with the rows already
        # dead — both excluded here) ---
        # position deletes: exact coordinates
        for d in added_e:
            if not d.get("pos"):
                continue
            for tf, ps in sorted(entry_coords(d).items()):
                if tf in both:
                    if row_level:
                        del_ids.update(
                            (rid, t)
                            for t, rid in ids_at(tf, ps, prev_row_ids)
                        )
                    else:
                        del_rows.extend(rows_at(tf, ps))
        # equality deletes (r7): evaluate the entry's key tuples against
        # the pre-commit side's carried files — seq-scoped, stats-pruned
        eq_added = [d for d in added_e if not d.get("pos")]
        # streaming-upsert commits (r9): the SAME commit equality-deletes
        # a key's old row and appends its new row — pair them by the
        # entry's key columns as update_preimage/update_postimage (Delta
        # CDF MERGE semantics). Identity note: the new row is a NEW
        # physical row, so in row_level mode the pair spans two _row_ids
        # (old id on the preimage, new id on the postimage) — unlike
        # update_where_mor, which preserves identity.
        upsert_idx: list[int] | None = None
        if m["op"] == "streaming-upsert" and eq_added:
            try:
                upsert_idx = [
                    colnames.index(k) for k in eq_added[0]["keys"]
                ]
            except ValueError:
                upsert_idx = None  # renamed key column: fall back to
                # unpaired delete+insert (still net-correct)
        if eq_added and both:
            prev_seqs = prev_meta.get("file_seq", {})
            prev_stats = prev_meta.get("stats", {})
            cand: set[str] = set()
            scoped: list[tuple[dict, list[str], set[tuple], list[str]]] = []
            for d in eq_added:
                keys, vals = entry_keyset(d)
                tfs = [
                    tf
                    for tf in sorted(both)
                    if prev_seqs.get(tf, 0) <= d["seq"]
                    and not _eq_stats_skip(prev_stats.get(tf), keys, vals)
                ]
                scoped.append((d, keys, vals, tfs))
                cand.update(tfs)
            # rows already dead on the pre-commit side (pos/DV/older
            # equality entries) are not re-emitted
            dead_before = side_dead(prev_meta, cand)
            for d, keys, vals, tfs in scoped:
                for tf in tfs:
                    ps = eq_match_positions(tf, keys, vals) - (
                        dead_before.get(tf) or set()
                    )
                    if not ps:
                        continue
                    dead_before.setdefault(tf, set()).update(ps)
                    if row_level:
                        del_ids.update(
                            (rid, t)
                            for t, rid in ids_at(tf, ps, prev_row_ids)
                        )
                    else:
                        del_rows.extend(rows_at(tf, ps))
        # entries REMOVED while their target files persist (rollback
        # past the delete): the rows come back — inserts
        eq_removed = [d for d in removed_e if not d.get("pos")]
        for d in removed_e:
            if not d.get("pos"):
                continue
            for tf, ps in sorted(entry_coords(d).items()):
                if tf in both:
                    ins_pos.setdefault(tf, set()).update(ps)
        if eq_removed and both:
            cur_seqs = m.get("file_seq", {})
            cur_stats = m.get("stats", {})
            for d in eq_removed:
                keys, vals = entry_keyset(d)
                for tf in sorted(both):
                    if cur_seqs.get(tf, 0) > d["seq"]:
                        continue
                    if _eq_stats_skip(cur_stats.get(tf), keys, vals):
                        continue
                    ps = eq_match_positions(tf, keys, vals)
                    if ps:
                        ins_pos.setdefault(tf, set()).update(ps)
        # deletion-vector deltas (v3): newly-set bits are deletes,
        # cleared bits (rollback — replacement is otherwise a superset)
        # are resurrections
        dv_prev = prev_meta.get("delete_vectors", {})
        dv_cur = m.get("delete_vectors", {})
        dv_dead_files = [
            tf for tf in sorted(both) if dv_prev.get(tf) != dv_cur.get(tf)
        ]
        if dv_dead_files:
            # subtract rows a pos/equality entry already killed
            other_dead = side_dead(
                {**prev_meta, "delete_vectors": {}}, dv_dead_files
            )
            for tf in dv_dead_files:
                old_pos = dv_pos(dv_prev[tf]) if tf in dv_prev else set()
                new_pos = dv_pos(dv_cur[tf]) if tf in dv_cur else set()
                newly = new_pos - old_pos - (other_dead.get(tf) or set())
                back = old_pos - new_pos
                if newly:
                    if row_level:
                        del_ids.update(
                            (rid, t)
                            for t, rid in ids_at(tf, newly, prev_row_ids)
                        )
                    else:
                        del_rows.extend(rows_at(tf, newly))
                if back:
                    ins_pos.setdefault(tf, set()).update(back)
        # resurrections: rows still dead under the CURRENT side's
        # remaining pending state stay dead — not a change
        if ins_pos:
            still_dead = side_dead(m, set(ins_pos))
            for tf in sorted(ins_pos):
                ps = ins_pos[tf] - (still_dead.get(tf) or set())
                if not ps:
                    continue
                if row_level:
                    out.extend(
                        (*t, rid, "insert", v, ts)
                        for t, rid in ids_at(tf, ps, m["row_ids"])
                    )
                else:
                    out.extend(
                        (*t, "insert", v, ts) for t in rows_at(tf, ps)
                    )

        # --- file-level diff (each side under its OWN pending set) ---
        if (removed or added) and row_level:
            # identity-keyed commit diff: ids are unique per snapshot,
            # so the sides are dicts, not multisets
            new_map = read_id_map(
                added, side_dead(m, added), m["row_ids"]
            )
            old_map = read_id_map(
                removed, side_dead(prev_meta, removed), prev_row_ids
            )
            eq_del_bykey: dict[tuple, list[int]] = {}
            if upsert_idx is not None:
                for orid in sorted(del_ids):
                    eq_del_bykey.setdefault(
                        tuple(del_ids[orid][i] for i in upsert_idx), []
                    ).append(orid)
            for rid in sorted(old_map.keys() - new_map.keys()):
                out.append((*old_map[rid], rid, "delete", v, ts))
            for rid in sorted(new_map.keys() - old_map.keys()):
                if rid in del_ids:
                    # equality-deleted identity re-inserted in the SAME
                    # commit = MoR UPDATE: one Delta-CDF pair, not an
                    # unrelated delete+insert
                    out.append(
                        (*del_ids.pop(rid), rid, "update_preimage", v, ts)
                    )
                    out.append(
                        (*new_map[rid], rid, "update_postimage", v, ts)
                    )
                    continue
                if upsert_idx is not None:
                    key = tuple(new_map[rid][i] for i in upsert_idx)
                    olds = eq_del_bykey.get(key)
                    if olds:
                        orid = olds.pop(0)
                        out.append(
                            (
                                *del_ids.pop(orid),
                                orid,
                                "update_preimage",
                                v,
                                ts,
                            )
                        )
                        out.append(
                            (*new_map[rid], rid, "update_postimage", v, ts)
                        )
                        continue
                out.append((*new_map[rid], rid, "insert", v, ts))
            for rid in sorted(old_map.keys() & new_map.keys()):
                if old_map[rid] != new_map[rid]:
                    out.append(
                        (*old_map[rid], rid, "update_preimage", v, ts)
                    )
                    out.append(
                        (*new_map[rid], rid, "update_postimage", v, ts)
                    )
        elif removed or added:
            ca = read_multiset(added, side_dead(m, added))
            cr = read_multiset(removed, side_dead(prev_meta, removed))
            delmap: dict[tuple, list[tuple]] = {}
            if upsert_idx is not None:
                for t in del_rows:
                    delmap.setdefault(
                        tuple(t[i] for i in upsert_idx), []
                    ).append(t)
                del_rows = []
            for t, n in sorted((ca - cr).items(), key=repr):
                for _ in range(n):
                    olds = delmap.get(
                        tuple(t[i] for i in upsert_idx)
                    ) if upsert_idx is not None else None
                    if olds:
                        out.append(
                            (*olds.pop(0), "update_preimage", v, ts)
                        )
                        out.append((*t, "update_postimage", v, ts))
                    else:
                        out.append((*t, "insert", v, ts))
            # tombstoned keys (no same-commit reinsert) stay deletes
            for key in sorted(delmap, key=repr):
                del_rows.extend(delmap[key])
            for t, n in sorted((cr - ca).items(), key=repr):
                out.extend([(*t, "delete", v, ts)] * n)
        # buffered deletes that found no same-commit reinsert
        if row_level:
            out.extend(
                (*del_ids[rid], rid, "delete", v, ts)
                for rid in sorted(del_ids)
            )
        else:
            out.extend((*t, "delete", v, ts) for t in del_rows)
        prev_meta = m
    return out


# physical row-lineage columns (Iceberg v3): rewrites MATERIALIZE these
# into data files so row identity survives compaction/CoW; they are
# table metadata, not user data — every raw-file reader below must
# exclude them or a rewritten file would change the visible schema and
# un-cancel CDC multiset diffs
_RESERVED_LINEAGE = ("__row_id", "__last_updated")


def _reserved_physical(name: str) -> bool:
    """True for engine-materialized PHYSICAL columns that must never
    surface through a raw-file read: row-lineage columns and the
    ``__geo_*`` / ``__shred_*`` stat shreds (variant shredding, geometry
    envelopes). Declared-schema projections exclude shreds naturally
    (they are never declared); this guard covers the pre-schema raw
    paths, where a rewritten file would otherwise change the visible
    schema and un-cancel CDC multiset diffs."""
    return (
        name in _RESERVED_LINEAGE
        or name.startswith("__geo_")
        or name.startswith("__shred_")
    )


def _us_schema(schema):
    """Arrow schema with nanosecond timestamps demoted to microseconds
    (Spark's INT96 parquet timestamps surface as timestamp[ns] in
    pyarrow, which Spark's Arrow ingest path rejects —
    UNSUPPORTED_ARROWTYPE) and materialized lineage columns dropped."""
    import pyarrow as pa

    return pa.schema(
        [
            pa.field(
                f.name,
                pa.timestamp("us", f.type.tz)
                if pa.types.is_timestamp(f.type) and f.type.unit == "ns"
                else f.type,
                f.nullable,
            )
            for f in schema
            if not _reserved_physical(f.name)
        ]
    )


def _us_batches(pf):
    """Iterate a ParquetFile's record batches with ns→µs timestamp cast
    applied when needed (no-op otherwise)."""
    import pyarrow as pa

    target = _us_schema(pf.schema_arrow)
    plain = target == pf.schema_arrow
    names = [f.name for f in target]
    for batch in pf.iter_batches():
        if plain:
            yield batch
        else:
            yield from (
                pa.Table.from_batches([batch])
                .select(names)
                .cast(target)
                .to_batches()
            )


def _us_batches_tbl(tbl):
    """_us_batches over an in-memory Arrow table (post-filter): ns→µs
    timestamp cast + reserved-column strip, then record batches."""
    target = _us_schema(tbl.schema)
    if target == tbl.schema:
        yield from tbl.to_batches()
        return
    yield from tbl.select([f.name for f in target]).cast(
        target
    ).to_batches()


def make_lakehouse_stream_source():
    """Build (and return) the DataSource class. Deferred import keeps the
    module importable on Spark versions without the Python Data Source
    API."""
    from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

    class _Reader(SimpleDataSourceStreamReader):
        def __init__(
            self,
            root: str,
            starting_version: int = 0,
            max_versions_per_trigger: int | None = None,
            cdc: bool = False,
            max_files_per_trigger: int | None = None,
            max_bytes_per_trigger: int | None = None,
            row_level: bool = False,
            geo_bbox: dict[str, tuple] | None = None,
            enc_key: bytes | None = None,
        ):
            self.root = root
            self.starting_version = starting_version
            self.max_versions = max_versions_per_trigger
            self.max_files = max_files_per_trigger
            self.max_bytes = max_bytes_per_trigger
            self.cdc = cdc
            self.row_level = row_level
            self._enc_key = enc_key
            # geometry ingestion filter (append stream only): rows whose
            # envelope misses the window are dropped at the source. CDC
            # mode is REFUSED — a spatial filter over a change feed
            # would silently drop delete events for relocated rows and
            # un-balance every downstream merge.
            self.geo_bbox = geo_bbox or {}
            if self.geo_bbox and cdc:
                raise ValueError(
                    "lakehouse_stream: geoBBox cannot combine with "
                    "readChangeFeed (a windowed change feed would drop "
                    "delete events for rows that left the window) — "
                    "filter the MERGE target instead"
                )
            self._colnames = _stream_colnames(root)
            # plain (non-CDC) replay projection: when the tip manifest
            # declares a schema, rows from files that predate an
            # add_column fill the column's initial-default (else NULL)
            # instead of breaking tuple arity. The same tip-derived
            # defaults feed every per-commit CDC diff (initial-defaults
            # are immutable, so the tip's values hold for the whole
            # history — a per-commit manifest may PREDATE the add).
            sj = _manifest_schema_json(root, _current_version(root))
            self._cdc_defaults = _schema_defaults(sj)
            self._fill = [
                self._cdc_defaults.get(n) for n in self._colnames
            ]
            self._declared = sj is not None
            if self.geo_bbox and not self._declared:
                # _geo_keep_row indexes tuples by self._colnames order,
                # but the no-declared-schema branch of _rows_for emits
                # tuples in each FILE's physical column order — mixed
                # writers could disagree, silently filtering the wrong
                # column. Refuse loudly (mirrors the dist reader).
                raise ValueError(
                    "lakehouse_stream: geoBBox requires a declared "
                    "table schema (files may disagree on column order "
                    "otherwise) — write via the engine or declare the "
                    "schema first"
                )

        def initialOffset(self) -> dict:
            # 0 = replay the whole table in the first batch; a
            # startingVersion consumes only commits AFTER that snapshot
            # (Iceberg's stream-from-snapshot)
            return {"version": self.starting_version}

        def _geo_keep_row(self, row: tuple) -> bool:
            from ..functions.geo import bbox_of

            for c, (x0, y0, x1, y1) in self.geo_bbox.items():
                try:
                    i = self._colnames.index(c)
                except ValueError:
                    return False  # geometry column absent: NULL, no match
                b = row[i]
                if b is None:
                    return False
                bx0, by0, bx1, by1 = bbox_of(b)
                if not (
                    bx0 <= x1 and bx1 >= x0 and by0 <= y1 and by1 >= y0
                ):
                    return False
            return True

        def _rows_for(self, files: list[str]):
            # a LIST, not a generator: the runtime pickles the batch into
            # its prefetch cache so replay needn't re-read the source
            import pyarrow.parquet as pq

            rows: list[tuple] = []
            for f in files:
                pf = _pf_auto(f, self._enc_key)
                have = set(pf.schema_arrow.names)
                if not self._declared:
                    names = [
                        n
                        for n in pf.schema_arrow.names
                        if not _reserved_physical(n)
                    ]
                    for batch in pf.iter_batches(columns=names):
                        rows.extend(
                            zip(*[c.to_pylist() for c in batch.columns])
                        )
                    continue
                # declared-schema projection (column order + defaults)
                present = [n for n in self._colnames if n in have]
                for batch in pf.iter_batches(columns=present or None):
                    got = {
                        n: c.to_pylist()
                        for n, c in zip(batch.schema.names, batch.columns)
                    }
                    n_rows = batch.num_rows
                    cols = [
                        got.get(n, [self._fill[j]] * n_rows)
                        for j, n in enumerate(self._colnames)
                    ]
                    rows.extend(zip(*cols))
            if self.geo_bbox:
                rows = [r for r in rows if self._geo_keep_row(r)]
            return rows

        def read(self, start: dict):
            # rate limit (Iceberg streaming-read limits): admit at most
            # maxVersionsPerTrigger commits per micro-batch so a
            # backlogged table drains in bounded batches. Implemented
            # HERE because read(start) sees the checkpointed offset —
            # restart-safe by construction (the dist reader's no-args
            # latestOffset() cannot express this; its JVM ReadLimit
            # counterpart isn't surfaced to Python yet).
            until = _current_version(self.root)
            since = start["version"]
            until = _clamp_rate_limit(
                self.root,
                since,
                until,
                self.max_versions,
                self.max_files,
                self.max_bytes,
            )
            if until <= since:
                return [], start
            if self.cdc:
                return (
                    _cdc_rows(
                        self.root,
                        since,
                        until,
                        self._colnames,
                        row_level=self.row_level,
                        defaults=self._cdc_defaults,
                        table_key=self._enc_key,
                    ),
                    {"version": until},
                )
            files = _added_files(self.root, since, until)
            return self._rows_for(files), {"version": until}

        def readBetweenOffsets(self, start: dict, end: dict):
            # replay after restart: manifests are immutable, so the same
            # offset range always yields the same rows
            if self.cdc:
                return _cdc_rows(
                    self.root,
                    start["version"],
                    end["version"],
                    self._colnames,
                    row_level=self.row_level,
                    defaults=self._cdc_defaults,
                    table_key=self._enc_key,
                )
            return self._rows_for(
                _added_files(self.root, start["version"], end["version"])
            )

        def commit(self, end: dict) -> None:
            pass  # progress lives in the checkpoint; nothing to release

    class LakehouseStreamSource(DataSource):
        """``spark.readStream.format("lakehouse_stream")
        .option("path", <table root>)`` — snapshot-increment streaming."""

        @classmethod
        def name(cls) -> str:
            return "lakehouse_stream"

        def schema(self):
            from pyspark.sql.pandas.types import from_arrow_schema
            from pyspark.sql.types import (
                LongType,
                StringType,
                StructField,
                TimestampType,
            )

            root = self.options["path"]
            sj = _manifest_schema_json(root, _current_version(root))
            if sj:
                from pyspark.sql.types import StructType

                base = _nullable_struct(
                    StructType.fromJson(json.loads(sj))
                )
            else:
                files = _manifest_files(root, _current_version(root))
                if not files:
                    raise ValueError(f"empty lakehouse table at {root}")
                base = from_arrow_schema(
                    _us_schema(_schema_auto(files[0]))
                )
            opts = {k.lower(): v for k, v in self.options.items()}
            # Delta readChangeFeed column convention
            if opts.get("readchangefeed", "").lower() == "true":
                if opts.get("rowlineage", "").lower() == "true":
                    # Iceberg v3 identity column — upgrades the feed to
                    # four change types (update pre/postimage pairs)
                    base = base.add(StructField("_row_id", LongType()))
                base = base.add(
                    StructField("_change_type", StringType())
                ).add(StructField("_commit_version", LongType())).add(
                    StructField("_commit_timestamp", TimestampType())
                )
            return base

        def simpleStreamReader(self, schema):
            opts = {k.lower(): v for k, v in self.options.items()}
            mv = opts.get("maxversionspertrigger")
            mf = opts.get("maxfilespertrigger")
            mb = opts.get("maxbytespertrigger")
            return _Reader(
                _norm_path(opts["path"]),
                int(opts.get("startingversion", 0)),
                int(mv) if mv is not None else None,
                cdc=opts.get("readchangefeed", "").lower() == "true",
                max_files_per_trigger=int(mf) if mf is not None else None,
                max_bytes_per_trigger=int(mb) if mb is not None else None,
                row_level=opts.get("rowlineage", "").lower() == "true",
                geo_bbox=(
                    _parse_geo_bbox(opts["geobbox"])
                    if "geobbox" in opts
                    else None
                ),
                enc_key=_enc_key_opt(opts),
            )

    return LakehouseStreamSource


def make_lakehouse_stream_dist_source():
    """The SCALE variant: a partition-planning ``DataSourceStreamReader``.
    The driver only walks manifests (latestOffset / partitions); each
    added file becomes one input partition whose parquet is read ON THE
    EXECUTOR as Arrow record batches — no row ever crosses the driver.
    Offset semantics are identical to the simple reader, so the two are
    drop-in interchangeable; this one is the 100 TB shape (a commit with
    10k new files fans out to 10k tasks)."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamReader,
        InputPartition,
    )

    class _DistReader(DataSourceStreamReader):
        """Rate limiting: the no-args ``latestOffset()`` of this API
        variant cannot SEE the checkpointed position, so the throttle
        keeps a reader-local high-water mark learned from every engine
        call that carries an offset.  This is restart-safe because of
        the engine's observed call order (traced on Spark 4.1,
        MicroBatchExecution): a RESTARTED query always replays
        ``partitions(checkpoint, checkpoint)`` (committed case — an
        empty range) or ``partitions(checkpoint, planned_end)``
        (uncommitted batch) BEFORE the first ``latestOffset()``, so the
        floor is the true checkpointed position by the time the clamp
        runs; a FRESH query's floor is ``startingVersion``, which is
        exact.  If Spark ever reorders those calls, the regression
        guard in ``partitions`` fails LOUDLY (start > end raises)
        instead of silently re-emitting committed versions."""

        def __init__(
            self,
            root: str,
            starting_version: int = 0,
            max_versions_per_trigger: int | None = None,
            cdc: bool = False,
            max_files_per_trigger: int | None = None,
            max_bytes_per_trigger: int | None = None,
            row_level: bool = False,
            enc_key: bytes | None = None,
            geo_bbox: dict[str, tuple] | None = None,
        ):
            self.root = root
            self.starting_version = starting_version
            self.max_versions = max_versions_per_trigger
            self.max_files = max_files_per_trigger
            self.max_bytes = max_bytes_per_trigger
            self._hwm = starting_version  # highest position observed
            self.cdc = cdc
            self.row_level = row_level
            self._enc_key = enc_key
            # geometry ingestion filter (r9, VERDICT r8 #3 — lifts the
            # r8 refusal): appended files whose __geo_* shred stats
            # provably miss the window are SKIPPED at partition
            # planning; surviving files run the same Arrow residual as
            # the DSv2 batch path. CDC is still refused (a windowed
            # change feed would drop delete events for rows that left
            # the window). Arrow reads are name-keyed, so the simple
            # reader's column-order hazard does not apply here.
            self.geo_bbox = geo_bbox or {}
            if self.geo_bbox and cdc:
                raise ValueError(
                    "lakehouse_stream_dist: geoBBox cannot combine with "
                    "readChangeFeed (a windowed change feed would drop "
                    "delete events for rows that left the window) — "
                    "filter the MERGE target instead"
                )
            self._colnames = _stream_colnames(root)
            self._cdc_defaults = _schema_defaults(
                _manifest_schema_json(root, _current_version(root))
            )
            # plain (non-CDC) executor-side Arrow projection target:
            # declared schema (add_column visibility + initial-default
            # fill), computed driver-side once and pickled
            self._target_arrow = None
            self._defaults: dict = {}
            self._renames: dict = {}
            sj = _manifest_schema_json(root, _current_version(root))
            if sj:
                from pyspark.sql.pandas.types import to_arrow_schema
                from pyspark.sql.types import StructType

                self._target_arrow = to_arrow_schema(
                    _nullable_struct(StructType.fromJson(json.loads(sj)))
                )
                self._defaults = _schema_defaults(sj)
                self._renames = {
                    f["name"]: (f.get("metadata") or {}).get(
                        "prior_names", []
                    )
                    for f in json.loads(sj)["fields"]
                    if (f.get("metadata") or {}).get("prior_names")
                }

        def _learn(self, version: int) -> None:
            if version > self._hwm:
                self._hwm = version

        def initialOffset(self) -> dict:
            return {"version": self.starting_version}

        def latestOffset(self) -> dict:
            cur = _current_version(self.root)
            if (
                self.max_versions is None
                and self.max_files is None
                and self.max_bytes is None
            ):
                return {"version": cur}
            # admit commits past the best-known position up to the
            # version/file/byte caps; never step below it (monotonicity)
            end = max(
                _clamp_rate_limit(
                    self.root,
                    self._hwm,
                    cur,
                    self.max_versions,
                    self.max_files,
                    self.max_bytes,
                ),
                self._hwm,
            )
            self._learn(end)
            return {"version": end}

        def partitions(self, start: dict, end: dict):
            if start["version"] > end["version"]:
                raise ValueError(
                    "lakehouse_stream_dist: batch range regressed "
                    f"({start} > {end}) — the rate-limit floor was "
                    "consulted before the checkpointed position was "
                    "replayed; clear the last (uncommitted) entry of "
                    "the checkpoint offset log to recover"
                )
            self._learn(end["version"])
            if self.cdc:
                # change-feed planning: ONE partition per COMMIT in the
                # range (the diff must cancel a commit's removed rows
                # against its added rows, so a commit is the atomic
                # work unit); work per partition is bounded by that
                # commit's CHANGED files — the scoped-changelog shape.
                parts = []
                prev = _manifest_meta(self.root, start["version"])
                if prev is None:
                    raise RuntimeError(
                        f"lakehouse_stream_dist CDC: snapshot "
                        f"v{start['version']} expired"
                    )
                prev_entries = prev["delete_entries"]
                prev_files = set(prev["files"])
                prev_dvs = prev["delete_vectors"]
                for v in range(start["version"] + 1, end["version"] + 1):
                    m = _manifest_meta(self.root, v)
                    if m is None:
                        raise RuntimeError(
                            f"lakehouse_stream_dist CDC: snapshot v{v} "
                            "expired"
                        )
                    # a commit plans ONE partition when anything about
                    # its effective row set changed: files, delete
                    # entries (pos AND equality — both emittable since
                    # r7), or deletion vectors. Events are computed
                    # executor-side by _cdc_rows.
                    added_e, removed_e = _cdc_entry_delta(
                        prev_entries, m["delete_entries"]
                    )
                    files_changed = set(m["files"]) != prev_files
                    dv_changed = m["delete_vectors"] != prev_dvs
                    if files_changed or added_e or removed_e or dv_changed:
                        parts.append(InputPartition(("cdc", v)))
                    prev_files = set(m["files"])
                    prev_entries = m["delete_entries"]
                    prev_dvs = m["delete_vectors"]
                return parts
            files = _added_files(
                self.root, start["version"], end["version"]
            )
            if self.geo_bbox:
                # per-file envelope-shred prune over the increment's
                # manifests: a whole commit outside the window plans
                # ZERO partitions (stats are plaintext metadata — no
                # data IO here)
                stats: dict = {}
                for v in range(
                    start["version"] + 1, end["version"] + 1
                ):
                    mp = os.path.join(
                        self.root, "snapshots", f"v{v}.json"
                    )
                    if not os.path.exists(mp):
                        continue
                    with open(mp) as fh:
                        stats.update(
                            _manifest_part_map(
                                self.root, json.load(fh), "stats"
                            )
                        )
                files = [
                    f
                    for f in files
                    if not _geo_file_skip(
                        stats.get(f) or {}, self.geo_bbox
                    )
                ]
            self.planned_files = files  # introspection for tests
            return [InputPartition(f) for f in files]

        def read(self, partition):
            if self.cdc:
                _, v = partition.value
                # executor-side per-commit net diff (v-1 → v); tuples,
                # bounded by the commit's changed files
                yield from _cdc_rows(
                    self.root,
                    v - 1,
                    v,
                    self._colnames,
                    row_level=self.row_level,
                    defaults=self._cdc_defaults,
                    table_key=self._enc_key,
                )
                return
            # executor-side: stream the file as Arrow batches (zero-copy
            # into Spark's Arrow pipe, no Python row materialization;
            # ns timestamps demoted to µs for Spark's Arrow ingest).
            # Files predating the declared schema (add_column) project
            # to it — initial-defaults filled, renames resolved.
            pf = _pf_auto(partition.value, self._enc_key)
            if not self.geo_bbox and (
                self._target_arrow is None
                or _us_schema(pf.schema_arrow) == self._target_arrow
            ):
                yield from _us_batches(pf)
                return
            import pyarrow as pa

            for batch in pf.iter_batches():
                tbl = pa.Table.from_batches([batch])
                gk = _geo_keep_mask(tbl, self.geo_bbox)
                if gk is not None:
                    tbl = tbl.filter(pa.array(gk))
                if tbl.num_rows == 0:
                    continue
                if self._target_arrow is None:
                    # no declared schema: geo filter applied by NAME on
                    # the raw Arrow batch (order-safe), emitted as-is
                    yield from _us_batches_tbl(tbl)
                    continue
                yield from _project_arrow(
                    tbl,
                    self._target_arrow,
                    self._defaults,
                    self._renames,
                    hive_vals=_hive_path_values(partition.value),
                ).to_batches()

        def commit(self, end: dict) -> None:
            self._learn(end["version"])

    class LakehouseStreamDistSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "lakehouse_stream_dist"

        def schema(self):
            from pyspark.sql.pandas.types import from_arrow_schema
            from pyspark.sql.types import (
                LongType,
                StringType,
                StructField,
                TimestampType,
            )

            root = self.options["path"]
            sj = _manifest_schema_json(root, _current_version(root))
            if sj:
                from pyspark.sql.types import StructType

                base = _nullable_struct(
                    StructType.fromJson(json.loads(sj))
                )
            else:
                files = _manifest_files(root, _current_version(root))
                if not files:
                    raise ValueError(f"empty lakehouse table at {root}")
                base = from_arrow_schema(
                    _us_schema(_schema_auto(files[0]))
                )
            opts = {k.lower(): v for k, v in self.options.items()}
            if opts.get("readchangefeed", "").lower() == "true":
                if opts.get("rowlineage", "").lower() == "true":
                    # Iceberg v3 identity column — upgrades the feed to
                    # four change types (update pre/postimage pairs)
                    base = base.add(StructField("_row_id", LongType()))
                base = base.add(
                    StructField("_change_type", StringType())
                ).add(StructField("_commit_version", LongType())).add(
                    StructField("_commit_timestamp", TimestampType())
                )
            return base

        def streamReader(self, schema):
            opts = {k.lower(): v for k, v in self.options.items()}
            mv = opts.get("maxversionspertrigger")
            mf = opts.get("maxfilespertrigger")
            mb = opts.get("maxbytespertrigger")
            return _DistReader(
                _norm_path(opts["path"]),
                int(opts.get("startingversion", 0)),
                int(mv) if mv is not None else None,
                cdc=opts.get("readchangefeed", "").lower() == "true",
                max_files_per_trigger=int(mf) if mf is not None else None,
                max_bytes_per_trigger=int(mb) if mb is not None else None,
                row_level=opts.get("rowlineage", "").lower() == "true",
                enc_key=_enc_key_opt(opts),
                geo_bbox=(
                    _parse_geo_bbox(opts["geobbox"])
                    if "geobbox" in opts
                    else None
                ),
            )

    return LakehouseStreamDistSource


from pyspark.sql import DataFrame, SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from ..registry import query  # noqa: E402
from ._wait import await_or_raise  # noqa: E402
from ..sources.io import load_table  # noqa: E402


@query(
    "streaming_lakehouse_source_ingest",
    oracle="""
        SELECT c_mktsegment,
               count(*) AS n_customers,
               CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS bal_cents
        FROM customer
        GROUP BY 1
    """,
)
def streaming_lakehouse_source_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming read FROM the lakehouse: customer lands in the table as
    three snapshot commits, then a Structured Streaming query consumes
    the table through the ``lakehouse_stream`` source (offsets =
    snapshot versions) with Trigger.AvailableNow into a memory sink —
    drains every committed increment then stops, so the aggregate equals
    the batch oracle over all rows. This is Iceberg's
    ``readStream.format("iceberg")`` capability on our table format:
    the table is now a message-bus-free streaming upstream, completing
    the loop with the exactly-once foreachBatch SINK (streaming/
    sinks.py) — lakehouse→lakehouse incremental pipelines with no Kafka
    in the middle.

    This query drives the DISTRIBUTED reader (one input partition per
    added file, executor-side Arrow batch reads — the driver only walks
    manifests); the simple driver-side reader shares the same offsets
    and is exercised by the restart-continuity test. Offsets are
    snapshot versions, so replay is deterministic (immutable manifests)
    and end-to-end exactly-once composes with the idempotent sink."""
    import shutil
    import tempfile

    from ..sources.lakehouse import LakehouseTable

    root = tempfile.mkdtemp(prefix="lakehouse_stream_q_", dir="/tmp")
    try:
        tbl = LakehouseTable(spark, root + "/t")
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment", "c_acctbal"
        )
        for i in range(3):
            tbl.append(cust.filter(F.col("c_custkey") % 3 == i))

        spark.dataSource.register(make_lakehouse_stream_dist_source())
        stream = (
            spark.readStream.format("lakehouse_stream_dist")
            .option("path", root + "/t")
            .load()
        )
        agg = stream.groupBy("c_mktsegment").agg(
            F.count("*").alias("n_customers"),
            F.sum(
                F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long")
            )
            .cast("long")
            .alias("bal_cents"),
        )
        from .windows import _run_available_now

        out = _run_available_now(agg, "complete")
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def _eq_footer_ranges(entry: dict) -> dict | None:
    """Per-key (lo, hi) bounds of an equality-delete entry's doomed key
    tuples, read from its key parquet FOOTER statistics — zero data IO.
    None = unknown (missing footer stats): the entry stays applicable
    everywhere (conservative). Encrypted key files (table encryption)
    publish the same bounds in their plaintext key-sidecar stats."""
    import pyarrow.parquet as pq

    from ..sources import encryption as E

    out: dict = {}
    nulled: set = set()
    for kf in entry["files"]:
        if E.is_encrypted_file(kf):
            st = E.read_key_sidecar(kf).get("stats") or {}
            snulls = st.get("__nulls")
            for name in entry["keys"]:
                rng = st.get(name)
                if not isinstance(rng, list) or len(rng) != 2:
                    return None
                nk = (snulls or {}).get(name)
                if nk is None or nk > 0:
                    nulled.add(name)
                lo, hi = rng
                cur = out.get(name)
                out[name] = (
                    (lo, hi)
                    if cur is None
                    else (min(cur[0], lo), max(cur[1], hi))
                )
            continue
        md = pq.ParquetFile(kf).metadata
        for rg in range(md.num_row_groups):
            row_group = md.row_group(rg)
            for ci in range(row_group.num_columns):
                col = row_group.column(ci)
                name = col.path_in_schema
                if name not in entry["keys"]:
                    continue
                st = col.statistics
                if st is None or not st.has_min_max:
                    return None
                # NULL-keyed tuples are invisible to min/max (ADVICE
                # r8): remember which key columns carry any NULL (or an
                # unknown null count) so _ranges_disjoint only prunes on
                # them against provably null-free data files
                if not st.has_null_count or st.null_count > 0:
                    nulled.add(name)
                lo, hi = st.min, st.max
                if name in out:
                    plo, phi = out[name]
                    out[name] = (min(plo, lo), max(phi, hi))
                else:
                    out[name] = (lo, hi)
    if not out:
        return None
    return {
        k: (lo, hi, k in nulled) for k, (lo, hi) in out.items()
    }


def _ranges_disjoint(file_stats: dict, key_ranges: dict) -> bool:
    """True when ANY key column's manifest min/max provably misses the
    entry's key range — the file can hold no matching row. A key column
    whose delete tuples include NULLs (``has_null`` flag from
    _eq_footer_ranges) prunes only when the data file's __nulls stat
    proves it holds no NULL at that column (the batch reader matches
    null-safely)."""
    for k, (lo, hi, has_null) in key_ranges.items():
        rng = (file_stats or {}).get(k)
        if not isinstance(rng, list) or len(rng) != 2:
            continue
        if has_null:
            file_nulls = ((file_stats or {}).get("__nulls") or {}).get(k)
            if file_nulls != 0:
                continue
        try:
            if rng[1] < lo or rng[0] > hi:
                return True
        except TypeError:
            continue
    return False


def _needed_physical(
    pf_names,
    target,
    renames: dict | None,
    eq,
    geo_bbox: dict | None,
    lineage: bool = False,
):
    """Physical columns one projected read actually needs: the target
    fields (through their rename history), equality-delete key columns,
    geometry columns + their envelope shreds for the geoBBox residual,
    and the materialized lineage columns. Returns the pruned column
    list for ``iter_batches(columns=...)`` — or None when everything is
    needed (plain full read, zero overhead). On PME files the pruning
    is also a DECRYPTION saving: unprojected column chunks are never
    read or decrypted; on plaintext files it skips their column chunks'
    IO."""
    need: set = set()
    for fld in target:
        need.add(fld.name)
        for prior in (renames or {}).get(fld.name, []):
            need.add(prior)
    for spec in eq or ():
        need |= set(spec[1])
    for c in geo_bbox or {}:
        need.add(c)
        need |= {
            f"__geo_{c}_{p}" for p in ("xmin", "xmax", "ymin", "ymax")
        }
    if lineage:
        need |= {"__row_id", "__last_updated"}
    cols = [n for n in pf_names if n in need]
    return cols if len(cols) < len(pf_names) else None


def _rg_keep_indexes(pf, bounds: dict) -> "list[int] | None":
    """Row-group indexes surviving the pushed interval bounds (the
    DSv2 pushFilters fold): a group drops only when its column-chunk
    min/max PROVE disjointness — missing stats, absent columns, and
    incomparable types keep it (Spark re-applies every pushed filter
    row-level, so pruning here is exactness-preserving). Returns None
    when nothing prunes (zero-overhead full read). This is the
    intra-file tier below manifest file pruning — at 100 TB files are
    row-group-sized multiples, so a selective pushed range skips most
    of a kept file's bytes (and, on PME files, their decryption)."""
    if not bounds:
        return None
    md = pf.metadata
    paths = {
        md.schema.column(j).path: j for j in range(md.num_columns)
    }
    keep, pruned = [], False
    for i in range(md.num_row_groups):
        rg = md.row_group(i)
        drop = False
        for col, (lo, hi) in bounds.items():
            j = paths.get(col)
            if j is None:
                continue
            st = rg.column(j).statistics
            if st is None or not st.has_min_max:
                continue
            try:
                if (hi is not None and st.min > hi) or (
                    lo is not None and st.max < lo
                ):
                    drop = True
                    break
            except TypeError:
                continue
        if drop:
            pruned = True
        else:
            keep.append(i)
    return keep if pruned else None


def _tables_with_offsets(pf, columns, bounds: dict):
    """Yield (arrow table, ORIGINAL row offset) pairs for one data
    file, row-group-pruned by the pushed bounds. Original offsets keep
    every positional consumer exact — deletion-vector and position-
    delete masks address file-absolute row indexes, and row-lineage ids
    derive from original positions — whatever groups were skipped."""
    import pyarrow as pa

    keep = _rg_keep_indexes(pf, bounds)
    if keep is None:
        off = 0
        for b in pf.iter_batches(columns=columns):
            t = pa.Table.from_batches([b])
            yield t, off
            off += t.num_rows
        return
    md = pf.metadata
    starts, s = [], 0
    for i in range(md.num_row_groups):
        starts.append(s)
        s += md.row_group(i).num_rows
    for i in keep:
        yield pf.read_row_group(i, columns=columns), starts[i]


def _hive_path_values(path: str) -> dict[str, str | None]:
    """Partition values encoded in a file's hive-style ``col=val``
    directory segments (engine partition_by writes OMIT the partition
    column from the file — the path carries it). Values stay strings
    here; ``_project_arrow`` casts them to the declared type.
    ``__HIVE_DEFAULT_PARTITION__`` decodes to NULL."""
    from urllib.parse import unquote

    out: dict[str, str | None] = {}
    d = os.path.dirname(path)
    while d:
        base = os.path.basename(d)
        m = re.match(r"([^=/]+)=(.*)", base)
        if not m:
            break
        val = m.group(2)
        out[m.group(1)] = (
            None if val == "__HIVE_DEFAULT_PARTITION__" else unquote(val)
        )
        d = os.path.dirname(d)
    return out


def _hive_cast(sval: str | None, type_str):
    """Typed python value for a hive-path partition string, per the
    declared Spark schema-JSON type (partition columns are scalar by
    construction)."""
    if sval is None:
        return None
    if type_str in ("long", "integer", "short", "byte"):
        return int(sval)
    if type_str in ("double", "float"):
        return float(sval)
    if type_str == "boolean":
        return sval.lower() == "true"
    if type_str == "date":
        import datetime

        return datetime.date.fromisoformat(sval)
    return sval


def _project_arrow(
    tbl,
    target,
    defaults: dict | None = None,
    renames: dict | None = None,
    hive_vals: dict | None = None,
):
    """Project one Arrow table to the TABLE's declared schema: missing
    columns (written before an add_column) fill the column's Iceberg v3
    ``initial-default`` when one is declared (``defaults`` maps column
    name → python value), else null; physical types cast (a file
    written int32 under a declared int64 — the type-promotion lattice —
    reads wide). The batch reader must yield batches in the DECLARED
    schema, not each file's own, or Spark's Arrow ingest breaks on the
    first heterogeneous file.

    ``hive_vals`` (column → string value from the file's hive path
    segments) ranks ABOVE defaults: a hive-partitioned file genuinely
    HAS that value for every row — null-filling it was the r11 bug
    class (partition columns silently read NULL through the DSv2 and
    REST-client readers)."""
    import pyarrow as pa

    cols = []
    for fld in target:
        name = fld.name
        if name not in tbl.column_names and renames:
            # renamed columns: pre-rename files populate a prior name —
            # newest prior name wins (the LakehouseTable coalesce chain)
            for prior in reversed(renames.get(name, [])):
                if prior in tbl.column_names:
                    name = prior
                    break
        if name in tbl.column_names:
            cols.append(tbl.column(name).cast(fld.type))
        elif hive_vals and fld.name in hive_vals:
            sval = hive_vals[fld.name]
            if sval is None:
                cols.append(pa.nulls(tbl.num_rows, fld.type))
            else:
                cols.append(
                    pa.array(
                        [sval] * tbl.num_rows, type=pa.string()
                    ).cast(fld.type)
                )
        elif defaults and defaults.get(fld.name) is not None:
            cols.append(
                pa.array(
                    [defaults[fld.name]] * tbl.num_rows, type=fld.type
                )
            )
        else:
            cols.append(pa.nulls(tbl.num_rows, fld.type))
    return pa.Table.from_arrays(cols, schema=target)


def _load_eq_keysets(eq_specs, table_key: bytes | None = None) -> list:
    """Executor side: materialize each applicable equality entry's
    doomed key tuples from its (small) key parquet files."""
    loaded = []
    for files_t, keys_t in eq_specs or ():
        keys = list(keys_t)
        vals: set = set()
        for kf in files_t:
            t = _rt_auto(kf, table_key, columns=keys)
            cols = [t.column(k).to_pylist() for k in keys]
            vals.update(zip(*cols) if cols else [])
        loaded.append((keys, vals))
    return loaded


def _eq_dead_rows(tbl, eq_loaded) -> "set[int]":
    """Row indices of one Arrow table claimed by the loaded equality
    key sets. Raises when a key column is absent from the data file
    (rename-after-MoR edge — read via LakehouseTable, which maps
    historical names)."""
    dead: set[int] = set()
    for keys, vals in eq_loaded:
        missing = [k for k in keys if k not in tbl.column_names]
        if missing:
            raise ValueError(
                "lakehouse batch format: equality-delete key columns "
                f"{missing} not present in the data file (renamed after "
                "the delete?) — read via LakehouseTable"
            )
        cols = [tbl.column(k).to_pylist() for k in keys]
        for i, tup in enumerate(zip(*cols)):
            if tup in vals:
                dead.add(i)
    return dead


def _manifest_payload(
    root: str, version: int
) -> tuple[list[str], dict, list, dict, dict]:
    """(files, per-file stats, pending delete entries, deletion
    vectors, file sequence numbers) of a snapshot, parts-aware (the
    batch reader's planning inputs — no Spark needed)."""
    if version <= 0:
        return [], {}, [], {}, {}
    path = os.path.join(root, "snapshots", f"v{version}.json")
    with open(path) as f:
        m = json.load(f)
    deletes = m.get("delete_files", [])
    dvs = m.get("delete_vectors", {})
    if "files" in m:
        return (
            m["files"],
            m.get("stats", {}),
            deletes,
            dvs,
            m.get("file_seq", {}),
        )
    files: list[str] = []
    stats: dict = {}
    seqs: dict = {}
    for ppath in m.get("parts", []):
        with open(ppath) as f:
            part = json.load(f)
        files.extend(part["files"])
        stats.update(part.get("stats", {}))
        seqs.update(part.get("file_seq", {}))
    return files, stats, deletes, dvs, seqs


def _manifest_lineage_maps(
    root: str, version: int
) -> tuple[dict[str, int], dict[str, int]]:
    """(row_ids, file_seq) of a snapshot, parts-aware — the planning
    inputs for a lineage-projecting batch read."""
    path = os.path.join(root, "snapshots", f"v{version}.json")
    with open(path) as f:
        m = json.load(f)
    row_ids = _manifest_row_ids(root, m)
    if "file_seq" in m:
        return row_ids, m.get("file_seq") or {}
    seqs: dict[str, int] = {}
    if "file_seq" in (m.get("part_keys") or []):
        for ppath in m.get("parts", []):
            with open(ppath) as f:
                seqs.update(json.load(f).get("file_seq") or {})
    return row_ids, seqs


def _resolve_version(root: str, opts: dict) -> int:
    """Batch-read version resolution: versionAsOf (a snapshot number OR
    a tag name — Iceberg's ``VERSION AS OF 'tag'``) / timestampAsOf
    options (Iceberg/Delta time-travel ergonomics), else current tip."""
    if "versionasof" in opts:
        v = opts["versionasof"]
        try:
            return int(v)
        except ValueError:
            ref = os.path.join(root, "refs", f"{v}.json")
            if not os.path.exists(ref):
                raise ValueError(
                    f"versionAsOf {v!r}: not a snapshot number and no "
                    "such tag"
                ) from None
            with open(ref) as f:
                return int(json.load(f)["version"])
    if "timestampasof" in opts:
        ts = float(opts["timestampasof"])
        # newest-first with early stop: committed_at is non-decreasing
        # in version, so the first snapshot at or before ts IS the
        # answer (the oldest-first full scan opened O(commits) JSONs —
        # optimization r12, guide §7.3)
        for v in range(_current_version(root), 0, -1):
            path = os.path.join(root, "snapshots", f"v{v}.json")
            if not os.path.exists(path):
                continue
            with open(path) as f:
                if json.load(f).get("committed_at", 0.0) <= ts:
                    return v
        raise ValueError(f"no snapshot at or before timestamp {ts}")
    return _current_version(root)


def _geo_keep_mask(tbl, geo_bbox: dict[str, tuple]):
    """numpy keep-mask for the geoBBox residual over one Arrow batch
    (pre-projection: the shred columns / geometry bytes are still
    present). Shred fast path when the file carries them (columnar
    compare, NaN/null never intersects); exact WKB envelope decode
    otherwise; a file missing the geometry column entirely predates the
    add — NULL geometry, no rows match. None = keep all. Shared by the
    DSv2 batch reader and the distributed streaming reader (r9)."""
    if not geo_bbox:
        return None
    import numpy as np

    from ..functions.geo import bbox_of

    keep = np.ones(tbl.num_rows, dtype=bool)
    names = set(tbl.column_names)
    for c, (x0, y0, x1, y1) in geo_bbox.items():
        shreds = [
            f"__geo_{c}_{part}"
            for part in ("xmin", "xmax", "ymin", "ymax")
        ]
        if all(sh in names for sh in shreds):
            def col(name):
                return np.asarray(
                    tbl.column(name).to_pandas(), dtype="float64"
                )

            with np.errstate(invalid="ignore"):
                keep &= (
                    (col(shreds[0]) <= x1)
                    & (col(shreds[1]) >= x0)
                    & (col(shreds[2]) <= y1)
                    & (col(shreds[3]) >= y0)
                )
        elif c in names:
            for i, b in enumerate(tbl.column(c).to_pylist()):
                if not keep[i]:
                    continue
                if b is None:
                    keep[i] = False
                    continue
                bx0, by0, bx1, by1 = bbox_of(b)
                keep[i] = (
                    bx0 <= x1 and bx1 >= x0 and by0 <= y1 and by1 >= y0
                )
        else:
            keep[:] = False
    return keep


def _geo_file_skip(st: dict, geo_bbox: dict[str, tuple]) -> bool:
    """Planning-side file prune for a geometry window: True when the
    file's ``__geo_*`` envelope-shred stats (or its column inventory)
    PROVE no row can intersect — missing stats keep the file (the read
    residual stays exact)."""
    for c, (x0, y0, x1, y1) in geo_bbox.items():
        cols = st.get("__cols")
        if cols is not None and c not in cols:
            return True  # column absent: NULL geometry, nothing matches
        rngs = [
            st.get(f"__geo_{c}_{part}")
            for part in ("xmin", "xmax", "ymin", "ymax")
        ]
        if any(
            not isinstance(r, list) or len(r) != 2 for r in rngs
        ):
            continue
        xmin_r, xmax_r, ymin_r, ymax_r = rngs
        try:
            if (
                xmin_r[0] > x1
                or xmax_r[1] < x0
                or ymin_r[0] > y1
                or ymax_r[1] < y0
            ):
                return True
        except TypeError:
            continue
    return False


def _parse_geo_bbox(raw: str) -> dict[str, tuple]:
    """``geoBBox`` option: ``'col:xmin,ymin,xmax,ymax'`` specs joined
    by ';' — the DSv2 surface for geometry envelope scans."""
    out: dict[str, tuple] = {}
    for spec in raw.split(";"):
        spec = spec.strip()
        if not spec:
            continue
        col, _, nums = spec.partition(":")
        vals = [v for v in nums.split(",") if v.strip()]
        if not col.strip() or len(vals) != 4:
            raise ValueError(
                f"geoBBox spec {spec!r}: expected "
                "'col:xmin,ymin,xmax,ymax'"
            )
        out[col.strip()] = tuple(float(v) for v in vals)
    return out


def make_lakehouse_batch_source():
    """Batch ``spark.read.format("lakehouse")`` with FILTER PUSHDOWN into
    manifest pruning: Spark hands the reader its typed predicates
    (DSv2 ``pushFilters``, Spark 4.1 Python Data Source API); the reader
    folds the range/equality ones into a per-column interval, drops every
    data file whose manifest min/max stats provably exclude it, and plans
    one input partition per SURVIVING file. All filters are returned to
    Spark, which still applies them row-level — file pruning is
    exactness-preserving, exactly like LakehouseTable.scan()'s
    stats-based skipping, but driven by the engine's own pushdown
    machinery instead of an explicit ``where`` argument.

    Scale: planning is O(files) driver metadata; tasks are created only
    for files that can match, so a selective predicate on a clustered
    column reads a file subset — the DSv2-native form of Iceberg's
    scan planning."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceReader,
        DataSourceWriter,
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        InputPartition,
        IsNotNull,
        IsNull,
        LessThan,
        LessThanOrEqual,
        WriterCommitMessage,
    )

    class _BatchReader(DataSourceReader):
        def __init__(
            self,
            root: str,
            version: int,
            since: int | None = None,
            with_lineage: bool = False,
            target_struct=None,
            geo_bbox: dict[str, tuple] | None = None,
            enc_key: bytes | None = None,
        ):
            self.root = root
            self.version = version
            self._enc_key = enc_key
            # incremental batch read (Iceberg's incremental scan):
            # plan only files ADDED by append commits in (since, version]
            self.since = since
            self.with_lineage = with_lineage
            self.bounds: dict[str, list] = {}  # col -> [lo, hi] (closed)
            self.null_preds: dict[str, bool] = {}  # col -> IS NULL?
            # geometry envelope scan (Iceberg v3 geo stats through DSv2
            # options): window intersection decomposes into four
            # one-sided bounds on the __geo_* shred stats, so the
            # existing pruning loop file-skips with zero new machinery;
            # the residual runs in _geo_keep at read time
            self.geo_bbox = geo_bbox or {}
            for c, (x0, y0, x1, y1) in self.geo_bbox.items():
                self.bounds[f"__geo_{c}_xmin"] = [None, x1]
                self.bounds[f"__geo_{c}_xmax"] = [x0, None]
                self.bounds[f"__geo_{c}_ymin"] = [None, y1]
                self.bounds[f"__geo_{c}_ymax"] = [y0, None]
            # declared-schema projection target (driver-computed once,
            # pickled with the reader): the snapshot's Spark schema —
            # with its Iceberg v3 initial-defaults — beats the
            # anchor-file schema whenever the manifest declares one
            # (an anchor file predating an add_column would otherwise
            # HIDE the added column from the whole scan)
            self._target_arrow = None
            self._defaults: dict = {}
            self._renames: dict = {}
            sj = _manifest_schema_json(root, version)
            if sj:
                self._defaults = _schema_defaults(sj)
                self._renames = {
                    f["name"]: (f.get("metadata") or {}).get(
                        "prior_names", []
                    )
                    for f in json.loads(sj)["fields"]
                    if (f.get("metadata") or {}).get("prior_names")
                }
            if target_struct is not None and target_struct.fields:
                # the schema Spark planned with IS the contract the
                # emitted batches must match — for a SQL table this is
                # the catalog schema (possibly older than the manifest's
                # after later evolution); lineage columns are appended
                # after projection, so they leave the target
                from pyspark.sql.pandas.types import to_arrow_schema
                from pyspark.sql.types import StructType

                plain = StructType(
                    [
                        f
                        for f in target_struct.fields
                        if f.name
                        not in ("_row_id", "_last_updated_version")
                    ]
                )
                self._target_arrow = to_arrow_schema(
                    _nullable_struct(plain)
                )
            elif sj:
                from pyspark.sql.pandas.types import to_arrow_schema
                from pyspark.sql.types import StructType

                self._target_arrow = to_arrow_schema(
                    _nullable_struct(StructType.fromJson(json.loads(sj)))
                )

        def pushFilters(self, filters):
            # materialized eagerly (not a generator): bounds must be set
            # before Spark plans partitions, regardless of when the
            # returned iterable is consumed
            return list(self._fold(filters))

        def _fold(self, filters):
            for f in filters:
                col = f.attribute[0] if len(f.attribute) == 1 else None
                if col is None:
                    pass
                elif isinstance(f, EqualTo):
                    self._clamp(col, f.value, f.value)
                elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                    self._clamp(col, f.value, None)
                elif isinstance(f, (LessThan, LessThanOrEqual)):
                    self._clamp(col, None, f.value)
                elif isinstance(f, In) and f.value:
                    self._clamp(col, min(f.value), max(f.value))
                elif isinstance(f, IsNull):
                    self.null_preds[col] = True
                elif isinstance(f, IsNotNull):
                    # both null predicates on one column = empty result;
                    # the interval fold can't express that, so IS NULL
                    # (the rarer, stronger pruner) wins the slot
                    self.null_preds.setdefault(col, False)
                # every filter is returned: Spark re-applies them
                # row-level, so open/strict bounds folded to closed
                # intervals here stay exactness-preserving
                yield f

        def _clamp(self, col: str, lo, hi) -> None:
            b = self.bounds.setdefault(col, [None, None])
            if lo is not None and (b[0] is None or lo > b[0]):
                b[0] = lo
            if hi is not None and (b[1] is None or hi < b[1]):
                b[1] = hi

        def partitions(self):
            files, stats, deletes, dvs, file_seqs = _manifest_payload(
                self.root, self.version
            )
            # schema anchor: the same first-manifest-file the
            # DataSource.schema() contract uses — every partition
            # projects its batches to THIS schema (null-fill for
            # pre-add_column files, widen-cast for promoted types)
            anchor = files[0] if files else None
            if self.since is not None:
                # same append-walk + contract as the streaming source
                # and read_incremental: the increment is rows AS
                # APPENDED — rewrites never replay as new rows, and
                # row-level deletes/updates are the changelog feed's
                # job, so pending MoR deletes are not applied here
                # the added list itself, NOT intersected with the tip
                # manifest: a file appended mid-range and compacted away
                # by a later in-range rewrite must still contribute its
                # rows (it exists on disk until snapshot expiry; lagging
                # past retention raises in _added_files). Files absent
                # from the tip's stats simply aren't pruned.
                files = _added_files(self.root, self.since, self.version)
                deletes = []
                dvs = {}
            pos_dead: dict[str, set[int]] = {}
            eq_entries: list[dict] = []
            if deletes:
                # POSITION deletes are applied (r7): their coordinate
                # files resolve to per-file position sets at planning
                # (driver, O(deleted rows) metadata) and merge into the
                # same executor-side Arrow mask deletion vectors use.
                # EQUALITY deletes are applied too (r7, Iceberg's own
                # reader design): planning only seq-scopes and
                # stats-screens which entries can claim which files;
                # the EXECUTOR reads the entry's small key parquet and
                # masks matching rows — the key sets never pass through
                # the driver.
                for d in deletes:
                    if d.get("pos"):
                        for tf, ps in _pos_coords(
                            d["files"], self._enc_key
                        ).items():
                            pos_dead.setdefault(tf, set()).update(ps)
                    else:
                        eq_entries.append(d)
            kept = []
            for f in files:
                st = stats.get(f, {})
                skip = False
                for col, (lo, hi) in self.bounds.items():
                    rng = st.get(col)
                    if not isinstance(rng, list) or len(rng) != 2:
                        continue  # no stats for this column: keep
                    fmin, fmax = rng
                    try:
                        if (hi is not None and fmin > hi) or (
                            lo is not None and fmax < lo
                        ):
                            skip = True
                            break
                    except TypeError:
                        continue  # incomparable types: keep, stay exact
                if not skip and self.null_preds:
                    # null-count skipping (Iceberg null_value_counts):
                    # IS NULL drops null-free files, IS NOT NULL drops
                    # all-null files; unknown counts keep the file
                    nulls = st.get("__nulls") or {}
                    rows = st.get("__rows")
                    for col, want_null in self.null_preds.items():
                        n = nulls.get(col)
                        if n is None:
                            continue
                        if (want_null and n == 0) or (
                            not want_null
                            and rows is not None
                            and n == rows
                        ):
                            skip = True
                            break
                if not skip:
                    kept.append(f)
            self.planned_files = kept  # introspection for tests
            # equality-entry scoping (planning side): an entry can claim
            # a file only when the file's sequence number admits it and
            # the entry's key ranges (from the key parquet FOOTER stats
            # — zero data read) overlap the file's manifest stats. The
            # executor reads the surviving entries' key parquet and
            # masks matching rows.
            eq_of: dict[str, tuple] = {}
            if eq_entries:
                ranges = {
                    id(d): _eq_footer_ranges(d) for d in eq_entries
                }
                for f in kept:
                    specs = []
                    for d in eq_entries:
                        if file_seqs.get(f, 0) > d["seq"]:
                            continue
                        rng = ranges[id(d)]
                        if rng and _ranges_disjoint(
                            stats.get(f, {}), rng
                        ):
                            continue
                        specs.append(
                            (tuple(d["files"]), tuple(d["keys"]))
                        )
                    if specs:
                        eq_of[f] = tuple(specs)
            # deletion vectors and position deletes are applied via the
            # same executor-side Arrow mask: each partition carries its
            # file's (path, offset, length) DV pointer + explicit dead
            # positions (exactly an Iceberg v3 reader's job)
            dv_of = {
                f: (
                    (
                        dvs[f]["path"],
                        int(dvs[f]["offset"]),
                        int(dvs[f]["length"]),
                        dvs[f].get("sha256"),
                        sorted(pos_dead.get(f, ())),
                        bool(dvs[f].get("enc")),
                    )
                    if f in dvs
                    else (
                        (None, 0, 0, None, sorted(pos_dead[f]), False)
                        if f in pos_dead
                        else None
                    )
                )
                for f in kept
            }
            if self.with_lineage:
                # each partition carries its file's lineage inputs so
                # the executor computes ids with zero extra IO. For the
                # incremental (since) walk the tip manifest may no
                # longer reference a mid-range file compacted away —
                # overlay every in-range manifest's maps (a file's base
                # never changes once assigned, so overlaying is exact)
                row_ids: dict[str, int] = {}
                seqs: dict[str, int] = {}
                versions = (
                    [self.version]
                    if self.since is None
                    else range(self.since + 1, self.version + 1)
                )
                for mv in versions:
                    try:
                        r, s = _manifest_lineage_maps(self.root, mv)
                    except FileNotFoundError:
                        continue
                    row_ids.update(r)
                    seqs.update(s)
                missing = [f for f in kept if f not in row_ids]
                if missing:
                    raise ValueError(
                        "lakehouse batch format withLineage: "
                        f"{len(missing)} data files carry no "
                        "first_row_id (snapshot predates lineage "
                        "tracking) — commit once (any write) to assign"
                    )
                return [
                    InputPartition(
                        (
                            f,
                            row_ids[f],
                            seqs.get(f, 0),
                            dv_of[f],
                            eq_of.get(f),
                            anchor,
                        )
                    )
                    for f in kept
                ]
            return [
                InputPartition((f, dv_of[f], eq_of.get(f), anchor))
                for f in kept
            ]

        def _dv_mask(self, dv: tuple | None, offset: int, n: int, eq_dead=None):
            """Arrow keep-mask for batch rows [offset, offset+n) under a
            (path, offset, length, sha256, extra_positions, enc) delete
            pointer — path None = position-delete coordinates only —
            plus batch-local equality-dead row indices; None = keep all.
            Blob reads verify the recorded digest (ADVICE r7); encrypted
            containers (table encryption) decrypt with the reader's key."""
            if dv is None and not eq_dead:
                return None
            import numpy as np
            import pyarrow as pa

            from ..sources.lakehouse import _read_dv_bytes

            keep = np.ones(n, dtype=bool)
            if dv is not None:
                path, off, ln, digest, extra, enc = dv
                if path is not None:
                    bits = np.unpackbits(
                        np.frombuffer(
                            _read_dv_bytes(
                                path,
                                off,
                                ln,
                                digest,
                                table_key=self._enc_key if enc else None,
                                encrypted=enc,
                            ),
                            dtype=np.uint8,
                        )
                    )
                    hi = min(len(bits), offset + n)
                    if hi > offset:
                        keep[: hi - offset] = bits[offset:hi] == 0
                for p in extra:
                    if offset <= p < offset + n:
                        keep[p - offset] = False
            for i in eq_dead or ():
                keep[i] = False
            if keep.all():
                return None
            return pa.array(keep)

        def _geo_keep(self, tbl):
            return _geo_keep_mask(tbl, self.geo_bbox)

        def read(self, partition):
            if not self.with_lineage:
                f, dv, eq, anchor = partition.value
                target = self._target_arrow or _us_schema(
                    _schema_auto(anchor)
                )
                pf = _pf_auto(f, self._enc_key)
                if (
                    dv is None
                    and eq is None
                    and not self.geo_bbox
                    and _us_schema(pf.schema_arrow) == target
                    # pushed bounds that prune row groups take the
                    # projecting path below (IO saved beats the copy)
                    and _rg_keep_indexes(pf, self.bounds) is None
                ):
                    yield from _us_batches(pf)
                    return
                import numpy as np
                import pyarrow as pa

                eq_loaded = _load_eq_keysets(eq, self._enc_key)
                # column pruning: the projection path touches only the
                # columns the target schema (through renames), the
                # equality keys, and the geo residual need — on PME
                # files the skipped chunks are never even decrypted
                prune_cols = _needed_physical(
                    pf.schema_arrow.names,
                    target,
                    self._renames,
                    eq,
                    self.geo_bbox,
                )
                for tbl, offset in _tables_with_offsets(
                    pf, prune_cols, self.bounds
                ):
                    n = tbl.num_rows
                    mask = self._dv_mask(
                        dv,
                        offset,
                        n,
                        _eq_dead_rows(tbl, eq_loaded)
                        if eq_loaded
                        else None,
                    )
                    gk = self._geo_keep(tbl)
                    out = _project_arrow(
                        tbl,
                        target,
                        self._defaults,
                        self._renames,
                        hive_vals=_hive_path_values(f),
                    )
                    if mask is not None or gk is not None:
                        # ONE combined filter: sequential filters would
                        # misalign the second mask's row indexing
                        keep = np.ones(n, dtype=bool)
                        if gk is not None:
                            keep &= gk
                        if mask is not None:
                            keep &= mask.to_numpy(zero_copy_only=False)
                        out = out.filter(pa.array(keep))
                    yield from out.to_batches()
                return
            import pyarrow as pa

            f, base, seq, dv, eq, anchor = partition.value
            eq_loaded = _load_eq_keysets(eq, self._enc_key)
            target = self._target_arrow or _us_schema(
                _schema_auto(anchor)
            )
            pf = _pf_auto(f, self._enc_key)
            has_rid = "__row_id" in pf.schema_arrow.names
            has_lu = "__last_updated" in pf.schema_arrow.names
            prune_cols = _needed_physical(
                pf.schema_arrow.names,
                target,
                self._renames,
                eq,
                self.geo_bbox,
                lineage=True,
            )
            for tbl, offset in _tables_with_offsets(
                pf, prune_cols, self.bounds
            ):
                n = tbl.num_rows
                # Iceberg v3 inheritance, Arrow-side: materialized ids
                # win; NULL slots inherit base+position / the file seq
                if has_rid:
                    phys = tbl.column("__row_id").to_pylist()
                    rid = [
                        p if p is not None else base + offset + i
                        for i, p in enumerate(phys)
                    ]
                else:
                    rid = list(range(base + offset, base + offset + n))
                if has_lu:
                    plu = tbl.column("__last_updated").to_pylist()
                    lu = [p if p is not None else seq for p in plu]
                else:
                    lu = [seq] * n
                out = _project_arrow(
                    tbl,
                    target,
                    self._defaults,
                    self._renames,
                    hive_vals=_hive_path_values(f),
                )
                out = out.append_column(
                    "_row_id", pa.array(rid, pa.int64())
                ).append_column(
                    "_last_updated_version", pa.array(lu, pa.int64())
                )
                # delete masks AFTER id computation: ids derive from
                # the row's ORIGINAL position, deleted or not
                mask = self._dv_mask(
                    dv,
                    offset,
                    n,
                    _eq_dead_rows(tbl, eq_loaded) if eq_loaded else None,
                )
                gk = self._geo_keep(tbl)
                if mask is not None or gk is not None:
                    import numpy as np

                    keep = np.ones(n, dtype=bool)
                    if gk is not None:
                        keep &= gk
                    if mask is not None:
                        keep &= mask.to_numpy(zero_copy_only=False)
                    out = out.filter(pa.array(keep))
                yield from out.to_batches()

    class LakehouseBatchSource(DataSource):
        @classmethod
        def name(cls) -> str:
            return "lakehouse"

        def schema(self):
            from pyspark.sql.pandas.types import from_arrow_schema
            from pyspark.sql.types import (
                LongType,
                StructField,
                StructType,
            )

            opts = {k.lower(): v for k, v in self.options.items()}
            root = _norm_path(opts["path"])
            version = _resolve_version(root, opts)
            # the snapshot's DECLARED schema wins (it carries columns an
            # anchor file may predate — add_column — plus Iceberg v3
            # default metadata); anchor-file inference is the fallback
            # for pre-schema-tracking manifests
            sj = _manifest_schema_json(root, version)
            if sj:
                base = _nullable_struct(
                    StructType.fromJson(json.loads(sj))
                )
            else:
                files = _manifest_files(root, version)
                if not files:
                    raise ValueError(f"empty lakehouse table at {root}")
                base = from_arrow_schema(
                    _us_schema(_schema_auto(files[0]))
                )
            if opts.get("withlineage", "").lower() == "true":
                base = base.add(
                    StructField("_row_id", LongType())
                ).add(StructField("_last_updated_version", LongType()))
            # SQL-table surface (CREATE TABLE ... USING lakehouse):
            # Spark 4.1 instantiates the DataSource for reader()/writer()
            # in a SEPARATE worker process with EMPTY options, while
            # schema() (called once at CREATE) gets them — so the table
            # options travel in the catalog-persisted schema itself, as
            # metadata on the first field. reader()/writer() fall back
            # to it when their own options are empty.
            if base.fields and "path" in opts:
                carried = {
                    k: v
                    for k, v in opts.items()
                    if k in _SQL_CARRIED_OPTS
                }
                f0 = base.fields[0]
                md = dict(f0.metadata or {})
                md[_SQL_OPTS_KEY] = carried
                fields = list(base.fields)
                fields[0] = StructField(
                    f0.name, f0.dataType, f0.nullable, md
                )
                base = StructType(fields)
                # second channel for INSERT ... SELECT, whose writer
                # receives the QUERY schema (metadata-free): a driver-
                # host registry keyed by schema shape
                _record_sql_options(_sql_fingerprint(base), carried)
            return base

        @staticmethod
        def _effective_opts(own: dict, schema) -> dict:
            """Own options, falling back to the option bundle the
            schema() call smuggled into the catalog schema (the SQL-
            table path, where Spark hands reader()/writer() empty
            options)."""
            if "path" in own or schema is None:
                return own
            for f in getattr(schema, "fields", []) or []:
                carried = (f.metadata or {}).get(_SQL_OPTS_KEY)
                if carried:
                    return {**carried, **own}
            by_shape = _lookup_sql_options(_sql_fingerprint(schema))
            if by_shape:
                return {**by_shape, **own}
            raise ValueError(
                "lakehouse batch format: no 'path' option and the "
                "schema carries no table options — read via "
                "spark.read.format('lakehouse').option('path', ...) or "
                "re-create the SQL table with OPTIONS (path '...')"
            )

        def reader(self, schema):
            opts = self._effective_opts(
                {k.lower(): v for k, v in self.options.items()}, schema
            )
            root = _norm_path(opts["path"])
            wl = opts.get("withlineage", "").lower() == "true"
            gb = (
                _parse_geo_bbox(opts["geobbox"])
                if "geobbox" in opts
                else None
            )
            if "startingversion" in opts:
                # incremental batch read: rows appended AFTER snapshot
                # startingVersion, up to endingVersion (default: tip) —
                # Iceberg's incremental scan through plain DSv2 options
                since = int(opts["startingversion"])
                until = int(
                    opts.get("endingversion", _current_version(root))
                )
                return _BatchReader(
                    root,
                    until,
                    since=since,
                    with_lineage=wl,
                    target_struct=schema,
                    geo_bbox=gb,
                    enc_key=_enc_key_opt(opts),
                )
            return _BatchReader(
                root,
                _resolve_version(root, opts),
                with_lineage=wl,
                target_struct=schema,
                geo_bbox=gb,
                enc_key=_enc_key_opt(opts),
            )

        def writer(self, schema, overwrite: bool):
            opts = self._effective_opts(
                {k.lower(): v for k, v in self.options.items()}, schema
            )
            parts = [
                c.strip()
                for c in opts.get("partitionby", "").split(",")
                if c.strip()
            ]
            from ..streaming.lakehouse_sink import _sink_enc_key

            return _BatchWriter(
                _norm_path(opts["path"]),
                overwrite,
                parts,
                _strip_sql_opts(schema).json()
                if schema is not None
                else None,
                enc_key=_sink_enc_key(_norm_path(opts["path"]), opts),
            )

    class _Msg(WriterCommitMessage):
        def __init__(
            self,
            files: list[str],
            stats: dict,
            partitions: dict | None = None,
        ):
            self.files = files
            self.stats = stats
            self.partitions = partitions or {}

    class _BatchWriter(DataSourceWriter):
        """Batch ``df.write.format("lakehouse")`` — the write half of the
        DSv2 round trip. Same division of labor as the streaming sink:
        executor tasks serialize their partitions to parquet (+footer
        stats) and return paths; the driver publishes ONE atomic
        manifest adopting every task's files (mode("append") carries
        the parent, mode("overwrite") replaces it — both the normal
        optimistic commit protocol, byte-compatible with
        LakehouseTable readers, time travel, and the streaming source).
        ``option("partitionBy", "col1,col2")`` lays files out in
        hive-style identity partitions with tuples recorded for
        partition pruning.

        Scale: rows never transit the driver; commit cost is O(batch
        files) metadata. On task retry Spark re-runs write() — the
        replacement file set is what commit() adopts; files from failed
        attempts are unreferenced and swept by remove_orphan_files,
        exactly like every other writer here."""

        def __init__(
            self,
            root: str,
            overwrite: bool,
            partition_cols: list[str],
            schema_json: str | None = None,
            enc_key: bytes | None = None,
        ):
            self.root = root
            self.overwrite = overwrite
            self.partition_cols = partition_cols
            self.schema_json = schema_json
            self.enc_key = enc_key

        def write(self, iterator):
            from ..streaming.lakehouse_sink import write_task_files

            rows = [r.asDict() for r in iterator]
            files, stats, partitions = write_task_files(
                rows, self.root, self.partition_cols, self.enc_key
            )
            return _Msg(files, stats, partitions or None)

        def commit(self, messages):
            from ..streaming.lakehouse_sink import _commit_append

            files = [f for m in messages if m for f in m.files]
            stats: dict = {}
            partitions: dict = {}
            for m in messages:
                if m:
                    stats.update(m.stats)
                    partitions.update(m.partitions or {})
            if not files and not self.overwrite:
                return  # empty append: no snapshot
            _commit_append(
                self.root,
                files,
                stats,
                {"writer": "batch"},
                partitions=partitions or None,
                partition_specs=[
                    {"kind": "identity", "col": c, "n": None}
                    for c in self.partition_cols
                ]
                if self.partition_cols
                else None,
                overwrite=self.overwrite,
                schema_json=self.schema_json,
            )

        def abort(self, messages):
            from ..streaming.lakehouse_sink import drop_task_dirs

            drop_task_dirs(
                [f for m in messages if m for f in m.files]
            )

    return LakehouseBatchSource


@query(
    "lakehouse_batch_source_pushdown_scan",
    oracle="""
        SELECT o_orderstatus,
               count(*) AS n_orders,
               CAST(min(o_orderkey) AS BIGINT) AS min_key,
               CAST(max(o_orderkey) AS BIGINT) AS max_key
        FROM orders
        WHERE o_orderkey BETWEEN 1000 AND 5000
        GROUP BY 1
    """,
)
def lakehouse_batch_source_pushdown_scan(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ENGINE-DRIVEN file skipping: the same pruned range scan as
    lakehouse_stats_pruned_scan, but the pruning decision now flows
    through Spark's own pushdown machinery — ``spark.read.format(
    "lakehouse")`` + a plain ``.filter(...)``; DSv2 hands the typed
    predicates to the reader's ``pushFilters``, which folds them into
    per-column intervals and plans input partitions ONLY for files whose
    manifest min/max stats can match. No explicit ``where`` argument,
    no scan() API — the user writes vanilla DataFrame code and the
    table format skips files underneath, which is precisely how
    Iceberg's Spark integration behaves. The filter is also re-applied
    row-level by Spark, so folding strict bounds to closed intervals
    stays exact. Asserted here: the planned task count is a strict
    subset of the table's files.
    """
    import shutil
    import tempfile

    from ..sources.lakehouse import LakehouseTable

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    root = tempfile.mkdtemp(prefix="lakehouse_pushdown_q_", dir="/tmp")
    try:
        tbl = LakehouseTable(spark, root + "/t")
        orders = load_table(spark, sf_dir, "orders")
        for i in range(3):
            tbl.append(
                orders.filter(F.col("o_orderkey") % 3 == i).repartition(2)
            )
        tbl.rewrite_data_files(target_file_count=8, sort_by=["o_orderkey"])
        spark.dataSource.register(make_lakehouse_batch_source())
        scan = (
            spark.read.format("lakehouse")
            .option("path", root + "/t")
            .load()
            .filter(
                (F.col("o_orderkey") >= 1000) & (F.col("o_orderkey") <= 5000)
            )
        )
        n_files = len(tbl._read_manifest(tbl.current_version())["files"])
        n_tasks = scan.rdd.getNumPartitions()
        assert n_tasks < n_files, (
            f"pushdown pruned nothing: {n_tasks} tasks for {n_files} files"
        )
        out = scan.groupBy("o_orderstatus").agg(
            F.count("*").alias("n_orders"),
            F.min("o_orderkey").alias("min_key"),
            F.max("o_orderkey").alias("max_key"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "lakehouse_batch_writer_roundtrip",
    oracle="""
        WITH all_rows AS (
            SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
            UNION ALL
            SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
            WHERE c_custkey < 10
        )
        SELECT c_mktsegment, count(*) AS n_rows,
               CAST(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT))
                    AS BIGINT) AS bal_cents
        FROM all_rows GROUP BY c_mktsegment
    """,
)
def lakehouse_batch_writer_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The WRITE half of the DSv2 round trip: ``df.write.format(
    "lakehouse")`` — executor tasks serialize their partitions to
    parquet with footer stats (rows never transit the driver), the
    driver publishes one atomic manifest per save; ``partitionBy``
    records identity partition tuples so the committed layout
    partition-prunes like LakehouseTable's own writes. Two appends here
    (full table, then a small delta) produce two time-travelable
    snapshots readable by every existing consumer — table API, DSv2
    reader, streaming source.

    Scale: sink throughput scales with executor count while the commit
    stays O(batch files) metadata — the Iceberg writer contract, now
    symmetric with the pushdown reader.
    """
    import shutil
    import tempfile

    from ..sources.lakehouse import LakehouseTable

    root = tempfile.mkdtemp(prefix="lakehouse_writer_q_", dir="/tmp")
    try:
        spark.dataSource.register(make_lakehouse_batch_source())
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment", "c_acctbal"
        )
        path = root + "/t"
        (
            cust.write.format("lakehouse")
            .option("path", path)
            .option("partitionBy", "c_mktsegment")
            .mode("append")
            .save()
        )
        (
            cust.filter(F.col("c_custkey") < 10)
            .write.format("lakehouse")
            .option("path", path)
            .option("partitionBy", "c_mktsegment")
            .mode("append")
            .save()
        )
        tbl = LakehouseTable(spark, path)
        assert tbl.current_version() == 2
        out = (
            tbl.read()
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("n_rows"),
                F.sum(
                    F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long")
                ).alias("bal_cents"),
            )
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "lakehouse_batch_incremental_options_read",
    oracle="""
        SELECT count(*) AS n_rows,
               CAST(sum(o_orderkey) AS BIGINT) AS key_sum
        FROM orders WHERE o_orderkey % 3 = 1
    """,
)
def lakehouse_batch_incremental_options_read(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental BATCH read through plain DSv2 options —
    ``spark.read.format("lakehouse").option("startingVersion", N)
    .option("endingVersion", M)`` returns exactly the rows appended in
    snapshot range (N, M]: Iceberg's incremental scan, with the same
    append-walk contract as the streaming source (compaction rewrites
    in the range never replay as new rows — asserted here by compacting
    between the bounds). This is the nightly-batch twin of the
    streaming source: a scheduler passes the last processed version
    instead of running a continuous query.

    Scale: planning walks only the manifests in the version range
    (O(range) driver metadata) and creates tasks only for the appended
    files; filter pushdown composes on top.
    """
    import shutil
    import tempfile

    from ..sources.lakehouse import LakehouseTable

    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    root = tempfile.mkdtemp(prefix="lakehouse_incr_opts_q_", dir="/tmp")
    try:
        tbl = LakehouseTable(spark, root + "/t")
        orders = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        tbl.append(orders.filter(F.col("o_orderkey") % 3 == 0))  # v1
        start = tbl.current_version()
        tbl.append(orders.filter(F.col("o_orderkey") % 3 == 1))  # v2
        # an in-range rewrite must NOT replay as new rows
        tbl.rewrite_small_files(min_file_bytes=64 * 1024 * 1024)  # v3
        end = tbl.current_version()
        tbl.append(orders.filter(F.col("o_orderkey") % 3 == 2))  # after
        spark.dataSource.register(make_lakehouse_batch_source())
        inc = (
            spark.read.format("lakehouse")
            .option("path", root + "/t")
            .option("startingVersion", str(start))
            .option("endingVersion", str(end))
            .load()
        )
        out = inc.agg(
            F.count("*").alias("n_rows"),
            F.sum("o_orderkey").alias("key_sum"),
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "streaming_lakehouse_cdc_feed",
    oracle="""
        WITH base AS (
            SELECT c_custkey, c_mktsegment,
                   CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
            FROM customer
        ),
        late AS (
            SELECT c_custkey, c_mktsegment, cents + 111 AS cents
            FROM base WHERE c_custkey < 20
        ),
        v2_state AS (
            SELECT * FROM base UNION ALL SELECT * FROM late
        ),
        v3_state AS (
            SELECT * FROM v2_state WHERE c_mktsegment <> 'BUILDING'
        )
        SELECT CAST(1 AS BIGINT) AS _commit_version,
               'insert' AS _change_type, * FROM base
        UNION ALL
        SELECT 2, 'insert', * FROM late
        UNION ALL
        SELECT 3, 'delete', * FROM v2_state
        WHERE c_mktsegment = 'BUILDING'
        UNION ALL
        SELECT 5, 'delete', * FROM v3_state
        WHERE c_custkey % 97 = 5
    """,
)
def streaming_lakehouse_cdc_feed(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING change data feed (Delta's
    ``readStream.option("readChangeFeed", true)`` / Iceberg's
    streaming changelog) on the lakehouse source: the table takes an
    initial load, an append, a copy-on-write delete, and a compaction;
    a Structured Streaming query consumes the table with
    ``readChangeFeed`` and receives every row-level change tagged
    (_change_type, _commit_version) — the compaction nets to ZERO rows
    (identical rows removed+re-added cancel in the per-commit multiset
    diff), and the whole feed is replay-deterministic because it
    derives from immutable manifests. This upgrades the streaming
    source from appends-only to full CDC, completing the pair with the
    batch ``LakehouseTable.changelog``.

    Every delete flavor is emitted (r7): position coordinates, DV
    bitmap deltas, and equality entries (evaluated seq-scoped and
    stats-pruned against the pre-commit side's carried files).

    Scale: each commit diffs only its CHANGED files (the scoped-
    changelog argument); the simple reader materializes driver-side —
    right for metadata-paced feeds; a fan-out variant would plan the
    net-diff as executor partitions exactly like the dist reader.
    """
    import shutil
    import tempfile

    from ..sources.lakehouse import LakehouseTable

    root = tempfile.mkdtemp(prefix="lakehouse_cdc_q_", dir="/tmp")
    try:
        tbl = LakehouseTable(spark, root + "/t")
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") * 100 + 0.5)
            .cast("long")
            .alias("cents"),
        )
        tbl.overwrite(cust)  # v1: initial load
        tbl.append(  # v2: late-arriving corrections
            cust.filter(F.col("c_custkey") < 20).withColumn(
                "cents", F.col("cents") + 111
            )
        )
        tbl.delete_where(F.col("c_mktsegment") == "BUILDING")  # v3: CoW
        tbl.rewrite_data_files(target_file_count=4)  # v4: nets to zero
        # v5: merge-on-read POSITION delete — no data file changes; the
        # feed reads the doomed coordinates and emits their deletes
        # (r6 lift — previously refused)
        tbl.delete_where_pos(F.col("c_custkey") % 97 == 5)
        # v6: compaction materializes the pending pos deletes away —
        # already-dead coordinates are excluded from the removed-side
        # multiset, so this nets to zero changes too
        tbl.rewrite_data_files(target_file_count=3)

        spark.dataSource.register(make_lakehouse_stream_source())
        stream = (
            spark.readStream.format("lakehouse_stream")
            .option("path", root + "/t")
            .option("readChangeFeed", "true")
            .load()
        )
        from .windows import _run_available_now

        out = _run_available_now(
            stream.select(
                "_commit_version",
                "_change_type",
                "c_custkey",
                "c_mktsegment",
                "cents",
            ),
            "append",
        )
        return out
    finally:
        shutil.rmtree(root, ignore_errors=True)


@query(
    "streaming_cdc_mv_maintenance",
    oracle="""
        WITH base AS (
            SELECT c_custkey, c_mktsegment,
                   CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
            FROM customer
        ),
        v2 AS (
            SELECT * FROM base
            UNION ALL
            SELECT c_custkey, c_mktsegment, cents + 77 FROM base
            WHERE c_custkey % 6 = 0
        ),
        v3 AS (SELECT * FROM v2 WHERE c_mktsegment <> 'AUTOMOBILE')
        SELECT c_mktsegment, count(*) AS n_rows,
               CAST(sum(cents) AS BIGINT) AS bal_cents
        FROM v3 GROUP BY c_mktsegment
    """,
)
def streaming_cdc_mv_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING materialized-view maintenance — the end-to-end
    composition of tonight's pieces: the base table's CHANGE FEED
    (``readChangeFeed``) streams into ``foreachBatch``, each
    micro-batch folds its rows into SIGNED per-group deltas
    (+1 insert / −1 delete — count and sum are retraction-safe), and
    a MERGE applies them to the gold aggregate table. The MV tracks
    the base through appends AND copy-on-write deletes with cost
    O(changed rows) per batch — the streaming twin of
    `lakehouse_incremental_mv_cdf_refresh` (batch) and the pattern
    that replaces scheduled full recomputes of gold tables.

    Exactly-once: offsets are snapshot versions (deterministic
    replay), and the MERGE keyed on the group column is idempotent
    per batch under Structured Streaming's batch-id replay — the same
    argument as the exactly-once sink.

    Scale: per-batch work is the CDC diff (changed files only) plus a
    group-keyed MERGE into a |groups|-sized table; nothing rescans
    the base.
    """
    import shutil
    import tempfile

    from ..sources.lakehouse import LakehouseTable

    root = tempfile.mkdtemp(prefix="lakehouse_cdc_mv_q_", dir="/tmp")
    try:
        tbl = LakehouseTable(spark, root + "/t")
        mv = LakehouseTable(spark, root + "/mv")
        cust = load_table(spark, sf_dir, "customer").select(
            "c_custkey",
            "c_mktsegment",
            F.floor(F.col("c_acctbal") * 100 + 0.5)
            .cast("long")
            .alias("cents"),
        )
        tbl.overwrite(cust)  # v1
        tbl.append(  # v2
            cust.filter(F.col("c_custkey") % 6 == 0).withColumn(
                "cents", F.col("cents") + 77
            )
        )
        tbl.delete_where(F.col("c_mktsegment") == "AUTOMOBILE")  # v3
        # seed the MV empty-but-typed; the feed replays from v0, so the
        # initial load arrives as batch-0 inserts
        mv.overwrite(
            cust.select("c_mktsegment")
            .limit(0)
            .withColumn("n_rows", F.lit(0).cast("long"))
            .withColumn("bal_cents", F.lit(0).cast("long"))
        )

        def fold_batch(batch, batch_id):
            sign = F.when(
                F.col("_change_type") == "insert", 1
            ).otherwise(-1)
            delta = batch.groupBy("c_mktsegment").agg(
                F.sum(sign).cast("long").alias("n_rows"),
                F.sum(sign * F.col("cents"))
                .cast("long")
                .alias("bal_cents"),
            )
            mv.merge_into(
                delta,
                on=["c_mktsegment"],
                update_cols={
                    "n_rows": F.col("t.n_rows") + F.col("s.n_rows"),
                    "bal_cents": F.col("t.bal_cents")
                    + F.col("s.bal_cents"),
                },
            )

        spark.dataSource.register(make_lakehouse_stream_source())
        q = (
            spark.readStream.format("lakehouse_stream")
            .option("path", root + "/t")
            .option("readChangeFeed", "true")
            .load()
            .writeStream.foreachBatch(fold_batch)
            .trigger(availableNow=True)
            .option("checkpointLocation", root + "/ck")
            .start()
        )
        await_or_raise(q, 180)
        out = mv.read().filter(F.col("n_rows") > 0).select(
            "c_mktsegment",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.col("bal_cents").cast("long").alias("bal_cents"),
        )
        # materialize before the scratch dir vanishes
        rows = out.collect()
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)
