"""Postgres bulk-load sink: the reference's ``inject-csv`` command
(ref cmd/substreams-sink-graph-load/inject_csv.go) as a pooled COPY
executor.

The headline trick IS the reference's headline trick: ``COPY ... FROM STDIN
WITH (FORMAT CSV, HEADER, FORCE_NOT_NULL (...))`` per bundled file
(inject_csv.go:278-289) — 10-100x over row INSERTs.  The files split into
contiguous batches, one per pooled connection, and a driver thread pool
runs the batches — the reference's own connection-pool shape
(inject_csv.go:78).  COPY is I/O the server does; no Spark job or Python
worker is needed to drive it, so ``inject-csv`` starts no JVM.

Two wire backends, picked per batch at runtime:

* ``psycopg`` when importable — one connection per batch,
  ``cursor.copy()`` streaming (the reference's pgx CopyFrom analogue);
* the ``psql`` CLI otherwise — ``psql <conninfo> -c 'COPY ... FROM STDIN'``
  with the file on stdin.  libpq does the exact same protocol either way,
  so the integration test exercises the identical COPY statement and CSV
  bytes that production psycopg would send.

Replicated reference quirk (verified against a live server in
tests/test_postgres_live.py): absent nullable fields render as the literal
string ``NULL`` (writer.go:233) but the COPY statement carries no
``NULL '...'`` spec (inject_csv.go:277), and CSV-format COPY maps only
*unquoted empty* fields to SQL NULL — so those columns store the 4 ASCII
bytes ``NULL`` (text ``'NULL'``, bytea ``\\x4e554c4c``), exactly as the
reference loads them.
"""

from __future__ import annotations

import csv
import os
import re
import shutil
import subprocess
from collections.abc import Sequence
from concurrent.futures import ThreadPoolExecutor

from ..schema.entities import EntityDesc

_RANGE_RE = re.compile(r"(\d{10})-(\d{10})")


def force_not_null_columns(desc: EntityDesc) -> list[str]:
    """Non-nullable columns get FORCE_NOT_NULL so empty CSV strings load as
    ``''``/default instead of NULL (ref inject_csv.go:88-106: id + block
    column + every non-nullable field)."""
    cols = ["id", "block$" if desc.immutable else "block_range"]
    cols += sorted(
        f.name for f in desc.ordered_fields()
        if f.name != "id" and not f.nullable
    )
    # dedupe, keep order
    seen: set[str] = set()
    return [c for c in cols if not (c in seen or seen.add(c))]


def build_copy_sql(
    pg_schema: str, table: str, columns: Sequence[str], force_not_null: Sequence[str]
) -> str:
    """The exact COPY shape of inject_csv.go:278-289."""
    collist = ", ".join(f'"{c}"' for c in columns)
    stmt = (
        f'COPY "{pg_schema}"."{table}" ({collist}) FROM STDIN '
        "WITH (FORMAT CSV, HEADER"
    )
    if force_not_null:
        fnn = ", ".join(f'"{c}"' for c in force_not_null)
        stmt += f", FORCE_NOT_NULL ({fnn})"
    return stmt + ")"


def list_candidate_files(
    directory: str, start_block: int, stop_block: int
) -> list[str]:
    """Range-prune bundled CSVs: keep files overlapping [start, stop)
    (ref inject_csv.go:305-327), in block order."""
    out = []
    for fn in sorted(os.listdir(directory)):
        m = _RANGE_RE.search(fn)
        if not m or not fn.endswith(".csv"):
            continue
        s, e = int(m.group(1)), int(m.group(2))
        if e < start_block:
            continue
        if s >= stop_block:
            break
        out.append(os.path.join(directory, fn))
    return out


def validate_csv_header(path: str, desc: EntityDesc) -> list[str]:
    """Read the first file's header; demand the id + block leading columns
    (ref inject_csv.go:203-224).  Returns the column list for COPY."""
    with open(path, newline="") as fh:
        header = next(csv.reader(fh))
    if not header or header[0] != "id":
        raise ValueError(f"first column of {path!r} must be 'id', got {header[:1]}")
    expect = "block$" if desc.immutable else "block_range"
    if len(header) < 2 or header[1] != expect:
        raise ValueError(
            f"second column of {path!r} must be {expect!r}, got {header[1:2]}"
        )
    return header


def run_sql(dsn: str, sql: str) -> list[tuple[str, ...]]:
    """Execute one SQL statement; rows come back as tuples of strings.

    psycopg when available, else the ``psql`` CLI with tuple-only unaligned
    output.  Orchestration path (DDL from :mod:`.ddl`, count checks) — not a
    data path, so CLI string parsing is fine.

    DSNs accept ``${ENV}`` substitution and the ``postgresql://`` URL form
    (ref postgres/dsn.go:10-57) via :func:`.dsn.expand_dsn`.
    """
    from .dsn import expand_dsn

    dsn = expand_dsn(dsn)
    try:
        import psycopg
    except ImportError:
        psycopg = None
    if psycopg is not None:
        with psycopg.connect(dsn) as conn, conn.cursor() as cur:
            cur.execute(sql)
            if cur.description is None:
                return []
            return [tuple("" if v is None else str(v) for v in r) for r in cur.fetchall()]
    if shutil.which("psql") is None:  # pragma: no cover - environment-specific
        raise NotImplementedError("neither psycopg nor psql available")
    out = subprocess.run(
        ["psql", dsn, "-v", "ON_ERROR_STOP=1", "-X", "-q", "-At", "-F", "\x1f", "-c", sql],
        check=True, capture_output=True, text=True,
    )
    return [tuple(line.split("\x1f")) for line in out.stdout.splitlines()]


def _psql_copy(dsn: str, copy_sql: str, path: str) -> None:
    """One COPY FROM STDIN through the psql CLI, file streamed on stdin."""
    with open(path, "rb") as fh:
        res = subprocess.run(
            ["psql", dsn, "-v", "ON_ERROR_STOP=1", "-X", "-q", "-c", copy_sql],
            stdin=fh, capture_output=True,
        )
    if res.returncode != 0:
        raise RuntimeError(
            f"psql COPY of {path!r} failed: {res.stderr.decode(errors='replace')}"
        )


def _psql_copy_many(dsn: str, copy_sql: str, paths: Sequence[str]) -> None:
    """COPY many files over ONE psql process/connection: each file becomes
    a client-side ``\\copy`` meta-command on stdin.  One subprocess + one
    connection per task, like the psycopg path and the reference's libpq
    loop — the per-file process spawn of :func:`_psql_copy` dominated the
    measured injection rate at bundle-file granularity (scripts/
    throughput_copy.py: 1000-row bundles made COPY *slower* than batched
    INSERT until this)."""
    # COPY ... FROM STDIN ... -> \copy ... from '<path>' ...
    head, _, opts = copy_sql.partition(" FROM STDIN ")
    script = "".join(
        "\\copy "
        + head[len("COPY "):]
        + f" from '{p}' "
        + opts
        + "\n"
        for p in paths
    )
    res = subprocess.run(
        ["psql", dsn, "-v", "ON_ERROR_STOP=1", "-X", "-q"],
        input=script.encode(), capture_output=True,
    )
    if res.returncode != 0:
        raise RuntimeError(
            f"psql COPY of {list(paths)!r} failed: "
            f"{res.stderr.decode(errors='replace')}"
        )


def inject_csv_files(
    spark,
    files: Sequence[str],
    dsn: str,
    pg_schema: str,
    table: str,
    desc: EntityDesc,
    pool_conns: int = 3,
):
    """COPY every file, over at most ``pool_conns`` connections.

    The files split into contiguous batches, one per connection, and each
    batch streams its files over its one connection from a driver thread —
    the reference's connection pool (inject_csv.go:78; README.md:83-87
    runs one such process per entity).  ``spark`` is unused (COPY needs no
    Spark job) and may be None.  Returns the number of files loaded.
    """
    if not files:
        return 0
    from .dsn import expand_dsn

    dsn = expand_dsn(dsn)
    columns = validate_csv_header(files[0], desc)
    fnn = force_not_null_columns(desc)
    copy_sql = build_copy_sql(pg_schema, table, columns, fnn)

    def load_batch(paths: Sequence[str]) -> int:
        try:
            import psycopg
        except ImportError:
            psycopg = None
        if psycopg is not None:  # pragma: no cover - psycopg not in CI image
            with psycopg.connect(dsn) as conn:
                for p in paths:
                    with conn.cursor() as cur, open(p, "rb") as fh:
                        with cur.copy(copy_sql) as cp:
                            while chunk := fh.read(1 << 20):
                                cp.write(chunk)
                conn.commit()
            return len(paths)
        if shutil.which("psql") is None:  # pragma: no cover
            raise NotImplementedError(
                "psycopg not installed and psql not on PATH; install either "
                "to inject, or run the generated COPY statements manually"
            )
        _psql_copy_many(dsn, copy_sql, paths)
        return len(paths)

    files = list(files)
    k = max(1, min(pool_conns, len(files)))
    batches = [files[i * len(files) // k : (i + 1) * len(files) // k] for i in range(k)]
    with ThreadPoolExecutor(max_workers=k) as pool:
        return sum(pool.map(load_batch, batches))
