"""Wire ingest: the reference's ``graphload run`` JSONL stage
(SURVEY §3.1) — demultiplex an interleaved entity-change stream into
per-entity bundled JSONL files, compute the POI chain over the SAME
interleaved order, and write ``last_block.txt``.

Shape: a finished wire file is data at rest, so ``run`` stages it with one
JVM-native batch read (:func:`read_wire`: ``spark.read.text`` plus
``seq`` = 0-based line number and ``block_num`` = the wire reader's
regex with a ``get_json_object`` fallback) into a parquet log, rewritten
whole on every run — a re-run over a grown wire equals a fresh run, so no
cursor checkpoint is kept.  No Python process starts for staging; the
Python streaming source (``sources.stream_source``) is the reference
:func:`read_wire` is tested against and the seam where a live source
plugs in.

Then, in order: the final-blocks order check (derived from the POI
fold's run discovery when it can be), and only once it has passed, demux
‖ POI — two independent reads of the staged log, demux on one extra
driver thread while the caller's thread folds the POI chain and writes
``poi2$``.  Demux cuts the bundle files in one batch job — entity
routing is ONE repartition on (entity, bundle_start) feeding a single
two-level ``partitionBy`` text write (every entity x bundle lands in its
own directory in one pass; no per-entity rescans); POI is the §2.5
parallel fold.  ``last_block.txt`` is written after both have finished.
The reference materializes bundles as the stream crosses boundaries; the
observable contract (file set, names, contents, order, empty bundles,
poi2$ rows, last_block marker) is identical.
"""

from __future__ import annotations

import glob
import os
import re
import shutil
import urllib.parse
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.bundles import boundaries, bundle_filename, bundle_start_col
from ..schema.normalize import normalize_field
from .stats import ProgressReporter


def read_wire(spark: SparkSession, wire_path: str) -> DataFrame:
    """The wire file as a (block_num, seq, value) frame, read natively.

    Same rows as the Python stream reader
    (``EntityChangesStreamReader.read``) over the whole file: ``seq`` is
    the 0-based line number (blank lines counted, then skipped, a last
    line without a newline included), ``block_num`` comes from the same
    ``_BLOCK_RE`` pattern with a ``get_json_object`` fallback, and is -1
    for a line neither can parse.

    Line numbers need each scan split's line count: one aggregation over
    the file (one row per split) gives every split its first line number,
    and ``seq`` is then the split's base plus the row's position in its
    partition (``monotonically_increasing_id`` counts rows per partition,
    and a split's rows are contiguous there).  Both reads share the
    frame's file listing, so they plan the same splits and the bases
    apply to the frame returned.

    ``wire_path`` must name one regular file: the split bases key on a
    split's start offset alone, which only orders the lines of one file.
    Glob characters in the name are escaped, so they match literally.
    """
    from ..sources.stream_source import _BLOCK_RE

    if not os.path.isfile(wire_path):
        raise ValueError(f"wire path is not a regular file: {wire_path!r}")
    literal = re.sub(r"([\\*?\[\]{}])", r"\\\1", os.path.abspath(wire_path))
    lines = spark.read.text(literal, lineSep="\n").select(
        F.input_file_block_start().alias("_split"),
        F.monotonically_increasing_id().alias("_row"),
        "value",
    )
    base = 0
    shift: dict[int, int] = {}
    for r in sorted(
        lines.groupBy("_split")
        .agg(F.count(F.lit(1)).alias("n"), F.min("_row").alias("first"))
        .collect()
    ):
        shift[r["_split"]] = base - r["first"]
        base += r["n"]
    if len(shift) > 1:
        offset = F.create_map(
            *[F.lit(x).cast("long") for kv in shift.items() for x in kv]
        )[F.col("_split")]
    else:
        offset = F.lit(next(iter(shift.values()), 0))
    # Python's (?P<name>...) group is (?<name>...) in Java regex
    hit = F.regexp_extract("value", _BLOCK_RE.replace("(?P<", "(?<"), 1)
    block = F.coalesce(
        hit.try_cast("long"),  # no match is "", which casts to null
        F.get_json_object("value", "$.block_num").try_cast("long"),
        F.lit(-1).cast("long"),
    )
    return lines.where(F.col("value") != "").select(
        block.alias("block_num"),
        (F.col("_row") + offset).alias("seq"),
        "value",
    )


class WireIngest:
    """Stager of the wire frame into ``<workdir>/wire_log``."""

    def __init__(self, spark: SparkSession, workdir: str, stop_block: int):
        self.spark = spark
        self.workdir = workdir
        self.stop_block = stop_block
        self.staged = os.path.join(workdir, "wire_log")
        self.rows = 0  # rows staged by the last process_batch
        os.makedirs(workdir, exist_ok=True)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # extract the routing key ONCE here, overlapped with the stage
        # write (JVM get_json_object in the same task that writes the
        # row) — every downstream pass (router validation, demux write)
        # then reads a pruned parquet column instead of re-parsing 100%
        # of the line bytes per pass.  The row count rides the write as
        # an observed metric: no extra scan.
        seen = Observation("wire_stage")
        (
            batch_df.where(F.col("block_num") < self.stop_block)
            .withColumn(
                "entity_raw",
                F.get_json_object("value", "$.entity_change.entity"),
            )
            .observe(seen, F.count(F.lit(1)).alias("rows"))
            .write.mode("overwrite")
            .parquet(self.staged)
        )
        self.rows = seen.get["rows"]

    def staged_df(self) -> DataFrame:
        return self.spark.read.parquet(self.staged)


def check_final_blocks_only(
    staged: DataFrame, chunk_width: int = 1_000_000
) -> int | None:
    """Reject any block below the running high-water mark in cursor order
    (ref sinker.go:291-293 — an undo/reorg signal is fatal; the sink
    demands final blocks only).  Returns the global max block (the final
    high-water mark, None on empty input) so callers that need it — the
    ``last_block.txt`` marker — don't re-scan the log for a number this
    check already computed.

    Distributed: the cursor space splits into seq-range chunks so the
    non-decreasing property decomposes into (a) a running-max window check
    WITHIN each chunk — chunks run in parallel, no global single-partition
    window — and (b) per-chunk (min, max) block extremes merged driver-side
    across chunk boundaries (O(#chunks) rows).  Accept/reject set is exactly
    the global scan's: a violating row either sees its witness inside its
    own chunk (a) or in some earlier chunk's max (b).
    """
    ch = staged.select(
        "seq",
        "block_num",
        (F.col("seq") / F.lit(chunk_width)).cast("long").alias("_chunk"),
    )
    w = Window.partitionBy("_chunk").orderBy("seq").rowsBetween(
        Window.unboundedPreceding, -1
    )
    intra = (
        ch.withColumn("_hwm", F.max("block_num").over(w))
        .where(F.col("block_num") < F.col("_hwm"))
        .orderBy("seq")
        .limit(1)
        .collect()
    )
    if intra:
        r = intra[0]
        raise ValueError(
            f"received undo signal / out-of-order block at cursor "
            f"{r['seq']}: block {r['block_num']} below high-water mark "
            f"{r['_hwm']} — the sink requires final blocks only"
        )
    extremes = (
        ch.groupBy("_chunk")
        .agg(F.min("block_num").alias("_min"), F.max("block_num").alias("_max"))
        .orderBy("_chunk")
        .collect()
    )
    hwm = None
    for row in extremes:
        if hwm is not None and row["_min"] < hwm:
            lo, hi = row["_chunk"] * chunk_width, (row["_chunk"] + 1) * chunk_width
            bad = (
                ch.where(
                    (F.col("seq") >= lo)
                    & (F.col("seq") < hi)
                    & (F.col("block_num") < F.lit(hwm))
                )
                .orderBy("seq")
                .limit(1)
                .collect()[0]
            )
            raise ValueError(
                f"received undo signal / out-of-order block at cursor "
                f"{bad['seq']}: block {bad['block_num']} below high-water "
                f"mark {hwm} — the sink requires final blocks only"
            )
        hwm = row["_max"] if hwm is None else max(hwm, row["_max"])
    return hwm


def check_final_blocks_from_runs(
    runs: list[tuple[int, int, int, int]],
) -> tuple[bool, int | None]:
    """Order check derived from :func:`operators.poi.discover_runs`
    output — zero extra scans when the caller computes runs for the POI
    fold anyway.

    Returns ``(ok, high_water)``.  ``ok=False`` means the run structure
    cannot PROVE the global cursor order (some runs' seq intervals
    overlap — physically interleaved staging), and the caller must fall
    back to :func:`check_final_blocks_only`'s windowed scan; it never
    means "order violated".  A proven violation raises the same
    ValueError as the windowed check: runs sorted by min_seq with
    pairwise-disjoint intervals ARE the global seq order, each run holds
    exactly one block, so a run whose block sits below the running
    high-water mark starts (at its min_seq) the same first-violation
    cursor the windowed check reports.
    """
    if not runs:
        return True, None
    rs = sorted(runs, key=lambda r: (r[1], r[2]))
    prev_max: int | None = None
    hwm: int | None = None
    for blk, mn, mx, _n in rs:
        if prev_max is not None and mn <= prev_max:
            return False, None
        prev_max = mx
        if hwm is not None and blk < hwm:
            raise ValueError(
                f"received undo signal / out-of-order block at cursor "
                f"{mn}: block {blk} below high-water mark {hwm} — the "
                f"sink requires final blocks only"
            )
        hwm = blk if hwm is None else max(hwm, blk)
    return True, hwm


def demux_jsonl(
    spark: SparkSession,
    raw: DataFrame,
    dest_dir: str,
    entities: list[str],
    stop_block: int,
    bundle_size: int = 1000,
    first_block: int = 0,
) -> dict[str, list[str]]:
    """Route raw change lines to ``<dest>/<entity>/NNN-NNN.jsonl`` bundles.

    Entity names normalize to snake_case for the directory (sinker.go:243);
    unknown entities raise, like the reference's router (sinker.go:242-248).
    One routing pass over the data: a column-pruned distinct builds the
    raw-spelling -> snake router map (validated against the schema), then
    ONE repartition on (entity, bundle_start) feeds ONE two-level
    ``partitionBy`` text write — per-bundle files come out of the partition
    directories with driver-side renames (metadata ops).

    EVERY schema entity materializes every bundle in
    [first_block, stop_block) — never-emitted entities included — as the
    reference creates a bundler per schema entity up front (sinker.go:82-88)
    and rolls them all, so unseen entities still produce (empty) files.

    Strict about its input: any row outside [first_block, stop_block)
    raises — out-of-envelope bundles via the metadata-only staged-tree
    audit, unaligned-edge slivers via a pushed-down pre-pass that scans
    only the edge bundles (and is skipped entirely when both boundaries
    are bundle-aligned).  Any entity dir the mover would not glob raises,
    and the staged tree is deleted only once provably empty.  Callers
    that legitimately resume mid-chain (run_ingest) filter the pre-start
    blocks themselves first.
    """
    # The router key: staged logs carry it as a parquet column (extracted
    # once at staging time, WireIngest.process_batch); a raw frame without
    # it falls back to JSON extraction here.
    ent = (
        F.col("entity_raw")
        if "entity_raw" in raw.columns
        else F.get_json_object("value", "$.entity_change.entity")
    )
    # Validation pre-pass: distinct raw spellings from a column-pruned scan
    # (map-side-combined agg over a schema-bounded-cardinality column).
    # Deliberately NOT persist()ed: caching the full line column costs more
    # than the re-extraction it saves (measured 25s persist+distinct vs
    # ~5s re-scan at 1.8M events — deserialized Java strings of the whole
    # log thrash the heap), and at 100 TB pinning the log in executor
    # memory is a non-starter while a second column-pruned pass is one
    # cheap map stage.
    seen = [r["e"] for r in raw.select(ent.alias("e")).distinct().collect()]
    norm_map: dict[str, str] = {}
    for raw_name in seen:
        snake = normalize_field(raw_name) if raw_name is not None else None
        if snake not in entities:
            raise ValueError(
                f"cannot find bundler for entity {raw_name!r} "
                f"(normalized {snake!r})"
            )
        norm_map[raw_name] = snake

    # Row-exact range guard, folded to the aligned-envelope edges.  The
    # staged-tree audit below is bundle-granular: any row whose ALIGNED
    # bundle falls outside [first_aligned, stop_block) surfaces there as
    # an unexpected bundle_start dir, at metadata cost.  The only rows it
    # cannot see are the two slivers inside legitimate edge bundles — a
    # row below an unaligned first_block but inside the first aligned
    # bundle, or at/after an unaligned stop_block but inside the last.
    # Guard exactly those slivers with a pushed-down range filter
    # (parquet row-group stats prune the scan to the edge bundles for
    # staged logs) and skip the pass entirely for aligned boundaries —
    # the previous full min/max aggregation re-scanned the whole log on
    # every call, a real cost at the 100 TB target.
    slivers = []
    if first_block % bundle_size:
        first_aligned = first_block - first_block % bundle_size
        slivers.append(
            (F.col("block_num") >= first_aligned)
            & (F.col("block_num") < first_block)
        )
    if stop_block % bundle_size:
        last_start = stop_block - stop_block % bundle_size
        slivers.append(
            (F.col("block_num") >= stop_block)
            & (F.col("block_num") < last_start + bundle_size)
        )
    if slivers:
        cond = slivers[0]
        for s in slivers[1:]:
            cond = cond | s
        bad = raw.where(cond).select("block_num").limit(1).collect()
        if bad:
            raise ValueError(
                f"demux input carries block {bad[0]['block_num']} outside "
                f"[{first_block}, {stop_block}); truncate or filter upstream"
            )

    mapping = F.create_map(
        *[F.lit(x) for kv in sorted(norm_map.items()) for x in kv]
    )
    staged = os.path.join(dest_dir, "_staged_demux")
    (
        raw.select(
            mapping[ent].alias("entity"),
            bundle_start_col(F.col("block_num"), bundle_size).alias("bundle_start"),
            F.col("block_num"),
            F.col("seq"),
            F.col("value").alias("line"),
        )
        .repartition("entity", "bundle_start")
        .sortWithinPartitions("entity", "bundle_start", "block_num", "seq")
        .select("entity", "bundle_start", "line")
        .write.mode("overwrite")
        .partitionBy("entity", "bundle_start")
        .text(staged, lineSep="\n")
    )

    bounds = boundaries(first_block, stop_block, bundle_size)
    # Fail-fast audit of the staged partition tree (metadata-only, no data
    # pass): every entity dir must be one we will glob for, and every
    # bundle_start must fall inside [first_block, stop_block) — otherwise
    # the move loop below would never visit those rows and the final
    # rmtree would silently drop them (data loss, not a degraded run).
    expected_dirs = {
        f"entity={urllib.parse.quote(s, safe='')}" for s in entities
    }
    valid_starts = {s for s, _ in bounds}
    for ent_dir_path in glob.glob(os.path.join(staged, "entity=*")):
        ent_d = os.path.basename(ent_dir_path)
        if ent_d not in expected_dirs:
            raise ValueError(
                f"demux staged unexpected entity dir {ent_d!r} (escaping "
                f"mismatch vs {sorted(expected_dirs)}); rows would be "
                "dropped with the staged tree"
            )
        for bs_path in glob.glob(os.path.join(ent_dir_path, "bundle_start=*")):
            bs = int(os.path.basename(bs_path).split("=", 1)[1])
            if bs not in valid_starts:
                raise ValueError(
                    f"demux staged rows at {bs_path!r} outside block range "
                    f"[{first_block}, {stop_block}); refusing to drop them"
                )
    out: dict[str, list[str]] = {}
    for snake in sorted(entities):
        dest = os.path.join(dest_dir, snake)
        os.makedirs(dest, exist_ok=True)
        ent_dir = os.path.join(staged, f"entity={urllib.parse.quote(snake, safe='')}")
        files: list[str] = []
        for s, e in bounds:
            parts = sorted(
                glob.glob(os.path.join(ent_dir, f"bundle_start={s}", "part-*"))
            )
            target = os.path.join(dest, bundle_filename(s, e, "jsonl"))
            if len(parts) == 1:
                shutil.move(parts[0], target)
            elif not parts:  # empty (or never-emitted entity): empty file
                open(target, "wb").close()
            else:  # defensive: concatenate (shouldn't happen post-repartition)
                with open(target, "wb") as outfh:
                    for p in parts:
                        with open(p, "rb") as fh:
                            shutil.copyfileobj(fh, outfh)
                        # consumed: the leftover audit below must not see it
                        os.remove(p)
            files.append(target)
        out[snake] = files
    # Belt-and-braces: nothing with bytes in it may remain before teardown
    # (the audit above should make this unreachable; keep it so any future
    # staging-layout drift fails loudly instead of deleting rows).
    leftover = [
        p
        for p in glob.glob(
            os.path.join(staged, "**", "part-*"), recursive=True
        )
        if os.path.getsize(p) > 0
    ]
    if leftover:
        raise RuntimeError(
            f"demux staged files unclaimed by any bundle: {leftover[:5]}"
        )
    shutil.rmtree(staged, ignore_errors=True)
    return out


def run_ingest(
    spark: SparkSession,
    dest_dir: str,
    entities: list[str],
    stop_block: int,
    wire_path: str,
    bundle_size: int = 1000,
    chain_id: str | None = None,
    start_poi: bytes | None = None,
    workdir: str | None = None,
    enforce_order: bool = True,
    first_block: int = 0,
    progress: ProgressReporter | None = None,
) -> dict[str, list[str]]:
    """Full ``run`` parity: wire file -> per-entity JSONL bundles
    (+ optional poi2$ CSV chain over the interleaved order) +
    ``last_block.txt``.

    The wire stages with :func:`read_wire` into ``<workdir>/wire_log``
    (default workdir ``<dest>/_work_ingest``), replacing any earlier
    staging: a re-run over a grown wire writes what a fresh run would.
    ``progress`` is told of the staged rows as one batch.  No bundle is
    written before the order check passes; with a ``chain_id``, demux and
    the ``poi2$`` write then run side by side (see the module docstring),
    and an error from either propagates.

    ``enforce_order`` reproduces the reference's source contract: block
    numbers must be non-decreasing in cursor order — an undo/reorg signal
    (a block below the high-water mark) is fatal (ref sinker.go:291-293
    errors on any undo; the sink demands final-blocks-only).

    ``first_block`` is the sinker start block: bundle enumeration starts at
    its aligned bundle (the reference's bundlers boot at the start block,
    not 0).
    """
    workdir = workdir or os.path.join(dest_dir, "_work_ingest")
    ingest = WireIngest(spark, workdir, stop_block)
    ingest.process_batch(read_wire(spark, wire_path), 0)
    if progress is not None:
        progress.record_batch(ingest.rows)

    staged = ingest.staged_df()
    last: int | None = None
    # One narrow (block_num, seq) pass serves BOTH the order check and
    # the POI fold's run offsets — at cluster scale that deletes a full
    # log-key shuffle+window (the former standalone order check)
    runs = None
    if enforce_order or chain_id is not None:
        from ..operators.poi import discover_runs

        runs = discover_runs(staged)
    if enforce_order:
        ok = False
        if runs is not None:
            ok, last = check_final_blocks_from_runs(runs)
        if not ok:
            last = check_final_blocks_only(staged)
    # The sinker start block: blocks below first_block belong to an
    # earlier run's bundles, so drop them HERE, deliberately and
    # documented — demux_jsonl itself treats any out-of-range row as a
    # hard error rather than silently discarding it with its staging dir.
    demux_args = (
        spark, staged.where(F.col("block_num") >= first_block),
        dest_dir, entities, stop_block, bundle_size, first_block,
    )
    if chain_id is None:
        files = demux_jsonl(*demux_args)
    else:
        from ..operators.poi import RUNS_UNAVAILABLE, poi_tocsv

        # Demux and the POI fold read the staged log independently, so
        # demux runs on one more driver thread while this one folds.
        # discover_runs and poi_block_states_sorted scope
        # spark.sql.files.maxPartitionBytes through the session conf
        # both threads share, so demux may plan its scan under the
        # fold's value.  No output can change: demux's files do not
        # depend on its input splits (one repartition on entity and
        # bundle, rows sorted within it), only this thread sets the
        # value, and the fold validates its own two passes' run sets
        # against each other, falling back to the shuffle path on any
        # drift.
        with ThreadPoolExecutor(max_workers=1) as pool:
            demuxed = pool.submit(demux_jsonl, *demux_args)
            try:
                # The staged log is written in cursor order (one split
                # per file, each in line order), so the shuffle-free POI
                # fold applies; it validates the assumption and falls
                # back to the shuffle path on any mismatch.  Discovery
                # ALWAYS ran above when chain_id is set, so runs=None
                # here means it exceeded its bound — tell the fold so it
                # goes straight to the shuffle path instead of
                # re-scanning to rediscover the same overflow.
                poi_files = poi_tocsv(
                    spark, staged, dest_dir, chain_id, stop_block,
                    bundle_size=bundle_size, start_poi=start_poi,
                    first_block=first_block, assume_sorted=True,
                    runs=runs if runs is not None else RUNS_UNAVAILABLE,
                )
            finally:
                # joins the demux; its error, if any, propagates (with a
                # POI error as its context)
                files = demuxed.result()
        files["poi2$"] = poi_files

    # the order check already computed the global max; only re-scan when
    # it was skipped (enforce_order=False)
    if last is None:
        last = staged.agg(F.max("block_num")).collect()[0][0]
    with open(os.path.join(dest_dir, "last_block.txt"), "w") as fh:
        fh.write(f"{last or 0}:\n")
    return files
