"""The backfill workloads: ``run`` -> ``tocsv`` -> ``inject-csv``.

One repetition calls the library entry points the CLI uses, one stage at a
time: ``streaming.ingest.run_ingest`` (wire file -> per-entity JSONL bundles,
``poi2$`` when a chain id is set, ``last_block.txt``), ``tocsv.tocsv`` or
``tocsv.tocsv_all`` (JSONL -> versioned CSV bundles), then the inject cycle
of ``sinks.ddl`` SQL through ``sinks.postgres.run_sql`` around
``sinks.postgres.inject_csv_files``: extract the index inventory, drop the
droppable indexes, COPY every table (``poi2$`` included), recreate the
indexes over ``nproc`` lanes.

Every repetition is checked: the CSV version rows per entity equal the
replay's in count and in (id, block range), ``count(*)`` per table equals
the CSV data rows, every ``poi2$`` row (block range, digest) equals the
scalar chain's, and the digest of the CSV tree is the same in every
repetition of the run.
"""

from __future__ import annotations

import contextlib
import csv
import glob
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

import gen

PG_SCHEMA = "sgd1"

# the code the cached inputs (and their expected record) come from
GEN_SOURCES = ["perfbench/gen.py", "substreams_sink_graph_load_spark/schema/normalize.py"] + [
    f"substreams_sink_graph_load_spark/stablehash/{m}.py"
    for m in ("poi", "core", "values", "big_decimal", "xxh3")
]

SIZES = {
    "backfill_mutable": {"full": {"ids": 2000, "bundles": 20}, "tiny": {"ids": 200, "bundles": 5}},
    "backfill_wide": {"full": {"events": 24000, "bundles": 50}, "tiny": {"events": 1500, "bundles": 4}},
}


def _file_bytes(paths) -> int:
    return sum(os.path.getsize(p) for p in paths)


def _dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs
    )


def _data_rows(paths) -> int:
    n = 0
    for p in paths:
        with open(p, "rb") as fh:
            lines = fh.read().count(b"\n")
        n += max(lines - 1, 0)  # header
    return n


def _run_lane(dsn: str, stmts: list[str]) -> None:
    from substreams_sink_graph_load_spark.sinks.postgres import run_sql

    for stmt in stmts:
        run_sql(dsn, stmt)


def _tree_digest(dirs: list[str]) -> str:
    h = hashlib.sha256()
    for d in dirs:
        for p in sorted(glob.glob(os.path.join(d, "**", "*.csv"), recursive=True)):
            h.update(os.path.relpath(p, os.path.dirname(d)).encode() + b"\0")
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _csv_digest(paths: list[str], digest_column: bool) -> str | None:
    """``gen.rows_digest`` of a table's CSV rows: (id, first block, end
    block) per version, or (first block, end block, digest hex) for
    ``poi2$``; None if a row does not parse."""
    rows = []
    try:
        for p in paths:
            with open(p, newline="") as fh:
                reader = csv.reader(fh)
                next(reader)  # header
                for row in reader:
                    lo, _, hi = row[1].strip("[)").partition(",")  # block_range or block$
                    rows.append((lo, hi, row[2].removeprefix("\\x")) if digest_column else (row[0], lo, hi))
    except (IndexError, StopIteration):
        return None
    return gen.rows_digest(rows)


class Backfill:
    """One backfill workload bound to a seed and an input size."""

    def __init__(self, bench, name: str):
        self.bench = bench
        self.kind = "mutable" if name == "backfill_mutable" else "wide"
        self.size = SIZES[name][bench.size]
        self.inputs = bench.cache_dir(f"{bench.size}-seed{bench.seed}", GEN_SOURCES)
        self.expected: dict = {}
        self.descs: dict = {}
        self.index_ddl: list[str] = []
        self.dsn = ""
        # sha256 of the CSV tree: every repetition of the run must match
        self.tree_digest: str | None = None

    # -- inputs, outside every timed region --------------------------------
    def prepare(self) -> None:
        path = os.path.join(self.inputs, "expected.json")
        if not os.path.exists(path):
            self.bench.in_child(
                f"import gen; gen.generate({self.kind!r}, {self.bench.seed}, {self.inputs!r}, {self.size!r})"
            )
        with open(path) as fh:
            self.expected = json.load(fh)
        from substreams_sink_graph_load_spark.schema.entities import (
            EntityDesc,
            Field,
            FieldType,
            parse_schema_file,
        )

        self.schema_file = os.path.join(self.inputs, "schema.graphql")
        self.descs = parse_schema_file(self.schema_file)
        self.entities = sorted(self.descs)
        if self.expected["chain_id"]:
            # poi2$ = {id: chain id, digest: Bytes} (ref schema/entities.go:108-124)
            self.descs["poi2$"] = EntityDesc(
                name="poi2$",
                fields={
                    "id": Field("id", FieldType.ID, nullable=False),
                    "digest": Field("digest", FieldType.BYTES, nullable=False),
                },
            )
        self.index_ddl = (
            [s.format(s=PG_SCHEMA) for s in gen.MUTABLE_INDEXES]
            if self.kind == "mutable" else []
        )

    @property
    def tables(self) -> list[str]:
        return sorted(self.descs)

    # -- set-up: target tables and indexes ---------------------------------
    def create_tables(self, dsn: str) -> None:
        from substreams_sink_graph_load_spark.sinks.ddl import create_table_ddl
        from substreams_sink_graph_load_spark.sinks.postgres import run_sql

        self.dsn = dsn
        run_sql(dsn, f'DROP SCHEMA IF EXISTS "{PG_SCHEMA}" CASCADE')
        run_sql(dsn, f'CREATE SCHEMA "{PG_SCHEMA}"')
        if self.index_ddl:
            run_sql(dsn, "CREATE EXTENSION IF NOT EXISTS btree_gist")
        for t in self.tables:
            run_sql(dsn, create_table_ddl(self.descs[t], PG_SCHEMA))
        for stmt in self.index_ddl:
            run_sql(dsn, stmt)

    def reset_tables(self) -> None:
        from substreams_sink_graph_load_spark.sinks.postgres import run_sql

        names = ", ".join(f'"{PG_SCHEMA}"."{t}"' for t in self.tables)
        run_sql(self.dsn, f"TRUNCATE {names}")

    # -- tracing -------------------------------------------------------------
    def install_wrappers(self, tr) -> None:
        from substreams_sink_graph_load_spark import tocsv as tocsv_mod
        from substreams_sink_graph_load_spark.operators import poi
        from substreams_sink_graph_load_spark.streaming import ingest

        def demux_counts(sp, _a, _k, files):
            paths = [p for fs in files.values() for p in fs]
            sp.counts.update(files=len(paths), bytes=_file_bytes(paths))

        def sorted_useful(sp, _a, _k, states):
            sp.counts["useful"] = int(states is not None)

        tr.wrap(ingest.WireIngest, "process_batch", "ingest.stage")
        tr.wrap(poi, "discover_runs", "ingest.order_check")
        tr.wrap(ingest, "check_final_blocks_from_runs", "ingest.order_check")
        tr.wrap(ingest, "check_final_blocks_only", "ingest.order_check")
        tr.wrap(ingest, "demux_jsonl", "demux", count=demux_counts)
        tr.wrap(poi, "poi_tocsv", "poi")
        tr.wrap(poi, "poi_block_states_sorted", "poi.sorted_fold", count=sorted_useful)
        tr.wrap(poi, "poi_block_states", "poi.shuffle_fold")
        tr.wrap(tocsv_mod, "tocsv", "tocsv.entity")
        tr.wrap(tocsv_mod, "last_event_block", "tocsv.last_block")
        tr.wrap(tocsv_mod, "write_bundled_csv", "tocsv.write")

    # -- one repetition --------------------------------------------------------
    def rep(self, spark, rep_dir: str, tr=None) -> dict:
        """Run the three stages once; return stage walls, output facts and
        the list of failed stages (an exception or a wrong output)."""
        from substreams_sink_graph_load_spark import tocsv as tocsv_mod
        from substreams_sink_graph_load_spark.streaming import ingest

        ex = self.expected
        stop, bsize, nproc = ex["stop_block"], ex["bundle_size"], self.bench.nproc
        jsonl_dir = os.path.join(rep_dir, "jsonl")
        csv_dir = os.path.join(rep_dir, "csv")
        span = tr.span if tr else (lambda name, root=False: contextlib.nullcontext())
        out = {"failed": [], "walls": {}, "spans": {}}

        t0 = time.perf_counter()
        try:
            with span("run", root=True) as sp:
                ingest.run_ingest(
                    spark, jsonl_dir, entities=self.entities, stop_block=stop,
                    wire_path=os.path.join(self.inputs, "wire.jsonl"),
                    bundle_size=bsize, chain_id=ex["chain_id"],
                    workdir=os.path.join(rep_dir, "work"),
                )
            out["spans"]["run"] = sp
            t1 = time.perf_counter()
            with span("tocsv", root=True) as sp:
                if len(self.entities) == 1:
                    tocsv_mod.tocsv(
                        spark, jsonl_dir, csv_dir, self.entities[0], self.schema_file,
                        stop_block=stop, bundle_size=bsize,
                    )
                else:
                    tocsv_mod.tocsv_all(
                        spark, jsonl_dir, csv_dir, self.schema_file,
                        stop_block=stop, bundle_size=bsize, max_parallel=nproc,
                    )
            out["spans"]["tocsv"] = sp
            t2 = time.perf_counter()
            with span("inject", root=True) as sp:
                self._inject(spark, jsonl_dir, csv_dir, span, out)
            out["spans"]["inject"] = sp
            t3 = time.perf_counter()
        except Exception:  # a failed stage fails the rest of the rep
            import traceback

            traceback.print_exc()
            done = len(out["spans"])
            out["failed"] = ["run", "tocsv", "inject"][done:]
            return out
        out["walls"] = {"run_s": t1 - t0, "tocsv_s": t2 - t1, "inject_s": t3 - t2}
        self._check(jsonl_dir, csv_dir, out)
        if tr is not None:
            out["staged_bytes"] = _dir_bytes(os.path.join(rep_dir, "work", "wire_log"))
        return out

    def _files(self, jsonl_dir: str, csv_dir: str, table: str) -> list[str]:
        from substreams_sink_graph_load_spark.sinks.postgres import list_candidate_files

        base = jsonl_dir if table == "poi2$" else csv_dir
        return list_candidate_files(os.path.join(base, table), 0, self.expected["stop_block"])

    def _inject(self, spark, jsonl_dir, csv_dir, span, out) -> None:
        from substreams_sink_graph_load_spark.sinks.ddl import (
            create_index_sql,
            drop_index_sql,
            extract_index_sql,
        )
        from substreams_sink_graph_load_spark.sinks.postgres import inject_csv_files, run_sql

        nproc = self.bench.nproc
        with span("inject.index_drop"):
            inventory: dict[str, list[str]] = {}
            defs: dict[str, str] = {}
            for table, index, ddl in run_sql(self.dsn, extract_index_sql(PG_SCHEMA)):
                inventory.setdefault(table, []).append(index)
                defs[index] = ddl
            drops = drop_index_sql(PG_SCHEMA, inventory, set(self.tables))
            for stmt in drops:
                run_sql(self.dsn, stmt)
            dropped = sorted(s.rsplit(".", 1)[-1].strip('"') for s in drops)
        files_n = 0
        with span("inject.copy") as sp:
            for table in self.tables:
                files = self._files(jsonl_dir, csv_dir, table)
                files_n += inject_csv_files(
                    spark, files, self.dsn, PG_SCHEMA, table, self.descs[table],
                    pool_conns=nproc,
                )
        out["copy_span"] = sp
        out["inject_files"] = files_n
        with span("inject.index_create"):
            lanes = create_index_sql([defs[n] for n in dropped], nproc)
            if lanes:
                with ThreadPoolExecutor(max_workers=len(lanes)) as pool:
                    for f in [pool.submit(_run_lane, self.dsn, lane) for lane in lanes]:
                        f.result()

    def _check(self, jsonl_dir: str, csv_dir: str, out: dict) -> None:
        from substreams_sink_graph_load_spark.sinks.postgres import run_sql

        ex = self.expected
        failed = set()
        csv_rows = {}
        files_by_table = {t: self._files(jsonl_dir, csv_dir, t) for t in self.tables}
        for t, files in files_by_table.items():
            csv_rows[t] = _data_rows(files)
        for entity, want in ex["versions"].items():
            if csv_rows.get(entity) != want:
                print(f"# {entity}: {csv_rows.get(entity)} CSV version rows, replay says {want}", file=sys.stderr)
                failed.add("tocsv")
        for t in self.tables:
            got = int(run_sql(self.dsn, f'SELECT count(*) FROM "{PG_SCHEMA}"."{t}"')[0][0])
            if got != csv_rows[t]:
                print(f"# {t}: {got} rows in Postgres, {csv_rows[t]} in the CSVs", file=sys.stderr)
                failed.add("inject")
        for entity, want in ex["version_digests"].items():
            if _csv_digest(files_by_table.get(entity, []), False) != want:
                print(f"# {entity}: CSV version rows (id, block range) differ from the replay", file=sys.stderr)
                failed.add("tocsv")
        if ex["chain_id"] and _csv_digest(files_by_table["poi2$"], True) != ex["poi_digest"]:
            print("# poi2$ rows (block range, digest) differ from the scalar chain", file=sys.stderr)
            failed.add("run")
        tree = _tree_digest([csv_dir] + ([os.path.join(jsonl_dir, "poi2$")] if ex["chain_id"] else []))
        if self.tree_digest is None:
            self.tree_digest = tree
        elif tree != self.tree_digest:
            print("# CSV tree digest differs from an earlier repetition of this run", file=sys.stderr)
            failed.add("tocsv")
        out["failed"] = sorted(failed)
        out["csv_rows"] = csv_rows
        out["csv_files"] = {t: len(fs) for t, fs in files_by_table.items()}
        out["csv_bytes"] = {t: _file_bytes(fs) for t, fs in files_by_table.items()}


def layer_metrics(wl: Backfill, tr, counters, traced: list[tuple[int, dict]]) -> dict:
    """Per-layer metrics of the traced repetitions (median over them)."""
    per_rep = []
    events = wl.expected["events"]
    for run_id, rep in traced:
        spans = tr.of_run(run_id)

        def total(name):
            return sum(s.end - s.start for s in spans if s.name == name)

        def count(name, key=None):
            return sum(1 if key is None else s.counts.get(key, 0) for s in spans if s.name == name)

        def window(name):
            sp = rep["spans"][name]
            return counters.window(sp.start, sp.end)

        run_w, tocsv_w = window("run"), window("tocsv")
        copy_sp = rep["copy_span"]
        copy_w = counters.window(copy_sp.start, copy_sp.end)
        all_w = counters.window(rep["spans"]["run"].start, rep["spans"]["inject"].end)
        entity_rows = sum(v for t, v in rep["csv_rows"].items() if t != "poi2$")
        inj_rows = sum(rep["csv_rows"].values())
        copy_s = total("inject.copy")
        m = {
            "ingest.stage_s": total("ingest.stage"),
            "ingest.batches": count("ingest.stage"),
            "ingest.staged_bytes": rep["staged_bytes"],
            "ingest.order_check_s": total("ingest.order_check"),
            "demux.s": total("demux"),
            "demux.files": count("demux", "files"),
            "demux.bytes": count("demux", "bytes"),
            "poi.s": total("poi"),
            "poi.sorted_folds": count("poi.sorted_fold", "useful"),
            "poi.shuffle_folds": count("poi.shuffle_fold"),
            "poi.rows": rep["csv_rows"].get("poi2$", 0),
            "run.jobs": run_w["jobs"],
            "run.tasks": run_w["tasks"],
            "run.shuffle_write_bytes": run_w["shuffle_write_bytes"],
            "run.spill_bytes": run_w["spill_bytes"],
            "tocsv.plan_s": tr.self_seconds(run_id, ["tocsv.entity"]),
            "tocsv.last_block_s": total("tocsv.last_block"),
            "tocsv.write_s": total("tocsv.write"),
            "tocsv.shuffle_write_bytes": tocsv_w["shuffle_write_bytes"],
            "tocsv.spill_bytes": tocsv_w["spill_bytes"],
            "tocsv.jobs": tocsv_w["jobs"],
            "tocsv.tasks": tocsv_w["tasks"],
            "tocsv.files": sum(n for t, n in rep["csv_files"].items() if t != "poi2$"),
            "tocsv.csv_bytes": sum(n for t, n in rep["csv_bytes"].items() if t != "poi2$"),
            "tocsv.versions_out": entity_rows,
            "tocsv.versions_per_event": entity_rows / events,
            "inject.index_drop_s": total("inject.index_drop"),
            "inject.index_create_s": total("inject.index_create"),
            "inject.copy_s": copy_s,
            "inject.rows": inj_rows,
            "inject.files": rep["inject_files"],
            "inject.copy_tasks": copy_w["tasks"],
            "inject.rows_per_s": inj_rows / copy_s if copy_s > 0 else 0.0,
            "spark.failed_tasks": all_w["failed_tasks"],
            "ingest.self_s": tr.self_seconds(run_id, ["run", "ingest.stage", "ingest.order_check"]),
            "demux.self_s": tr.self_seconds(run_id, ["demux"]),
            "poi.self_s": tr.self_seconds(run_id, ["poi", "poi.sorted_fold", "poi.shuffle_fold"]),
            "tocsv.self_s": tr.self_seconds(
                run_id, ["tocsv", "tocsv.entity", "tocsv.last_block", "tocsv.write"]
            ),
            "inject.self_s": tr.self_seconds(
                run_id, ["inject", "inject.index_drop", "inject.copy", "inject.index_create"]
            ),
        }
        per_rep.append(m)
    return {k: statistics.median(r[k] for r in per_rep) for k in per_rep[0]}


def run(bench) -> dict:
    """Set up, then repeat the pipeline for ``bench.seconds``, checking every
    repetition.  There is no warm-up: the first repetition runs in a fresh
    JVM, as every CLI command does."""
    from pg import PgServer

    wl = Backfill(bench, bench.workload)
    t0 = time.perf_counter()
    wl.prepare()
    print(f"# inputs ready in {time.perf_counter() - t0:.2f} s", file=sys.stderr)
    rep_dir = os.path.join(bench.work, "rep")
    with PgServer(os.path.join(bench.work, "pg")) as pg:
        spark = bench.setup(lambda: wl.create_tables(pg.dsn))
        tr = bench.tracer

        def one(i: int, traced: bool) -> dict:
            shutil.rmtree(rep_dir, ignore_errors=True)
            wl.reset_tables()
            tr.run_id = i
            if traced:
                wl.install_wrappers(tr)
            try:
                t0 = time.perf_counter()
                rep = wl.rep(spark, rep_dir, tr if traced else None)
                rep["wall_s"] = time.perf_counter() - t0
            finally:
                tr.unwrap_all()
            walls = " ".join(f"{k} {v:.2f}" for k, v in rep["walls"].items())
            print(f"# rep {i}{' traced' if traced else ''}: {walls} failed={rep['failed']}", file=sys.stderr)
            return rep

        reps = bench.measure(one)
        result = bench.summarize(reps, ops_per_rep=3)
        timed = [r for r in reps if r["timed"] and not r["failed"]]
        if timed:
            for k in ("run_s", "tocsv_s", "inject_s"):
                result["stages"][k] = statistics.median(r["walls"][k] for r in timed)
            result["stages"]["pipeline_eps"] = wl.expected["events"] / result["e2e"]["wall_s"]
        traced = [(r["run_id"], r) for r in reps if r["traced"] and not r["failed"]]
        if traced:
            result["layers"].update(layer_metrics(wl, tr, bench.counters(spark), traced))
        result["peak_rss_mb"] = bench.peak_rss_mb(spark)
    return result
