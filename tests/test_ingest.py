"""Full `run` parity: interleaved wire stream -> native staging read ->
demuxed per-entity JSONL bundles (+ poi2$ chain + last_block.txt) ->
tocsv -> CSVs identical to the batch pipeline over hand-laid JSONL."""

import json
import os

import pytest

from test_pipeline_e2e import ACCOUNT_EVENTS, TRANSFER_EVENTS, SDL, read_csv

from substreams_sink_graph_load_spark.streaming.ingest import read_wire, run_ingest
from substreams_sink_graph_load_spark.tocsv import tocsv


@pytest.fixture()
def wire(tmp_path):
    """One interleaved wire file: all entities' events in block order —
    exactly what the gRPC stream would carry."""
    events = []
    for files in (ACCOUNT_EVENTS, TRANSFER_EVENTS):
        for evs in files.values():
            events.extend(evs)
    events.sort(key=lambda e: e["block_num"])
    p = tmp_path / "wire.jsonl"
    with open(p, "w") as fh:
        for e in events:
            fh.write(json.dumps(e) + "\n")
    schema_file = tmp_path / "schema.graphql"
    schema_file.write_text(SDL)
    return str(p), str(schema_file)


def test_run_ingest_end_to_end(spark, wire, tmp_path):
    wire_path, schema_file = wire
    jsonl_dir = str(tmp_path / "jsonl")
    files = run_ingest(
        spark,
        jsonl_dir,
        entities=["account", "transfer"],
        stop_block=3000,
        wire_path=wire_path,
        bundle_size=1000,
        chain_id="chain-e2e",
    )
    # demux: every entity materializes every bundle, incl. empty ones
    for ent in ("account", "transfer"):
        names = [os.path.basename(f) for f in files[ent]]
        assert names == [
            "0000000000-0000000999.jsonl",
            "0000001000-0000001999.jsonl",
            "0000002000-0000002999.jsonl",
        ]
        assert os.path.getsize(files[ent][1]) == 0  # empty bundle
    # ingested JSONL drives the SAME tocsv as hand-laid fixtures
    batch_src = str(tmp_path / "manual")
    for entity, evmap in (("account", ACCOUNT_EVENTS), ("transfer", TRANSFER_EVENTS)):
        d = os.path.join(batch_src, entity)
        os.makedirs(d)
        for fname, evs in evmap.items():
            with open(os.path.join(d, fname), "w") as fh:
                for e in evs:
                    fh.write(json.dumps(e) + "\n")
    for entity in ("account", "transfer"):
        got = tocsv(spark, jsonl_dir, str(tmp_path / "csv_a"), entity, schema_file,
                    stop_block=3000, bundle_size=1000)
        want = tocsv(spark, batch_src, str(tmp_path / "csv_b"), entity, schema_file,
                     stop_block=3000, bundle_size=1000)
        for g, w in zip(got, want):
            with open(g) as fh_g, open(w) as fh_w:
                assert fh_g.read() == fh_w.read()
    # poi2$ chain written over the interleaved order
    poi_files = files["poi2$"]
    assert [os.path.basename(f) for f in poi_files] == [
        "0000000000-0000000999.csv",
        "0000001000-0000001999.csv",
        "0000002000-0000002999.csv",
    ]
    body = open(poi_files[0]).read().splitlines()
    assert body[0] == "id,block_range,digest"
    assert body[1].startswith('chain-e2e,"[1,')
    with open(os.path.join(jsonl_dir, "last_block.txt")) as fh:
        assert fh.read() == "2500:\n"


def test_wire_datasource_resume(spark, wire, tmp_path):
    """Cursor semantics: a second run with the same checkpoint consumes only
    appended lines (gRPC reconnect-with-cursor behavior)."""
    from pyspark.sql import functions as F

    from substreams_sink_graph_load_spark.sources.stream_source import (
        EntityChangesDataSource,
    )

    wire_path, _ = wire
    spark.dataSource.register(EntityChangesDataSource)
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("entity_changes")
            .option("path", wire_path)
            .load()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    n1 = spark.read.parquet(out_dir).count()
    with open(wire_path) as fh:
        total = sum(1 for _ in fh)
    assert n1 == total
    # append two lines; only those arrive on resume
    with open(wire_path, "a") as fh:
        for b in (2600, 2700):
            fh.write(json.dumps({"entity_change": {"entity": "Account", "id": "zz",
                                                   "operation": 2, "fields": []},
                                 "block_num": b}) + "\n")
    drain()
    df = spark.read.parquet(out_dir)
    assert df.count() == total + 2
    assert df.where(F.col("block_num") == 2700).count() == 1
    # seq equals the global line cursor: strictly increasing, gap-free
    seqs = sorted(r["seq"] for r in df.select("seq").collect())
    assert seqs == list(range(total + 2))


def test_run_ingest_rejects_out_of_order(spark, tmp_path):
    """Undo/reorg parity: a block below the high-water mark is fatal
    (ref sinker.go:291-293 — final-blocks-only contract)."""
    wire = tmp_path / "bad_wire.jsonl"
    with open(wire, "w") as fh:
        for block in (10, 20, 15):  # 15 arrives after 20: undo signal
            fh.write(json.dumps({"entity_change": {"entity": "Account", "id": "x",
                                                   "operation": 2, "fields": []},
                                 "block_num": block}) + "\n")
    out = tmp_path / "out"
    with pytest.raises(ValueError, match="high-water mark"):
        run_ingest(
            spark, str(out), entities=["account"],
            stop_block=1000, wire_path=str(wire), bundle_size=1000,
            chain_id="chain-x",
        )
    # demux and the poi2$ write start only after the check has passed
    assert not list(out.rglob("*.jsonl"))
    assert not list(out.rglob("poi2$*"))


def test_unseen_entity_materializes_empty_bundles(spark, wire, tmp_path):
    """The reference creates a bundler per SCHEMA entity up front
    (sinker.go:82-88) and rolls them all: an entity never emitted on the
    wire still materializes every (empty) bundle file."""
    wire_path, _ = wire
    jsonl_dir = str(tmp_path / "jsonl")
    files = run_ingest(
        spark, jsonl_dir,
        entities=["account", "transfer", "ghost_entity"],
        stop_block=3000, wire_path=wire_path, bundle_size=1000,
    )
    names = [os.path.basename(f) for f in files["ghost_entity"]]
    assert names == [
        "0000000000-0000000999.jsonl",
        "0000001000-0000001999.jsonl",
        "0000002000-0000002999.jsonl",
    ]
    assert all(os.path.getsize(f) == 0 for f in files["ghost_entity"])


def test_first_block_starts_bundle_enumeration(spark, wire, tmp_path):
    """Bundlers boot at the sinker start block, not 0: with
    first_block=1000 the 0000000000-* bundle must not exist."""
    wire_path, _ = wire
    jsonl_dir = str(tmp_path / "jsonl")
    files = run_ingest(
        spark, jsonl_dir, entities=["account", "transfer"],
        stop_block=3000, wire_path=wire_path, bundle_size=1000,
        first_block=1000,
    )
    for ent in ("account", "transfer"):
        names = [os.path.basename(f) for f in files[ent]]
        assert names == [
            "0000001000-0000001999.jsonl",
            "0000002000-0000002999.jsonl",
        ]


def test_undo_detected_across_chunk_boundary(spark):
    """check_final_blocks_only's cross-chunk merge path: the violating row's
    witness lives in an EARLIER seq-chunk, so only the per-chunk
    (min,max) driver merge can see it."""
    from substreams_sink_graph_load_spark.streaming.ingest import (
        check_final_blocks_only,
    )

    rows = [(0, 10), (1, 20), (2, 15), (3, 30)]  # seq 2 dips below chunk-0 hwm
    df = spark.createDataFrame(rows, "seq long, block_num long")
    with pytest.raises(ValueError, match="high-water mark 20"):
        check_final_blocks_only(df, chunk_width=2)
    # clean input passes with the same tiny chunking
    ok = spark.createDataFrame(
        [(0, 10), (1, 20), (2, 20), (3, 30)], "seq long, block_num long"
    )
    check_final_blocks_only(ok, chunk_width=2)


def _reader_rows(wire_path):
    """(block_num, seq, value) rows of the Python stream reader over the
    whole wire file, in cursor order."""
    from substreams_sink_graph_load_spark.sources.stream_source import (
        EntityChangesStreamReader,
    )

    r = EntityChangesStreamReader({"path": str(wire_path)})
    rows = []
    for p in r.partitions(r.initialOffset(), r.latestOffset()):
        for batch in r.read(p):
            rows.extend(zip(*[c.to_pylist() for c in batch.columns]))
    return rows


def _native_rows(spark, wire_path):
    rows = read_wire(spark, str(wire_path)).collect()
    return sorted((tuple(r) for r in rows), key=lambda r: r[1])


def test_stream_reader_junk_line_fallback(spark, tmp_path):
    """A line the fast RE2 pattern can't parse falls back to the exact
    Python extractor: reordered members still parse, junk yields -1.
    The native staging read (read_wire) returns the same rows."""
    wire = tmp_path / "wire.jsonl"
    wire.write_text(
        '{"entity_change": {}, "block_num": 5}\n'
        '{"block_num": 6, "entity_change": {}}\n'  # reordered members
        "not json at all\n"
        "\n"  # empty line: skipped, but seq advances
        '{"entity_change": {}, "block_num": 7}\n'
        '{"entity_change": {}, "block_num": 8}'  # no trailing newline
    )
    from substreams_sink_graph_load_spark.sources.stream_source import (
        EntityChangesStreamReader,
    )

    r = EntityChangesStreamReader({"path": str(wire)})
    assert r.latestOffset() == {"line": 6}
    rows = _reader_rows(wire)
    assert [(b, s) for b, s, _v in rows] == [
        (5, 0), (6, 1), (-1, 2), (7, 4), (8, 5)
    ]
    assert _native_rows(spark, wire) == rows


def test_read_wire_takes_one_regular_file(spark, tmp_path):
    """read_wire refuses a directory (its line numbering orders the lines
    of one file only) and reads a file whose name holds glob characters
    as that file, not as a pattern."""
    (tmp_path / "w1.jsonl").write_text('{"block_num": 1}\n')
    with pytest.raises(ValueError, match="not a regular file"):
        read_wire(spark, str(tmp_path))
    with pytest.raises(ValueError, match="not a regular file"):
        read_wire(spark, str(tmp_path / "w*.jsonl"))
    odd = tmp_path / "w[1]{a,b}?.jsonl"
    odd.write_text('{"block_num": 2}\n{"block_num": 3}\n')
    assert _native_rows(spark, odd) == _reader_rows(odd)
    assert [b for b, _s, _v in _native_rows(spark, odd)] == [2, 3]


def test_native_staging_matches_stream_reader(spark, wire):
    """read_wire over the e2e wire equals the Python stream reader, row
    for row, including when the file is read as several scan splits."""
    wire_path, _ = wire
    want = _reader_rows(wire_path)
    assert _native_rows(spark, wire_path) == want
    key = "spark.sql.files.maxPartitionBytes"
    prior = spark.conf.get(key)
    spark.conf.set(key, "512")  # a few lines per split
    try:
        assert read_wire(spark, wire_path).rdd.getNumPartitions() > 1
        assert _native_rows(spark, wire_path) == want
    finally:
        spark.conf.set(key, prior)


def test_run_ingest_rerun_matches_fresh_run(spark, wire, tmp_path):
    """A second run into the same dest and workdir after the wire grew
    writes exactly what one fresh run over the full wire writes: the
    staging is rewritten whole, no cursor is carried."""
    wire_path, _ = wire
    kw = dict(
        entities=["account", "transfer"], stop_block=3000,
        bundle_size=1000, chain_id="chain-rerun",
    )
    dest = str(tmp_path / "again")
    run_ingest(spark, dest, wire_path=wire_path, **kw)
    with open(wire_path, "a") as fh:
        for b, i in ((2600, "z1"), (2700, "z2")):
            fh.write(json.dumps({"entity_change": {"entity": "Account", "id": i,
                                                   "operation": 2, "fields": []},
                                 "block_num": b}) + "\n")
    run_ingest(spark, dest, wire_path=wire_path, **kw)
    fresh = str(tmp_path / "fresh")
    run_ingest(spark, fresh, wire_path=wire_path, **kw)

    got, want = _outputs(dest), _outputs(fresh)
    assert got == want
    assert want["last_block.txt"] == b"2700:\n"
    assert b'"id": "z2"' in want["account/0000002000-0000002999.jsonl"]


def test_run_ingest_small_splits_match_default(spark, wire, tmp_path):
    """Demux plans its scan while the POI fold scopes
    spark.sql.files.maxPartitionBytes on the shared session conf: a run
    at a tiny caller value (many staged files, many demux splits) writes
    exactly what a run at the default writes, and the caller's value is
    restored."""
    wire_path, _ = wire
    kw = dict(
        entities=["account", "transfer"], stop_block=3000,
        bundle_size=1000, chain_id="chain-splits",
    )
    default = str(tmp_path / "default")
    run_ingest(spark, default, wire_path=wire_path, **kw)
    key = "spark.sql.files.maxPartitionBytes"
    prior = spark.conf.get(key)
    spark.conf.set(key, "512")
    small = str(tmp_path / "small")
    try:
        run_ingest(spark, small, wire_path=wire_path, **kw)
        assert spark.conf.get(key) == "512"
    finally:
        spark.conf.set(key, prior)
    staged = os.listdir(os.path.join(small, "_work_ingest", "wire_log"))
    assert sum(f.startswith("part-") for f in staged) > 1
    assert _outputs(small) == _outputs(default)


def _outputs(root):
    """Every JSONL and poi2$ bundle and last_block.txt of a run, by path."""
    out = {}
    for sub in ("account", "transfer", "poi2$"):
        for f in sorted(os.listdir(os.path.join(root, sub))):
            with open(os.path.join(root, sub, f), "rb") as fh:
                out[f"{sub}/{f}"] = fh.read()
    with open(os.path.join(root, "last_block.txt"), "rb") as fh:
        out["last_block.txt"] = fh.read()
    return out


def _raw_df(spark, rows):
    data = [
        (
            b,
            s,
            json.dumps(
                {
                    "block_num": b,
                    "seq": s,
                    "entity_change": {
                        "entity": "Account",
                        "id": f"a{s}",
                        "fields": [],
                    },
                }
            ),
        )
        for b, s in rows
    ]
    return spark.createDataFrame(
        data, "block_num long, seq long, value string"
    )


def test_demux_raises_on_block_past_stop(spark, tmp_path):
    """Rows beyond stop_block stage into a bundle dir the move loop never
    visits; teardown must refuse to silently drop them."""
    from substreams_sink_graph_load_spark.streaming.ingest import demux_jsonl

    raw = _raw_df(spark, [(10, 0), (2500, 1)])
    with pytest.raises(ValueError, match="outside"):
        demux_jsonl(
            spark, raw, str(tmp_path / "d"), ["account"], stop_block=2000
        )


def test_demux_raises_on_block_below_first(spark, tmp_path):
    from substreams_sink_graph_load_spark.streaming.ingest import demux_jsonl

    raw = _raw_df(spark, [(50, 0), (1200, 1)])
    with pytest.raises(ValueError, match="outside"):
        demux_jsonl(
            spark,
            raw,
            str(tmp_path / "d"),
            ["account"],
            stop_block=2000,
            first_block=1000,
        )


def test_demux_raises_on_entity_dir_escaping_mismatch(
    spark, tmp_path, monkeypatch
):
    """If our quoting of the entity dir name ever diverges from Spark's
    partition-path escaping, the audit must raise instead of globbing
    nothing and deleting the rows with the staged tree."""
    import urllib.parse as up

    from substreams_sink_graph_load_spark.streaming.ingest import demux_jsonl

    real_quote = up.quote
    monkeypatch.setattr(
        up, "quote", lambda s, safe="": "WRONG_" + real_quote(s, safe=safe)
    )
    raw = _raw_df(spark, [(10, 0)])
    with pytest.raises(ValueError, match="unexpected entity dir"):
        demux_jsonl(
            spark, raw, str(tmp_path / "d"), ["account"], stop_block=1000
        )


def test_demux_raises_on_block_in_first_bundle_but_below_first(spark, tmp_path):
    """Row-exact guard: block 1200 sits inside the ALIGNED first bundle
    (1000-1999) when first_block=1500 — bundle-granular dir checks can't
    see it, the pre-pass must."""
    from substreams_sink_graph_load_spark.streaming.ingest import demux_jsonl

    raw = _raw_df(spark, [(1200, 0), (1700, 1)])
    with pytest.raises(ValueError, match="outside"):
        demux_jsonl(
            spark,
            raw,
            str(tmp_path / "d"),
            ["account"],
            stop_block=2000,
            first_block=1500,
        )


def test_check_final_blocks_from_runs_paths():
    """The run-derived order check: proves order on disjoint intervals,
    raises the windowed check's error on a block regression, and returns
    indeterminate (never a false verdict) on interleaved intervals."""
    import pytest

    from substreams_sink_graph_load_spark.streaming.ingest import (
        check_final_blocks_from_runs,
    )

    # clean: two partitions' runs, blocks non-decreasing in seq order
    ok, hwm = check_final_blocks_from_runs(
        [(5, 0, 9, 10), (5, 10, 14, 5), (7, 15, 19, 5)]
    )
    assert ok and hwm == 7

    # violation: block 3 appears after high-water 7 — same message shape
    with pytest.raises(ValueError, match="cursor 20.*block 3 below"):
        check_final_blocks_from_runs(
            [(5, 0, 9, 10), (7, 10, 19, 10), (3, 20, 24, 5)]
        )

    # interleaved seq intervals -> indeterminate, caller falls back
    ok, hwm = check_final_blocks_from_runs(
        [(5, 0, 10, 6), (6, 5, 14, 6)]
    )
    assert not ok and hwm is None

    assert check_final_blocks_from_runs([]) == (True, None)
