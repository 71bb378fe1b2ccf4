"""Run-stage throughput: one wire file staged by the JVM-native batch read
(``streaming.ingest.read_wire``: text scan, line-number ``seq``, regex
``block_num``) -> staged parquet log -> final-blocks order check ->
single-pass demux to bundled JSONL, side by side with the POI digest
chain and its driver-written ``poi2$`` CSVs -> last_block marker.  The
``run`` analogue of scripts/throughput_tocsv.py, on the same
lineitem-derived fixture, so the two numbers are comparable.

Usage: python scripts/throughput_run.py [sf_dir]   (default sf0.1 ~1.8M events)
"""

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from throughput_tocsv import synthesize

from substreams_sink_graph_load_spark.session import get_spark
from substreams_sink_graph_load_spark.streaming.ingest import run_ingest


# demuxing fans out to every schema entity in ONE partitioned write, so the
# multi-entity wire (the reference's real workload: a bundler per entity,
# sinker.go:82-88) must not cost a per-entity rescan — measure both shapes
_ENTITY_NAMES = ["Position", "Account", "Trade", "Market"]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_entities = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    names = _ENTITY_NAMES[:n_entities]
    spark = get_spark(app_name="run-throughput", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")

    tmp = tempfile.mkdtemp(prefix="run_throughput_")
    try:
        jsonl_dir = os.path.join(tmp, "jsonl")
        n_events, stop_block = synthesize(spark, sf_dir, jsonl_dir, 1000)

        # one wire file, bundles concatenated in block order (the stream
        # source replays it with a line cursor, exactly like the ingest
        # test); n_entities > 1 spreads lines round-robin over entity names
        wire = os.path.join(tmp, "wire.jsonl")
        bundles = sorted(os.listdir(os.path.join(jsonl_dir, "position")))
        nbytes = 0
        i = 0
        with open(wire, "wb") as out:
            for fn in bundles:
                with open(os.path.join(jsonl_dir, "position", fn), "rb") as fh:
                    if n_entities == 1:
                        data = fh.read()
                        out.write(data)
                        nbytes += len(data)
                        continue
                    for line in fh:
                        data = line.replace(
                            b'"entity": "Position"',
                            b'"entity": "%s"' % names[i % n_entities].encode(),
                            1,
                        )
                        out.write(data)
                        nbytes += len(data)
                        i += 1

        dest = os.path.join(tmp, "out")
        t0 = time.time()
        run_ingest(
            spark, dest, entities=[n.lower() for n in names],
            stop_block=stop_block, wire_path=wire, chain_id="throughput-chain",
        )
        wall = time.time() - t0
        out_files = sum(
            len(os.listdir(os.path.join(dest, n.lower()))) for n in names
        )
        print(json.dumps({
            "events": n_events,
            "entities": n_entities,
            "input_mb": round(nbytes / 1e6, 1),
            "wall_sec": round(wall, 1),
            "events_per_sec": int(n_events / wall),
            "bundle_files": out_files,
        }))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
