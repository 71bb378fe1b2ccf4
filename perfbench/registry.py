"""The ``registry_mix`` workload: eleven registry queries, warm.

Data: ``scripts/gen_sf.py``'s ``gen(sf, out, seed)`` for the seed, cached.
A pass calls each query function of ``plans.queries.QUERIES`` (the plan
build, which for the iterative fits runs Spark jobs) and executes the result
to the ``noop`` sink.  Two untimed warm-up passes run first: the first
collects every result instead, and every run compares those results with
the DuckDB oracle of ``plans.queries.ORACLES``; the second runs like a timed
pass.  Each later pass also observes, in the same execution, the row count
and an order-insensitive hash of the exact (non-floating) columns, which
must equal the collecting pass's.
"""

from __future__ import annotations

import importlib
import os
import statistics
import sys
import time

QUERIES = [
    # plan-build-heavy fits
    "graph_pagerank",
    "cluster_kmeans_fit",
    # ann_ivf_pq_topk is left out: on some seeded inputs its ADC shortlist
    # misses a true neighbour and the result differs from its oracle (a
    # defect of the query, see README.md "Known failure")
    "ann_pq_topk",
    # scan / join / window
    "q5_region_revenue",
    "q1_pricing_summary",
    "events_sessionize",
    # Arrow / LSH
    "similarity_topk",
    "dedup_minhash_pairs",
    # Python-worker bound
    "multimodal_avi_frame_sample",
    # the pipeline's own operators over parquet
    "scd2_versions",
    "poi_chain",
]

# sf0.1 does not fit a run's time budget (see README.md)
SF = 0.01
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _oracle_check(bench):
    path = os.path.join(bench.root, "scripts")
    if path not in sys.path:
        sys.path.insert(0, path)
    return importlib.import_module("oracle_check")


class Registry:
    def __init__(self, bench):
        self.bench = bench
        self.data = bench.cache_dir(f"sf{SF}-seed{bench.seed}", ["scripts/gen_sf.py"])
        self._obs = 0

    def prepare(self) -> None:
        marker = os.path.join(self.data, "complete")
        if not os.path.exists(marker):
            self.bench.in_child(f"import gen_sf; gen_sf.gen({SF!r}, {self.data!r}, {self.bench.seed})")
            open(marker, "w").close()

    def _observed(self, df):
        """``df`` with its row count and exact-column hash observed."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        self._obs += 1
        obs = Observation(f"perfbench_{self._obs}")
        exact = [c for c, t in df.dtypes if "double" not in t and "float" not in t]
        h = (
            F.sum(F.pmod(F.xxhash64(*[F.col(f"`{c}`") for c in exact]), F.lit(2**31 - 1)))
            if exact else F.lit(0)
        )
        return df.observe(obs, F.count(F.lit(1)).alias("rows"), h.alias("hash")), obs

    def one_pass(self, spark, tr=None, collect: bool = False) -> dict:
        """Build and execute every query once; per query the build and exec
        walls, the observed fingerprint, and (``collect``) the result."""
        from substreams_sink_graph_load_spark.plans import queries as plans

        out = {}
        for q in QUERIES:
            r = {"failed": False}
            try:
                t0 = time.perf_counter()
                if tr is not None:
                    with tr.span(f"query.{q}.build") as b:
                        df = plans.QUERIES[q](spark, self.data)
                else:
                    df = plans.QUERIES[q](spark, self.data)
                t1 = time.perf_counter()
                if tr is not None:
                    with tr.span(f"query.{q}.exec") as e:
                        df, obs = self._observed(df)
                        self._execute(df, r, collect)
                    r["spans"] = (b, e)
                else:
                    df, obs = self._observed(df)
                    self._execute(df, r, collect)
                t2 = time.perf_counter()
                got = obs.get
                r.update(build_s=t1 - t0, exec_s=t2 - t1, rows=got["rows"], hash=got["hash"])
            except Exception as exc:
                print(f"# {q}: {type(exc).__name__}: {str(exc)[:300]}", file=sys.stderr, flush=True)
                r["failed"] = True
            # operators may persist intermediates; do not charge the next query
            spark.catalog.clearCache()
            out[q] = r
        return out

    @staticmethod
    def _execute(df, r, collect: bool) -> None:
        if collect:
            r["pdf"] = df.toPandas()
        else:
            df.write.format("noop").mode("overwrite").save()

    def check_oracle(self, warm: dict) -> None:
        """The warm-up results against the DuckDB oracle."""
        import duckdb
        import pandas as pd

        from substreams_sink_graph_load_spark.plans.queries import ORACLES

        oracle_check = _oracle_check(self.bench)
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"create view {t} as select * from read_parquet('{self.data}/{t}.parquet')"
                )
            for q, r in warm.items():
                if r["failed"]:
                    continue
                try:
                    s = oracle_check.canon(r["pdf"])
                    o = oracle_check.canon(con.execute(ORACLES[q]).df())
                    if list(s.columns) != list(o.columns) or len(s) != len(o):
                        raise AssertionError(f"shape {s.shape} vs oracle {o.shape}")
                    pd.testing.assert_frame_equal(
                        s, o, check_dtype=False, check_exact=False, rtol=1e-6
                    )
                except AssertionError as exc:
                    print(f"# {q}: oracle mismatch: {str(exc)[:300]}", file=sys.stderr)
                    r["failed"] = True
        finally:
            con.close()


def layer_metrics(counters, traced: list[dict]) -> dict:
    per_pass = []
    for p in traced:
        m = {}
        for q in QUERIES:
            r = p[q]
            b, e = r["spans"]
            bw = counters.window(b.start, b.end)
            ew = counters.window(e.start, e.end)
            m[f"query.{q}.build_s"] = b.end - b.start
            m[f"query.{q}.build_jobs"] = bw["jobs"]
            m[f"query.{q}.exec_s"] = e.end - e.start
            m[f"query.{q}.shuffle_write_bytes"] = bw["shuffle_write_bytes"] + ew["shuffle_write_bytes"]
        m["plans.build_s"] = sum(m[f"query.{q}.build_s"] for q in QUERIES)
        m["plans.exec_s"] = sum(m[f"query.{q}.exec_s"] for q in QUERIES)
        m["plans.self_s"] = m["plans.build_s"] + m["plans.exec_s"]
        first, last = p[QUERIES[0]]["spans"][0], p[QUERIES[-1]]["spans"][1]
        m["spark.failed_tasks"] = counters.window(first.start, last.end)["failed_tasks"]
        per_pass.append(m)
    return {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}


def run(bench) -> dict:
    wl = Registry(bench)
    t0 = time.perf_counter()
    wl.prepare()
    print(f"# inputs ready in {time.perf_counter() - t0:.2f} s", file=sys.stderr)
    spark = bench.setup(None)
    t0 = time.perf_counter()
    warm = wl.one_pass(spark, collect=True)  # untimed warm-up
    t1 = time.perf_counter()
    wl.check_oracle(warm)
    print(
        f"# warm-up pass {t1 - t0:.2f} s, oracle check {time.perf_counter() - t1:.2f} s",
        file=sys.stderr,
    )
    warm_failed = sum(r["failed"] for r in warm.values())

    def one(i: int, traced: bool) -> dict:
        p = wl.one_pass(spark, bench.tracer if traced else None)
        for q, r in p.items():
            if not r["failed"] and (r["rows"], r["hash"]) != (warm[q].get("rows"), warm[q].get("hash")):
                print(f"# {q}: rows/hash differ from the warm-up pass", file=sys.stderr)
                r["failed"] = True
        failed = [q for q in QUERIES if p[q]["failed"]]
        wall = sum(r["build_s"] + r["exec_s"] for r in p.values() if not r["failed"])
        per_q = " ".join(f"{q}={r['build_s'] + r['exec_s']:.2f}" for q, r in p.items() if not r["failed"])
        print(f"# pass {i}{' traced' if traced else ''}: {wall:.2f} s failed={failed} ({per_q})", file=sys.stderr)
        return {"queries": p, "failed": failed, "wall_s": wall}

    # a second untimed pass, executed like the timed ones: the first pass
    # after the collecting warm-up still ran ~15% slower than the next, with
    # about twice its run-to-run spread (JIT warm-up; 4 vCPUs, sf0.01)
    settle = one("warm-up", False)
    passes = bench.measure(one)
    result = bench.summarize(passes, ops_per_rep=len(QUERIES))
    result["attempted"] += 2 * len(QUERIES)
    result["failed"] += warm_failed + len(settle["failed"])
    result["stages"]["queries_s"] = result["e2e"]["wall_s"]
    traced = [p["queries"] for p in passes if p["traced"] and not p["failed"]]
    if traced:
        result["layers"].update(layer_metrics(bench.counters(spark), traced))
    result["peak_rss_mb"] = bench.peak_rss_mb(spark)
    return result
