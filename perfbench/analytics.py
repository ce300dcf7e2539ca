"""Workload ``analytics``: batch analytics over seeded TPC-H-like tables.

Set-up writes the tables (:func:`gen.write_tables` at ``SCALE``) and runs
``WARM_ENTRY`` once, untimed.  The timed region runs each entry of
``ENTRIES``, one to four per operator family, once through
``builder(spark, sf_dir)`` plus ``collect()``; ``pass_s`` is the sum of
their times.  Then ``curate_corpus`` runs ``CURATE_RUNS`` times, each
writing training shards to a directory of its own; ``items_per_s`` is the
median run's throughput.  After the timed region each entry is compared
with its DuckDB oracle (row sets canonicalised as
``scripts/check_correctness.py`` does) and every curation report and shard
manifest is checked against the generator's counts and a DuckDB read of
the shards.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys

import gen

SCALE = 0.003
# Each entry runs once, in its first execution in the session, which is the
# cost a user pays for a new query shape.  Repeated runs of the same entries
# speed up for nine or more passes as the JVM compiles Catalyst, and their
# times follow the host's load more than the first runs' do; more entries in
# one pass measure a longer stretch of work instead.
ENTRIES = {
    "relational": ("q1_pricing_summary", "q5_local_supplier_volume",
                   "q18_large_orders", "q21_waiting_suppliers"),
    "join": ("j7_asof_join", "j10_salted_skew_join", "j12_fuzzy_match_counts"),
    "window_agg": ("a10_user_sessions", "a11_percentiles"),
    "text": ("t2_quality_score", "t24_bm25_search", "t26_boilerplate_cms_gate"),
    "dedup": ("d2_minhash_lsh_pairs", "d17_paragraph_dedup"),
    "vector": ("v2_cosine_topk",),
}
N_SHARDS = 8
CURATE_RUNS = 2
# a join + aggregate + sort entry outside ENTRIES, run untimed in set-up
WARM_ENTRY = "q3_shipping_priority"


class Analytics:
    def __init__(self, seed: int, seconds: float, work: str, nproc: int) -> None:
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.sf_dir = os.path.join(work, "tables")
        self.out_dir = os.path.join(work, "shards")

    def prepare(self, spark) -> None:
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        self.counts = gen.write_tables(self.seed, self.sf_dir, SCALE)

    def warm(self, spark) -> None:
        """Run ``WARM_ENTRY``, which is not timed, so that the first timed
        entry does not carry the session's first scan, join and aggregate
        (Catalyst, code generation and JIT warm-up: about 4 s of
        ``q18_large_orders``'s 6 s when it ran first)."""
        from chessmate_spark.plans.queries import QUERIES

        QUERIES[WARM_ENTRY][0](spark, self.sf_dir).collect()

    def run(self, spark, tracer, checks):
        from chessmate_spark.pipeline import curate_corpus
        from chessmate_spark.plans.queries import QUERIES

        results = {}
        times = {}
        for names in ENTRIES.values():
            for name in names:
                checks.op()
                builder, _ = QUERIES[name]
                try:
                    with tracer.span(name) as sp:
                        df = builder(spark, self.sf_dir)
                        rows = df.collect()
                    results[name] = ([tuple(r) for r in rows], list(df.columns))
                    times[name] = sp.wall_s
                except Exception as exc:  # noqa: BLE001 — a failed entry is a failed op
                    checks.fail(name, f"{name}: {type(exc).__name__}: {exc}"[:300])
        curate_walls = []
        reports = []
        for i in range(CURATE_RUNS):
            checks.op()
            with tracer.span("curate") as sp:
                report = curate_corpus(spark, self.sf_dir, self._out_dir(i), n_shards=N_SHARDS)
            curate_walls.append(sp.wall_s)
            reports.append(report)

        self._check_entries(checks, results)
        for i, report in enumerate(reports):
            self._check_curate(checks, report, i)

        suite_s = sum(times.values())
        docs_per_s = statistics.median(r["input"] / w for r, w in zip(reports, curate_walls))
        values = {
            "suite_s": suite_s,
            "curate_docs_per_s": docs_per_s,
            "curate.wall_s": statistics.median(curate_walls),
            **{f"entry.{n}.wall_s": t for n, t in times.items()},
        }
        e2e = {"pass_s": suite_s, "items_per_s": docs_per_s}
        layers = {"curate.bytes_written": _dir_bytes(self._out_dir(0))}
        layers.update({f"entry.{n}.wall_s": t for n, t in times.items()})
        detail = {
            "values": values,
            "units": {k: "1/s" if k.endswith("per_s") else "s" for k in values},
            "samples": {"entries": len(times), "curate_s": curate_walls,
                        "documents": reports[0]["input"], "curate_report": reports[0]},
        }
        return e2e, layers, detail

    def _out_dir(self, i: int) -> str:
        return os.path.join(self.out_dir, f"run{i}")

    def _check_entries(self, checks, results) -> None:
        import duckdb

        from chessmate_spark.plans.queries import oracle_sql_map

        sys.path.insert(0, os.path.join(os.path.dirname(gen.__file__), "..", "scripts"))
        from check_correctness import _row_set

        oracles = oracle_sql_map()
        con = duckdb.connect()
        try:
            for t in gen.TABLES:
                path = os.path.join(self.sf_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            for name, (rows, cols) in results.items():
                res = con.execute(oracles[name])
                duck_cols = [d[0] for d in res.description]
                duck_rows = res.fetchall()
                checks.expect(
                    sorted(cols) == sorted(duck_cols)
                    and _row_set(rows, cols) == _row_set(duck_rows, duck_cols),
                    name,
                    f"{name}: result differs from its DuckDB oracle "
                    f"({len(rows)} vs {len(duck_rows)} rows)",
                )
        finally:
            con.close()

    def _check_curate(self, checks, report, i: int) -> None:
        import duckdb

        c = self.counts
        out_dir = self._out_dir(i)

        def expect(ok: bool, what: str) -> None:
            checks.expect(ok, ("curate", i), f"curate run {i}: {what}")

        expect(report["input"] == c["documents"], f"curate input {report['input']}")
        expect(report["valid"] == c["documents"], f"curate valid {report['valid']}")
        expect(report["exact_deduped"] == c["distinct_texts"],
               f"curate exact_deduped {report['exact_deduped']} != {c['distinct_texts']}")
        expect(report["quality_gated"] <= report["near_deduped"] <= report["exact_deduped"],
               f"curate stage counts not monotone: {report}")
        expect(report["written"] == report["quality_gated"],
               f"curate wrote {report['written']} of {report['quality_gated']}")
        expect(report["shards"] == N_SHARDS, f"curate shards {report['shards']}")
        with open(os.path.join(out_dir, "_MANIFEST.json")) as fh:
            manifest = json.load(fh)
        con = duckdb.connect()
        try:
            glob = os.path.join(out_dir, "**", "*.parquet")
            n, distinct = con.execute(
                f"SELECT count(*), count(DISTINCT doc_id) FROM read_parquet('{glob}')"
            ).fetchone()
        finally:
            con.close()
        expect(n == distinct == manifest["total_rows"] == report["written"],
               f"shards hold {n} rows ({distinct} distinct), manifest {manifest['total_rows']}")

    def traced_layers(self, spark, tracer, checks) -> dict:
        layers = {}
        for family, names in ENTRIES.items():
            st = tracer.stats(*names)
            layers.update({
                f"analytics.{family}.wall_s": st.wall_s,
                f"analytics.{family}.jobs": st.jobs,
                f"analytics.{family}.tasks": st.tasks,
                f"analytics.{family}.shuffle_bytes": st.shuffle_bytes,
                f"analytics.{family}.executor_run_s": st.executor_run_s,
                f"analytics.{family}.driver_gap_s": st.driver_gap_s,
            })
            for n in names:
                layers[f"entry.{n}.jobs"] = tracer.stats(n).jobs
        # per curation run
        cu = tracer.stats("curate")
        layers.update({
            "curate.wall_s": cu.wall_s / CURATE_RUNS, "curate.jobs": cu.jobs / CURATE_RUNS,
            "curate.tasks": cu.tasks / CURATE_RUNS,
            "curate.shuffle_bytes": cu.shuffle_bytes / CURATE_RUNS,
        })
        return layers


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total
