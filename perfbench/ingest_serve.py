"""Workload ``ingest_serve``: the write path, then the read path, on one
seeded PGN corpus.

Timed region, in order:

1. *load*: ``ingest_pgn_text`` over the generated PGN text, ``drain_jobs``
   at ``BATCH_SIZE``, the three serving tables cached, and the canonical
   question answered (``time_to_queryable_s``).
2. *prime* (untimed): ``nproc`` HTTP clients ask each hot question once,
   which builds and caches the hot plans.
3. *cold*: one HTTP client asks ``COLD_UNIQUE`` generated questions, each
   distinct, so every request misses the plan cache and pays the plan build
   (``query_cold_p50_ms``).
4. *hot*: an open loop at ``HOT_RATE`` requests/s over the hot set, which
   is smaller than ``PLAN_CACHE_MAX``, so every request hits the plan cache
   (``query_hot_p50_ms``, ``query_hot_p80_ms``: with about 60 samples, p80
   is the highest percentile with ten samples beyond it).  Latency is timed
   from each request's scheduled send time.
5. *saturation*: a closed loop with ``nproc`` clients sending hot questions
   (``query_max_rps``).
6. *batch*: ``batch_answer`` over ``N_BATCH`` distinct questions: every
   question the HTTP phases asked plus generated ones
   (``batch_questions_per_s``).

The HTTP phases run in ``loadgen.py``, a separate process with at most
``nproc`` threads.  The traced run repeats the cold and hot question
sequences in-process through ``answer_question(timings=...)``, because
server threads cannot be tagged from outside.

Each ingest, drain, first answer, HTTP request and batch question is one
operation of the run's ``attempted`` count; each that fails a check counts
once in ``failed``.  The batch answers are checked against the generator's
metadata, and every HTTP answer against the batch answer to its question.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

import gen

N_GAMES = 40
BATCH_SIZE = 512
DIM = 8
COLD_UNIQUE = 3
HOT_RATE = 12.5
N_BATCH = 1024
FEN_SAMPLE_GAMES = 5
TRACED_HOT_REQUESTS = 40
PHASES = ("prime", "cold", "hot", "saturation")


def _pct(values, q):
    """The q-quantile (0..1) by nearest rank."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(round(q * (len(s) - 1)))))]


class IngestServe:
    def __init__(self, seed: int, seconds: float, work: str, nproc: int) -> None:
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.nproc = nproc

    def prepare(self, spark) -> None:
        self.corpus = gen.pgn_corpus(self.seed, N_GAMES)
        self.hot = list(gen.HOT_TEMPLATES)
        self.cold = gen.cold_questions(self.seed, COLD_UNIQUE)
        self.batch = gen.batch_mix(self.seed, N_BATCH, asked=self.hot + self.cold)

    def warm(self, spark) -> None:
        """Nothing beyond the session: the first ingest's costs are what a
        user pays on loading games, so the load phase times them."""

    # ------------------------------------------------------------------ run

    def run(self, spark, tracer, checks):
        from chessmate_spark.ingest import ingest_pgn_text
        from chessmate_spark.plans.hybrid import HybridTables
        from chessmate_spark.query import answer_question, batch_answer
        from chessmate_spark.query.http import ChessmateApi
        from chessmate_spark.streaming import JobsState, drain_jobs

        corpus = self.corpus
        checks.op(3)  # ingest, drain, first answer
        t_load = time.perf_counter()
        with tracer.span("ingest"):
            ingest = ingest_pgn_text(spark, corpus.text)
            counts = ingest.counts()
        with tracer.span("drain"):
            state = drain_jobs(
                JobsState(jobs=ingest.embedding_jobs),
                ingest.positions, ingest.games, ingest.players,
                batch_size=BATCH_SIZE, dim=DIM,
            )
            n_vectors = state.position_vectors.count()
        with tracer.span("queryable"):
            tables = HybridTables(
                games=ingest.games.cache(),
                players=ingest.players.cache(),
                position_vectors=state.position_vectors.cache(),
            )
            tables.games.count()
            tables.players.count()
            tables.position_vectors.count()
            first = answer_question(spark, tables, gen.CANONICAL_QUESTION, dim=DIM)
        time_to_queryable = time.perf_counter() - t_load
        self.ingest, self.state, self.tables = ingest, state, tables

        server = ChessmateApi(spark, tables, dim=DIM)
        port = server.start(port=0)
        try:
            hot_seq = self._hot_sequence()
            hot_seconds = max(4.0, 0.25 * self.seconds)
            sat_seconds = max(4.0, 0.25 * self.seconds)
            load = self._loadgen(port, [
                {"name": "prime", "kind": "closed", "clients": self.nproc,
                 "questions": self.hot},
                {"name": "cold", "kind": "closed", "clients": 1,
                 "questions": self.cold},
                {"name": "hot", "kind": "open", "rate": HOT_RATE,
                 "seconds": hot_seconds, "questions": hot_seq},
                {"name": "saturation", "kind": "closed", "clients": self.nproc,
                 "seconds": sat_seconds, "questions": hot_seq},
            ])
            batch_t: dict = {}
            checks.op(len(self.batch))
            with tracer.span("batch"):
                t0 = time.perf_counter()
                payloads = batch_answer(spark, tables, self.batch, dim=DIM, timings=batch_t)
                batch_wall = time.perf_counter() - t0
        finally:
            server.stop()

        # ---------------------------------------------------- output checks
        self._check_load(spark, checks, counts, n_vectors, state, first)
        batch_by_q = self._check_batch(checks, payloads)
        self.http_answers, inexact = self._check_http(checks, load, first, batch_by_q)

        cold_lat = [x * 1000 for x in load["cold"]["lat_s"]]
        hot_lat = [x * 1000 for x in load["hot"]["lat_s"]]
        sat = load["saturation"]
        ing_s = tracer.walls("ingest")[0]
        drain_s = tracer.walls("drain")[0]
        values = {
            "time_to_queryable_s": time_to_queryable,
            "ingest_games_per_s": len(corpus.games) / ing_s,
            "drain_positions_per_s": n_vectors / drain_s,
            "query_hot_p50_ms": statistics.median(hot_lat),
            "query_hot_p80_ms": _pct(hot_lat, 0.8),
            "query_max_rps": len(sat["lat_s"]) / sat["wall_s"],
            "query_cold_p50_ms": statistics.median(cold_lat),
            "batch_questions_per_s": len(self.batch) / batch_wall,
        }
        self.hot_http_p50_ms = values["query_hot_p50_ms"]
        e2e = {
            "pass_s": values["time_to_queryable_s"],
            "items_per_s": values["query_max_rps"],
        }
        layers = {
            "loadgen.late_ms": statistics.median(load["hot"]["late_s"]) * 1000,
            "ingest.corrupt_games": counts["corrupt"],
            "drain.batches": state.batches_run,
            "drain.vectors_per_claim": n_vectors / max(1, state.batches_run * BATCH_SIZE),
            "drain.vector_partitions": state.position_vectors.rdd.getNumPartitions(),
            "load.cache_answer_s": tracer.walls("queryable")[0],
            "batch.analyse_s": batch_t.get("analyse_s", 0.0),
            "batch.execute_s": batch_t.get("batch_execute_s", 0.0),
            "batch.collect_s": batch_t.get("collect_s", 0.0),
            "batch.format_s": batch_t.get("format_s", 0.0),
        }
        detail = {
            "values": values,
            "units": _UNITS,
            "samples": {
                "query_hot": len(hot_lat),
                "query_cold": len(cold_lat),
                "saturation_requests": len(sat["lat_s"]),
                "batch_questions": len(self.batch),
                "http_answers_tie_tolerant": inexact,
                "phase_wall_s": {n: load[n]["wall_s"] for n in PHASES},
                "games": len(corpus.games),
                "positions": corpus.positions,
            },
        }
        return e2e, layers, detail

    def _hot_sequence(self):
        import random

        rng = random.Random(self.seed * 31 + 7)
        return [rng.choice(self.hot) for _ in range(512)]

    def _loadgen(self, port: int, phases: list) -> dict:
        cfg = {"base": f"http://127.0.0.1:{port}", "threads": self.nproc, "phases": phases}
        proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "loadgen.py")],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        try:
            out, _ = proc.communicate(json.dumps(cfg), timeout=170)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise
        if proc.returncode != 0:
            raise RuntimeError(f"load generator exited {proc.returncode}")
        return json.loads(out)

    def _check_load(self, spark, checks, counts, n_vectors, state, first) -> None:
        """The ingest, the drain and the first answer against the
        generator's counts and a pure-Python replay."""
        from pyspark.sql import functions as F

        from chessmate_spark.chess import fens_of_moves, normalize_fen

        corpus = self.corpus
        expected = {
            "games": len(corpus.games),
            "corrupt": len(corpus.corrupt_ids),
            "positions": corpus.positions,
            "players": corpus.players,
            "embedding_jobs": corpus.positions,
        }
        for k, want in expected.items():
            checks.expect(counts[k] == want, "ingest", f"ingest {k}: {counts[k]} != {want}")
        checks.expect(n_vectors == corpus.positions, "drain",
                      f"vectors: {n_vectors} != {corpus.positions}")
        not_done = state.jobs.filter(F.col("status") != "completed").count()
        checks.expect(not_done == 0, "drain", f"{not_done} embedding jobs not completed")
        sample = corpus.games[:: max(1, len(corpus.games) // FEN_SAMPLE_GAMES)]
        rows = (
            self.ingest.positions.filter(F.col("game_id").isin([g.game_id for g in sample]))
            .select("game_id", "ply", "fen").collect()
        )
        got = {(r["game_id"], r["ply"]): r["fen"] for r in rows}
        for g in sample:
            for ply, fen in enumerate(fens_of_moves(g.sans), start=1):
                if got.get((g.game_id, ply)) != normalize_fen(fen):
                    checks.fail("ingest", f"FEN differs at game {g.game_id} ply {ply}")
                    break
        want_total = gen.plan_total(gen.CANONICAL_QUESTION, corpus.games)
        checks.expect(first["total"] == want_total, "first",
                      f"first answer total {first['total']} != {want_total}")

    def _check_batch(self, checks, payloads) -> dict:
        """Each batch answer's ``total`` equals the count over the
        generator's metadata.  Returns the answers by question, in their
        JSON form."""
        by_q = {}
        for i, q in enumerate(self.batch):
            if i >= len(payloads):
                checks.fail(("batch", i), f"no batch answer for {q!r}")
                continue
            p = json.loads(json.dumps(payloads[i]))
            want = gen.plan_total(q, self.corpus.games)
            checks.expect(p.get("total") == want, ("batch", i),
                          f"batch total for {q!r}: {p.get('total')} != {want}")
            by_q[q] = p
        return by_q

    def _check_http(self, checks, load, first, batch_by_q):
        """Every HTTP request is an operation.  It passes when it is a 200
        whose body reports the generator's total for its question and
        equals the batch plan's answer (which shares no plan and no plan
        cache with the server; see :func:`same_answer`).  The canonical
        question's body must also equal, exactly, the uncached in-process
        answer of the load phase.  Returns the first passing body of each
        question and how many distinct bodies needed the tie-tolerant
        comparison."""
        totals = {}
        verdicts: dict = {}
        answers: dict = {}
        inexact = 0
        for name in PHASES:
            ph = load[name]
            checks.op(len(ph["requests"]))
            for i, (q, status, digest) in enumerate(ph["requests"]):
                if status != 200:
                    checks.fail((name, i), f"{name}: HTTP {status} for {q!r}")
                    continue
                if (q, digest) not in verdicts:
                    try:
                        body = json.loads(ph["bodies"][digest])
                    except ValueError:
                        body = None
                    if q not in totals:
                        totals[q] = gen.plan_total(q, self.corpus.games)
                    ref = batch_by_q.get(q)
                    ok = (
                        isinstance(body, dict)
                        and body.get("total") == totals[q]
                        and ref is not None
                        and same_answer(body, ref)
                        and (q != gen.CANONICAL_QUESTION or body == first)
                    )
                    inexact += bool(ok and body != ref)
                    verdicts[(q, digest)] = ok
                    if ok:
                        answers.setdefault(q, body)
                checks.expect(verdicts[(q, digest)], (name, i),
                              f"{name}: HTTP answer for {q!r} is wrong")
        return answers, inexact

    # --------------------------------------------------------------- traced

    def traced_layers(self, spark, tracer, checks) -> dict:
        """Per-layer numbers: the REST readout of the timed region, plus the
        cold and hot question sequences driven in-process (tagged per
        request) and a direct timing of the pure-Python layers."""
        from chessmate_spark.chess import fens_of_moves, parse_game, split_games
        from chessmate_spark.query import Request, analyse, answer_question

        layers = {}
        ing = tracer.stats("ingest")
        layers.update({
            "ingest.wall_s": ing.wall_s, "ingest.jobs": ing.jobs,
            "ingest.tasks": ing.tasks, "ingest.executor_run_s": ing.executor_run_s,
            "ingest.driver_gap_s": ing.driver_gap_s,
        })
        dr = tracer.stats("drain")
        nb = max(1, self.state.batches_run)
        layers.update({
            "drain.wall_s": dr.wall_s, "drain.jobs_per_batch": dr.jobs / nb,
            "drain.tasks_per_batch": dr.tasks / nb,
            "drain.executor_run_s": dr.executor_run_s,
            "drain.driver_gap_s": dr.driver_gap_s,
        })
        bt = tracer.stats("batch")
        layers.update({"batch.jobs": bt.jobs, "batch.tasks": bt.tasks,
                       "batch.shuffle_bytes": bt.shuffle_bytes})

        # pure-Python layers, timed directly
        chunks = split_games(self.corpus.text)
        t0 = time.perf_counter()
        for raw in chunks:
            try:
                fens_of_moves([m.san for m in parse_game(raw).moves])
            except ValueError:
                pass
        layers["chess.replay_ms_per_game"] = (time.perf_counter() - t0) * 1000 / len(chunks)
        qs = self.cold + self.batch[:64]
        t0 = time.perf_counter()
        for q in qs:
            analyse(Request(text=q))
        layers["intent.analyse_us"] = (time.perf_counter() - t0) * 1e6 / len(qs)

        # the HTTP question sequences again, in-process and tagged per request
        from spans import Tracer

        inner = Tracer(spark, enabled=True)
        plan_cache: dict = {}
        hits = 0
        timings = {"cold": [], "hot": []}
        seq = [("cold", q) for q in self.hot + self.cold]
        seq += [("hot", q) for q in self._hot_sequence()[:TRACED_HOT_REQUESTS]]
        for i, (kind, q) in enumerate(seq):
            before = len(plan_cache)
            t: dict = {}
            checks.op()
            with inner.span(f"hyb.{kind}"):
                payload = answer_question(spark, self.tables, q, dim=DIM, timings=t,
                                          plan_cache=plan_cache)
            hits += len(plan_cache) == before
            timings[kind].append(t)
            http = self.http_answers.get(q)
            checks.expect(
                http is not None and same_answer(json.loads(json.dumps(payload)), http),
                ("traced", i), f"in-process answer for {q!r} differs from HTTP",
            )
        inner.readout()
        layers["hybrid.plan_cache_hit_ratio"] = hits / len(seq)
        for kind, n in (("cold", len(self.hot) + len(self.cold)), ("hot", TRACED_HOT_REQUESTS)):
            st = inner.stats(f"hyb.{kind}")
            ts = timings[kind]
            layers[f"hybrid.{kind}.build_s"] = statistics.median(
                [x.get("build_summaries_s", 0) + x.get("build_page_s", 0) for x in ts])
            layers[f"hybrid.{kind}.count_s"] = statistics.median(
                [x.get("count_total_s", 0) for x in ts])
            layers[f"hybrid.{kind}.collect_s"] = statistics.median(
                [x.get("collect_page_s", 0) for x in ts])
            layers[f"hybrid.{kind}.jobs_per_request"] = st.jobs / n
            layers[f"hybrid.{kind}.tasks_per_request"] = st.tasks / n
            layers[f"hybrid.{kind}.driver_gap_ms"] = st.driver_gap_s * 1000 / n
        hot_inproc_ms = statistics.median(inner.walls("hyb.hot")) * 1000
        layers["http.overhead_ms"] = self.hot_http_p50_ms - hot_inproc_ms
        tracer.tag_s += inner.tag_s
        return layers


# result fields that come from the game's vector hit
_HIT_FIELDS = ("score", "vector_score", "keyword_score", "phases", "themes", "keywords")


def same_answer(a: dict, b: dict) -> bool:
    """Whether two payloads answer a question the same way.

    They must be equal, or differ only in what the vector hits decide.  The
    vector top-k orders by score, then ``vector_id`` (the FEN's md5), and
    games that share a position share that key.  When such a tie straddles
    the top-k cut, which of those games gets a hit is not fixed between
    plans, and with it the games' scores, merged tokens, page order and
    summary.  Every other field must still be equal: the question and plan
    echo, the total, ``has_more``, the page's games and their documents."""
    if a == b:
        return True

    def hit_free(p: dict) -> dict:
        kept = {k: v for k, v in p.items() if k not in ("results", "summary")}
        kept["results"] = sorted(
            ({k: v for k, v in r.items() if k not in _HIT_FIELDS} for r in p["results"]),
            key=lambda r: r["game_id"],
        )
        return kept

    try:
        return hit_free(a) == hit_free(b)
    except (KeyError, TypeError):
        return False


_UNITS = {
    "time_to_queryable_s": "s",
    "ingest_games_per_s": "1/s",
    "drain_positions_per_s": "1/s",
    "query_hot_p50_ms": "ms",
    "query_hot_p80_ms": "ms",
    "query_max_rps": "1/s",
    "query_cold_p50_ms": "ms",
    "batch_questions_per_s": "1/s",
}
