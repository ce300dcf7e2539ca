"""Seeded input generators for the benchmark.

Everything here is a pure function of its ``seed`` argument: the same seed
gives byte-identical PGN text, question lists and parquet tables.  The
program under test only ever sees the generated inputs.

* :func:`pgn_corpus` recombines a bank of legal move lines (each line is
  replayed with ``chess.replay.fens_of_moves`` when the corpus is built)
  under varied headers, plus a known share of deliberately malformed games
  so the ingest corrupt-record channel does work.  It returns the text and
  the counts and per-game metadata the output checks compare against.
* ``HOT_TEMPLATES``, :func:`cold_questions` and :func:`batch_mix` are the
  serving question sets.
* :func:`write_tables` writes the TPC-H-like tables (plus ``events``,
  ``documents`` and ``embeddings``) that the analytics entries read.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from typing import Dict, List, Optional, Tuple

# (ECO code, SAN line).  Every line is replayed when a corpus is built; a
# line that fails replay is a bug in this bank and stops the run.
LINES: Tuple[Tuple[str, str], ...] = (
    ("C84", "e4 e5 Nf3 Nc6 Bb5 a6 Ba4 Nf6 O-O Be7 Re1 b5 Bb3 d6 c3 O-O h3 Nb8"
            " d4 Nbd7 Nbd2 Bb7 Bc2 Re8 Nf1 Bf8 Ng3 g6 a4 c5 d5 c4 Bg5 h6"),
    ("B90", "e4 c5 Nf3 d6 d4 cxd4 Nxd4 Nf6 Nc3 a6 Be3 e5 Nb3 Be6 f3 Be7 Qd2"
            " O-O O-O-O Nbd7 g4 b5 g5 b4 Ne2 Ne8 h4 a5 Kb1 a4 Nbc1 Qa5"),
    ("C18", "e4 e6 d4 d5 Nc3 Bb4 e5 c5 a3 Bxc3+ bxc3 Ne7 Qg4 Qc7 Qxg7 Rg8"
            " Qxh7 cxd4 Ne2 Nbc6 f4 dxc3 Qd3 d4 Nxd4 Nxd4 Qxd4 Nf5 Qf2"),
    ("B19", "e4 c6 d4 d5 Nc3 dxe4 Nxe4 Bf5 Ng3 Bg6 h4 h6 Nf3 Nd7 h5 Bh7 Bd3"
            " Bxd3 Qxd3 e6 Bd2 Ngf6 O-O-O Be7 Kb1 O-O Ne4 Nxe4 Qxe4 Nf6 Qe2"
            " Qd5"),
    ("E97", "d4 Nf6 c4 g6 Nc3 Bg7 e4 d6 Nf3 O-O Be2 e5 O-O Nc6 d5 Ne7 Ne1 Nd7"
            " Nd3 f5 Bd2 Nf6 f3 f4 g4 g5 c5 Ng6 cxd6 cxd6 Nb5 Rf7 Qc2 Ne8 a4"
            " h5"),
    ("E92", "d4 Nf6 c4 g6 Nc3 Bg7 e4 d6 Nf3 O-O Be2 e5 d5 a5 Bg5 h6 Bh4 Na6"
            " Nd2 Qe8 O-O Nh7 a3 Bd7 b3 h5 f3 Bh6"),
    ("D85", "d4 Nf6 c4 g6 Nc3 d5 cxd5 Nxd5 e4 Nxc3 bxc3 Bg7 Nf3 c5 Rb1 O-O"
            " Be2 cxd4 cxd4 Qa5+ Bd2 Qxa2 O-O Bg4 Bg5 h6 Be3 Nc6 d5 Na5"),
    ("D55", "d4 d5 c4 e6 Nc3 Nf6 Bg5 Be7 e3 O-O Nf3 h6 Bh4 b6 cxd5 Nxd5 Bxe7"
            " Qxe7 Nxd5 exd5 Rc1 Be6 Qa4 c5 Qa3 Rc8 Bb5 a6 dxc5 bxc5 O-O Ra7"
            " Be2 Nd7"),
    ("A87", "d4 f5 g3 Nf6 Bg2 g6 Nf3 Bg7 O-O O-O c4 d6 Nc3 Qe8 d5 a5 Nd4 Na6"
            " e4 fxe4 Nxe4 Nxe4 Bxe4 Nc5 Bg2"),
    ("A29", "c4 e5 Nc3 Nf6 Nf3 Nc6 g3 d5 cxd5 Nxd5 Bg2 Nb6 O-O Be7 d3 O-O Be3"
            " Be6 Rc1 f6 a3 Qe8 b4 Rd8 Ne4"),
    ("E32", "d4 Nf6 c4 e6 Nc3 Bb4 Qc2 O-O a3 Bxc3+ Qxc3 b6 Bg5 Bb7 f3 h6 Bh4"
            " d5 e3 Nbd7 cxd5 Nxd5 Bxd8 Nxc3 Bh4 Nd5 Bf2 c5 e4 Ne7"),
    ("C54", "e4 e5 Nf3 Nc6 Bc4 Bc5 c3 Nf6 d3 d6 O-O a6 a4 Ba7 Re1 O-O h3 h6"
            " Nbd2 Be6 Bxe6 fxe6 b4 Nh5 Nf1 Qf6"),
    ("B01", "e4 d5 exd5 Qxd5 Nc3 Qa5 d4 Nf6 Nf3 Bf5 Bc4 e6 Bd2 c6 Qe2 Bb4"
            " O-O-O Nbd7 a3 Bxc3 Bxc3 Qc7 d5 cxd5 Bxd5"),
    ("D02", "d4 d5 Bf4 Nf6 e3 c5 c3 Nc6 Nd2 e6 Ngf3 Bd6 Bg3 O-O Bd3 b6 Ne5"
            " Bb7 f4 Ne7 Qf3 Nf5 Bxf5 exf5"),
    ("A40", "d4 e6 c4 Bb4+ Bd2 Qe7 g3 Nc6 Nf3 Bxd2+ Nbxd2 d6 Bg2 e5 d5 Nb8"
            " O-O Nf6 e4 O-O"),
    ("A70", "d4 Nf6 c4 c5 d5 e6 Nc3 exd5 cxd5 d6 e4 g6 Nf3 Bg7 Be2 O-O O-O"
            " Re8 Nd2 Na6 f3 Nc7 a4 b6"),
    ("A45", "d4 Nf6 Bg5 Ne4 Bf4 c5 f3 Qa5+ c3 Nf6 d5 Qb6 e4 d6 Nd2 e5 dxe6"
            " Bxe6"),
    ("B78", "e4 c5 Nf3 d6 d4 cxd4 Nxd4 Nf6 Nc3 g6 Be3 Bg7 f3 O-O Qd2 Nc6 Bc4"
            " Bd7 O-O-O Rc8 Bb3 Ne5 h4 h5 Kb1 Nc4 Bxc4 Rxc4 g4 hxg4 h5 Nxh5"),
    ("C02", "e4 e6 d4 d5 e5 c5 c3 Nc6 Nf3 Qb6 a3 c4 Nbd2 Na5 Be2 Bd7 O-O Ne7"
            " Rb1 Nec6"),
)

MIN_PLIES = 12
# every CORRUPT_EVERY-th game of a corpus is malformed
CORRUPT_EVERY = 12
RESULTS = ("1-0", "0-1", "1/2-1/2", "*")
RESULT_WEIGHTS = (40, 30, 25, 5)
EVENTS = ("Wijk aan Zee", "Tata Steel", "Sinquefield Cup", "Club Open",
          "Online Blitz", "Candidates", "Olympiad")
SITES = ("Wijk aan Zee NED", "Saint Louis USA", "Berlin GER", "Chennai IND")
FIRST = ("Magnus", "Hikaru", "Judit", "Fabiano", "Alireza", "Ding", "Anish",
         "Wesley", "Ian", "Maxime", "Teimour", "Viswanathan", "Levon",
         "Hou", "Aleksandra", "Vladimir", "Garry", "Jachym", "Conor", "Pia")
LAST = ("Carlsen", "Nakamura", "Polgar", "Caruana", "Firouzja", "Liren",
        "Giri", "So", "Nepomniachtchi", "Vachier-Lagrave", "Radjabov",
        "Anand", "Aronian", "Yifan", "Goryachkina", "Kramnik", "Kasparov",
        "Smolik", "O'Kelly", "Cramling")
# every malformed game is one of these shapes; each lands in `corrupt`
MALFORMED = (
    # header line never closed -> PgnError
    '[Event "Broken header\n[Site "Nowhere"]\n\n1. e4 e5 2. Nf3 Nc6 1-0',
    # queenside castling through its own pieces -> ReplayError
    '[Event "Illegal castle"]\n[White "Bad, Input"]\n[Black "Bad, Output"]'
    '\n[Result "*"]\n\n1. e4 e5 2. O-O-O Nc6 *',
    # no move tokens at all -> PgnError
    '[Event "Headers only"]\n[Result "*"]\n\n*',
)


@dataclass(frozen=True)
class PoolPlayer:
    name: str
    fide_id: Optional[str]
    base_rating: int


@dataclass
class GameMeta:
    """What a correct ingest must derive from one well-formed game."""

    game_id: int
    sans: List[str]
    eco: Optional[str]
    opening_slug: Optional[str]
    result: str
    white_key: str
    black_key: str
    white_rating: Optional[int]
    black_rating: Optional[int]


@dataclass
class Corpus:
    text: str
    games: List[GameMeta]
    corrupt_ids: List[int]
    players: int
    positions: int


def _checked_lines() -> List[Tuple[str, List[str]]]:
    from chessmate_spark.chess import fens_of_moves

    out = []
    for eco, line in LINES:
        sans = line.split()
        fens_of_moves(sans)  # raises ReplayError on an illegal bank line
        out.append((eco, sans))
    return out


def _player_pool(rng: random.Random, size: int) -> List[PoolPlayer]:
    seen = set()
    pool = []
    while len(pool) < size:
        name = f"{rng.choice(LAST)}, {rng.choice(FIRST)}"
        if name in seen:
            continue
        seen.add(name)
        fide = str(rng.randrange(1_000_000, 9_999_999)) if rng.random() < 0.6 else None
        pool.append(PoolPlayer(name, fide, rng.randrange(2000, 2800)))
    return pool


def _movetext(sans: List[str], result: str) -> str:
    parts = []
    for i, san in enumerate(sans):
        if i % 2 == 0:
            parts.append(f"{i // 2 + 1}.")
        parts.append(san)
    parts.append(result)
    # wrap like real PGN exports so the parser sees multi-line movetext
    words, lines, cur = parts, [], []
    for w in words:
        cur.append(w)
        if len(cur) == 16:
            lines.append(" ".join(cur))
            cur = []
    if cur:
        lines.append(" ".join(cur))
    return "\n".join(lines)


def pgn_corpus(seed: int, n_games: int) -> Corpus:
    """``n_games`` games; every ``CORRUPT_EVERY``-th one is malformed."""
    from chessmate_spark.chess import openings

    rng = random.Random(seed)
    lines = _checked_lines()
    pool = _player_pool(rng, 60)
    # skewed pool: a few players appear in many games
    weights = [1.0 / (i + 1) ** 0.8 for i in range(len(pool))]
    chunks: List[str] = []
    games: List[GameMeta] = []
    corrupt: List[int] = []
    for gid in range(1, n_games + 1):
        if gid % CORRUPT_EVERY == 0:
            chunks.append(MALFORMED[(gid // CORRUPT_EVERY) % len(MALFORMED)])
            corrupt.append(gid)
            continue
        eco, line = rng.choice(lines)
        sans = line[: rng.randint(MIN_PLIES, len(line))]
        white, black = rng.choices(pool, weights=weights, k=2)
        while black is white:
            black = rng.choices(pool, weights=weights, k=1)[0]
        result = rng.choices(RESULTS, weights=RESULT_WEIGHTS, k=1)[0]
        w_elo = white.base_rating + rng.randrange(-60, 61)
        b_elo = black.base_rating + rng.randrange(-60, 61)
        has_w = rng.random() >= 0.1
        has_b = rng.random() >= 0.1
        has_eco = rng.random() >= 0.05
        if rng.random() < 0.1:
            date = "????.??.??"
        else:
            date = f"{rng.randrange(1990, 2026)}.{rng.randrange(1, 13):02d}.{rng.randrange(1, 29):02d}"
        headers = [
            ("Event", rng.choice(EVENTS)),
            ("Site", rng.choice(SITES)),
            ("Date", date),
            ("Round", str(rng.randrange(1, 14))),
            ("White", white.name),
            ("Black", black.name),
            ("Result", result),
        ]
        if white.fide_id:
            headers.append(("WhiteFideId", white.fide_id))
        if black.fide_id:
            headers.append(("BlackFideId", black.fide_id))
        if has_w:
            headers.append(("WhiteElo", str(w_elo)))
        if has_b:
            headers.append(("BlackElo", str(b_elo)))
        if has_eco:
            headers.append(("ECO", eco))
        head = "\n".join(f'[{k} "{v}"]' for k, v in headers)
        chunks.append(f"{head}\n\n{_movetext(sans, result)}")
        games.append(
            GameMeta(
                game_id=gid,
                sans=sans,
                eco=eco if has_eco else None,
                opening_slug=openings.slug_of_eco(eco) if has_eco else None,
                result=result,
                white_key=white.fide_id or white.name,
                black_key=black.fide_id or black.name,
                white_rating=w_elo if has_w else None,
                black_rating=b_elo if has_b else None,
            )
        )
    players = {k for g in games for k in (g.white_key, g.black_key)}
    return Corpus(
        text="\n\n".join(chunks) + "\n",
        games=games,
        corrupt_ids=corrupt,
        players=len(players),
        positions=sum(len(g.sans) for g in games),
    )


# ---------------------------------------------------------------- questions

CANONICAL_QUESTION = (
    "Find King's Indian games where White is 2500 and Black is"
    " 100 points lower"
)
# the serving templates of scripts/serve_bench.py, canonical first
HOT_TEMPLATES = (
    CANONICAL_QUESTION,
    "Show me Sicilian games",
    "games won by white",
    "Find King's Indian games",
    "show me 3 games",
    "games where black is rated 2300",
    "King's Indian games won by white",
    "show me recent games",
)
_OPENING_WORDS = ("sicilian", "french", "caro kann", "kings indian",
                  "grunfeld", "dutch", "najdorf", "french defence")
_RESULT_WORDS = ("white win", "black win", "draw")


def cold_questions(seed: int, n: int) -> List[str]:
    """``n`` distinct questions (opening x colour x rating x result x
    limit), so each one compiles a plan of its own."""
    rng = random.Random(seed * 7919 + 17)
    seen: set = set()
    out: List[str] = []
    while len(out) < n:
        q = (
            f"show {rng.randint(1, 50)} {rng.choice(_OPENING_WORDS)} games"
            f" where {rng.choice(('white', 'black'))} has at least"
            f" {rng.randrange(2000, 2800, 10)} points"
            f" {rng.choice(_RESULT_WORDS)}"
        )
        if q not in seen:
            seen.add(q)
            out.append(q)
    return out


def batch_mix(seed: int, n: int, asked: List[str]) -> List[str]:
    """``n`` distinct questions in seeded order: every question in
    ``asked`` (the ones the HTTP phases send, so each HTTP answer has a
    batch answer to be compared with) and generated questions for the
    rest.  No question repeats, so every one carries plan parameters of its
    own through the batch plan."""
    rng = random.Random(seed * 104729 + 3)
    mix = list(dict.fromkeys(asked))
    seen = set(mix)
    extra = cold_questions(seed * 2 + 1, n + len(mix))
    mix += [q for q in extra if q not in seen][: n - len(mix)]
    rng.shuffle(mix)
    return mix


def plan_total(question: str, games: List[GameMeta]) -> int:
    """The ``total`` a correct answer reports, counted over the generator's
    own metadata (the relational predicate of the plan, evaluated in
    Python)."""
    from chessmate_spark.query import Request, analyse

    plan = analyse(Request(text=question))

    def keep(g: GameMeta) -> bool:
        for f in plan.filters:
            field_ = f.field.lower()
            if field_ in ("opening", "opening_slug"):
                if (g.opening_slug or "").lower() != f.value.strip().lower():
                    return False
            elif field_ == "result":
                if g.result != f.value:
                    return False
            elif field_ in ("eco", "eco_range"):
                eco = (g.eco or "").upper()
                lo, _, hi = f.value.strip().upper().partition("-")
                if not g.eco or not (lo <= eco <= (hi or lo)):
                    return False
        r = plan.rating
        if r.white_min is not None and (g.white_rating is None or g.white_rating < r.white_min):
            return False
        if r.black_min is not None and (g.black_rating is None or g.black_rating < r.black_min):
            return False
        if r.max_rating_delta is not None:
            if g.white_rating is None or g.black_rating is None:
                return False
            if abs(g.white_rating - g.black_rating) > r.max_rating_delta:
                return False
        return True

    return sum(1 for g in games if keep(g))


# ------------------------------------------------------------ analytics data

_WORDS = ("spark window merge table column vector stream value data small"
          " join filter big group hash customer sort order slow line part"
          " fast row the agg key query a scan batch").split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def write_tables(seed: int, out_dir: str, scale: float) -> Dict[str, int]:
    """Seeded tables with the column names, types and value domains of the
    catalogue's test tables, one parquet file each; returns row counts."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    n_line = max(6000, int(6_000_000 * scale))
    n_ev = max(1000, int(1_000_000 * scale))
    n_doc = max(500, int(50_000 * scale))
    n_emb = max(500, int(20_000 * scale))
    day = np.timedelta64(1, "D")
    t0 = np.datetime64("1995-01-01T00:00:00", "us")

    tables: Dict[str, pd.DataFrame] = {}
    tables["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    tables["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    })
    tables["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    adjectives = ("red", "new", "hot", "small", "cold", "large", "old", "blue")
    nouns = ("bolt", "anvil", "ring", "rod", "plate", "gear", "nut", "pipe")
    retail = np.round(900 + rng.integers(0, 1000, n_part) / 10.0, 2)
    tables["part"] = pd.DataFrame({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(adjectives, n_part),
                                               rng.choice(nouns, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part
        ),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": retail,
    })
    odate = t0 + rng.integers(0, 2404, n_ord) * day
    tables["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": odate,
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    })
    l_order = np.sort(rng.integers(0, n_ord, n_line)).astype(np.int64)
    l_part = rng.integers(0, n_part, n_line).astype(np.int64)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    linenumber = np.ones(n_line, dtype=np.int32)
    same = np.concatenate([[False], l_order[1:] == l_order[:-1]])
    for i in np.nonzero(same)[0]:
        linenumber[i] = linenumber[i - 1] + 1
    tables["lineitem"] = pd.DataFrame({
        "l_orderkey": l_order,
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part], 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": odate[l_order] + rng.integers(1, 122, n_line) * day,
    })
    ev_t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = ev_t0 + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)).astype(
        "timedelta64[us]"
    )
    tables["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, n_cust, n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.01:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
        elif i >= 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document
            base = texts[int(rng.integers(0, i))].split()
            base[int(rng.integers(0, len(base)))] = "dup"
            texts.append(" ".join(base))
        else:
            n_words = int(rng.integers(8, 100))
            texts.append(" ".join(rng.choice(_WORDS, n_words)))
    tables["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    emb_schema = pa.schema([
        ("vec_id", pa.int64()),
        ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ])
    emb_table = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": [row for row in emb],
            "label": rng.integers(0, 10, n_emb).astype(np.int32),
        },
        schema=emb_schema,
    )
    counts = {}
    for name, frame in tables.items():
        pq.write_table(
            pa.Table.from_pandas(frame, preserve_index=False),
            os.path.join(out_dir, f"{name}.parquet"),
        )
        counts[name] = len(frame)
    pq.write_table(emb_table, os.path.join(out_dir, "embeddings.parquet"))
    counts["embeddings"] = n_emb
    counts["distinct_texts"] = len(set(texts))
    return counts
