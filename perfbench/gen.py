"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of ``(seed, sizes)``: the same seed
writes byte-identical files, another seed writes different ones
(``selfcheck.py`` verifies both). Generators also return what they know
about the inputs they wrote -- the expected counts the correctness
checks compare the engine's outputs against -- so the checks never
re-derive the answer with the engine itself.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def write_parquet(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------------------
# nightly_batch soccer ETL: raw league-season JSON tree
# ---------------------------------------------------------------------------

# Two-letter league codes: the first ``n_leagues`` are in the league map,
# the rest of the tree uses UNKNOWN_CODES, which the ETL's inner league
# join must drop. 48 codes, the number of league codes in the reference
# pipeline's league config (BASELINE.md, "Data scale").
KNOWN_CODES = (
    "en de es it fr nl pt be at ch sc tr gr ru ua pl cz dk se no "
    "fi ie hu ro hr rs bg sk si cy il is lu mt ee lv lt al ba by "
    "md mk me ge am az kz fo"
).split()
UNKNOWN_CODES = ("zz", "qx", "yy")


@dataclass
class SoccerTree:
    root: str
    leagues: list[tuple[str, str]]  # (code, league name) map the ETL joins
    aliases: list[tuple[str, str]]  # (raw name, canonical name)
    expected_matches: int  # rows in matches_normalized
    expected_quarantined: int  # malformed + required-field-missing docs
    expected_seasons: int  # (league, season) pairs -> one champion each
    decisive: int  # played valid matches with a winner
    drawn: int  # played valid matches ending level
    input_bytes: int


def _match(rng: random.Random, rnd: str | None, date: str, home: str, away: str):
    m = {"date": date, "team1": home, "team2": away}
    if rnd is not None:
        m["round"] = rnd
    if rng.random() < 0.05:  # unplayed: no score, null winner
        m["score"] = {}
        return m, None
    ft = [rng.randint(0, 4), rng.randint(0, 4)]
    m["score"] = {"ft": ft}
    if rng.random() < 0.5:
        m["score"]["ht"] = [min(ft[0], rng.randint(0, 2)), min(ft[1], rng.randint(0, 2))]
    if rng.random() < 0.3:
        m["time"] = f"{rng.randint(12, 21)}:{rng.choice(['00', '30', '45'])}"
    return m, ft


def _season_doc(rng, name, year, teams, alias_of, flat):
    """One double round-robin season. Returns (doc, n_matches,
    n_decisive, n_drawn). Each (round, home, away) is unique after
    alias standardization, so the ETL's dedup keeps every match."""
    n = len(teams)
    order = teams[:]
    rng.shuffle(order)
    rounds = []
    for half in range(2):
        ring = order[:]
        for r in range(n - 1):
            pairs = [(ring[i], ring[n - 1 - i]) for i in range(n // 2)]
            if half:
                pairs = [(b, a) for a, b in pairs]
            rounds.append(pairs)
            ring = [ring[0], ring[-1]] + ring[1:-1]
    decisive = drawn = total = 0
    doc_rounds = []
    for r, pairs in enumerate(rounds):
        date = (datetime.date(year, 8, 1) + datetime.timedelta(days=7 * r)).isoformat()
        label = f"Matchday {r + 1}"
        ms = []
        for home, away in pairs:
            h = alias_of.get(home, home) if rng.random() < 0.2 else home
            a = alias_of.get(away, away) if rng.random() < 0.2 else away
            m, ft = _match(rng, label if flat else None, date, h, a)
            ms.append(m)
            total += 1
            if ft is not None:
                if ft[0] == ft[1]:
                    drawn += 1
                else:
                    decisive += 1
        doc_rounds.append({"name": label, "matches": ms})
    if flat:
        doc = {
            "name": name,
            "season": f"{year}/{(year + 1) % 100:02d}",
            "matches": [m for rd in doc_rounds for m in rd["matches"]],
        }
    else:
        doc = {"name": name, "rounds": doc_rounds}
    return doc, total, decisive, drawn


def soccer_tree(
    root: str, seed: int, n_leagues: int, n_seasons: int, team_counts: tuple[int, ...]
) -> SoccerTree:
    """Raw zone ``<root>/<yyyy-yy>/<code>.1[.vN].json``.

    Per (league, season): the latest version plus 0-2 superseded older
    versions (natural version order, so ``v10`` beats ``v2``), shape
    flat or rounds-nested at random. Mixed in: malformed and
    required-field-missing documents (quarantined), and documents of
    unknown league codes (dropped by the league join). Each league has a
    seeded team count from ``team_counts``. About one team name in five
    appears under an alias the alias map resolves."""
    rng = random.Random(seed)
    codes = KNOWN_CODES[:n_leagues]
    leagues = [(c, f"League {c.upper()} First Division") for c in codes]
    aliases: list[tuple[str, str]] = []
    teams_of: dict[str, list[str]] = {}
    alias_of: dict[str, str] = {}
    for c in codes + list(UNKNOWN_CODES):
        teams = [f"{c.upper()} Club {i:02d}" for i in range(rng.choice(team_counts))]
        teams_of[c] = teams
        for t in teams[::3]:
            raw = t.replace("Club", "C.") + " FC"
            alias_of[t] = raw
            if c in codes:
                aliases.append((raw, t))
    expected = decisive = drawn = quarantined = n_bytes = 0
    seasons = 0

    def put(path: str, text: str) -> None:
        nonlocal n_bytes
        os.makedirs(os.path.dirname(path), exist_ok=True)
        data = text.encode()
        with open(path, "wb") as fh:
            fh.write(data)
        n_bytes += len(data)

    for s in range(n_seasons):
        year = 1990 + s
        sdir = os.path.join(root, f"{year}-{(year + 1) % 100:02d}")
        for c in codes + list(UNKNOWN_CODES):
            if c in UNKNOWN_CODES and rng.random() < 0.5:
                continue
            name = f"Raw {c} {year}"
            n_old = rng.choice((0, 0, 1, 2))
            versions = list(range(1, n_old + 2))
            latest = max(versions)
            for v in versions:
                fname = f"{c}.1.json" if v == 1 else f"{c}.1.v{v if v < 3 else 10}.json"
                flat = rng.random() < 0.5
                if v != latest:  # superseded: a short stale season
                    doc, *_ = _season_doc(
                        rng, name, year, teams_of[c][:4], alias_of, flat
                    )
                else:
                    doc, total, dec, drw = _season_doc(
                        rng, name, year, teams_of[c], alias_of, flat
                    )
                    if c in codes:
                        expected += total
                        decisive += dec
                        drawn += drw
                        seasons += 1
                put(os.path.join(sdir, fname), json.dumps(doc))
            # bad documents ride along under a higher version number:
            # quarantine must catch them before latest-version selection
            if rng.random() < 0.15:
                put(os.path.join(sdir, f"{c}.1.v99.json"), '{"name": "broken", "matches": [')
                quarantined += 1
            if rng.random() < 0.1:
                put(
                    os.path.join(sdir, f"{c}.1.v98.json"),
                    json.dumps({"season": f"{year}/{(year + 1) % 100:02d}"}),
                )
                quarantined += 1
    return SoccerTree(
        root=root,
        leagues=leagues,
        aliases=sorted(aliases),
        expected_matches=expected,
        expected_quarantined=quarantined,
        expected_seasons=seasons,
        decisive=decisive,
        drawn=drawn,
        input_bytes=n_bytes,
    )


# ---------------------------------------------------------------------------
# nightly_batch corpus build: documents and embeddings
# ---------------------------------------------------------------------------


def md5_bucket(doc_id: int, mod: int) -> int:
    """Python twin of ``corpus_pipeline.md5_bucket`` -- lets the
    generator place injected leaks across the train/held-out split."""
    return int(hashlib.md5(str(doc_id).encode()).hexdigest()[:4], 16) % mod


@dataclass
class Corpus:
    docs_path: str
    emb_path: str
    n_docs: int
    exact_dups: list[int] = field(default_factory=list)


def corpus(root: str, seed: int, n_docs: int, dim: int = 64, n_quoted: int = 20) -> Corpus:
    """``n_docs`` Zipf-worded documents (doc_id, text, lang, source,
    n_chars) with injected exact duplicates (~3%), near duplicates
    (~3%, a few words changed), documents quoting one of ``n_quoted``
    fixed passages (~2%), held-out documents quoting a train document
    verbatim (~2%), a few too-short documents, and one 64-d embedding
    per document (near duplicates get near-identical vectors)."""
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i}" for i in range(4000)] + ["the", "a"])
    p = 1.0 / np.arange(1, 4001) ** 1.05
    p = np.concatenate([p / p.sum() * 0.9, [0.06, 0.04]])

    def words(n: int) -> list[str]:
        return list(rng.choice(vocab, size=n, p=p))

    quoted = [" ".join(words(int(rng.integers(30, 60)))) for _ in range(n_quoted)]
    texts: list[str] = []
    src_of: dict[int, int] = {}  # duplicate -> the earlier doc it copies
    exact: list[int] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.03:
            src_of[i] = int(rng.integers(0, i))
            texts.append(texts[src_of[i]])
            exact.append(i)
        elif i > 10 and r < 0.06:
            src_of[i] = int(rng.integers(0, i))
            w = texts[src_of[i]].split(" ")
            for _ in range(max(1, len(w) // 25)):
                w[int(rng.integers(0, len(w)))] = str(rng.choice(vocab[:2000]))
            texts.append(" ".join(w))
        elif r < 0.08:
            b = quoted[int(rng.integers(0, n_quoted))].split(" ")
            s = int(rng.integers(0, len(b) - 8))
            texts.append(" ".join(words(40) + b[s : s + 8] + words(40)))
        elif i > 10 and r < 0.10 and md5_bucket(i, 100) >= 80:
            src = int(rng.integers(0, i))
            w = texts[src].split(" ")
            s = int(rng.integers(0, max(1, len(w) - 12)))
            texts.append(" ".join(words(50) + w[s : s + 12] + words(50)))
        elif r < 0.11:
            texts.append(" ".join(words(int(rng.integers(3, 15)))))
        else:
            texts.append(" ".join(words(int(rng.integers(60, 200)))))
    ids = np.arange(n_docs, dtype=np.int64)
    n_chars = np.array([len(t) for t in texts], dtype=np.int64)
    docs = pa.table(
        {
            "doc_id": ids,
            "text": texts,
            "lang": ["en"] * n_docs,
            "source": [f"src{int(x)}" for x in rng.integers(0, 6, n_docs)],
            "n_chars": n_chars,
        }
    )
    emb = rng.standard_normal((n_docs, dim)).astype(np.float32)
    for i, src in src_of.items():
        emb[i] = emb[src] + rng.normal(0, 0.01, dim).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": ids,
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        }
    )
    out = Corpus(
        docs_path=os.path.join(root, "documents.parquet"),
        emb_path=os.path.join(root, "embeddings.parquet"),
        n_docs=n_docs,
        exact_dups=exact,
    )
    write_parquet(docs, out.docs_path)
    write_parquet(embeddings, out.emb_path)
    return out


# ---------------------------------------------------------------------------
# ann_serve: clustered vectors, skewed query stream, appends
# ---------------------------------------------------------------------------


@dataclass
class Vectors:
    base_path: str  # (vec_id, label, embedding) indexed at set-up
    base: np.ndarray  # the same vectors, row i = vec_id i
    centers: np.ndarray
    rng: np.random.Generator  # continues the seeded stream for queries


def _clustered(rng, centers, n, hot_share=0.0):
    k = len(centers)
    if hot_share:
        hot = rng.random(n) < hot_share
        lab = np.where(hot, rng.integers(0, max(1, k // 8), n), rng.integers(0, k, n))
    else:
        lab = rng.integers(0, k, n)
    x = centers[lab] + rng.normal(0, 0.35, (n, centers.shape[1]))
    return x.astype(np.float32), lab


def vectors(root: str, seed: int, n_base: int, dim: int = 64, n_clusters: int = 32) -> Vectors:
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, dim))
    x, lab = _clustered(rng, centers, n_base)
    path = os.path.join(root, "base", "part-0.parquet")
    write_parquet(vec_table(np.arange(n_base, dtype=np.int64), x, lab), path)
    return Vectors(base_path=path, base=x, centers=centers, rng=rng)


def vec_table(ids: np.ndarray, x: np.ndarray, lab: np.ndarray) -> pa.Table:
    return pa.table(
        {
            "vec_id": ids.astype(np.int64),
            "label": lab.astype(np.int64),
            "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        }
    )


def query_batch(v: Vectors, first_id: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """A query batch skewed toward the first eighth of the clusters
    (half the queries), so some index cells run hot."""
    x, _ = _clustered(v.rng, v.centers, n, hot_share=0.5)
    return np.arange(first_id, first_id + n, dtype=np.int64), x


def append_batch(v: Vectors, first_id: int, n: int) -> tuple[pa.Table, np.ndarray]:
    x, lab = _clustered(v.rng, v.centers, n)
    return vec_table(np.arange(first_id, first_id + n, dtype=np.int64), x, lab), x


# ---------------------------------------------------------------------------
# nightly_batch star queries: TPC-H-shaped star schema
# ---------------------------------------------------------------------------

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(root: str, seed: int, n_orders: int) -> dict[str, int]:
    """region/nation/customer/supplier/orders/lineitem parquet under
    ``root`` with the column names, types and value domains of the
    registry's star schema (orders = ``n_orders``, customers =
    orders/10, ~4 lines per order). Money has two decimals, as the
    oracles' cent arithmetic expects."""
    rng = np.random.default_rng(seed)
    n_cust = max(50, n_orders // 10)
    n_supp = max(20, n_orders // 150)
    n_part = max(50, n_orders // 8)
    day = 86_400_000_000
    t0 = np.datetime64("1995-01-01", "us").astype(np.int64)
    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": _money(rng, -999, 9999, n_cust),
                "c_mktsegment": list(rng.choice(SEGMENTS, n_cust)),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": _money(rng, -999, 9999, n_supp),
            }
        ),
    }
    okeys = np.arange(n_orders, dtype=np.int64)
    odate = t0 + rng.integers(0, 7 * 365, n_orders) * day
    tables["orders"] = pa.table(
        {
            "o_orderkey": okeys,
            "o_custkey": rng.integers(0, n_cust, n_orders).astype(np.int64),
            "o_orderstatus": list(rng.choice(["F", "O", "P"], n_orders)),
            "o_totalprice": _money(rng, 1000, 500000, n_orders),
            "o_orderdate": _ts(odate),
            "o_orderpriority": list(rng.choice(PRIORITIES, n_orders)),
        }
    )
    per = rng.integers(1, 8, n_orders)
    l_order = np.repeat(okeys, per)
    n_li = len(l_order)
    l_line = np.concatenate([np.arange(1, k + 1) for k in per]).astype(np.int32)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": l_order,
            "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
            "l_linenumber": pa.array(l_line, pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 100000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": list(rng.choice(["A", "N", "R"], n_li)),
            "l_linestatus": list(rng.choice(["F", "O"], n_li)),
            "l_shipdate": _ts(np.repeat(odate, per) + rng.integers(1, 122, n_li) * day),
        }
    )
    for name, t in tables.items():
        write_parquet(t, os.path.join(root, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
